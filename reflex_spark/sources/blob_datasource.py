"""First-class Spark scan for the blob bucket: a Python DataSource (Spark
4 ``pyspark.sql.datasource`` API) named ``reflex_blob``.

Reference parity (rblob/blob.go, rblob/doc.go): a bucket of
lexicographically ordered, immutable JSON blobs consumed from a composite
``key|offset`` cursor. `sources/blob.py` wraps the bucket with Spark's
file source; THIS module instead makes the bucket a real pluggable format
— ``spark.read.format("reflex_blob")`` — with the two properties the
reference's consumer loop needs surfaced at the right layer:

- **one input partition per blob** (``partitions()``): blobs scan in
  parallel, and Spark schedules them like any other datasource split;
- **cursor pruning at PLANNING time**: the ``after_key`` option drops
  every blob whose key sorts at or below the cursor key before a single
  byte is read — the 100 TB resume story is "skip files", not "read and
  filter" (mid-blob offsets stay the streaming path's job,
  blob.py/BlobCursor).

Per-record decode runs in Python (this is the same per-record decode
the reference does in Go, rblob/json.go), but rows leave Python as
**Arrow RecordBatches** when every schema field maps to an Arrow
primitive — the Spark 4 Python DataSource accepts ``pyarrow.RecordBatch``
yields, which replaces per-row pickle marshalling with one columnar
transfer per ~4k rows. Schemas with non-primitive fields fall back to
row tuples. For bulk analytics the parquet event log remains the fast
path — this format exists for bucket-consumer parity, registered lazily
and only when used.

The decoder is PLUGGABLE like the reference's (rblob/blob.go:21-42,
``WithDecoder``; default JSONDecoder) and plugs into the one scan — the
``fmt`` option ("json" default, "csv" with ``sep``/``header``) applies
identically to the batch reader AND the streaming reader (which delegates
record decode to it), and ``*.gz`` blobs decompress transparently on both,
so a Firehose-style gzip-CSV bucket gets the planning-time ``after_key``
pruning and the streaming offset ledger, not just the file-source wrapper
in blob.py. The WRITE half stays JSON-lines: it is this format's producer
serialization, not a decoder concern.
"""

from __future__ import annotations

import csv as _csv
import gzip
import io
import json
import os
import re

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

from reflex_spark.control import claim, write_atomic

# Spark → Arrow mapping for the batch-transfer fast path; anything not
# listed (timestamps, nested types) rides the tuple fallback.
_ARROW_PRIMITIVES = {
    LongType: pa.int64(),
    IntegerType: pa.int32(),
    DoubleType: pa.float64(),
    FloatType: pa.float32(),
    StringType: pa.string(),
    BooleanType: pa.bool_(),
}
_ARROW_BATCH_ROWS = 4096


class _BlobPartition(InputPartition):
    def __init__(self, path: str, key: str):
        self.path = path
        self.key = key


class ReflexBlobDataSource(DataSource):
    """``format("reflex_blob")`` — options:

    - ``path`` (required): bucket root directory;
    - ``after_key`` (optional): lexicographic cursor; blobs with
      ``key <= after_key`` are pruned at planning time;
    - ``day_from_dir`` (optional, "true"): blobs written as
      ``day=<v>/part-*`` get ``<v>`` surfaced as a ``day`` string column
      (Hive-partition recovery for the bucket's date layout);
    - ``fmt`` (optional, "json" default | "csv"): the pluggable record
      decoder (reference WithDecoder); csv takes ``sep`` (default ",")
      and ``header`` ("true" skips each blob's first line). ``*.gz``
      blobs decompress transparently under either fmt, on the batch and
      the streaming reader alike.
    """

    @classmethod
    def name(cls) -> str:
        return "reflex_blob"

    def schema(self) -> str:
        s = self.options.get("schema")
        if not s:
            raise ValueError("reflex_blob requires a 'schema' option (DDL string)")
        return s

    def reader(self, schema: StructType) -> DataSourceReader:
        return ReflexBlobReader(self.options, schema)

    def streamReader(self, schema: StructType) -> "ReflexBlobStreamReader":
        return ReflexBlobStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "ReflexBlobWriter":
        return ReflexBlobWriter(self.options, schema, overwrite)


class _BlobWriteCommit(WriterCommitMessage):
    def __init__(self, key: str, n_rows: int):
        self.key = key
        self.n_rows = n_rows


class ReflexBlobWriter(DataSourceWriter):
    """The WRITE half of the bucket format (reference buckets are
    written by producers the same way consumers read them, rblob/doc.go):
    each Spark partition serializes its rows as one JSON-lines blob
    under ``data/w-<seq>-part-<pid>.jsonl``.

    Crash/retry discipline (each clause is pinned by a test):

    - **per-attempt temp + atomic rename**: ``write()`` streams rows to
      a dot-prefixed temp named after the task ATTEMPT, then one
      ``os.replace`` publishes the blob. A task that dies mid-write
      leaves only the invisible temp (readers skip ``_``/``.`` names);
      a zombie or speculative attempt for the same partition can never
      interleave lines with the winner — each attempt owns its temp and
      the last whole-file rename wins.
    - **append mode is namespaced**: ``<seq>`` is this write's
      monotonic sequence number, chosen driver-side in the constructor
      from the existing bucket contents, so a second ``save()`` can
      never clobber an earlier write's blobs AND new blobs sort
      lexicographically AFTER every existing blob — the bucket's
      cursor-resume contract (consume strictly ascending keys,
      rblob/doc.go) keeps holding across producer runs. ``commit``
      merges the prior bucket contents into the ``_SUCCESS`` manifest
      instead of rewriting it to only the new write.
    - **atomic commit**: ``_SUCCESS`` is published with
      ``control.write_atomic``, so a crash mid-commit leaves either the
      previous manifest or the new one, never a torn file.
    - ``mode("overwrite")`` clears the bucket at PLANNING time (driver
      side, before any task runs) — the local-FS analogue of
      planning-time truncation. On a real object store this would be a
      delete-marker / new-manifest-generation design instead of an
      in-place rmtree; concurrent writers would additionally need a
      conditional-put on ``_SUCCESS`` (documented, out of scope for the
      local bucket).
    - **single-writer is ENFORCED, not assumed**: ``<seq>`` is chosen
      driver-side from a listing, so two concurrent write jobs could
      pick the SAME seq and interleave partitions under one namespace
      (and the later manifest union would legitimize both). The
      constructor therefore holds a ``control.claim`` on
      ``_writer.claim`` until commit/abort: a second writer refuses
      loudly instead of corrupting the key order (the reference's
      buckets are single-producer too, rblob/doc.go).

    Doubles ride Python's shortest-round-trip repr, so a read-back is
    bit-exact."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("reflex_blob requires a 'path' option")
        self.fields = [f.name for f in schema.fields]
        import shutil

        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)
        why = (
            "the blob sink is single-writer — a concurrent append could pick "
            "the same w-<seq> namespace and break the cursor-resume key order"
        )
        self._claim = claim(os.path.join(self.root, "_writer.claim"), why)
        # Claim BEFORE any overwrite clearing: an overwrite that rmtree'd
        # first would delete a LIVE writer's claim file and then "win" the
        # claim itself — two writers interleaving, exactly what the claim
        # exists to refuse. With the claim held, clearing keeps the claim
        # file and removes everything else.
        self._claim.acquire()
        if overwrite:
            for name in os.listdir(self.root):
                if name == "_writer.claim":
                    continue
                p = os.path.join(self.root, name)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
            os.makedirs(os.path.join(self.root, "data"), exist_ok=True)
        # Driver-side: runs once per write job, before any task. After an
        # overwrite's rmtree this is empty, so the manifest union below is
        # unconditional. (At object-store scale the prior list would come
        # from the previous _SUCCESS manifest, not a directory listing.)
        # Listed AFTER the claim, so the chosen seq cannot be stale: no
        # other writer can publish between this listing and our commit.
        self.prior = self._existing_blobs()
        self.seq = self._next_seq(self.prior)

    def _existing_blobs(self) -> list[str]:
        data = os.path.join(self.root, "data")
        if not os.path.isdir(data):
            return []
        return sorted(
            os.path.join("data", fn)
            for fn in os.listdir(data)
            if not fn.startswith(("_", "."))
        )

    @staticmethod
    def _next_seq(keys: list[str]) -> int:
        """Smallest sequence number that sorts after every existing blob.

        ``w-<seq>`` prefixes parse directly; legacy unprefixed names
        (``part-*.jsonl``) count as write 0 — and since ``'p' < 'w'``
        they sort before any ``w-`` blob, preserving append order.

        Refuses (ValueError) rather than guess when the ordering
        invariant cannot be guaranteed — both cases found by the
        hypothesis property test, not hypothetically: (a) a ``w-`` key
        whose seq segment is not a 6-digit zero-padded integer sorts
        after every numeric seq (letters sort after digits), so no
        chooseable seq can sort after it; (b) seq 1,000,000 would
        outgrow the 6-digit padding and sort BEFORE 999999 textually."""
        seq = 0
        for k in keys:
            fn = os.path.basename(k)
            if fn.startswith("w-"):
                seg = fn.split("-")[1] if fn.count("-") >= 1 else ""
                if not (len(seg) == 6 and seg.isdigit()):
                    raise ValueError(
                        f"bucket holds a non-writer 'w-' key ({k!r}): the "
                        "append-ordering contract (new keys sort after all "
                        "existing keys) cannot be guaranteed — clean the "
                        "bucket or use mode('overwrite')"
                    )
                seq = max(seq, int(seg) + 1)
            else:
                seq = max(seq, 1)
        if seq > 999_999:
            raise ValueError(
                "bucket exhausted the 6-digit write-sequence space "
                "(999999 appends); compact or re-create the bucket"
            )
        return seq

    def write(self, iterator) -> _BlobWriteCommit:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId()
        stem = f"w-{self.seq:06d}-part-{pid:05d}"
        key = os.path.join("data", f"{stem}.jsonl")
        tmp = os.path.join(
            self.root, "data", f".{stem}.attempt-{tc.taskAttemptId()}.tmp"
        )
        n = 0
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                rec = {name: row[name] for name in self.fields}
                f.write(json.dumps(rec) + "\n")
                n += 1
        if n == 0:
            os.remove(tmp)  # empty partitions leave no blob
            return _BlobWriteCommit("", 0)
        os.replace(tmp, os.path.join(self.root, key))
        return _BlobWriteCommit(key, n)

    def commit(self, messages) -> None:
        new = [m.key for m in messages if m and m.key]
        manifest = sorted(set(self.prior) | set(new))
        write_atomic(
            os.path.join(self.root, "_SUCCESS"), json.dumps({"blobs": manifest})
        )
        self._claim.release()

    def abort(self, messages) -> None:
        # Remove blobs published by completed attempts, then sweep this
        # write's leftover attempt temps (they were never visible to
        # readers, but don't leak disk).
        for m in messages:
            if m and m.key:
                try:
                    os.remove(os.path.join(self.root, m.key))
                except OSError:
                    pass
        import glob as _glob

        for tmp in _glob.glob(
            os.path.join(self.root, "data", f".w-{self.seq:06d}-part-*.tmp")
        ):
            try:
                os.remove(tmp)
            except OSError:
                pass
        self._claim.release()


# CSV string → typed value, matching Spark's PERMISSIVE-mode CSV reader
# semantics on the supported primitives: empty field = NULL for every
# type, and a MALFORMED field becomes NULL rather than crashing the scan
# (the blob.py from_csv path behaves the same way — the two read paths
# must not diverge on a dirty row).
_INT_RE = re.compile(r"[+-]?[0-9]+")
# Java Double.parseDouble grammar (what univocity falls through to):
# decimal forms with an optional fFdD suffix, and hex-float forms —
# both verified against from_csv ('1.5d' -> 1.5, '0x1.8p1' -> 3.0)
_FLOAT_RE = re.compile(
    r"[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?[dDfF]?"
)
_HEXFLOAT_RE = re.compile(
    r"[+-]?0[xX]([0-9a-fA-F]+(\.[0-9a-fA-F]*)?|\.[0-9a-fA-F]+)"
    r"[pP][+-]?[0-9]+[dDfF]?"
)
# Spark's CSV double parsing accepts two distinct special-token sets,
# matched at different points: the nanValue/positiveInf/negativeInf
# OPTION defaults ('NaN', 'Inf', '-Inf') compare against the RAW field
# by exact equality (so ' Inf' does NOT match), and only then does the
# datum fall through to Java Double.parseDouble, which TRIMS but only
# knows the 'NaN'/'Infinity' spellings with optional sign ('+Inf' is
# accepted by neither; ' Inf' trims to 'Inf' which Java rejects).
# Python float() takes 'nan'/'inf'/'infinity' case-INsensitively, so a
# plain float() fallthrough would accept tokens Spark nulls (ADVICE r14)
_SPECIAL_FLOAT_RAW = {
    "NaN": float("nan"),
    "Inf": float("inf"),
    "-Inf": float("-inf"),
}
_SPECIAL_FLOAT_JAVA = {
    "NaN": float("nan"),
    "+NaN": float("nan"),
    "-NaN": float("nan"),
    "Infinity": float("inf"),
    "+Infinity": float("inf"),
    "-Infinity": float("-inf"),
}


def _permissive(parse, pattern):
    # pre-validate with an ASCII regex: Python's int()/float() accept
    # forms Spark's CSV reader rejects (underscore separators, unicode
    # digits) — those must become NULL here too, not silently parse
    def conv(s):
        if not pattern.fullmatch(s):
            return None
        try:
            return parse(s)
        except ValueError:
            return None

    return conv


# Java Double.parseDouble trims chars <= U+0020 before parsing (so
# ' 1.5' parses where Python's regex fullmatch would NULL it), but NOT
# unicode whitespace like U+00A0 (which Python's bare str.strip() would
# remove) — trim exactly Java's set to keep the padded-field behavior
# bit-identical to Spark's CSV reader
_JAVA_TRIM = "".join(chr(c) for c in range(0x21))


def _parse_double(s):
    if s in _SPECIAL_FLOAT_RAW:  # option defaults: RAW exact match
        return _SPECIAL_FLOAT_RAW[s]
    s = s.strip(_JAVA_TRIM)  # Java parseDouble trims before parsing
    if s in _SPECIAL_FLOAT_JAVA:
        return _SPECIAL_FLOAT_JAVA[s]
    if _FLOAT_RE.fullmatch(s):
        return float(s.rstrip("dDfF"))
    if _HEXFLOAT_RE.fullmatch(s):
        try:
            return float.fromhex(s.rstrip("dDfF"))
        except ValueError:  # unreachable given the regex; stay permissive
            return None
    return None


def _csv_converter(dtype):
    if isinstance(dtype, (LongType, IntegerType)):
        return _permissive(int, _INT_RE)
    if isinstance(dtype, (DoubleType, FloatType)):
        return _parse_double
    if isinstance(dtype, BooleanType):
        return lambda s: (
            True
            if s.lower() == "true"
            else False if s.lower() == "false" else None
        )
    return lambda s: s  # StringType and any unlisted type ride as text


class ReflexBlobReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("reflex_blob requires a 'path' option")
        self.after_key = options.get("after_key") or ""
        self.day_from_dir = (options.get("day_from_dir") or "").lower() == "true"
        self.fmt = (options.get("fmt") or "json").lower()
        if self.fmt not in ("json", "csv"):
            raise ValueError(
                f"reflex_blob fmt must be 'json' or 'csv', got {self.fmt!r}"
            )
        self.sep = options.get("sep") or ","
        self.header = (options.get("header") or "").lower() == "true"
        self.fields = [f.name for f in schema.fields]
        # csv is positional: record column i = schema field i (minus the
        # derived day column, which never comes from the blob bytes)
        self.csv_fields = [
            (f.name, _csv_converter(f.dataType))
            for f in schema.fields
            if not (self.day_from_dir and f.name == "day")
        ]
        # Arrow fast path: only when EVERY field is a mapped primitive.
        types = [_ARROW_PRIMITIVES.get(type(f.dataType)) for f in schema.fields]
        self.arrow_schema = (
            pa.schema(list(zip(self.fields, types))) if all(t is not None for t in types) else None
        )

    def _list_keys(self) -> list[tuple[str, str]]:
        out = []
        for dirpath, _dirs, files in os.walk(self.root):
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue  # _SUCCESS, checksums
                full = os.path.join(dirpath, fn)
                key = os.path.relpath(full, self.root)
                out.append((key, full))
        out.sort()  # the bucket contract: keys scan in lexicographic order
        return out

    def partitions(self) -> list[InputPartition]:
        # cursor pruning happens HERE, before any read. A caught-up
        # cursor prunes EVERYTHING — return the empty sentinel rather
        # than [], because pyspark substitutes [None] for an empty
        # partition list and read(None) would crash the resume path.
        return [
            _BlobPartition(path, key)
            for key, path in self._list_keys()
            if key > self.after_key
        ] or [_BlobPartition("", "")]

    @staticmethod
    def _open(path: str) -> io.TextIOBase:
        """Transparent gzip: the codec is a property of the blob key, not
        the decoder (Firehose-style ``*.gz`` layouts), so it sits below
        the fmt dispatch."""
        if path.endswith(".gz"):
            return io.TextIOWrapper(gzip.open(path, "rb"), encoding="utf-8")
        return open(path, encoding="utf-8")

    def _iter_records(self, path: str, day):
        """The decoder seam (reference rblob/blob.go:21-42): one stream of
        per-record dicts regardless of fmt/codec — both the tuple path and
        the Arrow path, batch and streaming, consume THIS."""
        with self._open(path) as f:
            if self.fmt == "csv":
                if self.header:
                    next(f, None)  # per-blob header line
                # Spark/univocity CSV conventions: quote '"', escape '\'.
                # Each PHYSICAL LINE is parsed as one record (the reader
                # is fed line by line, never the whole stream): Spark's
                # CSV source and blob.py's from_csv path are both
                # line-based at multiLine=false, so a quoted field with
                # an embedded newline must yield two (malformed) rows
                # here too — letting csv.reader consume the stream would
                # silently JOIN them into one record and the two read
                # paths would disagree on record boundaries (ADVICE r14).
                # Multiline-quoted records are unsupported on every path.
                for line in f:
                    line = line.rstrip("\r\n")
                    if not line:
                        continue  # Spark CSV skips blank lines
                    parts = next(
                        _csv.reader(
                            [line],
                            delimiter=self.sep,
                            quotechar='"',
                            escapechar="\\",
                            doublequote=False,
                        ),
                        None,
                    )
                    if not parts:
                        continue
                    rec = {
                        name: (conv(v) if v != "" else None)
                        for (name, conv), v in zip(self.csv_fields, parts)
                    }
                    if day is not None:
                        rec["day"] = day
                    yield rec
            else:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    rec = json.loads(line)
                    if day is not None:
                        rec["day"] = day
                    yield rec

    def read(self, partition: _BlobPartition):
        if partition is None or not partition.path:  # empty-bucket sentinel
            return
        day = None
        if self.day_from_dir:
            for seg in partition.key.split(os.sep):
                if "=" in seg:
                    day = seg.split("=", 1)[1]
                    break
        if self.arrow_schema is not None:
            yield from self._read_arrow(partition.path, day)
            return
        for rec in self._iter_records(partition.path, day):
            yield tuple(rec.get(name) for name in self.fields)

    def _read_arrow(self, path: str, day):
        """Decode records into columnar buffers and hand Spark whole
        ``pyarrow.RecordBatch``es (~4k rows each) — one Arrow transfer
        per chunk instead of one pickled tuple per record."""
        cols: list[list] = [[] for _ in self.fields]
        n = 0
        for rec in self._iter_records(path, day):
            for i, name in enumerate(self.fields):
                cols[i].append(rec.get(name))
            n += 1
            if n >= _ARROW_BATCH_ROWS:
                yield self._batch(cols)
                cols = [[] for _ in self.fields]
                n = 0
        if n:
            yield self._batch(cols)

    def _batch(self, cols: list[list]) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, self.arrow_schema)],
            schema=self.arrow_schema,
        )


def register(spark) -> None:
    """Idempotent format registration."""
    spark.dataSource.register(ReflexBlobDataSource)


class ReflexBlobStreamReader(DataSourceStreamReader):
    """Streaming form of the bucket scan: the OFFSET is the last fully
    consumed blob key (the reference's `key|eof` cursor at file
    granularity). Each micro-batch covers the blobs in
    (start.key, end.key]; Spark's checkpoint persists the offset, so a
    restarted query resumes after the last committed blob — the rblob
    consume loop's contract expressed in the engine's own offset
    protocol. One input partition per blob, as in the batch reader."""

    def __init__(self, options, schema: StructType):
        self._r = ReflexBlobReader(options, schema)

    def initialOffset(self) -> dict:
        return {"key": self._r.after_key}

    def latestOffset(self) -> dict:
        keys = [k for k, _ in self._r._list_keys()]
        return {"key": keys[-1] if keys else self._r.after_key}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = start.get("key", ""), end.get("key", "")
        return [
            _BlobPartition(path, key)
            for key, path in self._r._list_keys()
            if lo < key <= hi
        ] or [_BlobPartition("", "")]  # Spark requires >=1 partition

    def read(self, partition: _BlobPartition):
        if not partition.path:
            return
        yield from self._r.read(partition)

    def commit(self, end: dict) -> None:
        pass  # blobs are immutable; nothing to release

"""The benchmark's workloads.

``follow``  one open-loop producer and two independent consumers on one
            event log: the poll loop (``run``) with a file cursor store at
            ``batch_limit=1000`` and Structured Streaming (``run_stream``
            with ``foreachBatch``). Time is taken from each append's due
            time, so a stall also counts against the appends behind it.
``tables``  a closed loop of maintenance rounds on the transactional,
            CDC and ANN layers: ``TxTable.merge_by_key`` of seeded key
            updates and tombstones, ``publish_changes`` of that version
            window into a CDC event log, ``read_points``, then
            ``IvfIndex.append`` and ``probe`` (``compact`` every third
            round).

Each workload generates its inputs from the seed before Spark starts,
sets itself up ``SETUPS`` times on fresh directories (the last set-up is
the one measured), measures, and checks its outputs against a model
outside the timed spans. Both report the same end-to-end metrics:

``setup_s``      median wall time of one set-up;
``write_p50_s``  median wall time of one write: an ``EventLog.append``
                 (follow), or one round's merge + publish + IVF append and
                 compact (tables);
``read_p50_s``   median wall time until a reader has the data: from an
                 append's due time until both consumers hold its last
                 event (follow), or one round's ``read_points`` + probe
                 (tables).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from pathlib import Path

import numpy as np
import pandas as pd

from tracing import Spans, TracedCursorStore, TracedLog, count_part_files

SETUPS = 3
BASE_TS = datetime(2024, 1, 1)


@dataclass
class Inputs:
    files: list[str]
    sha256: str


E2E = ("setup_s", "write_p50_s", "read_p50_s")


@dataclass
class Outcome:
    report: dict  # every named metric; the end-to-end ones are E2E
    checks: list[dict]
    attempted: int
    failed: int
    window: tuple[float, float]
    stream_progress: list[dict] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def e2e(self) -> dict:
        return {k: {"value": self.report[k]["value"], "unit": self.report[k]["unit"]} for k in E2E}


def _metric(value: float, unit: str, n: int | None = None, **kw) -> dict:
    out = {"value": float(value), "unit": unit}
    if n is not None:
        out["n"] = n
    out.update(kw)
    return out


def _p50(xs: list[float], unit: str = "s") -> dict:
    return _metric(statistics.median(xs) if xs else float("nan"), unit, len(xs))


def _tail(xs: list[float], unit: str = "s") -> dict:
    """The highest percentile with at least ten samples beyond it. Below
    20 samples that percentile would sit under the median, so the tail
    is the maximum instead."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        return _metric(s[n - 11], unit, n, pct=f"p{100.0 * (n - 10) / n:.1f}")
    return _metric(s[-1] if s else float("nan"), unit, n, pct="max")


def _hash_frames(frames: list[pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for f in frames:
        h.update(",".join(f.columns).encode())
        f = f.apply(lambda c: c.map(_hashable) if c.dtype == object else c)
        h.update(pd.util.hash_pandas_object(f, index=False).values.tobytes())
    return h.hexdigest()


def _check(name: str, ok: bool, detail: str) -> dict:
    return {"name": name, "ok": bool(ok), "detail": detail}


def _reach(ranges) -> int:
    """Highest id h such that the (min id, max id, ...) batches delivered
    every id 1..h (redelivered ranges, allowed under at-least-once, may
    overlap)."""
    reach = 0
    for lo, hi, *_rest in sorted(ranges):
        if lo > reach + 1:
            break
        reach = max(reach, hi)
    return reach


def _covers(ranges: list[tuple[int, int, int]], head: int) -> tuple[bool, str]:
    """Batches of (min id, max id, count) deliver every id 1..head with no
    gap: each batch is a dense id range and together they tile 1..head."""
    if any(n != hi - lo + 1 for lo, hi, n in ranges):
        return False, "a batch is not a dense id range"
    reach = _reach(ranges)
    if reach < head:
        return False, f"delivered 1..{reach}, id {reach + 1} missing, head {head}"
    return reach == head, f"delivered 1..{reach}, head {head}"


class _Recorder:
    """A consumer fn that records, per delivered batch, the monotonic
    receipt time, the batch's (min id, max id, count), and how far the
    deliveries so far cover 1..head without a gap."""

    def __init__(self, spans: Spans, span_name: str, tag_jobs: bool):
        self.spans = spans
        self.span_name = span_name
        self.tag_jobs = tag_jobs
        self.got: list[tuple[float, int, int, int]] = []
        self.reached = 0  # every id 1..reached delivered

    def fn(self, df, meta) -> None:
        from pyspark.sql import functions as F

        with self.spans.span(self.span_name, tag_jobs=self.tag_jobs) as rec:
            row = df.agg(
                F.min("event_id").alias("lo"), F.max("event_id").alias("hi"), F.count(F.lit(1)).alias("n")
            ).collect()[0]
            rec["events"] = row["n"]
        if row["n"]:
            self.got.append((time.monotonic(), row["lo"], row["hi"], row["n"]))
            self.reached = _reach([(lo, hi) for _t, lo, hi, _n in self.got])

    def ranges(self) -> list[tuple[int, int, int]]:
        return [(lo, hi, n) for _t, lo, hi, n in self.got]

    def delivered_at(self, last_id: int) -> float | None:
        """When the batch holding ``last_id`` was first delivered."""
        return next((t for t, lo, hi, _n in self.got if lo <= last_id <= hi), None)


class _AgedSession:
    """A SparkSession whose ``readStream`` readers start with the file
    source's ``maxFileAge`` set to 100 years."""

    MAX_FILE_AGE = "36500d"

    def __init__(self, spark):
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._spark, name)

    @property
    def readStream(self):  # noqa: N802 — SparkSession's name
        return self._spark.readStream.option("maxFileAge", self.MAX_FILE_AGE)


class StreamLog:
    """The event log as both consumers see it: it delegates to the
    ``EventLog``, but runs the engine's ``EventLog.read_stream`` on a
    session whose file-source readers keep files up to 100 years old.

    With the default ``maxFileAge`` of 7 days, a live ``run_stream``
    follower drops appends for good (README, anomaly 3). If the file
    source lists a part-file before ``EventLog`` stamps its logical mtime
    (2001 plus the sequence number), the wall-clock mtime it records moves
    the age threshold past every later stamp."""

    def __init__(self, log):
        self._log = log
        self.spark = _AgedSession(log.spark)

    def __getattr__(self, name):
        return getattr(self._log, name)

    def read_stream(self, max_files_per_trigger=None):
        return type(self._log).read_stream(self, max_files_per_trigger)


class Follow:
    """Open-loop producer plus a poll consumer and a streaming consumer."""

    BATCH = 500  # events per live append
    PERIOD_S = 1.5  # one live append is due every PERIOD_S seconds; well below saturation
    BACKLOG = 4  # appends in the backlog each set-up writes, then drains
    BACKLOG_BATCH = 1000  # events per backlog append
    BATCH_LIMIT = 1000  # the reference's events per lookup
    DRAIN_TIMEOUT_S = 10.0  # after the last append; a healthy drain takes about a second

    def __init__(self, seed: int, seconds: float, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.n_live = max(2, int(seconds / self.PERIOD_S))

    def generate(self) -> Inputs:
        """One frame per append: the backlog every set-up writes, then the
        live appends. Timestamps and metadata are functions of the seed
        and the schedule, never of the clock, so a seed always gives the
        same bytes. Metadata carries each event's due time on the
        schedule (seconds from the start of the live phase)."""
        rng = np.random.default_rng(self.seed)
        sizes = [self.BACKLOG_BATCH] * self.BACKLOG + [self.BATCH] * self.n_live
        self.frames = []
        for k, n in enumerate(sizes):
            due = (k - self.BACKLOG) * self.PERIOD_S
            i = np.arange(n)
            self.frames.append(
                pd.DataFrame(
                    {
                        "event_type": rng.integers(1, 10, n).astype(np.int32),
                        "foreign_id": [f"u{x:06d}" for x in rng.integers(0, 100_000, n)],
                        "timestamp": [BASE_TS + timedelta(seconds=k * self.PERIOD_S, microseconds=int(x)) for x in i],
                        "metadata": [json.dumps({"due_s": due, "i": int(x)}).encode() for x in i],
                        "trace": [None] * n,
                    }
                )
            )
        path = self.work / "inputs" / "follow_events.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        pd.concat(self.frames, keys=range(len(self.frames)), names=["append", "row"]).reset_index(level=0).to_parquet(
            path, index=False
        )
        return Inputs([str(path)], _hash_frames(self.frames))

    def run(self, spark, spans: Spans, traced: bool) -> Outcome:
        from pyspark.sql.types import StructType

        from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog
        from reflex_spark.streaming import (
            Consumer,
            ErrHeadReached,
            ErrStopped,
            FileCursorStore,
            InMemNotifier,
            Spec,
            StreamOptions,
        )
        from reflex_spark.streaming import run as run_poll
        from reflex_spark.streaming.run import run_stream

        schema = StructType([f for f in EVENT_SCHEMA.fields if f.name != "event_id"])
        dfs = [spark.createDataFrame(f, schema) for f in self.frames]

        def wrap(log, store):
            if traced:
                return TracedLog(log, spans), TracedCursorStore(store, spans)
            return log, store

        def append(log, df, k):
            with spans.span("event_log.append", op=f"append-{k}") as rec:
                before = count_part_files(log.path) if traced else 0
                head = log.append(df)
                if traced:
                    rec["files"] = count_part_files(log.path) - before
            return head, rec["dur"]

        # -- set-up: a fresh log, its backlog, and both consumers caught
        # up from nothing: the poll loop to head, the stream through an
        # availableNow run at one file per trigger, whose checkpoint the
        # live query then resumes
        setup_s, backlog_append_s, poll_catchup, stream_catchup = [], [], [], []
        backlog_events = self.BACKLOG * self.BACKLOG_BATCH
        for rep in range(SETUPS):
            d = self.work / f"follow-{rep}"
            t0 = time.perf_counter()
            log = EventLog(spark, str(d / "log"), notifier=InMemNotifier())
            plog, pstore = wrap(StreamLog(log), FileCursorStore(str(d / "cursors")))
            for k in range(self.BACKLOG):
                backlog_append_s.append(append(log, dfs[k], f"backlog-{rep}-{k}")[1])
            poll_rec = _Recorder(spans, "consumer.poll", tag_jobs=True)
            stream_rec = _Recorder(spans, "consumer.stream", tag_jobs=False)
            t1 = time.perf_counter()
            try:
                run_poll(Spec(plog, pstore, Consumer("poll", poll_rec.fn), StreamOptions(batch_limit=self.BATCH_LIMIT, to_head=True)))
            except ErrHeadReached:
                pass
            if traced:
                plog.end_iteration()
            t2 = time.perf_counter()
            ckpt = str(d / "stream-checkpoint")
            with spans.span("stream.catchup"):
                run_stream(Spec(plog, pstore, Consumer("stream", stream_rec.fn)), ckpt, available_now=True, max_files_per_trigger=1)
            t3 = time.perf_counter()
            setup_s.append(t3 - t0)
            poll_catchup.append(backlog_events / (t2 - t1))
            stream_catchup.append(backlog_events / (t3 - t2))

        # -- live phase
        spans.phase = "measure"
        errors: list[BaseException] = []
        final_head: list[int | None] = [None]
        done = threading.Event()

        def drained(rec):
            return final_head[0] is not None and rec.reached >= final_head[0]

        def poll_thread():
            opts = StreamOptions(batch_limit=self.BATCH_LIMIT, stop=lambda: done.is_set() or drained(poll_rec))
            try:
                run_poll(Spec(plog, pstore, Consumer("poll", poll_rec.fn), opts))
            except ErrStopped:
                pass
            except BaseException as exc:  # noqa: BLE001 — counted as a failed run
                errors.append(exc)
            finally:
                if traced:
                    plog.end_iteration()

        def stream_thread():
            try:
                run_stream(
                    Spec(plog, pstore, Consumer("stream", stream_rec.fn)),
                    ckpt,
                    available_now=False,
                    timeout_sec=self.seconds + 60.0,
                )
            except BaseException as exc:  # noqa: BLE001 — counted as a failed run
                errors.append(exc)

        threads = [threading.Thread(target=poll_thread), threading.Thread(target=stream_thread)]
        for t in threads:
            t.start()
        query = self._await_stream_ready(spark)

        # open-loop producer on this thread: appends fall due on a fixed
        # schedule whatever the consumers do
        w0 = time.time()
        t0 = time.monotonic() + 0.2
        dues, heads, append_s, late = [], [], [], []
        failed = 0
        for k in range(self.n_live):
            due = t0 + k * self.PERIOD_S
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            late.append(time.monotonic() - due)
            try:
                head, dur = append(log, dfs[self.BACKLOG + k], k)
            except Exception as exc:  # noqa: BLE001 — a failed append is a failed op
                errors.append(exc)
                failed += 1
                break
            dues.append(due)
            heads.append(head)
            append_s.append(dur)
        final_head[0] = heads[-1] if heads else log.head()

        # drain until both consumers hold every id up to head; an id
        # still missing at the timeout counts as a failed delivery
        deadline = time.monotonic() + self.DRAIN_TIMEOUT_S
        while time.monotonic() < deadline and not errors and not (drained(poll_rec) and drained(stream_rec)):
            time.sleep(0.02)
        done.set()
        w1 = time.time()
        if query is not None:
            query.stop()
        for t in threads:
            t.join(timeout=60.0)
        with spans.span("event_log.head"):
            stored_head = EventLog(spark, log.path).head()
        spans.phase = "check"

        lat_poll, lat_stream, lat_both = [], [], []
        for due, head in zip(dues, heads):
            tp, ts = poll_rec.delivered_at(head), stream_rec.delivered_at(head)
            if tp is not None:
                lat_poll.append(tp - due)
            if ts is not None:
                lat_stream.append(ts - due)
            if tp is not None and ts is not None:
                lat_both.append(max(tp, ts) - due)
        missed = 2 * len(heads) - len(lat_poll) - len(lat_stream)

        expected_head = backlog_events + self.BATCH * len(heads)
        poll_ok, poll_detail = _covers(poll_rec.ranges(), stored_head)
        stream_ok, stream_detail = _covers(stream_rec.ranges(), stored_head)
        cursor = FileCursorStore(str(self.work / f"follow-{SETUPS - 1}" / "cursors")).get_cursor("poll")
        checks = [
            _check("log_head", stored_head == expected_head, f"head {stored_head}, expected {expected_head}"),
            _check("poll_ids_complete", poll_ok, poll_detail),
            _check("stream_ids_complete", stream_ok, stream_detail),
            _check("poll_cursor_at_head", cursor == stored_head, f"cursor {cursor}, head {stored_head}"),
            _check("consumers_ran", not errors, "; ".join(repr(e)[:200] for e in errors) or "no errors"),
        ]

        progress = []
        if query is not None:
            progress = [p for p in query.recentProgress if _iso_ts(p["timestamp"]) >= w0]
        ckpt_files = sum(len(files) for _r, _d, files in os.walk(ckpt))
        report = {
            "setup_s": _p50(setup_s),
            "write_p50_s": _p50(append_s),
            "read_p50_s": _p50(lat_both),
            "append_p50_s": _p50(append_s),
            "append_1000_p50_s": _p50(backlog_append_s),
            "catchup_poll_events_per_s": _p50(poll_catchup, "1/s"),
            "catchup_stream_events_per_s": _p50(stream_catchup, "1/s"),
            "deliver_poll_p50_s": _p50(lat_poll),
            "deliver_poll_tail_s": _tail(lat_poll),
            "deliver_stream_p50_s": _p50(lat_stream),
            "deliver_stream_tail_s": _tail(lat_stream),
            "follow.gen_late_s": _metric(max(late) if late else 0.0, "s", len(late), stat="max"),
        }
        return Outcome(
            report=report,
            checks=checks,
            attempted=self.n_live * 3,
            failed=failed + missed,
            window=(w0, w1),
            stream_progress=progress,
            extra={"checkpoint_files": ckpt_files},
        )

    @staticmethod
    def _await_stream_ready(spark, timeout: float = 60.0):
        """The live query once it has started and waits for data."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            for q in spark.streams.active:
                st = q.status
                if st["message"] == "Waiting for data to arrive":
                    return q
            time.sleep(0.05)
        return None


def _iso_ts(s: str) -> float:
    """Epoch seconds of a StreamingQueryProgress timestamp (UTC, ISO-8601)."""
    from datetime import timezone

    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class Tables:
    """Closed-loop rounds on TxTable, CDC and IvfIndex."""

    N_ORDERS = 150_000  # rows of sf0.1 orders
    KEY_SPACE = 600_000  # TPC-H o_orderkey is sparse over 4x the row count
    UPDATES = 500  # key updates per merge
    NEW_KEYS = 50  # of which keys not in the seed table
    TOMBSTONE_SHARE = 0.1
    POINTS = 20  # keys per read_points
    DIM = 64
    N_LISTS = 16
    N_VECTORS = 2000  # seed corpus of the index
    VEC_BATCH = 100  # vectors per IvfIndex.append
    N_QUERIES = 20  # fixed probe queries: copies of indexed vectors
    QUERY_ID_BASE = 1_000_000  # probe skips hits whose id equals the query id
    N_PROBE = 2
    TOP_K = 5
    COMPACT_EVERY = 3
    MIN_ROUNDS = 3

    def __init__(self, seed: int, seconds: float, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        # one untimed warm-up round, then at least MIN_ROUNDS measured;
        # a round takes well over two seconds, so this bounds the count
        self.max_rounds = 1 + max(self.MIN_ROUNDS, math.ceil(seconds / 2))

    def generate(self) -> Inputs:
        rng = np.random.default_rng(self.seed)
        keys = np.sort(rng.choice(np.arange(1, self.KEY_SPACE + 1), self.N_ORDERS, replace=False)).astype(np.int64)
        self.orders = self._orders_frame(rng, keys, 0)
        self.rounds = []
        new_key = self.KEY_SPACE
        for r in range(self.max_rounds):
            old = rng.choice(keys, self.UPDATES - self.NEW_KEYS, replace=False)
            new = np.arange(new_key + 1, new_key + 1 + self.NEW_KEYS, dtype=np.int64)
            new_key += self.NEW_KEYS
            upd = self._orders_frame(rng, np.concatenate([old, new]), r + 1)
            upd["o_dead"] = rng.random(self.UPDATES) < self.TOMBSTONE_SHARE
            points = upd.loc[~upd["o_dead"], "o_orderkey"].to_numpy()[: self.POINTS]
            self.rounds.append((upd, points))
        centers = rng.standard_normal((self.N_LISTS, self.DIM)).astype(np.float32)
        self.centroids = pd.DataFrame({"list_id": np.arange(self.N_LISTS, dtype=np.int32), "centroid": list(centers)})

        def vectors(first_id, n):
            label = rng.integers(0, self.N_LISTS, n)
            v = centers[label] + 0.5 * rng.standard_normal((n, self.DIM)).astype(np.float32)
            return pd.DataFrame({"vec_id": np.arange(first_id, first_id + n, dtype=np.int64), "embedding": list(v)})

        self.corpus = vectors(0, self.N_VECTORS)
        self.vec_batches = [vectors(self.N_VECTORS + r * self.VEC_BATCH, self.VEC_BATCH) for r in range(self.max_rounds)]
        self.queries = pd.DataFrame(
            {
                "q_id": self.QUERY_ID_BASE + self.corpus["vec_id"][: self.N_QUERIES],
                "qv": self.corpus["embedding"][: self.N_QUERIES],
            }
        )
        path = self.work / "inputs" / "orders.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        self.orders.to_parquet(path, index=False)
        self.orders_path = str(path)
        frames = [self.orders, self.centroids, self.corpus, self.queries]
        frames += [u for u, _p in self.rounds] + self.vec_batches
        return Inputs([str(path)], _hash_frames(frames))

    def _orders_frame(self, rng, keys: np.ndarray, ver: int) -> pd.DataFrame:
        n = len(keys)
        days = rng.integers(0, 2400, n)
        return pd.DataFrame(
            {
                "o_orderkey": keys.astype(np.int64),
                "o_custkey": rng.integers(1, 15_001, n).astype(np.int64),
                "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
                "o_totalprice": np.round(rng.uniform(850.0, 560_000.0, n), 2),
                "o_orderdate": [date(1992, 1, 1) + timedelta(days=int(x)) for x in days],
                "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
                "o_ver": np.full(n, ver, dtype=np.int64),
            }
        )

    def run(self, spark, spans: Spans, traced: bool) -> Outcome:
        from reflex_spark.operators.similarity import IvfIndex
        from reflex_spark.sources.event_log import EventLog
        from reflex_spark.sources.tx_table import TxTable
        from reflex_spark.streaming.cdc import publish_changes

        def vec_df(pdf):
            return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")

        upd_dfs = [spark.createDataFrame(u) for u, _p in self.rounds]
        vec_dfs = [vec_df(v) for v in self.vec_batches]
        q_df = spark.createDataFrame(self.queries, "q_id long, qv array<float>")

        # -- set-up: seed the table from the orders input, build the index
        setup_s = []
        for rep in range(SETUPS):
            d = self.work / f"tables-{rep}"
            t0 = time.perf_counter()
            with spans.span("tx_table.seed"):
                table = TxTable(spark, str(d / "orders"), stats_cols=["o_orderkey"])
                table.append(spark.read.parquet(self.orders_path))
            with spans.span("ivf.build"):
                idx = IvfIndex.build(
                    spark,
                    str(d / "ivf"),
                    vec_df(self.corpus),
                    spark.createDataFrame(self.centroids, "list_id int, centroid array<float>"),
                )
            cdc = EventLog(spark, str(d / "cdc"))
            setup_s.append(time.perf_counter() - t0)

        model = {int(r.o_orderkey): _row(r) for r in self.orders.itertuples(index=False)}
        cdc_expected = 0
        timings: dict[str, list[float]] = {k: [] for k in ("merge", "publish", "read", "append", "probe", "compact")}
        writes, reads = [], []
        attempted = failed = 0
        errors, read_mismatch, probe_miss = [], [], []
        merge_versions = []
        rounds_done = 0
        w0 = time.time()
        t_start = time.monotonic()
        for r in range(self.max_rounds):
            measured = r > 0
            if measured and r > self.MIN_ROUNDS and time.monotonic() - t_start >= self.seconds:
                break
            if r == 1:
                spans.phase = "measure"
                w0 = time.time()
                t_start = time.monotonic()
            upd, points = self.rounds[r]
            op = f"round-{r}"
            t = {}
            attempted += 6 if (r + 1) % self.COMPACT_EVERY == 0 else 5
            try:
                v0 = table.latest_version()
                with spans.span("tx_table.merge", op=op) as rec:
                    table.merge_by_key(upd_dfs[r], ["o_orderkey"], "o_ver", tombstone_col="o_dead")
                t["merge"] = rec["dur"]
                merge_versions.append(table.latest_version())
                with spans.span("cdc.publish", op=op) as rec:
                    h0 = cdc.head()
                    h1 = publish_changes(table, cdc, "o_orderkey", v0, at=BASE_TS + timedelta(days=r))
                    rec["events"] = h1 - h0
                t["publish"] = rec["dur"]
                with spans.span("tx_table.read_points", op=op) as rec:
                    df, _n_files, _n_scanned = table.read_points("o_orderkey", [int(k) for k in points])
                    got = df.select(*_COLS).collect()
                t["read"] = rec["dur"]
                with spans.span("ivf.append", op=op) as rec:
                    idx.append(vec_dfs[r])
                    if traced:
                        rec["files"] = (idx.last_append_readback or {}).get("files_read", 0)
                t["append"] = rec["dur"]
                with spans.span("ivf.probe", op=op) as rec:
                    hits = idx.probe(q_df, n_probe=self.N_PROBE, k=self.TOP_K, eager=True).collect()
                t["probe"] = rec["dur"]
                t["compact"] = 0.0
                if (r + 1) % self.COMPACT_EVERY == 0:
                    with spans.span("ivf.compact", op=op) as rec:
                        idx.compact()
                    t["compact"] = rec["dur"]
            except Exception as exc:  # noqa: BLE001 — a failed op ends the loop; its state is unknown
                failed += 1
                errors.append(f"round {r}: {exc!r}"[:300])
                break
            rounds_done += 1
            # model and per-round checks, outside the timed spans
            cdc_expected += _apply(model, upd)
            want = sorted(model[int(k)] for k in points if int(k) in model)
            if sorted(_row(x) for x in got) != want:
                read_mismatch.append(f"round {r}")
            probe_miss += _probe_misses(hits, self.N_QUERIES, self.QUERY_ID_BASE)
            if measured:
                for k, v in t.items():
                    if k != "compact" or v:
                        timings[k].append(v)
                writes.append(t["merge"] + t["publish"] + t["append"] + t["compact"])
                reads.append(t["read"] + t["probe"])
        w1 = time.time()
        spans.phase = "check"

        state = sorted(_row(x) for x in table.read().select(*_COLS).collect())
        cdc_head = EventLog(spark, cdc.path).head()
        ledger = sum(idx.list_counts().values())
        want_ledger = self.N_VECTORS + self.VEC_BATCH * rounds_done
        checks = [
            _check("table_matches_model", state == sorted(model.values()), f"{len(state)} rows, model {len(model)}"),
            _check("cdc_events_match_model", cdc_head == cdc_expected, f"log head {cdc_head}, model {cdc_expected}"),
            _check("ivf_ledger_total", ledger == want_ledger, f"ledger {ledger}, appended {want_ledger}"),
            _check("probe_self_first", not probe_miss, f"{len(probe_miss)} misses" + (f": {probe_miss[:5]}" if probe_miss else "")),
            _check("read_points_match_model", not read_mismatch, "; ".join(read_mismatch) or f"{rounds_done} rounds"),
            _check("rounds_ran", not errors, "; ".join(errors) or "no errors"),
        ]
        extra = {}
        if traced:
            hist = {h["version"]: h for h in table.history()}
            measured_versions = [v for v in merge_versions[1:] if v in hist]
            extra["files_added_per_merge"] = statistics.fmean(hist[v]["n_adds"] for v in measured_versions) if measured_versions else 0
            extra["files_removed_per_merge"] = statistics.fmean(hist[v]["n_removes"] for v in measured_versions) if measured_versions else 0
            extra["tx_log_files"] = len(os.listdir(os.path.join(table.path, "_txlog")))
            with open(os.path.join(idx.path, "_meta.json"), encoding="utf-8") as f:
                extra["max_files_per_list"] = max((len(v) for v in json.load(f)["files"].values()), default=0)

        report = {
            "setup_s": _p50(setup_s),
            "write_p50_s": _p50(writes),
            "read_p50_s": _p50(reads),
            "merge_p50_s": _p50(timings["merge"]),
            "publish_p50_s": _p50(timings["publish"]),
            "tx_read_p50_s": _p50(timings["read"]),
            "ann_append_p50_s": _p50(timings["append"]),
            "ann_probe_p50_s": _p50(timings["probe"]),
            "ann_compact_p50_s": _p50(timings["compact"]),
        }
        return Outcome(
            report=report,
            checks=checks,
            attempted=attempted,
            failed=failed,
            window=(w0, w1),
            extra=extra,
        )


_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority", "o_ver"]


def _hashable(x) -> str:
    """Object cells as text: arrays by their bytes, anything else by repr."""
    if isinstance(x, np.ndarray):
        return x.tobytes().hex()
    return repr(x)


def _row(r) -> tuple:
    """Comparable form of an orders row, a pandas tuple or a Spark Row."""
    return (
        int(r.o_orderkey),
        int(r.o_custkey),
        str(r.o_orderstatus),
        float(r.o_totalprice),
        r.o_orderdate,
        str(r.o_orderpriority),
        int(r.o_ver),
    )


def _apply(model: dict, upd: pd.DataFrame) -> int:
    """Apply one merge to the model; return the CDC events it implies
    (insert 1, delete 1, update 2 as pre- and post-image)."""
    events = 0
    for r in upd.itertuples(index=False):
        k = int(r.o_orderkey)
        if r.o_dead:
            if k in model:
                del model[k]
                events += 1
        else:
            events += 2 if k in model else 1
            model[k] = _row(r)
    return events


def _probe_misses(hits, n_queries: int, id_base: int) -> list[int]:
    """Vectors whose probe (query id ``id_base`` + vector id) does not
    return the vector itself first."""
    best: dict[int, tuple[float, int]] = {}
    for h in hits:
        q, v, s = h[0], h[1], h[2]
        if q not in best or s > best[q][0]:
            best[q] = (s, v)
    return [v for v in range(n_queries) if best.get(id_base + v, (None, None))[1] != v]


WORKLOADS = {"follow": Follow, "tables": Tables}

"""Run loops: the engine's equivalents of reflex.Run / RunForever.

- ``run(spec)`` — poll path: mirrors run.go:16-105 step by step
  (cursor restore → stream → batch loop → consume → cursor advance), with
  fail-fast semantics and at-least-once delivery (cursor set *after*
  consume). ``to_head`` raises ErrHeadReached like WithStreamToHead
  (options.go:27-39); ``from_head`` skips history like WithStreamFromHead.
- ``run_stream(spec)`` — Structured Streaming path: readStream →
  foreachBatch(consume) with checkpointLocation; the checkpoint is the
  cursor. ``Trigger.AvailableNow`` ≈ to-head, default trigger ≈ follow.
- ``run_forever`` — supervision loop (rpatterns/run.go:16-36): retry with
  backoff, 100ms for expected errors, longer otherwise.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import functions as F

from reflex_spark.control import write_atomic
from reflex_spark.sources.event_log import (
    NOOP_FOREIGN_ID,
    NOOP_TYPE,
    EventLog,
    without_noops,
)
from reflex_spark.streaming.consumer import Consumer
from reflex_spark.streaming.cursors import CursorStore


class ErrHeadReached(Exception):
    """Stream consumed to head in to_head mode (reference errors.go:20-24)."""


class ErrStopped(Exception):
    """Stream stopped gracefully (reference errors.go ErrStopped / graceful
    server stop, server.go:31-42). Consumers should treat this as expected
    and reconnect/restart."""


def is_head_reached_err(exc: BaseException) -> bool:
    """reflex.IsHeadReachedErr (errors.go:38-40)."""
    return isinstance(exc, ErrHeadReached)


def is_stopped_err(exc: BaseException) -> bool:
    """reflex.IsStoppedErr (errors.go:33-35)."""
    return isinstance(exc, ErrStopped)


def is_filter_err(exc: BaseException) -> bool:
    """reflex.IsFilterErr (errors.go:57-59)."""
    from reflex_spark.streaming.consumer import FilterError

    return isinstance(exc, FilterError)


def is_expected(exc: BaseException) -> bool:
    """reflex.IsExpected (errors.go:43-55): errors normal during streaming
    (head reached, graceful stop, cancellation)."""
    return isinstance(exc, (ErrHeadReached, ErrStopped, KeyboardInterrupt))


@dataclass
class StreamOptions:
    """Reference stream options (options.go), poll-path semantics."""

    from_head: bool = False  # WithStreamFromHead: skip history
    to_head: bool = False  # WithStreamToHead: stop at head
    lag_seconds: float = 0.0  # WithStreamLag: only events older than lag
    batch_limit: int = 1000  # WithEventLookupLimit (rsql/db.go:27)
    drop_noops: bool = True  # noop filter (rsql/loader.go:64-94)
    poll_backoff: float = 0.2  # WithEventsBackoff (scaled for tests)
    require_dense: bool = True  # gap detection (rsql/loader.go:96-134)
    stop: Callable[[], bool] | None = None  # graceful stop signal (→ ErrStopped)


@dataclass
class Spec:
    """Runnable triple (stream, cursor store, consumer) — api.go:73-114."""

    log: EventLog
    cstore: CursorStore
    consumer: Consumer
    options: StreamOptions = field(default_factory=StreamOptions)


def _load_batch(spec: Spec, after: int, dense: bool = False):
    """Load the deliverable id window after the cursor. Noops are NOT
    dropped here: the run loop advances the cursor over them (reference
    wrapNoopFilter returns the last noop id as a cursor override,
    rsql/loader.go:64-94) — filtering before the max-id agg would strand
    the cursor on an all-noop window forever.

    ``dense`` requests the log's dense-truncated plan (a row_number over
    an UNPARTITIONED window — every batch row through one task). The run
    loop avoids it on the healthy path: a window with unique ids > cursor
    is dense iff ``max == cursor + count``, which the per-batch agg
    already computes, so the window op is paid only when a hole is
    actually present (mid-append races — rare)."""
    df = spec.log.read_after(after, spec.options.batch_limit, dense_only=dense)
    if spec.options.lag_seconds:
        # Prefix-truncate at the FIRST too-recent event instead of filtering
        # rows out of the middle: the cursor advances to the batch max, so a
        # mid-batch filter would permanently skip held-back events when
        # timestamps are out of id order. Truncation redelivers them later —
        # the reference's per-event delay has the same effect (run.go:79-87).
        cutoff = F.expr(
            f"current_timestamp() - INTERVAL {spec.options.lag_seconds} SECONDS"
        )
        recent_min = df.where(F.col("timestamp") > cutoff).agg(
            F.min("event_id").alias("__recent_min")
        )
        df = (
            df.join(F.broadcast(recent_min))
            .where(F.col("__recent_min").isNull() | (F.col("event_id") < F.col("__recent_min")))
            .drop("__recent_min")
        )
    return df


def run(spec: Spec, max_batches: int | None = None) -> int:
    """The reference consume loop (run.go:16-105). Returns last cursor.

    At-least-once: the cursor is set only after the consumer returns, so a
    crash between consume and set_cursor redelivers the batch (consumers
    must be idempotent — reference doc.go at-least-once contract).
    Fail-fast: any consumer/cursor error propagates and stops the loop.
    """
    name = spec.consumer.name
    cursor = spec.cstore.get_cursor(name)
    if spec.options.from_head and cursor == 0:
        cursor = spec.log.head()
        spec.cstore.set_cursor(name, cursor)

    notifier = getattr(spec.log, "notifier", None)
    batches = 0
    try:
        while max_batches is None or batches < max_batches:
            if spec.options.stop is not None and spec.options.stop():
                raise ErrStopped(f"{name} stopped at {cursor}")
            # Subscribe BEFORE loading: an append landing between the load
            # and the wait fires the already-registered event, so the
            # waiter wakes immediately (reference ch := notifier.C() before
            # the head re-check — no lost wakeups).
            sub = notifier.subscribe() if notifier is not None else None
            # NOTE: read_after().limit(n) + max() needs one pass; collect the
            # batch's max id via a tiny agg — the batch itself stays
            # distributed through consume.
            window = _load_batch(spec, cursor).cache()
            try:
                aggs = [F.max("event_id").alias("m"), F.count(F.lit(1)).alias("n")]
                if spec.options.drop_noops:
                    # only reference the noop columns when filtering is on:
                    # adapted tables without foreign_id stream fine with
                    # drop_noops=False
                    is_noop = (F.col("foreign_id") == F.lit(NOOP_FOREIGN_ID)) & (
                        F.col("event_type") == F.lit(NOOP_TYPE)
                    )
                    aggs.append(F.count(F.when(~is_noop, 1)).alias("n_real"))
                row = window.agg(*aggs).collect()[0]
                if (
                    spec.options.require_dense
                    and row["n"]
                    and row["m"] != cursor + row["n"]
                ):
                    # Hole inside the window (a reader racing a mid-commit
                    # multi-file append): fall back to the dense-truncated
                    # plan so only the contiguous prefix is delivered.
                    window.unpersist()
                    window = _load_batch(spec, cursor, dense=True).cache()
                    row = window.agg(*aggs).collect()[0]
                if row["n"] == 0:
                    # Empty dense read: either true head, or the stream is
                    # stuck behind an id hole. With gap listeners attached
                    # (sources.gapfill.fill_gaps), detect and emit — the
                    # filler unblocks the next poll (reference ListenGaps /
                    # FillGaps, rsql/gapfill.go:26-40). Detection is one
                    # ids-only agg and runs only on empty polls.
                    if spec.options.require_dense and getattr(
                        spec.log, "_gap_listeners", None
                    ):
                        gap = spec.log.detect_gap(cursor)
                        if gap is not None:
                            spec.log.emit_gap(gap)
                            if spec.log.detect_gap(cursor) is not None:
                                # listener declined to fill — back off so a
                                # non-filling listener cannot busy-spin us
                                time.sleep(spec.options.poll_backoff)
                            continue  # re-poll the (now fillable) window
                    if spec.options.to_head:
                        raise ErrHeadReached(f"{name} reached head at {cursor}")
                    if sub is not None:
                        # Park on the insert notifier (G4): an append wakes
                        # us instantly; the backoff is only the fallback
                        # for out-of-process writers.
                        sub.wait(spec.options.poll_backoff)
                    else:
                        time.sleep(spec.options.poll_backoff)
                    continue
                n_deliver = row["n_real"] if spec.options.drop_noops else row["n"]
                if n_deliver:
                    batch = without_noops(window) if spec.options.drop_noops else window
                    spec.consumer.consume(batch, {"cursor": cursor, "batch": batches})
                    spec.consumer.stats["events"] += n_deliver
                    batches += 1
                # Cursor advances over noops too (all-noop windows would
                # otherwise livelock the poll loop re-reading forever).
                cursor = row["m"]
                spec.cstore.set_cursor(name, cursor)
            finally:
                window.unpersist()
                if sub is not None:
                    notifier.unsubscribe(sub)
    finally:
        spec.cstore.flush()
    return cursor


EXPECTED_ERRORS = (ErrHeadReached, ErrStopped)


def run_forever(
    spec_factory,
    stop_after: int = 3,
    expected_backoff: float = 0.05,
    error_backoff: float = 0.2,
    **run_kwargs: Any,
) -> list[Exception]:
    """Supervision loop (rpatterns/run.go:16-36): rebuild the spec and
    re-run on failure; short backoff for expected errors, long otherwise.
    ``stop_after`` bounds restarts (the reference loops forever)."""
    failures: list[Exception] = []
    for _ in range(stop_after):
        try:
            run(spec_factory(), **run_kwargs)
        except EXPECTED_ERRORS as exc:
            failures.append(exc)
            time.sleep(expected_backoff)
        except Exception as exc:  # noqa: BLE001 — supervised retry
            failures.append(exc)
            time.sleep(error_backoff)
    return failures


def run_stream(
    spec: Spec,
    checkpoint_dir: str,
    available_now: bool = True,
    timeout_sec: float = 120.0,
    max_files_per_trigger: int | None = None,
):
    """Structured Streaming path: the checkpoint directory IS the cursor
    (offset log + commit log, SURVEY.md §1.1 Cursor row). foreachBatch
    gives the same at-least-once contract as the poll path.

    from_head (bootstrap): on the FIRST start the current head id is
    recorded beside the checkpoint and events at or below it are filtered
    for the lifetime of the query — restarts reuse the recorded head, so
    the boundary never moves (reference rpatterns/bootstrap.go: skip
    history only when no cursor exists).

    ``max_files_per_trigger`` PRECONDITION: the file source orders batches
    by (mtime, path), not event_id. Consumers that dedup on a max-id
    watermark (MaterializedCounts.apply_batch) would silently drop a
    lower-id batch delivered after a higher-id one. This holds today
    because EventLog.append writes ONE part-file per append with ids
    assigned by a single global row_number — so file order == id order as
    long as appends are sequential. If appends ever produce multiple files
    with interleaved ids, key the consumer's dedup on the actual delivered
    ids instead of the max-id watermark."""
    import json
    import os

    stream = spec.log.read_stream(max_files_per_trigger=max_files_per_trigger)
    if spec.options.from_head:
        os.makedirs(checkpoint_dir, exist_ok=True)
        head_file = os.path.join(checkpoint_dir, "bootstrap_head.json")
        if os.path.exists(head_file):
            with open(head_file) as f:
                head = json.load(f)["head"]
        else:
            head = spec.log.head()
            write_atomic(head_file, json.dumps({"head": head}))
        stream = stream.where(F.col("event_id") > head)
    if spec.options.drop_noops:
        stream = without_noops(stream)

    def handle(batch_df, batch_id: int):
        if spec.options.lag_seconds:
            # Lag must DELAY delivery, never filter: the file-source
            # checkpoint marks a batch's files processed as soon as the
            # microbatch commits, so rows dropped by a timestamp predicate
            # would be lost forever (breaking at-least-once). Mirror the
            # reference's per-event delay (run.go:79-87) at batch
            # granularity: sleep until the batch's newest event is older
            # than the lag, then deliver the whole batch.
            # Compute the wait entirely in Spark's clock domain (both
            # timestamp and current_timestamp() cast through the same
            # session timezone, so any non-UTC offset cancels), like the
            # poll path's _load_batch does.
            wait = batch_df.agg(
                (
                    F.max(F.col("timestamp")).cast("timestamp").cast("double")
                    + F.lit(float(spec.options.lag_seconds))
                    - F.current_timestamp().cast("double")
                ).alias("wait")
            ).collect()[0]["wait"]
            if wait is not None and wait > 0:
                time.sleep(wait)
        spec.consumer.consume(batch_df, {"batch_id": batch_id})

    from reflex_spark.streaming.statestore import scaled_stream_shuffle

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    # Size the per-batch shuffle count to the log (statestore module
    # note): any stateful operator downstream freezes one state store per
    # shuffle partition into the checkpoint, and foreachBatch's batch-side
    # jobs shuffle micro-batch-sized data — both should scale with the
    # data, not a session constant.
    with scaled_stream_shuffle(spec.log.spark, spec.log.read()):
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        query.awaitTermination(timeout_sec)
    if query.isActive:
        query.stop()
        if available_now:
            # availableNow promises "consume to head then stop"; expiring
            # the timeout mid-stream would silently hand callers a PARTIAL
            # result (e.g. a rollup missing the tail batches). Fail loudly —
            # the checkpoint keeps at-least-once intact for a retry.
            raise TimeoutError(
                f"run_stream(available_now=True) timed out after {timeout_sec}s "
                "before reaching head; results would be partial"
            )
    if query.exception() is not None:
        raise query.exception()
    return query

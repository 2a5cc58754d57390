"""Streaming-core parity tests, modeled on the reference suite
(SURVEY.md §5: run_test.go, consumer_test.go, rpatterns/*_test.go)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from reflex_spark.sources.event_log import EventLog, without_noops
from reflex_spark.sources.memory import EPOCH, make_events, seed_log
from reflex_spark.streaming import (
    Consumer,
    ErrHeadReached,
    FileCursorStore,
    MemCursorStore,
    ReadThroughCursorStore,
    Spec,
    StreamOptions,
    run,
    run_forever,
)
from reflex_spark.streaming.cursors import CursorRegressionError
from reflex_spark.streaming.patterns import (
    AckConsumer,
    await_event,
    best_effort_consumer,
    bootstrap_spec,
    dead_letter_consumer,
    ordered_by_key,
    parallel_ack_specs,
    parallel_specs,
    read_consumer_errors,
    shard_filter,
)
from reflex_spark.streaming.run import run_stream


def collecting_consumer(name: str, sink: list, **kwargs) -> Consumer:
    """Test consumer that collects event ids (tiny data only)."""

    def fn(df, meta):
        sink.extend(r["event_id"] for r in df.select("event_id").collect())

    return Consumer(name=name, fn=fn, **kwargs)


# --- EventLog source ------------------------------------------------------


def test_event_log_append_assigns_dense_ids(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (2, "b"), (1, "c")])
    ids = [r["event_id"] for r in log.read().orderBy("event_id").collect()]
    assert ids == [1, 2, 3]
    assert log.head() == 3
    log.insert("d", 7)
    assert log.head() == 4


def test_event_log_read_after_limit(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, str(i)) for i in range(10)])
    got = [r["event_id"] for r in log.read_after(3, limit=4).collect()]
    assert got == [4, 5, 6, 7]


def test_noop_insert_rejected_and_filtered(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(0, "0"), (1, "x")])
    with pytest.raises(ValueError):
        log.insert("0", 0)
    assert without_noops(log.read()).count() == 1


# --- run loop (run.go semantics) ------------------------------------------


def test_run_consumes_all_and_advances_cursor(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, str(i)) for i in range(7)])
    store, seen = MemCursorStore(), []
    spec = Spec(log, store, collecting_consumer("c1", seen), StreamOptions(to_head=True, batch_limit=3))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [1, 2, 3, 4, 5, 6, 7]
    assert store.get_cursor("c1") == 7


def test_run_resumes_from_cursor(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, str(i)) for i in range(5)])
    store, seen = MemCursorStore({"c1": 3}), []
    spec = Spec(log, store, collecting_consumer("c1", seen), StreamOptions(to_head=True))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [4, 5]


def test_run_at_least_once_on_consumer_crash(spark, tmp_path):
    """Crash after partial consume → cursor unchanged → redelivery
    (reference at-least-once contract, run.go:89-103)."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, str(i)) for i in range(4)])
    store, seen, fail = MemCursorStore(), [], {"armed": True}

    def fn(df, meta):
        ids = [r["event_id"] for r in df.select("event_id").collect()]
        seen.extend(ids)
        if fail["armed"]:
            fail["armed"] = False
            raise RuntimeError("boom after side effects")

    spec = Spec(log, store, Consumer("c1", fn), StreamOptions(to_head=True, batch_limit=2))
    with pytest.raises(Exception, match="boom"):
        run(spec)
    assert store.get_cursor("c1") == 0  # cursor NOT advanced past failure
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [1, 2, 1, 2, 3, 4]  # batch 1 redelivered


def test_from_head_skips_history(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "old1"), (1, "old2")])
    store, seen = MemCursorStore(), []
    spec = Spec(log, store, collecting_consumer("c1", seen), StreamOptions(from_head=True, to_head=True))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == []
    log.insert("new", 1)
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [3]


def test_lag_filter_delays_events(spark, tmp_path):
    """WithStreamLag: only events older than the lag are delivered."""
    old = make_events(spark, [(1, "old")], start=EPOCH)
    new = make_events(spark, [(1, "new")], start=datetime.utcnow() + timedelta(hours=1))
    log = EventLog(spark, str(tmp_path / "log"))
    log.append(old)
    log.append(new)
    store, seen = MemCursorStore(), []
    spec = Spec(
        log, store, collecting_consumer("c1", seen), StreamOptions(to_head=True, lag_seconds=3600)
    )
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [1]  # the future-dated event is held back


def test_type_filter_skips(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (2, "b"), (1, "c"), (3, "d")])
    store, seen = MemCursorStore(), []
    spec = Spec(
        log,
        store,
        collecting_consumer("c1", seen, include_types=[1]),
        StreamOptions(to_head=True),
    )
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [1, 3]
    assert store.get_cursor("c1") == 4  # cursor covers skipped events too


def test_recovery_hook_swallows_errors(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a")])
    recovered = []

    def fn(df, meta):
        raise RuntimeError("always fails")

    consumer = Consumer(
        "c1", fn, recover=lambda df, meta, exc: recovered.append(str(exc))
    )
    spec = Spec(log, MemCursorStore(), consumer, StreamOptions(to_head=True))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert recovered == ["always fails"]


def test_run_forever_supervises(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a")])
    store = MemCursorStore()

    def factory():
        return Spec(log, store, Consumer("c1", lambda df, meta: None), StreamOptions(to_head=True))

    failures = run_forever(factory, stop_after=3, expected_backoff=0.0)
    assert len(failures) == 3
    assert all(isinstance(f, ErrHeadReached) for f in failures)


# --- cursor stores --------------------------------------------------------


def test_cursor_monotonic_guard(tmp_path):
    for store in (MemCursorStore(), FileCursorStore(str(tmp_path / "cur"))):
        store.set_cursor("c", 5)
        with pytest.raises(CursorRegressionError):
            store.set_cursor("c", 3)
        assert store.get_cursor("c") == 5


def test_file_cursor_store_persists(tmp_path):
    p = str(tmp_path / "cur")
    FileCursorStore(p).set_cursor("c", 9)
    assert FileCursorStore(p).get_cursor("c") == 9


def test_read_through_cursor_store(tmp_path):
    primary, fallback = MemCursorStore(), MemCursorStore({"c": 42})
    store = ReadThroughCursorStore(primary, fallback)
    assert store.get_cursor("c") == 42  # miss → fallback
    store.set_cursor("c", 50)
    assert primary.get_cursor("c") == 50  # writes go to primary


# --- patterns -------------------------------------------------------------


def test_parallel_specs_shard_disjoint_cover(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"fid{i}") for i in range(20)])
    store = MemCursorStore()
    seen: dict[int, list[int]] = {0: [], 1: [], 2: []}

    def make_fn(m):
        def fn(df, meta):
            seen[m].extend(r["event_id"] for r in df.select("event_id").collect())

        return fn

    specs = parallel_specs(log, store, "par", 3, lambda df, meta: None)
    for m, spec in enumerate(specs):
        spec.consumer.fn = make_fn(m)
        spec.options.to_head = True
        with pytest.raises(ErrHeadReached):
            run(spec)
    all_seen = sorted(seen[0] + seen[1] + seen[2])
    assert all_seen == list(range(1, 21))  # disjoint cover
    assert store.get_cursor("par_0_of_3") == 20
    # same foreign_id always hashes to the same shard
    df = log.read()
    for m in range(3):
        shard_fids = {r["foreign_id"] for r in df.where(shard_filter(3, m, F.col("foreign_id"))).collect()}
        for other in range(3):
            if other != m:
                other_fids = {
                    r["foreign_id"] for r in df.where(shard_filter(3, other, F.col("foreign_id"))).collect()
                }
                assert shard_fids.isdisjoint(other_fids)


def test_ordered_by_key_preserves_per_key_order(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"k{i % 3}") for i in range(12)])
    parts = ordered_by_key(log.read(), 3).rdd.glom().collect()
    for part in parts:
        ids_by_key: dict[str, list[int]] = {}
        for row in part:
            ids_by_key.setdefault(row["foreign_id"], []).append(row["event_id"])
        for ids in ids_by_key.values():
            assert ids == sorted(ids)


def test_best_effort_skips_failures(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "ok"), (1, "bad"), (1, "ok2")])
    store = MemCursorStore()

    def fn(row):
        if row["foreign_id"] == "bad":
            raise RuntimeError("cannot process")

    consumer = best_effort_consumer("be", fn, retries=1)
    spec = Spec(log, store, consumer, StreamOptions(to_head=True))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert consumer.stats["skipped"] == 1
    assert store.get_cursor("be") == 3  # stream never blocked


def test_dead_letter_records_errors(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "ok"), (1, "bad1"), (1, "bad2")])
    store = MemCursorStore()
    errors_path = str(tmp_path / "consumer_errors")

    def fn(row):
        if row["foreign_id"].startswith("bad"):
            raise RuntimeError(f"dl-{row['foreign_id']}")

    consumer = dead_letter_consumer("dl", fn, errors_path, retries=0)
    spec = Spec(log, store, consumer, StreamOptions(to_head=True))
    with pytest.raises(ErrHeadReached):
        run(spec)
    errs = read_consumer_errors(spark, errors_path)
    rows = {r["event_id"]: r for r in errs.collect()}
    assert set(rows) == {2, 3}
    assert rows[2]["consumer"] == "dl"
    assert rows[2]["error_msg"] == "dl-bad1"
    assert rows[2]["error_status"] == 1
    assert store.get_cursor("dl") == 3

    # redelivery upserts (no duplicate identity), like rsql/db.go:300-339
    store2 = MemCursorStore()
    spec2 = Spec(log, store2, dead_letter_consumer("dl", fn, errors_path, retries=0), StreamOptions(to_head=True))
    with pytest.raises(ErrHeadReached):
        run(spec2)
    assert read_consumer_errors(spark, errors_path).where(F.col("event_id") == 2).count() == 1


def test_ack_consumer_manual_cursor(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (1, "b")])
    store = MemCursorStore()

    def fn(df, ack_consumer):
        pass  # consume without acking

    ack = AckConsumer("ackc", store, fn)
    with pytest.raises(ErrHeadReached):
        run(ack.spec(log, to_head=True))
    assert store.get_cursor("ackc") == 0  # nothing acked → no cursor movement

    def fn2(df, ack_consumer):
        last = df.agg(F.max("event_id").alias("m")).collect()[0]["m"]
        ack_consumer.ack(last)

    ack2 = AckConsumer("ackc", store, fn2)
    with pytest.raises(ErrHeadReached):
        run(ack2.spec(log, to_head=True))
    assert store.get_cursor("ackc") == 2


def test_bootstrap_spec_starts_at_head(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, "hist1"), (1, "hist2")])
    store, seen = MemCursorStore(), []
    spec = bootstrap_spec(log, store, collecting_consumer("bs", seen), to_head=True)
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == []  # history skipped
    # second run resumes from stored cursor (not head again)
    log.insert("new", 1)
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [3]


def test_await_event(spark, tmp_path):
    import threading

    log = seed_log(spark, str(tmp_path / "log"), [(1, "x")])
    # from-head semantics: events existing before the call don't satisfy it
    assert not await_event(log, "x", [1], timeout_sec=0.5, poll_interval=0.1)
    # event arriving while awaiting is seen (reference listener path)
    t = threading.Timer(0.3, lambda: log.insert("y", 2))
    t.start()
    assert await_event(log, "y", [2], timeout_sec=15.0, poll_interval=0.1)
    t.join()
    # poller path: pollFn observing current state wins immediately
    assert await_event(log, "zzz", [9], poll_fn=lambda: True, timeout_sec=1.0)


# --- structured streaming path -------------------------------------------


def test_run_stream_checkpoint_is_cursor(spark, tmp_path):
    log = seed_log(spark, str(tmp_path / "log"), [(1, str(i)) for i in range(5)])
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    def fn(df, meta):
        seen.extend(r["event_id"] for r in df.select("event_id").collect())

    spec = Spec(log, MemCursorStore(), Consumer("sc", fn))
    run_stream(spec, ckpt, available_now=True)
    assert sorted(seen) == [1, 2, 3, 4, 5]

    # restart: checkpoint remembers processed files; only new events arrive
    seen.clear()
    log.insert("new", 9)
    run_stream(spec, ckpt, available_now=True)
    assert sorted(seen) == [6]


def test_gap_detection_blocks_until_filled(spark, tmp_path):
    """Reference G1 parity (rsql/loader.go:96-134): a hole in the id
    sequence (e.g. a reader listing mid-append) truncates the batch — the
    cursor never jumps the hole, and delivery resumes once it fills."""
    from pyspark.sql.types import StructType

    from reflex_spark.sources.event_log import EVENT_SCHEMA

    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (1, "b"), (1, "c")])  # ids 1-3
    # simulate a partially-visible append: ids 5,6 exist, 4 not yet visible
    from datetime import datetime

    rows = [(i, 1, f"late{i}", datetime(2024, 1, 2), None, None) for i in (5, 6)]
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode("append").parquet(str(tmp_path / "log"))

    store, seen = MemCursorStore(), []
    spec = Spec(log, store, collecting_consumer("gap", seen), StreamOptions(to_head=True))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [1, 2, 3]  # truncated at the hole
    assert store.get_cursor("gap") == 3  # cursor never jumped the gap

    # the missing event lands → delivery resumes in order
    spark.createDataFrame(
        [(4, 1, "filled", datetime(2024, 1, 2), None, None)], EVENT_SCHEMA
    ).write.mode("append").parquet(str(tmp_path / "log"))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [1, 2, 3, 4, 5, 6]
    assert store.get_cursor("gap") == 6


def test_lag_prefix_truncation_no_skip(spark, tmp_path):
    """Out-of-id-order timestamps: the lag filter must truncate at the
    first too-recent event, not filter the middle — otherwise the cursor
    skips held-back events forever."""
    from datetime import datetime, timedelta

    old, future = datetime(2024, 1, 1), datetime.utcnow() + timedelta(hours=2)
    # id 1 old, id 2 FUTURE (held), id 3 old — a mid-batch hold
    log = EventLog(spark, str(tmp_path / "log"))
    log.append(make_events(spark, [(1, "a")], start=old))
    log.append(make_events(spark, [(1, "b")], start=future))
    log.append(make_events(spark, [(1, "c")], start=old + timedelta(hours=1)))

    store, seen = MemCursorStore(), []
    spec = Spec(
        log, store, collecting_consumer("lagp", seen), StreamOptions(to_head=True, lag_seconds=3600)
    )
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [1]  # truncated BEFORE the held event — 3 not skipped-past
    assert store.get_cursor("lagp") == 1  # cursor stops at the hold point


def test_run_stream_from_head_bootstrap(spark, tmp_path):
    """Streaming-path bootstrap: first start skips history; the recorded
    head boundary survives restarts (only genuinely-new events arrive)."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, "hist1"), (1, "hist2")])
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    def fn(df, meta):
        seen.extend(r["event_id"] for r in df.select("event_id").collect())

    spec = Spec(log, MemCursorStore(), Consumer("bss", fn), StreamOptions(from_head=True))
    run_stream(spec, ckpt, available_now=True)
    assert seen == []  # history skipped

    log.insert("new1", 1)
    run_stream(spec, ckpt, available_now=True)
    assert sorted(seen) == [3]  # boundary did not move on restart


def test_parallel_ack_specs_shard_and_manual_cursor(spark, tmp_path):
    """ParallelAck parity (rpatterns/parallel.go:206-229): shard filters
    compose with manual ack; un-acked shards don't move, acked shards
    advance to their own max seen id. Custom name formatter + custom hash
    expression (WithNameFormatter / WithHashFn analogues)."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"fid{i}") for i in range(12)])
    store = MemCursorStore()
    seen: dict[str, list[int]] = {}

    def fn(df, ack_consumer):
        ids = [r["event_id"] for r in df.select("event_id").collect()]
        seen.setdefault(ack_consumer.name, []).extend(ids)
        if ack_consumer.name.endswith("shard0"):  # only shard 0 acks
            ack_consumer.ack(max(ids))

    specs = parallel_ack_specs(
        log,
        store,
        "pack",
        2,
        fn,
        key_col=F.col("event_id") % 100,  # custom hash expression
        name_formatter=lambda name, m, n: f"{name}-shard{m}",
        to_head=True,
    )
    for spec in specs:
        with pytest.raises(ErrHeadReached):
            run(spec)
    covered = sorted(seen["pack-shard0"] + seen["pack-shard1"])
    assert covered == list(range(1, 13))  # disjoint cover, nothing dropped
    assert store.get_cursor("pack-shard0") == max(seen["pack-shard0"])
    assert store.get_cursor("pack-shard1") == 0  # never acked


def test_parallel_specs_per_shard_opts(spark, tmp_path):
    """WithConsumerSpecificOpts analogue: per-shard option overrides."""
    log = seed_log(spark, str(tmp_path / "log"), [(1, f"f{i}") for i in range(4)])
    specs = parallel_specs(
        log,
        MemCursorStore(),
        "pso",
        2,
        lambda df, meta: None,
        shard_opts=lambda m: {"batch_limit": 1 + m},
        to_head=True,
    )
    assert specs[0].options.batch_limit == 1
    assert specs[1].options.batch_limit == 2
    assert specs[0].options.to_head and specs[1].options.to_head


def test_graceful_stop_and_error_predicates(spark, tmp_path):
    """ErrStopped + IsExpected/IsStoppedErr/IsHeadReachedErr parity
    (errors.go:20-55; graceful server stop server.go:31-42)."""
    from reflex_spark.streaming import (
        ErrStopped,
        is_expected,
        is_head_reached_err,
        is_stopped_err,
    )

    log = seed_log(spark, str(tmp_path / "log"), [(1, "a"), (1, "b"), (1, "c")])
    store, seen = MemCursorStore(), []
    stop_after_one = {"batches": 0}

    def should_stop() -> bool:
        return stop_after_one["batches"] >= 1

    def fn(df, meta):
        seen.extend(r["event_id"] for r in df.select("event_id").collect())
        stop_after_one["batches"] += 1

    spec = Spec(
        log,
        store,
        Consumer("stopc", fn),
        StreamOptions(to_head=True, batch_limit=2, stop=should_stop),
    )
    with pytest.raises(ErrStopped):
        run(spec)
    assert seen == [1, 2]  # one batch consumed, then stopped
    assert store.get_cursor("stopc") == 2  # cursor committed before stop

    head = ErrHeadReached("x")
    stopped = ErrStopped("y")
    assert is_head_reached_err(head) and not is_head_reached_err(stopped)
    assert is_stopped_err(stopped) and not is_stopped_err(head)
    assert is_expected(head) and is_expected(stopped)
    assert not is_expected(RuntimeError("boom"))

    # run_forever treats graceful stop as expected (short backoff path)
    failures = run_forever(
        lambda: Spec(
            log, MemCursorStore(), Consumer("s2", lambda df, meta: None),
            StreamOptions(to_head=True, stop=lambda: True),
        ),
        stop_after=2,
        expected_backoff=0.0,
    )
    assert len(failures) == 2 and all(is_stopped_err(f) for f in failures)


def test_filter_error_classified(spark, tmp_path):
    """IsFilterErr parity (errors.go:57-64): an unapplicable event filter
    raises FilterError, distinct from consumer/business failures."""
    from reflex_spark.streaming import FilterError, is_filter_err

    log = seed_log(spark, str(tmp_path / "log"), [(1, "a")])
    spec = Spec(
        log,
        MemCursorStore(),
        Consumer("fc", lambda df, meta: None, event_filter=F.col("no_such_column") > 0),
        StreamOptions(to_head=True),
    )
    with pytest.raises(FilterError) as exc_info:
        run(spec)
    assert is_filter_err(exc_info.value)
    assert not is_filter_err(RuntimeError("x"))


# --- round-2 regression tests (ADVICE r1) ---------------------------------


def test_cursor_advances_over_all_noop_window(spark, tmp_path):
    """An all-noop window must advance the cursor (reference wrapNoopFilter
    returns the last noop id as a cursor override, rsql/loader.go:64-94);
    before the fix a run of >= batch_limit noops livelocked the poll loop
    and to_head raised ErrHeadReached despite real events past the noops."""
    log = EventLog(spark, str(tmp_path / "log"))
    # ids 1-3 are noops, 4-5 are real events
    log.append(make_events(spark, [(0, "0"), (0, "0"), (0, "0"), (1, "a"), (1, "b")]))
    seen: list[int] = []
    store = MemCursorStore()
    spec = Spec(
        log,
        store,
        collecting_consumer("noopwin", seen),
        StreamOptions(to_head=True, batch_limit=2),  # first window = noops only
    )
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [4, 5]  # noops filtered, real events delivered
    assert store.get_cursor("noopwin") == 5

    # trailing noops: cursor must advance past them before head is declared
    log.append(make_events(spark, [(0, "0"), (0, "0")], start=EPOCH + timedelta(hours=1)))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert seen == [4, 5]  # nothing new delivered
    assert store.get_cursor("noopwin") == 7  # ...but cursor is at the noop head


def test_run_stream_lag_delays_not_drops(spark, tmp_path):
    """run_stream lag must DELAY delivery, never filter: the file-source
    checkpoint marks files processed per microbatch, so filtered rows would
    be permanently lost (ADVICE r1 high). Events newer than the lag are
    still delivered — after the lag has elapsed — and never redelivered."""
    import time as _time
    from datetime import timezone

    log = EventLog(spark, str(tmp_path / "log"))
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    log.append(make_events(spark, [(1, "a"), (1, "b")], start=now, step_seconds=0.1))
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    deliver_times: list[float] = []

    def fn(df, meta):
        deliver_times.append(_time.time())
        seen.extend(r["event_id"] for r in df.select("event_id").collect())

    spec = Spec(log, MemCursorStore(), Consumer("lagstream", fn), StreamOptions(lag_seconds=2.0))
    run_stream(spec, ckpt, available_now=True)
    assert sorted(seen) == [1, 2]  # delivered, not dropped
    # the actual lag contract: nothing is delivered until the batch's newest
    # event is at least lag old (robust to slow setup under suite load —
    # a wall-clock elapsed assertion is not)
    newest_epoch = now.replace(tzinfo=timezone.utc).timestamp() + 0.1
    assert min(deliver_times) >= newest_epoch + 2.0 - 0.05

    # restart: nothing is redelivered
    seen.clear()
    run_stream(spec, ckpt, available_now=True)
    assert seen == []


def test_head_empty_dir_ok_but_corruption_raises(spark, tmp_path):
    """head() returns 0 for structurally-empty logs but PROPAGATES real
    read errors — swallowing them restarted id assignment at 0 and
    corrupted the dense-id invariant (ADVICE r1 medium)."""
    # existing-but-empty partitioned directory: empty log, not an error
    pdir = tmp_path / "plog"
    pdir.mkdir()
    assert EventLog(spark, str(pdir), partitioned=True).head() == 0

    # corrupt parquet file: must raise, not return 0. A FRESH handle is
    # what recovers head from storage (the instance that appended serves
    # its own cached head — single-writer contract, r12); the propagation
    # guarantee protects the recovering writer.
    log = seed_log(spark, str(tmp_path / "log"), [(1, "a")])
    assert log.head() == 1
    (tmp_path / "log" / "part-corrupt.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        EventLog(spark, str(tmp_path / "log")).head()


def test_buffered_cursor_store_coalesces_writes(spark, tmp_path):
    """C1 parity (rsql/cursorstable.go:43,169-230): sets coalesce in the
    buffer and reach the durable store at most once per interval; flush()
    drains; the buffer never advances the durable cursor past what was
    set (at-least-once preserved on crash = lost buffer)."""
    from reflex_spark.streaming import BufferedCursorStore

    class CountingStore(MemCursorStore):
        def __init__(self):
            super().__init__()
            self.writes = 0

        def set_cursor(self, consumer, cursor):
            super().set_cursor(consumer, cursor)
            self.writes += 1

    inner = CountingStore()
    clock = {"t": 0.0}
    buf = BufferedCursorStore(inner, flush_interval=5.0, clock=lambda: clock["t"])
    for i in range(1, 11):
        buf.set_cursor("c", i)
    assert inner.writes == 0  # nothing due yet
    assert buf.get_cursor("c") == 10  # read-your-writes
    assert inner.get_cursor("c") == 0  # durable store untouched (behind, never ahead)

    clock["t"] = 6.0
    buf.set_cursor("c", 11)  # interval elapsed -> this set flushes
    assert inner.writes == 1 and inner.get_cursor("c") == 11

    buf.set_cursor("c", 12)
    buf.flush()  # explicit drain (the run loop's finally)
    assert inner.writes == 2 and inner.get_cursor("c") == 12

    # monotonic guard still enforced at the buffer
    with pytest.raises(CursorRegressionError):
        buf.set_cursor("c", 3)


def test_buffered_cursor_store_in_run_loop(spark, tmp_path):
    """End-to-end: a poll consumer over a buffered FILE store persists its
    final cursor via the run loop's finally-flush."""
    from reflex_spark.streaming import BufferedCursorStore

    log = seed_log(spark, str(tmp_path / "log"), [(1, f"u{i}") for i in range(6)])
    inner = FileCursorStore(str(tmp_path / "cursors"))
    store = BufferedCursorStore(inner, flush_interval=3600.0)  # never due mid-run
    spec = Spec(log, store, Consumer("buffered", lambda df, m: None),
                StreamOptions(to_head=True, batch_limit=2))
    with pytest.raises(ErrHeadReached):
        run(spec)
    assert inner.get_cursor("buffered") == 6  # durable after finally-flush
    assert store.writes_buffered == 3  # one per batch, zero mid-run file writes


def test_transform_with_state_sessions_or_env_gate(spark, tmp_path):
    """transformWithStateInPandas sessionization (Spark 4 successor API).
    When the environment can run it (protobuf wheel present), the full
    pipeline must reproduce the lag-gap session counts; in this container
    the TWS Python worker protocol's protobuf dependency is missing, so
    the test documents the gate by skipping (verified crash:
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE in StateMessage_pb2
    import). The applyInPandasWithState twin stays judged either way."""
    import pytest as _pytest

    from reflex_spark.streaming.tws import session_counts_tws, tws_available

    if not tws_available():
        _pytest.skip("transformWithStateInPandas needs google.protobuf (not in container)")

    from datetime import datetime

    from pyspark.sql import functions as F

    rows = [
        (1, datetime(2024, 1, 1, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 10)),
        (1, datetime(2024, 1, 1, 1, 0)),
        (2, datetime(2024, 1, 1, 0, 0)),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(1).write.parquet(src)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = session_counts_tws(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql("SELECT * FROM tws_sessions").collect()
    }
    assert got == {1: (2, 3), 2: (1, 1)}


def test_blob_datasource_stream_resumes_from_checkpoint(spark, tmp_path):
    """The reflex_blob STREAMING reader: offsets are blob keys, so a
    restarted query with the same checkpoint consumes ONLY blobs that
    arrived after the last committed batch (the rblob cursor contract at
    file granularity), and nothing is double-counted."""
    import json as _json

    from reflex_spark.sources.blob_datasource import register

    root = tmp_path / "bucket"

    def write_blob(name: str, rows):
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        with open(root / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_blob("day=2024-01-01/part-0.json", [{"k": 1, "v": 10.0}, {"k": 2, "v": 20.0}])
    write_blob("day=2024-01-02/part-0.json", [{"k": 3, "v": 30.0}])
    register(spark)

    seen: list[tuple[int, int]] = []  # (batch row count, total)

    def run_once():
        stream = (
            spark.readStream.format("reflex_blob")
            .option("path", str(root))
            .option("schema", "k long, v double")
            .load()
        )

        def collect(bdf, bid):
            rows = bdf.collect()
            if rows:
                seen.append(sorted(r["k"] for r in rows))

        q = (
            stream.writeStream.foreachBatch(collect)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        assert q.exception() is None

    run_once()
    assert sorted(k for batch in seen for k in batch) == [1, 2, 3]
    # new blob arrives; the SAME checkpoint resumes after day=2024-01-02
    write_blob("day=2024-01-03/part-0.json", [{"k": 4, "v": 40.0}])
    seen.clear()
    run_once()
    assert sorted(k for batch in seen for k in batch) == [4]


def test_blob_datasource_batch_caught_up_cursor(spark, tmp_path):
    """A caught-up after_key prunes EVERY blob at planning time; the batch
    read must yield 0 rows, not crash (pyspark substitutes [None] for an
    empty partition list, so partitions() must emit a sentinel)."""
    import json as _json

    from reflex_spark.sources.blob_datasource import register

    root = tmp_path / "bucket"
    root.mkdir()
    (root / "a.json").write_text(_json.dumps({"k": 1, "v": 1.5}) + "\n")
    register(spark)

    def read_after(cursor):
        return (
            spark.read.format("reflex_blob")
            .option("path", str(root))
            .option("after_key", cursor)
            .option("schema", "k long, v double")
            .load()
        )

    assert read_after("zzzz").count() == 0  # cursor past every key
    assert read_after("").count() == 1  # sanity: uncut scan still reads


def test_blob_datasource_arrow_batch_roundtrip(spark, tmp_path):
    """The Arrow fast path (all-primitive schema → RecordBatch yield)
    round-trips values and nulls exactly, including the >1-batch case."""
    import json as _json

    from reflex_spark.sources.blob_datasource import (
        _ARROW_BATCH_ROWS,
        ReflexBlobReader,
        register,
    )
    from pyspark.sql.types import StructType as _St

    root = tmp_path / "bucket"
    root.mkdir()
    n = _ARROW_BATCH_ROWS + 7  # force a second RecordBatch
    with open(root / "big.json", "w") as f:
        for i in range(n):
            f.write(
                _json.dumps(
                    {"k": i, "name": f"r{i}", "v": None if i % 5 == 0 else i / 2}
                )
                + "\n"
            )
    register(spark)
    df = (
        spark.read.format("reflex_blob")
        .option("path", str(root))
        .option("schema", "k long, name string, v double")
        .load()
    )
    rows = {r["k"]: (r["name"], r["v"]) for r in df.collect()}
    assert len(rows) == n
    assert rows[0] == ("r0", None)
    assert rows[3] == ("r3", 1.5)
    # the reader really is on the Arrow path for this schema
    from pyspark.sql.functions import col  # noqa: F401

    schema = df.schema
    rdr = ReflexBlobReader({"path": str(root)}, schema)
    assert rdr.arrow_schema is not None
    # a timestamp column forces the tuple fallback
    from pyspark.sql.types import StructField, TimestampType, LongType as _Lt

    ts_schema = _St([StructField("k", _Lt()), StructField("t", TimestampType())])
    assert ReflexBlobReader({"path": str(root)}, ts_schema).arrow_schema is None


def test_blob_writer_append_merges_manifest_and_orders_keys(spark, tmp_path):
    """Append-mode writes are namespaced per write (w-<seq>- prefix): a
    second save() can neither clobber the first write's blobs nor shrink
    the _SUCCESS manifest, and the new keys sort lexicographically AFTER
    every existing key — the cursor-resume contract across producer runs
    (rblob/doc.go: consumers scan strictly ascending keys)."""
    import json as _json
    import os as _os

    from reflex_spark.sources.blob_datasource import register

    register(spark)
    bucket = str(tmp_path / "bucket")
    df1 = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    df2 = spark.range(10, 25).selectExpr("id AS k", "CAST(-id AS DOUBLE) AS v")
    df1.repartition(3).write.format("reflex_blob").option("path", bucket).mode(
        "overwrite"
    ).save()
    with open(f"{bucket}/_SUCCESS", encoding="utf-8") as f:
        first_manifest = _json.load(f)["blobs"]
    df2.repartition(2).write.format("reflex_blob").option("path", bucket).mode(
        "append"
    ).save()

    with open(f"{bucket}/_SUCCESS", encoding="utf-8") as f:
        manifest = _json.load(f)["blobs"]
    on_disk = sorted(
        _os.path.join("data", fn)
        for fn in _os.listdir(f"{bucket}/data")
        if not fn.startswith(("_", "."))
    )
    # manifest is the union: first write's blobs survive and stay listed
    assert set(first_manifest) < set(manifest)
    assert manifest == on_disk
    # every appended key sorts after every pre-existing key
    new_keys = sorted(set(manifest) - set(first_manifest))
    assert new_keys and max(first_manifest) < min(new_keys)

    back = (
        spark.read.format("reflex_blob")
        .option("path", bucket)
        .option("schema", "k long, v double")
        .load()
    )
    rows = {r["k"]: r["v"] for r in back.collect()}
    assert len(rows) == 25
    assert rows[3] == 3.0 and rows[20] == -20.0


def test_blob_writer_abort_leaves_no_torn_state(spark, tmp_path):
    """Chaos: a task that dies MID-WRITE must leave nothing a reader can
    half-trust — no torn blob (attempts stream to a dot-prefixed temp,
    published only by the final atomic rename), no orphan blob from
    sibling tasks that completed (abort removes them), and _SUCCESS
    still describing exactly the previous successful write."""
    import json as _json
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as _F
    from pyspark.sql.types import LongType

    from reflex_spark.sources.blob_datasource import register

    register(spark)
    bucket = str(tmp_path / "bucket")
    spark.range(0, 5).selectExpr("id AS k").repartition(1).write.format(
        "reflex_blob"
    ).option("path", bucket).mode("overwrite").save()
    with open(f"{bucket}/_SUCCESS", encoding="utf-8") as f:
        before = _json.load(f)["blobs"]

    @_F.udf(LongType())
    def boom(k):
        if k == 95:  # fails partway through one partition's iterator
            raise RuntimeError("chaos: die mid-write")
        return k

    bad = spark.range(0, 100).selectExpr("id AS k").select(boom("k").alias("k"))
    with _pytest.raises(Exception):
        bad.repartition(2).write.format("reflex_blob").option("path", bucket).mode(
            "append"
        ).save()

    # no torn or orphan blob is visible to a directory-listing reader
    visible = sorted(
        _os.path.join("data", fn)
        for fn in _os.listdir(f"{bucket}/data")
        if not fn.startswith(("_", "."))
    )
    assert visible == before
    with open(f"{bucket}/_SUCCESS", encoding="utf-8") as f:
        assert _json.load(f)["blobs"] == before
    back = (
        spark.read.format("reflex_blob")
        .option("path", bucket)
        .option("schema", "k long")
        .load()
    )
    assert sorted(r["k"] for r in back.collect()) == [0, 1, 2, 3, 4]

    # and a clean retry of the same append lands normally (fresh load():
    # the Python DataSource plans its blob list at load time)
    spark.range(100, 103).selectExpr("id AS k").repartition(1).write.format(
        "reflex_blob"
    ).option("path", bucket).mode("append").save()
    back2 = (
        spark.read.format("reflex_blob")
        .option("path", bucket)
        .option("schema", "k long")
        .load()
    )
    assert back2.count() == 8


def test_blob_writer_next_seq_parses_legacy_and_new_keys():
    from reflex_spark.sources.blob_datasource import ReflexBlobWriter

    nxt = ReflexBlobWriter._next_seq
    assert nxt([]) == 0
    # legacy unprefixed blobs count as write 0 ('p' < 'w' keeps ordering)
    assert nxt(["data/part-00000.jsonl"]) == 1
    assert nxt(["data/w-000000-part-00000.jsonl"]) == 1
    assert nxt(["data/part-00000.jsonl", "data/w-000004-part-00001.jsonl"]) == 5
    # ordering cannot be guaranteed past malformed w- keys or 6-digit
    # exhaustion: refuse loudly (pinned by the hypothesis property test)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-writer"):
        nxt(["data/w-garbage.jsonl"])
    with _pytest.raises(ValueError, match="exhausted"):
        nxt(["data/w-999999-part-00000.jsonl"])


def test_blob_writer_refuses_concurrent_writer(spark, tmp_path):
    """Single-writer is ENFORCED: two overlapping write jobs would choose
    the same w-<seq> namespace from the same listing and interleave
    partitions — the constructor takes an O_EXCL claim on the bucket,
    held until commit/abort, and a second writer refuses loudly. A claim
    left by a crashed driver keeps refusing (named in the error) until
    an operator removes it."""
    import os as _os

    import pytest as _pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from reflex_spark.sources.blob_datasource import ReflexBlobWriter, register

    schema = StructType([StructField("k", LongType())])
    bucket = str(tmp_path / "bucket")

    a = ReflexBlobWriter({"path": bucket}, schema, overwrite=False)
    with _pytest.raises(ValueError, match="claim"):
        ReflexBlobWriter({"path": bucket}, schema, overwrite=False)
    a.commit([])  # release on commit
    b = ReflexBlobWriter({"path": bucket}, schema, overwrite=False)
    b.abort([])  # release on abort too
    ReflexBlobWriter({"path": bucket}, schema, overwrite=False).commit([])

    # crashed writer: stale claim refuses and the error names the file
    with open(_os.path.join(bucket, "_writer.claim"), "w") as f:
        f.write("pid=99999")
    with _pytest.raises(ValueError, match="_writer.claim"):
        ReflexBlobWriter({"path": bucket}, schema, overwrite=False)
    _os.remove(_os.path.join(bucket, "_writer.claim"))

    # the real save path cycles the claim invisibly (sequential appends)
    register(spark)
    for lo in (0, 3):
        spark.range(lo, lo + 3).selectExpr("id AS k").repartition(1).write.format(
            "reflex_blob"
        ).option("path", bucket).mode("append").save()
    back = (
        spark.read.format("reflex_blob")
        .option("path", bucket)
        .option("schema", "k long")
        .load()
    )
    assert sorted(r["k"] for r in back.collect()) == [0, 1, 2, 3, 4, 5]
    assert not _os.path.exists(_os.path.join(bucket, "_writer.claim"))


def test_blob_datasource_gzip_csv_batch_and_stream_restart(spark, tmp_path):
    """The pluggable decoder plugs into THE scan (reference WithDecoder,
    rblob/blob.go:21-42): fmt='csv' + transparent gzip must work on the
    registered DataSource's batch path (with planning-time after_key
    pruning) AND its streaming path (checkpoint restart resumes after the
    last committed blob) — not only the blob.py file-source wrapper."""
    import gzip as _gzip

    from reflex_spark.sources.blob_datasource import register

    root = tmp_path / "bucket"
    root.mkdir(parents=True)

    def write_blob(name: str, rows, header=True):
        lines = (["k,name,v"] if header else []) + [
            f"{k},{n},{v}" for k, n, v in rows
        ]
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        with _gzip.open(root / name, "wt", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

    write_blob("2024/01/a.csv.gz", [(1, "alpha", 1.5), (2, "beta", 2.5)])
    write_blob("2024/02/b.csv.gz", [(3, "gamma", 3.25)])
    register(spark)

    def reader(stream=False, after_key=""):
        r = spark.readStream if stream else spark.read
        r = (
            r.format("reflex_blob")
            .option("path", str(root))
            .option("schema", "k long, name string, v double")
            .option("fmt", "csv")
            .option("header", "true")
        )
        if after_key:
            r = r.option("after_key", after_key)
        return r.load()

    got = sorted(tuple(r) for r in reader().collect())
    assert got == [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.25)]
    # planning-time cursor pruning applies to the csv path identically
    assert [r["k"] for r in reader(after_key="2024/01/a.csv.gz").collect()] == [3]

    seen: list[list[int]] = []

    def run_once():
        def collect(bdf, bid):
            rows = bdf.collect()
            if rows:
                seen.append(sorted(r["k"] for r in rows))

        q = (
            reader(stream=True)
            .writeStream.foreachBatch(collect)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        assert q.exception() is None

    run_once()
    assert sorted(k for b in seen for k in b) == [1, 2, 3]
    # a new gzip-CSV blob lands; the SAME checkpoint must deliver ONLY it
    write_blob("2024/03/c.csv.gz", [(4, "delta", 4.75)])
    seen.clear()
    run_once()
    assert sorted(k for b in seen for k in b) == [4]


# -- scale-adaptive stream shuffle sizing (r16 optimization) -------------


def test_stream_shuffle_partitions_sizing(spark, monkeypatch):
    """The stateful-stream partition count derives from source bytes
    (one per ~32 MB), honors the floor for Python per-group stages, caps
    at 4x cluster width, and yields to the env override."""
    from reflex_spark.streaming.statestore import (
        STREAM_PARTITIONS_ENV,
        stream_shuffle_partitions,
    )

    para = spark.sparkContext.defaultParallelism
    monkeypatch.delenv(STREAM_PARTITIONS_ENV, raising=False)
    # tiny source -> 1 partition; floor raises it, capped at cluster width
    assert stream_shuffle_partitions(spark, est_bytes=1000) == 1
    assert stream_shuffle_partitions(spark, est_bytes=1000, floor=16) == min(16, para)
    # bytes scale it up: 10 GB -> 320 partitions before the width cap
    assert stream_shuffle_partitions(spark, est_bytes=10 << 30) == min(320, para * 4)
    # the cap is 4x cluster width even for petabyte estimates
    assert stream_shuffle_partitions(spark, est_bytes=1 << 50) == para * 4
    # env override wins over both estimate and floor
    monkeypatch.setenv(STREAM_PARTITIONS_ENV, "7")
    assert stream_shuffle_partitions(spark, est_bytes=1 << 50, floor=16) == 7


def test_scaled_stream_shuffle_restores_conf(spark, monkeypatch):
    from reflex_spark.streaming.statestore import (
        STREAM_PARTITIONS_ENV,
        scaled_stream_shuffle,
    )

    monkeypatch.delenv(STREAM_PARTITIONS_ENV, raising=False)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scaled_stream_shuffle(spark, est_bytes=123) as n:
        assert n == 1
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # restored even when the body raises
    try:
        with scaled_stream_shuffle(spark, est_bytes=123):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_rollup_counts_removes_its_temp_dir(spark):
    """The judged poll-loop rollup materializes its result and then
    removes its scratch dir: one leaked ``stream_rollup_*`` dir per call
    before."""
    import glob
    import os
    import tempfile

    from reflex_spark.queries.streaming_judged import stream_rollup_counts
    from tests.conftest import SF_SMALL

    pattern = os.path.join(tempfile.gettempdir(), "stream_rollup_*")
    before = set(glob.glob(pattern))
    out = stream_rollup_counts(spark, SF_SMALL)
    assert set(glob.glob(pattern)) == before
    assert out.count() > 0  # readable after the cleanup

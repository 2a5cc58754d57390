"""Spans, delegating proxies and Spark event-log attribution for the
traced run.

Every engine call the benchmark makes goes through ``Spans.span``. In an
untraced run a span only times its call. In a traced run it also records
(id, name, parent, op, phase, start, end) in memory and tags the Spark
jobs the calling thread submits with the job group ``bench:<span id>``,
so the jobs, tasks and shuffle bytes in Spark's event log can be charged
to the innermost span that caused them. Structured Streaming jobs carry
their query's run id as the group instead; the stream layer is measured
from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

GROUP_PREFIX = "bench:"


class Spans:
    """In-memory span recorder; ``sc`` is the SparkContext of a traced run
    and None for an untraced one."""

    def __init__(self, sc=None):
        self.sc = sc
        self.records: list[dict] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def traced(self) -> bool:
        return self.sc is not None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, op: str | None = None, tag_jobs: bool = True, **attrs) -> dict:
        rec = {"id": next(self._ids), "name": name, "op": op, "phase": self.phase, **attrs}
        if self.traced:
            stack = self._stack()
            rec["parent"] = stack[-1]["id"] if stack else None
            if tag_jobs:
                rec["group"] = f"{GROUP_PREFIX}{rec['id']}"
                self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
            stack.append(rec)
        rec["start"] = time.time()
        rec["_t0"] = time.perf_counter()
        return rec

    def end(self, rec: dict) -> float:
        rec["dur"] = time.perf_counter() - rec.pop("_t0")
        rec["end"] = rec["start"] + rec["dur"]
        if self.traced:
            stack = self._stack()
            stack.remove(rec)
            if "group" in rec:
                outer = next((r["group"] for r in reversed(stack) if "group" in r), None)
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
            with self._lock:
                self.records.append(rec)
        return rec["dur"]

    @contextmanager
    def span(self, name: str, **kw):
        rec = self.begin(name, **kw)
        try:
            yield rec
        finally:
            self.end(rec)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.records))


def count_part_files(path: str) -> int:
    """Data files (part-*) under ``path``."""
    return sum(
        1 for _root, _dirs, files in os.walk(path) for f in files if f.startswith("part-")
    )


class TracedLog:
    """Delegating EventLog proxy for the consume loops. ``read_after``
    delimits poll-loop iterations: each call closes the previous
    ``poll.iteration`` span and opens the next on the calling thread."""

    def __init__(self, log, spans: Spans):
        self._log = log
        self._spans = spans
        self._iter: dict | None = None
        self.notifier = TracedNotifier(log.notifier, spans) if log.notifier is not None else None

    def __getattr__(self, name):
        return getattr(self._log, name)

    def read_after(self, after, limit=None, dense_only=False):
        self.end_iteration()
        self._iter = self._spans.begin("poll.iteration")
        with self._spans.span("event_log.read_after"):
            return self._log.read_after(after, limit, dense_only=dense_only)

    def end_iteration(self) -> None:
        if self._iter is not None:
            self._spans.end(self._iter)
            self._iter = None


class TracedNotifier:
    """Delegating notifier proxy: the waits a poll loop parks on become
    ``poll.wait`` spans."""

    def __init__(self, inner, spans: Spans):
        self._inner = inner
        self._spans = spans

    def subscribe(self):
        return _TimedEvent(self._inner.subscribe(), self._spans)

    def unsubscribe(self, ev) -> None:
        self._inner.unsubscribe(ev.inner)

    def notify(self) -> None:
        self._inner.notify()


class _TimedEvent:
    def __init__(self, inner, spans: Spans):
        self.inner = inner
        self._spans = spans

    def wait(self, timeout=None):
        with self._spans.span("poll.wait", tag_jobs=False):
            return self.inner.wait(timeout)


class TracedCursorStore:
    """Delegating cursor-store proxy: ``cursors.get`` / ``cursors.set`` spans."""

    def __init__(self, inner, spans: Spans):
        self._inner = inner
        self._spans = spans

    def get_cursor(self, consumer):
        with self._spans.span("cursors.get", tag_jobs=False):
            return self._inner.get_cursor(consumer)

    def set_cursor(self, consumer, cursor) -> None:
        with self._spans.span("cursors.set", tag_jobs=False):
            self._inner.set_cursor(consumer, cursor)

    def flush(self) -> None:
        self._inner.flush()


# -- Spark event log ---------------------------------------------------------


def parse_event_log(eventlog_dir: Path) -> dict[int, dict]:
    """Jobs of the (single) application logged under ``eventlog_dir``:
    job id -> {start, end, group, tasks, shuffle_bytes}; times in seconds
    since the epoch, like span times."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(p for p in eventlog_dir.iterdir() if p.is_file()):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "tasks": 0,
                        "shuffle_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    job["tasks"] += 1
                    shuffle = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    job["shuffle_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return jobs


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_metrics(spans: Spans, outcome, eventlog_dir: Path) -> dict:
    """Per-layer metrics of the measured phase. A layer the workload does
    not exercise reports 0 work."""
    jobs = parse_event_log(eventlog_dir)
    by_group: dict[str, list[dict]] = {}
    for job in jobs.values():
        by_group.setdefault(job["group"], []).append(job)
    children: dict[int, list[dict]] = {}
    for r in spans.records:
        if r.get("parent") is not None:
            children.setdefault(r["parent"], []).append(r)

    def own_jobs(r):
        return by_group.get(r["group"], []) if "group" in r else []

    def all_jobs(r):
        out = list(own_jobs(r))
        for c in children.get(r["id"], []):
            out += all_jobs(c)
        return out

    def gap(r, js):
        return r["dur"] - _covered([(j["start"], j["end"]) for j in js], r["start"], r["end"])

    measured = [r for r in spans.records if r["phase"] == "measure"]

    def named(name):
        return [r for r in measured if r["name"] == name]

    m: dict[str, tuple[float, str]] = {}

    appends = named("event_log.append")
    m["event_log.append_s"] = (_med(r["dur"] for r in appends), "s")
    m["event_log.append_jobs"] = (_mean(len(all_jobs(r)) for r in appends), "count")
    m["event_log.append_driver_gap_s"] = (_med(gap(r, all_jobs(r)) for r in appends), "s")
    m["event_log.files_per_append"] = (_mean(r.get("files", 0) for r in appends), "count")
    m["event_log.head_s"] = (_med(r["dur"] for r in named("event_log.head")), "s")
    m["event_log.read_after_s"] = (_med(r["dur"] for r in named("event_log.read_after")), "s")

    iters = named("poll.iteration")
    busy, idle = [], []
    for r in iters:
        kids = children.get(r["id"], [])
        fn = [c for c in kids if c["name"] == "consumer.poll"]
        outside = sum(c["dur"] for c in kids if c["name"] in ("consumer.poll", "cursors.set", "poll.wait"))
        (busy if fn else idle).append((r, fn, r["dur"] - outside))
    m["poll.batch_s"] = (_med(s for _r, _fn, s in busy), "s")
    m["poll.jobs_per_batch"] = (_mean(len(own_jobs(r)) for r, _fn, _s in busy), "count")
    m["poll.driver_gap_s"] = (
        _med(s - _covered([(j["start"], j["end"]) for j in own_jobs(r)], r["start"], r["end"]) for r, _fn, s in busy),
        "s",
    )
    m["poll.polls"] = (float(len(iters)), "count")
    m["poll.empty_polls"] = (float(len(idle)), "count")
    m["poll.events_per_batch"] = (_mean(fn[0].get("events", 0) for _r, fn, _s in busy), "count")
    m["poll.wait_s"] = (sum(r["dur"] for r in named("poll.wait")), "s")

    progress = [p for p in outcome.stream_progress if p.get("numInputRows", 0) > 0]

    def dur_ms(key):
        return _med(p["durationMs"].get(key, 0) / 1000.0 for p in progress)

    m["stream.trigger_s"] = (dur_ms("triggerExecution"), "s")
    m["stream.add_batch_s"] = (dur_ms("addBatch"), "s")
    m["stream.latest_offset_s"] = (dur_ms("latestOffset"), "s")
    m["stream.query_planning_s"] = (dur_ms("queryPlanning"), "s")
    m["stream.wal_commit_s"] = (dur_ms("walCommit"), "s")
    m["stream.commit_offsets_s"] = (dur_ms("commitOffsets"), "s")
    m["stream.triggers"] = (float(len(progress)), "count")
    m["stream.rows_per_trigger"] = (_mean(p["numInputRows"] for p in progress), "count")
    m["stream.checkpoint_files"] = (float(outcome.extra.get("checkpoint_files", 0)), "count")

    sets = named("cursors.set")
    m["cursors.set_s"] = (_med(r["dur"] for r in sets), "s")
    m["cursors.get_s"] = (_med(r["dur"] for r in named("cursors.get")), "s")
    m["cursors.sets"] = (float(len(sets)), "count")

    merges = named("tx_table.merge")
    m["tx_table.merge_s"] = (_med(r["dur"] for r in merges), "s")
    m["tx_table.merge_jobs"] = (_mean(len(all_jobs(r)) for r in merges), "count")
    m["tx_table.merge_driver_gap_s"] = (_med(gap(r, all_jobs(r)) for r in merges), "s")
    m["tx_table.files_added_per_merge"] = (float(outcome.extra.get("files_added_per_merge", 0)), "count")
    m["tx_table.files_removed_per_merge"] = (float(outcome.extra.get("files_removed_per_merge", 0)), "count")
    m["tx_table.read_points_s"] = (_med(r["dur"] for r in named("tx_table.read_points")), "s")
    m["tx_table.log_files"] = (float(outcome.extra.get("tx_log_files", 0)), "count")

    pubs = named("cdc.publish")
    m["cdc.publish_s"] = (_med(r["dur"] for r in pubs), "s")
    m["cdc.publish_jobs"] = (_mean(len(all_jobs(r)) for r in pubs), "count")
    m["cdc.events_per_publish"] = (_mean(r.get("events", 0) for r in pubs), "count")

    ivf_app = named("ivf.append")
    probes = named("ivf.probe")
    m["ivf.append_s"] = (_med(r["dur"] for r in ivf_app), "s")
    m["ivf.append_jobs"] = (_mean(len(all_jobs(r)) for r in ivf_app), "count")
    m["ivf.append_files_written"] = (_mean(r.get("files", 0) for r in ivf_app), "count")
    m["ivf.probe_s"] = (_med(r["dur"] for r in probes), "s")
    m["ivf.probe_jobs"] = (_mean(len(all_jobs(r)) for r in probes), "count")
    m["ivf.compact_s"] = (_med(r["dur"] for r in named("ivf.compact")), "s")
    m["ivf.max_files_per_list"] = (float(outcome.extra.get("max_files_per_list", 0)), "count")

    w0, w1 = outcome.window
    in_window = [j for j in jobs.values() if w0 <= j["start"] <= w1]
    m["spark.jobs"] = (float(len(in_window)), "count")
    m["spark.tasks"] = (float(sum(j["tasks"] for j in in_window)), "count")
    m["spark.shuffle_bytes"] = (float(sum(j["shuffle_bytes"] for j in in_window)), "bytes")
    m["spark.job_busy_share"] = (
        _covered([(j["start"], j["end"]) for j in jobs.values()], w0, w1) / max(w1 - w0, 1e-9),
        "ratio",
    )
    # the traced run's own end-to-end figures; minus the untraced run's
    # figures they give the tracing overhead (perfbench/overhead.py)
    for name, v in outcome.e2e.items():
        m[f"traced.{name}"] = (v["value"], v["unit"])
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

"""reflex-spark benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload follow --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The run generates its inputs from
``--seed``, sets the workload up three times, measures for ``--seconds``,
checks the outputs, prints a human-readable report and, as the last line
of standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics of
the traced run (spans around every engine call, Spark job groups per
span, Spark's event log enabled and parsed). Everything the run writes
stays under ``perfbench/work`` (deleted at exit) and ``perfbench/out``
(the full result of each run and, for a traced run, its spans).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["follow", "tables"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _filesystem(path: Path) -> str:
    """Filesystem type of the mount holding ``path`` (longest mount-point
    prefix in /proc/mounts); 'unknown' where that file does not exist."""
    best, fstype = "", "unknown"
    target = str(path.resolve())
    try:
        with open("/proc/mounts", encoding="utf-8") as f:
            for line in f:
                parts = line.split()
                if len(parts) < 3:
                    continue
                mnt = parts[1]
                if (target == mnt or target.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, fstype = mnt, parts[2]
    except OSError:
        pass
    return fstype


def _capture_regime(paths: list[str]) -> dict:
    """Page-cache regime probe, the same classification as bench.py's
    ``_capture_regime``: time a plain sequential read (at most 256 MB) of
    the generated input files before any Spark work. Warm page cache
    streams at memory speed (>2 GB/s), a cold one at disk speed. Any
    filesystem surprise degrades to bracket 'unknown'."""
    cap = 256 << 20
    try:
        n = 0
        t0 = time.perf_counter()
        for fp in paths:
            with open(fp, "rb") as f:
                while n < cap and (chunk := f.read(1 << 20)):
                    n += len(chunk)
            if n >= cap:
                break
        dt = max(time.perf_counter() - t0, 1e-9)
        mbps = n / 1e6 / dt
    except OSError:
        return {"probe_read_mb": 0.0, "probe_read_mbps": 0.0, "bracket": "unknown"}
    return {
        "probe_read_mb": round(n / 1e6, 3),
        "probe_read_mbps": round(mbps, 1),
        "bracket": "warm" if mbps > 2000 else "cold" if mbps < 500 else "mixed",
    }


def _start_spark(work: Path, out: Path, nproc: int, trace: bool):
    from reflex_spark.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.driver.memory": "3g",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        (out / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (out / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="reflex_spark_perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any failure to exit cleanly ends in kill
            proc.kill()
            proc.wait(timeout=30)


def _rss_peak_mb() -> float:
    """Peak RSS of this process plus the largest waited-for child (the JVM)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + kids) / 1024.0


def _print_report(result: dict) -> None:
    print(f"# workload={result['workload']} seed={result['seed']} trace={result['trace']} "
          f"inputs_sha256={result['inputs_sha256'][:16]}")
    env = result["environment"]
    print(f"# env nproc={env['nproc']} SPARK_GRAFT_CPUS={env['SPARK_GRAFT_CPUS']} "
          f"pyspark={env['pyspark']} fs={env['data_fs']} regime={env['regime']['bracket']} "
          f"({env['regime']['probe_read_mbps']} MB/s)")
    for name, m in result["report"].items():
        extra = "".join(f" {k}={v}" for k, v in m.items() if k not in ("value", "unit"))
        print(f"  {name:34s} {m['value']:>14.6g} {m['unit']:8s}{extra}")
    for c in result["checks"]:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")


def main(argv=None) -> int:
    args = _parse(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    # The engine is imported from the checkout, never installed: a
    # directory holding only the benchmark must fail here, before output.
    sys.path.insert(0, str(ROOT))
    try:
        import reflex_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    work = BENCH_DIR / "work" / f"{args.workload}-{os.getpid()}"
    out = BENCH_DIR / "out" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    (work / "tmp").mkdir(parents=True)
    # Python-side temp files (py4j connection info, pyspark spills) stay
    # inside the checkout too.
    os.environ["TMPDIR"] = str(work / "tmp")
    import tempfile

    tempfile.tempdir = None

    workload = WORKLOADS[args.workload](seed=args.seed, seconds=args.seconds, work=work)
    inputs = workload.generate()
    environment = {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "data_dir": str(work.relative_to(ROOT)),
        "data_fs": _filesystem(work),
        "regime": _capture_regime(inputs.files),
    }
    spark = None
    try:
        spark = _start_spark(work, out, nproc, bool(args.trace))
        from tracing import Spans

        spans = Spans(spark.sparkContext if args.trace else None)
        outcome = workload.run(spark, spans, traced=bool(args.trace))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = outcome.e2e
    if args.trace:
        from tracing import layer_metrics

        metrics = layer_metrics(spans, outcome, out / "eventlog")
        metrics["process.rss_peak_mb"] = {"value": _rss_peak_mb(), "unit": "MB"}
        spans.dump(out / "spans.json")
        shutil.rmtree(out / "eventlog")  # parsed; the spans carry what it attributed
    failed = outcome.failed + sum(1 for c in outcome.checks if not c["ok"])
    attempted = outcome.attempted + len(outcome.checks)
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs_sha256": inputs.sha256,
        "environment": environment,
        "report": dict(outcome.report, ops_failed_ratio={"value": failed / attempted, "unit": "ratio", "n": attempted}),
        "checks": outcome.checks,
    }
    (out / "result.json").write_text(json.dumps(dict(result, metrics=metrics), indent=1, default=str))
    _print_report(result)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

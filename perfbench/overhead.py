"""Tracing overhead: run each seed untraced and traced, one after the
other, and print the median of every end-to-end metric in both modes and
their difference (traced minus untraced).

    python3 perfbench/overhead.py --workload follow --seeds 1 2 3 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True, timeout=600)
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args(argv)
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in args.seeds:
        for name, m in _run(args.workload, seed, args.seconds, 0).items():
            plain.setdefault(name, []).append(m["value"])
        for name, m in _run(args.workload, seed, args.seconds, 1).items():
            if name.startswith("traced."):
                traced.setdefault(name.removeprefix("traced."), []).append(m["value"])
    out = {}
    for name, xs in plain.items():
        a, b = statistics.median(xs), statistics.median(traced.get(name, [float("nan")]))
        out[name] = {"untraced": a, "traced": b, "overhead": b - a, "overhead_share": (b - a) / a}
        print(f"{name:16s} untraced {a:9.4f}  traced {b:9.4f}  overhead {b - a:+8.4f} ({(b - a) / a:+.1%})")
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

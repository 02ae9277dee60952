#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py --workload <name> --seconds <s> --seeds 1 2 3

Runs ``run.py`` once per seed with ``--trace 0`` and once with
``--trace 1`` (alternating which goes first) and prints, per end-to-end
metric, the median of each mode and their difference.  Both modes
compute the end-to-end figures; only the traced one records spans.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout
    detail = json.loads(out.splitlines()[-2])
    return {k: v["value"] for k, v in detail["figures"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()
    runs = {0: [], 1: []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(one(args.workload, seed, args.seconds, trace))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["end_to_end"]]
    report = {}
    for name in names:
        off = statistics.median(r[name] for r in runs[0])
        on = statistics.median(r[name] for r in runs[1])
        report[name] = {"untraced": off, "traced": on, "overhead": on - off,
                        "overhead_share": (on - off) / off if off else None}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "overhead": report}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

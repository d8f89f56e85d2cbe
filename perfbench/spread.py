#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per end-to-end metric,
the median and the spread (inter-quartile distance over the median).

    python3 perfbench/spread.py --workload code-serve --seeds 1-10 --seconds 10

Runs are sequential; each result line and the summary go to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, timeout=600)
        walls.append(time.time() - t0)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1), **res}), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    summary = {k: {"median": statistics.median(v), "spread": spread(v) if len(v) > 1 else None,
                   "min": min(v), "max": max(v)} for k, v in values.items()}
    print(json.dumps({"workload": args.workload, "runs": len(walls),
                      "mean_wall_s": statistics.mean(walls), "metrics": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

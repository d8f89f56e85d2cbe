#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload code-serve --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every layer call and prints the per-layer
metrics instead. Run it from the repository root; everything it writes
goes under perfbench/_work/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def host_info() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_gb = mem_kb / 2**20
    # a fifth of the host for the driver heap (the rest is left to the
    # Python workers, the page cache and whoever shares the host)
    heap_gb = max(1, min(8, int(mem_gb // 5)))
    return {"nproc": nproc, "mem_total_gb": round(mem_gb, 2), "driver_heap": f"{heap_gb}g",
            "python": platform.python_version()}


def source_id() -> dict:
    """The git commit when there is one; always a hash of the engine's
    sources, which a checkout without .git still has."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "textsearch_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.trace import ProcTree

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    tree = ProcTree(os.getpid())
    deadline = time.time() + 30
    while tree.pids() and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree.pids():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["code-serve", "zipf-serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "textsearch_spark", "session.py")):
        print(f"textsearch_spark sources not found under {ROOT}", file=sys.stderr)
        return 2

    host = host_info()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays here
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
                       "SPARK_DRIVER_MEMORY": host["driver_heap"],
                       "PYSPARK_PYTHON": sys.executable,
                       "PYSPARK_DRIVER_PYTHON": sys.executable})
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    import pyarrow
    import pyspark

    from perfbench import workloads

    host.update({"spark": pyspark.__version__, "pyarrow": pyarrow.__version__, **source_id()})
    from pyspark.sql import SparkSession

    t0 = time.time()
    try:
        r, metrics = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace),
                                   host, WORK)
    finally:
        stop_spark(SparkSession.getActiveSession())
    correct = bool(r.golden) and r.failed == 0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "wall_s": time.time() - t0,
        "config": workloads.WORKLOADS[args.workload],
        "correct": correct, "attempted": r.attempted, "failed": r.failed,
        "metrics": metrics, **r.side_record(),
    }
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}-"
                                    f"{int(t0)}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": r.attempted, "failed": r.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""spark-jx benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  It generates the workload's inputs
from ``--seed`` under ``.perfbench_work/`` (removed again at exit), starts
the session with the program's own ``session.get_spark`` at
``local[nproc]``, runs an untimed warm-up that also checks every output,
then runs the workload in a closed loop with one client for ``--seconds``
(at least one whole pass; then it stops at the first op boundary past
``--seconds``).  The last stdout line is

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics when ``--trace 0`` and the per-layer metrics
when ``--trace 1``.  The line before it records the host context and the
sample counts.  Traced runs also write their spans and per-op Spark
counters to ``.perfbench_out/trace-<workload>-<seed>.json``.  See
``perfbench/README.md`` for the workloads and the map from each per-layer
metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import Bench, cpu_ref  # noqa: E402

OUT_DIR = ".perfbench_out"


def tree_key(root: str) -> str:
    """Hash of the program and benchmark sources in the checkout, so that
    runs of different code are never compared."""
    h = hashlib.sha256()
    for top in ("testlog_etl_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(files):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def trace_overhead(root: str, run: dict, pass_wall: float) -> float:
    """Record this run's pass wall in the checkout's run history, keyed by
    the source tree, workload and ``--seconds``.  For a traced run return
    (median traced - median untraced) / median untraced over the history
    rows with the same key, restricted to the seeds run both ways when
    there are any; 0.0 while no untraced run with that key exists."""
    os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
    path = os.path.join(root, OUT_DIR, "history.jsonl")
    with open(path, "a", encoding="utf-8") as f:
        f.write(json.dumps({**run, "pass_wall_s": pass_wall}) + "\n")
    key = ("tree", "workload", "seconds")
    with open(path, encoding="utf-8") as f:
        rows = [r for r in map(json.loads, filter(str.strip, f)) if all(r.get(k) == run[k] for k in key)]
    both = {r["seed"] for r in rows if r["trace"] == 0} & {r["seed"] for r in rows if r["trace"] == 1}
    if both:
        rows = [r for r in rows if r["seed"] in both]
    walls = {t: [r["pass_wall_s"] for r in rows if r["trace"] == t] for t in (0, 1)}
    if not run["trace"] or not walls[0]:
        return 0.0
    base = statistics.median(walls[0])
    return (statistics.median(walls[1]) - base) / base


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    from perfbench import etl, queries

    workloads = {"query-scaled": queries.run, "etl-ingest": etl.run}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "testlog_etl_spark")):
        print("perfbench: run from the root of a spark-jx checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    bench = Bench(args, root, t_start)
    bench.configure_env()
    ref = cpu_ref()
    bench.excluded_s += ref  # host calibration is not set-up either
    try:
        end_to_end, per_layer, info = workloads[args.workload](bench)
        pass_wall = end_to_end["pass_wall_s"][0]
        run = {"tree": tree_key(root), "workload": args.workload, "seconds": args.seconds,
               "seed": args.seed, "trace": args.trace}
        per_layer["trace.overhead_frac"] = (trace_overhead(root, run, pass_wall), "ratio")
        if bench.traced:
            os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
            path = os.path.join(root, OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
            bench.tracer.dump(path, bench.op_labels, bench.spark_stats)
    finally:
        bench.stop_spark()
        shutil.rmtree(bench.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bench.work))  # only when no other run is using it
        except OSError:
            pass

    load1, load5, load15 = os.getloadavg()
    host = {
        "nproc": os.cpu_count(),
        "cores_used": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg": [load1, load5, load15],
        "cpu_ref_sec": ref,
    }
    print(json.dumps({"host": host, **info}))
    metrics = per_layer if bench.traced else end_to_end
    print(
        json.dumps(
            {
                "correct": bench.checks_ok and bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

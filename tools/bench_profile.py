#!/usr/bin/env python3
"""Profile the bench queries: wall (min of reps) + jobs/stages/tasks via
the status tracker. Job/stage/task counts are load-invariant, so on a
shared box they are the primary optimization signal (guide 1.1/1.2:
count passes and shuffles, not noisy seconds).

``codegen_compiles`` lists, per rep, how many generated classes the query
compiled (a driver-side read of Spark's CodegenMetrics, no extra job):
0 on a rep means it ran on already-compiled code; a rep with compiles
also paid ~10 ms per class for codegen.

Usage: python tools/bench_profile.py [query ..]   # default: all bench cases
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from testlog_etl_spark.session import get_spark
    from testlog_etl_spark.suite import bench_cases

    spark = get_spark("bench-profile")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    cases = bench_cases()
    names = sys.argv[1:] or list(cases)

    # warm-up
    first = cases[names[0]]
    first.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    out = {}
    for name in names:
        case = cases[name]
        best = float("inf")
        prof = None
        compiles = []
        for r in range(reps):
            tracker = jsc.statusTracker()
            jobs0 = len(tracker.getJobIdsForGroup(None))
            compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
            sc.setJobDescription(f"bench:{name}")
            t0 = time.perf_counter()
            case.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setJobDescription(None)
            compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - compiles0)
            if r == 0:
                # count jobs/stages/tasks of the first (cold-cache) rep
                jids = sorted(tracker.getJobIdsForGroup(None))[jobs0:]
                njobs = len(jids)
                nstages = 0
                ntasks = 0
                for j in jids:
                    ji = tracker.getJobInfo(j)
                    if ji.nonEmpty():
                        sids = ji.get().stageIds()
                        nstages += len(sids)
                        for s in sids:
                            si = tracker.getStageInfo(s)
                            if si.nonEmpty():
                                ntasks += si.get().numTasks()
                prof = (njobs, nstages, ntasks)
            best = min(best, dt)
        spark.catalog.clearCache()
        out[name] = {
            "sec": round(best, 3), "jobs": prof[0], "stages": prof[1], "tasks": prof[2],
            "codegen_compiles": compiles,
        }
        print(
            f"{name:32s} {best:7.3f}s  jobs={prof[0]:3d} stages={prof[1]:4d} tasks={prof[2]:5d}"
            f" compiles={compiles}",
            file=sys.stderr,
        )

    print(json.dumps(out))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Time individual registered queries with the bench isolation protocol.

Usage: python tools/time_query.py [-n REPEATS] [--sf DIR] name [name ...]

Mirrors bench.py exactly: noop sink (full-plan execution, no driver
collection), clearCache + JVM GC before each run, min-of-N reported with
the raw spread, warm-up of the JVM/codegen/Python-worker pool first.
Each run executes under its own job group, and the number of Spark jobs
it submitted is printed next to its wall time: a deterministic counter
beside the noisy one. Intended for A/B isolation during optimization
rounds; the tracked numbers stay bench.py's.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", "--repeats", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--shared", action="store_true", help="install the bench's snapshot store")
    args = ap.parse_args()

    from python_sql_etl_project_spark import registry
    from python_sql_etl_project_spark.session import Snapshots, build_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_spark(app_name="time_query", master=f"local[{cpus}]")
    if args.shared:
        Snapshots(spark)  # installs itself on the session
    queries = registry.all_queries()

    # warm-up: JVM/codegen/parquet footers + Python worker pool (both
    # guarded — ADVICE r12: a missing query or SF dir should skip the
    # warm-up, not throw)
    if "q1_pricing_summary" in queries:
        queries["q1_pricing_summary"](spark, args.sf).write.format("noop").mode("overwrite").save()
    if "mm_feature_extract" in queries and os.path.isdir("/root/testdata/sf0.001"):
        queries["mm_feature_extract"](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    sc = spark.sparkContext
    jvm_system = sc._jvm.java.lang.System
    for name in args.names:
        fn = queries[name]
        runs, jobs = [], []
        for i in range(args.repeats):
            spark.catalog.clearCache()
            jvm_system.gc()
            group = f"time:{name}:{i}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        print(f"{name}: min={min(runs)} runs={runs} jobs={jobs}", flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Optimization-round profiler for SERVE rows: per named registry
query, time the plan-BUILD phase (spec.fn — eager sub-actions:
checkpoints, probes, trained state) and the EXEC phase (noop sink)
separately, and count the Spark jobs each phase schedules (guide §1 —
measure first; job count is the fixed-cost driver in local mode and
the synchronization-barrier count at cluster scale).

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_queries.py q1 q2 ...
  (no args: all registry queries)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from scraping_etl_spark.plans.registry import QUERIES
    from scraping_etl_spark.session import get_spark

    spark = get_spark(app_name="profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    # warm the train-once artifact caches exactly as bench.py does, so
    # a profiled row measures SERVE time (training is its own bench
    # row and must not pollute the first artifact consumer here)
    import importlib

    from tools.profile_trainers import TRAINERS

    for _row, mod, fn_name in TRAINERS:
        getattr(importlib.import_module(mod), fn_name)(SF_DIR)

    tracker = spark.sparkContext.statusTracker()
    only = set(sys.argv[1:])
    print(f"{'query':28s} {'build_s':>8s} {'exec_s':>8s} "
          f"{'build_jobs':>10s} {'exec_jobs':>9s}")
    for spec in QUERIES:
        if only and spec.name not in only:
            continue
        gb = f"{spec.name}:build"
        ge = f"{spec.name}:exec"
        spark.sparkContext.setJobGroup(gb, gb)
        t0 = time.perf_counter()
        df = spec.fn(spark, SF_DIR)
        t1 = time.perf_counter()
        spark.sparkContext.setJobGroup(ge, ge)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        nb = len(tracker.getJobIdsForGroup(gb))
        ne = len(tracker.getJobIdsForGroup(ge))
        spark.sparkContext.setJobGroup("idle", "idle")
        print(
            f"{spec.name:28s} {t1 - t0:8.3f} {t2 - t1:8.3f} "
            f"{nb:10d} {ne:9d}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()

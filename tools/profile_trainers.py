#!/usr/bin/env python
"""Optimization-round profiler: time each train:* artifact builder and
count the Spark jobs it schedules (guide §1 — measure first; job count
is the local-mode cost driver for the iterative trainers).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_trainers.py [row ...]
"""

from __future__ import annotations

import importlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TRAINERS = [
    ("train:bpe_vocab", "scraping_etl_spark.plans.corpus_ops", "_bpe_artifacts"),
    ("train:bpe_encode", "scraping_etl_spark.plans.corpus_ops",
     "_bpe_encode_artifacts"),
    ("train:unigram_lm", "scraping_etl_spark.plans.corpus_ops", "_uni_artifacts"),
    ("train:wordpiece", "scraping_etl_spark.plans.corpus_ops", "_wp_artifacts"),
    ("train:semdedup_centroids", "scraping_etl_spark.plans.curation_ops",
     "_sem_centroids"),
    ("train:quality_classifier", "scraping_etl_spark.plans.curation_ops",
     "_clf_weights"),
    ("train:hashed_classifier", "scraping_etl_spark.plans.curation_ops",
     "_fclf_model"),
    ("train:ivf_index", "scraping_etl_spark.plans.ml_ops", "_ivf_index"),
    ("train:kmeans_centroids", "scraping_etl_spark.plans.ml_ops",
     "_km_centroids"),
    ("train:pq_index", "scraping_etl_spark.plans.screen_ops", "_pq_index"),
    ("train:ivfpq_index", "scraping_etl_spark.plans.screen_ops",
     "_ivfpq_index"),
]


def main() -> None:
    from scraping_etl_spark.session import get_spark

    spark = get_spark(app_name="profile-trainers")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    tracker = spark.sparkContext.statusTracker()
    only = set(sys.argv[1:])
    for row, mod, fn_name in TRAINERS:
        if only and row not in only:
            continue
        fn = getattr(importlib.import_module(mod), fn_name)
        spark.sparkContext.setJobGroup(row, row)
        t0 = time.perf_counter()
        fn(SF_DIR)
        dt = time.perf_counter() - t0
        n = len(tracker.getJobIdsForGroup(row))
        spark.sparkContext.setJobGroup("idle", "idle")
        print(f"{row:28s} {dt:8.3f} s   jobs={n}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints the JSON payload line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

followed by one SMALL final line of the same schema (slowest queries
only, sized to survive the driver's last-2000-bytes stdout capture —
see the comment at the print site).

The payload's ``queries`` map holds two kinds of rows: ``train:*``
rows (one-time per-sf-dir model training — tokenizer vocabularies,
classifier weights, ANN codebooks — warmed and timed up front so the
cost is booked where it belongs) and query rows (serve-time wall-clock
from plan construction to full materialization, ``passes`` runs with
the per-query minimum kept). Both count toward the total.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scraping_etl_spark.plans.registry import QUERIES
    from scraping_etl_spark.session import get_spark

    spark = get_spark(app_name="scraping-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Absorb fixed startup costs so per-query numbers measure the
    # engine, not environment: JVM/session spin-up. (Opening a table
    # needs no warm-up: load_table reads its schema from the parquet
    # footer on the driver and launches no job.)
    spark.range(1).count()
    # Python-worker pool spin-up (daemon fork + pandas/pyarrow import,
    # ~2-3 s at 32 cores) is environment cost of the same class as the
    # JVM spin-up above. It used to land on whichever row happened to
    # run the process's FIRST Arrow stage — train:bpe_encode in r15,
    # train:unigram_lm in r16, an arbitrary serve row once both
    # trainers went driver-tier (r17) — making that row incomparable
    # round over round. One identity mapInPandas over one task per
    # core starts every worker here instead (measurement fix declared
    # in OPTIMIZATION_r17.md; per-row numbers before r17 include this
    # cost on exactly one arbitrary row).
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(n_workers, numPartitions=n_workers).mapInPandas(
        lambda batches: batches, "id long"
    ).write.format("noop").mode("overwrite").save()

    timings: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    # Train/serve split (r13 verdict item 3): several gate families
    # serve against lru-cached per-sf-dir model artifacts (tokenizer
    # vocabularies, classifier weights, ANN codebooks). In a cold
    # process that one-time training cost used to land on whichever
    # scoring gate ran first — unreadable round over round. So the
    # bench warms each cache HERE, as its own explicitly-named
    # ``train:*`` row: training stays inside the total (it is real
    # work) but is visible as its own line, and every query row below
    # measures SERVE time on every pass.
    trainers = [
        ("train:bpe_vocab", "scraping_etl_spark.plans.corpus_ops",
         "_bpe_artifacts"),
        ("train:bpe_encode", "scraping_etl_spark.plans.corpus_ops",
         "_bpe_encode_artifacts"),
        ("train:unigram_lm", "scraping_etl_spark.plans.corpus_ops",
         "_uni_artifacts"),
        ("train:wordpiece", "scraping_etl_spark.plans.corpus_ops",
         "_wp_artifacts"),
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
    import importlib

    for row_name, mod_name, fn_name in trainers:
        try:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            t0 = time.perf_counter()
            fn(SF_DIR)
            timings[row_name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001 - same isolation as queries
            timings[row_name] = None
            errors[row_name] = f"{type(exc).__name__}: {exc}"[:300]
    # Pass count: the DRIVER's measurement is the default single pass
    # (now a clean serve-time pass — the train rows above absorbed the
    # cold model costs; BENCH_r14 is the first sheet with this split,
    # so compare totals with r13 but per-query serve times only within
    # the split era). Local floor/headline runs set
    # SPARK_GRAFT_BENCH_PASSES=2 for the min-of-2 estimator (PLANS
    # documents ±20% host drift on untouched queries); with training
    # hoisted into its own rows, extra passes re-measure serving only
    # — model artifacts stay cached BY DESIGN and their cost is
    # already booked on the train rows, while plan construction + full
    # materialization still happen every pass.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "1")))
    for _pass in range(passes):
        for spec in QUERIES:
            # Fault-isolated: one broken query must never zero out the
            # whole benchmark surface — report it as null and keep going.
            try:
                t0 = time.perf_counter()
                df = spec.fn(spark, SF_DIR)
                # Force full materialization of every output row (not just
                # count — count() can prune the plan) without driver bottleneck.
                df.write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 4)
                prev = timings.get(spec.name)
                timings[spec.name] = dt if prev is None else min(prev, dt)
                errors.pop(spec.name, None)  # pass-2 success clears a pass-1 error
            except Exception as exc:  # noqa: BLE001 - deliberate blanket isolation
                timings.setdefault(spec.name, None)
                errors[spec.name] = f"{type(exc).__name__}: {exc}"[:300]
    total = sum(v for v in timings.values() if v)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "total_query_wall_clock",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "n_train_rows": len(trainers),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        payload["errors"] = errors
    print(json.dumps(payload))
    # The driver records only the LAST ~2000 bytes of stdout (observed
    # in BENCH_r8-r10: "tail" holds the END of the payload line, its
    # head cut, parsed=null). So after the full payload, print one
    # SMALL final line — a miniature of the payload schema whose
    # "queries" map holds as many entries as fit (slowest first: they
    # dominate the total and are what round-over-round comparison
    # reads), with an explicit omitted-count so the cap is never
    # silent. The final line always fits the capture whole, so the
    # driver's parse succeeds however long the registry grows.
    mini = dict(payload)
    mini.pop("errors", None)
    mini["n_queries"] = len(timings)
    mini["n_errors"] = len(errors)
    by_cost = sorted(
        timings, key=lambda k: (-(timings[k] or 0.0), k)
    )
    # only an EMPTY registry skips the shrink loop (an all-errored run
    # still has timing keys, with None values) — this init keeps the
    # mini line's schema in exactly that empty/degenerate case
    mini["queries"] = {}
    mini["queries_omitted"] = 0
    keep = len(by_cost)
    while keep > 0:
        mini["queries"] = {k: timings[k] for k in by_cost[:keep]}
        mini["queries_omitted"] = len(by_cost) - keep
        if len(json.dumps(mini)) <= 1500:
            break
        keep -= max(1, keep // 10)
    print(json.dumps(mini))
    # Persist the full payload to files too: BENCH_LOCAL.json verbatim
    # plus a compact one-key-per-line twin whose head lines carry the
    # summary — greppable from a cut file even though truncated JSON
    # itself never parses (the parse-safe channel is the final stdout
    # line above).
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        summary = {
            "total_s": round(total, 4),
            "n_queries": len(timings),
            "n_errors": len(errors),
            "sf": payload["sf"],
        }
        compact = dict(summary)
        for k in sorted(timings):
            # a query named like a summary key must not overwrite it
            compact[f"query:{k}" if k in summary else k] = timings[k]
        with open(os.path.join(here, "BENCH_LOCAL_COMPACT.json"), "w") as f:
            json.dump(compact, f, indent=0)
            f.write("\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench
    spark.stop()


if __name__ == "__main__":
    main()

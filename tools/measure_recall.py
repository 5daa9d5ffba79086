#!/usr/bin/env python
"""Measure recall@k of the approximate similarity tiers against the
exact brute-force ground truth (``similarity.cosine_topk``), at bench
scale (sf0.1, 2k vectors) and at a 10x synthetic scale-up (20k), with
parameter sensitivity for the knobs each tier documents:

- ``emb_ann_topk``  — hyperplane-LSH: planes in {4, 6, 8} x multiprobe {0, 1}
- ``emb_ivf_topk``  — IVF: n_probe in {1, 2, 4, 8} over 16 lists trained by
  ``kmeans_train_fx``
- ``emb_quantized_topk`` — int8 quantization (no knob; error is rounding only)

The 10x corpus is 10 id-shifted replicas with a deterministic per-
element perturbation (1 + eps, eps in [-3e-3, 3e-3] from (replica, dim))
so replica vectors are near but not identical to their source — exact
duplicates would make top-k membership tie-ambiguous and recall
ill-defined.

Output: a markdown table (pasted into tools/plans_footer.md, which
tools/dump_plans.py folds into PLANS.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = 3          # the gates' k
N_PROBES = 50  # probe set: vec_id < 50 (the ANN gate's probe set)
DIM = 64


def topk_sets(df, k=K):
    """{query_id: frozenset(neighbor_id)} for rank <= k."""
    rows = (
        df.filter(F.col("rank") <= k)
        .groupBy("query_id")
        .agg(F.collect_set("neighbor_id").alias("ns"))
        .collect()
    )
    return {r["query_id"]: frozenset(r["ns"]) for r in rows}


def recall(approx: dict, exact: dict, k=K) -> float:
    """Mean |approx ∩ exact| / k over the probe set (missing probe -> 0)."""
    tot = sum(len(approx.get(q, frozenset()) & ns) / k for q, ns in exact.items())
    return tot / len(exact)


def ten_x(e):
    """10 id-shifted replicas with deterministic per-element perturbation."""
    n = e.count()
    parts = []
    for r in range(10):
        eps = F.array(*[F.lit(1.0 + (((r * DIM + j) % 7) - 3) * 1e-3) for j in range(DIM)])
        parts.append(
            e.select(
                (F.col("vec_id") + F.lit(r * n)).alias("vec_id"),
                F.zip_with("embedding", eps, lambda x, s: (x.cast("double") * s).cast("float")).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.localCheckpoint()


def main() -> None:
    from scraping_etl_spark.operators import similarity as SIM
    from scraping_etl_spark.session import get_spark
    from scraping_etl_spark.sources.readers import load_table

    spark = get_spark(app_name="recall-measure")
    spark.sparkContext.setLogLevel("ERROR")

    base = load_table(spark, SF_DIR, "embeddings")
    corpora = {"sf0.1 (2k)": base.localCheckpoint(), "10x (20k)": ten_x(base)}

    print("| Tier | knob | recall@3 sf0.1 (2k) | recall@3 10x (20k) |")
    print("|---|---|---|---|")

    results: dict[str, dict[str, float]] = {}
    for label, corpus in corpora.items():
        probes = corpus.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        ).localCheckpoint()
        t0 = time.time()
        exact = topk_sets(SIM.cosine_topk(corpus, probes, k=K))
        t_exact = time.time() - t0

        for planes in (4, 6, 8):
            for mp in (0, 1):
                r = recall(
                    topk_sets(
                        SIM.ann_hyperplane_topk(
                            corpus, probes, dim=DIM, k=K, planes=planes, multiprobe=mp
                        )
                    ),
                    exact,
                )
                results.setdefault(f"ANN LSH | planes={planes} mp={mp}", {})[label] = r

        cents = SIM.kmeans_train_fx(corpus, n_clusters=16, iters=SIM.INDEX_ITERS)
        for n_probe in (1, 2, 4, 8):
            r = recall(
                topk_sets(
                    SIM.ivf_topk(corpus, probes, cents, k=K, n_probe=n_probe)
                ),
                exact,
            )
            results.setdefault(f"IVF | n_probe={n_probe}/16", {})[label] = r

        qc = corpus.select("vec_id", SIM.quantize_embedding(F.col("embedding")).alias("embedding"))
        qp = probes.select("query_id", SIM.quantize_embedding(F.col("query_vec")).alias("query_vec"))
        r = recall(topk_sets(SIM.cosine_topk(qc, qp, k=K)), exact)
        results.setdefault("int8 quantized | bits=8", {})[label] = r
        print(f"(exact ground truth at {label}: {t_exact:.1f}s)", file=sys.stderr)

    labels = list(corpora)
    for name, vals in results.items():
        cells = " | ".join(f"{vals.get(lb, float('nan')):.3f}" for lb in labels)
        print(f"| {name} | {cells} |")
    spark.stop()


if __name__ == "__main__":
    main()

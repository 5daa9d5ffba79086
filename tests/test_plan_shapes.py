"""Plan-shape regressions: the scale-critical physical properties the
operators promise, asserted on the executed/physical plan so a future
refactor can't silently reintroduce a cross join or lose a broadcast."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark import schemas
from scraping_etl_spark.etl.star_schema import build_star
from scraping_etl_spark.plans import ml_ops as M
from scraping_etl_spark.sources.readers import read_json_array
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_no_cartesian_no_bnlj(spark):
    plan = _plan(M.q_doc_minhash_pairs(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # candidates via equi-join only


def test_ann_bucket_equijoin(spark):
    plan = _plan(M.q_emb_ann_topk(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # bucket id is an equi key


def test_token_bridge_broadcasts_dim(spark):
    plan = _plan(M.q_doc_token_bridge(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan  # dim side must broadcast (J2/J3)


def test_ann_recall_floor(spark):
    """Hyperplane-LSH ANN must recover a healthy fraction of the exact
    top-k (same-bucket constraint trades recall for the equi-join scale
    path; this pins the trade-off so hash changes can't quietly ruin it).
    """
    from scraping_etl_spark.operators.similarity import ann_hyperplane_topk, cosine_topk
    from scraping_etl_spark.sources.readers import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    probes = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    k = 3
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(e, probes, k=k).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_hyperplane_topk(e, probes, dim=64, k=k, planes=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"ANN recall collapsed: {recall:.2f}"


def test_ivf_recall_floor(spark):
    """IVF cluster pruning must beat the LSH path's recall at a similar
    scan fraction (n_probe/n_clusters = 1/4 of the corpus here)."""
    from scraping_etl_spark.operators.similarity import (
        INDEX_ITERS,
        cosine_topk,
        ivf_topk,
        kmeans_train_fx,
    )
    from scraping_etl_spark.sources.readers import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    probes = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(e, probes, k=3).collect()}
    cents = kmeans_train_fx(e, n_clusters=16, iters=INDEX_ITERS)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(e, probes, cents, k=3, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall collapsed: {recall:.2f}"


def test_ivf_no_cross_join(spark):
    from scraping_etl_spark.plans import ml_ops as M

    plan = _plan(M.q_emb_ivf_topk(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hard_negatives_plans(spark):
    """The anchor set broadcasts against the corpus (a
    BroadcastNestedLoopJoin over the BOUNDED probe side is the plan,
    like cosine_topk) — but never a CartesianProduct."""
    plan = _plan(M.q_emb_hard_negatives(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_fs_and_ingest_screen_plans_no_cartesian(spark):
    """The FS gates cross-join only ONE-ROW weight relations
    (broadcast), and the ingest screen's lake side broadcasts behind
    the measured guard — no plan may contain a CartesianProduct."""
    for fn in (M.q_er_fs_scores, M.q_er_fs_em_scores,
               M.q_emb_ingest_screen):
        plan = _plan(fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, fn.__name__


def test_lm_score_plan_no_bnlj(spark):
    """Regression guard for the vocab-size attach: FoldablePropagation
    turns a literal join key into a one-sided filter and the 1-row
    join degrades to BroadcastNestedLoopJoin; the non-foldable key must
    keep the whole plan BNLJ- and cartesian-free."""
    from scraping_etl_spark.operators.corpus_prep import with_lm_score

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    plan = _plan(with_lm_score(df))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_over_cap_regimes(spark, monkeypatch):
    """The expression tier's documented over-cap fallback (broadcast
    hint dropped): with exclude_same_id=True the non-equi predicate
    keeps it a shuffle-backed nested loop, while exclude_same_id=False
    joins on literal true and Spark plans a CartesianProduct — same
    asymptotics, different node. Pinned so the docstring's claim stays
    true; callers in this regime belong on embedding_decontaminate_ivf,
    whose plan stays an equi-join (asserted here too)."""
    from scraping_etl_spark.operators import similarity as SIM
    from scraping_etl_spark.operators.similarity import (
        INDEX_ITERS,
        embedding_decontaminate,
        embedding_decontaminate_ivf,
        kmeans_train_fx,
    )
    from scraping_etl_spark.sources.readers import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    bench = e.filter(F.col("vec_id") < 50)
    # at test scale the tiny bench auto-broadcasts by statistics even
    # without the hint; kill the stats threshold so the plan shows the
    # true over-cap regime (a 100 TB lake is past any auto threshold)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with monkeypatch.context() as m:
            m.setattr(SIM, "MAX_BROADCAST_BENCH_VECS", 10)
            over_cap = _plan(
                embedding_decontaminate(e, bench, exclude_same_id=False)
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" in over_cap  # the documented fallback node
    cents = kmeans_train_fx(bench, n_clusters=4, iters=INDEX_ITERS)
    ivf = _plan(
        embedding_decontaminate_ivf(e, bench, cents, exclude_same_id=False)
    )
    assert "CartesianProduct" not in ivf
    assert "BroadcastNestedLoopJoin" not in ivf


def test_ivf_decontaminate_stored_cell_equivalence(spark):
    """bench_cell_col (the streaming lake's land-time cell) must give
    byte-identical output to the on-the-fly assignment — including the
    null-cell mergeSchema fallback path."""
    from scraping_etl_spark.operators.similarity import (
        INDEX_ITERS,
        embedding_decontaminate_ivf,
        kmeans_train_fx,
        nearest_centroids,
    )
    from scraping_etl_spark.sources.readers import load_table

    e = load_table(spark, SF_SMOKE, "embeddings").limit(200).localCheckpoint()
    bench = e.filter(F.col("vec_id") % 5 == 0)
    cents = kmeans_train_fx(bench, n_clusters=4, iters=INDEX_ITERS)
    stored = bench.withColumn(
        "cell",
        F.when(
            F.col("vec_id") % 10 == 0,  # half stored, half null-fallback
            F.element_at(nearest_centroids(F.col("embedding"), cents, 1), 1),
        ),
    )
    kw = dict(threshold=0.9, n_probe=2, exclude_same_id=True)
    want = sorted(
        map(tuple, embedding_decontaminate_ivf(e, bench, cents, **kw).collect())
    )
    got = sorted(
        map(tuple, embedding_decontaminate_ivf(
            e, stored, cents, bench_cell_col="cell", **kw
        ).collect())
    )
    assert got == want


def test_star_fact_and_bridges_read_snapshot_without_joins(spark):
    """Fixed-mode fact and bridges hash their surrogate keys in place:
    no dim join, and no re-scan of the article JSON (they read the
    snapshot ``build_star`` checkpointed). Parity mode still joins."""
    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "articles.json")
    raw = read_json_array(spark, fixture, schemas.RAW_ARTICLES)
    star = build_star(raw)
    for name in ("articles", "author_article_map", "keyword_article_map"):
        plan = _plan(star[name])
        assert "BroadcastHashJoin" not in plan, (name, plan)
        assert "FileScan json" not in plan, (name, plan)
    parity = _plan(build_star(raw, parity=True)["articles"])
    assert "BroadcastHashJoin" in parity and "FileScan json" in parity

"""Salted-join correctness + partitioned star materialization."""

from __future__ import annotations

from pyspark.sql import functions as F

from scraping_etl_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # heavily skewed probe: 90% of rows share one key
    probe = spark.createDataFrame(
        [(1 if i % 10 else i, f"p{i}") for i in range(1000)], "k int, pv string"
    )
    build = spark.createDataFrame(
        [(i, f"b{i}") for i in range(0, 1000, 7)] + [(1, "hot")], "k int, bv string"
    )
    plain = {(r.k, r.pv, r.bv) for r in probe.join(build, "k").collect()}
    salted = {(r.k, r.pv, r.bv) for r in salted_join(probe, build, "k", salt=4).collect()}
    assert salted == plain


def test_salted_join_left_preserves_unmatched(spark):
    probe = spark.createDataFrame([(1, "a"), (2, "b")], "k int, pv string")
    build = spark.createDataFrame([(1, "x")], "k int, bv string")
    rows = {r.k: r.bv for r in salted_join(probe, build, "k", salt=3, how="left").collect()}
    assert rows == {1: "x", 2: None}


def test_salted_join_spreads_hot_key(spark):
    # the hot key's rows occupy >1 distinct salt bucket pre-join
    probe = spark.createDataFrame([(1, i) for i in range(500)], "k int, v int")
    p = probe.withColumn("_salt", (F.rand(42) * 8).cast("int"))
    n_buckets = p.select("_salt").distinct().count()
    assert n_buckets > 1


def test_materialize_star_partitioning(spark, tmp_path):
    import os

    from scraping_etl_spark import schemas
    from scraping_etl_spark.etl.star_schema import build_star, materialize_star
    from scraping_etl_spark.sources.readers import read_json_array

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "articles.json")
    raw = read_json_array(spark, fixture, schemas.RAW_ARTICLES)
    star = build_star(raw)
    paths = materialize_star(star, str(tmp_path / "star"))
    assert set(paths) == {
        "publishers", "topics", "dates", "keywords", "authors",
        "articles", "author_article_map", "keyword_article_map",
    }
    # fact is hive-partitioned on Website/TopicID for partition pruning
    top = os.listdir(paths["articles"])
    assert any(e.startswith("Website=") for e in top)
    # every table reads back with its rows intact
    for name, path in paths.items():
        assert spark.read.parquet(path).count() == star[name].count()
    # all tables come from one snapshot: no bridge edge without its fact row
    fact = {r.DOI for r in spark.read.parquet(paths["articles"]).collect()}
    for bridge in ("author_article_map", "keyword_article_map"):
        dois = {r.DOI for r in spark.read.parquet(paths[bridge]).collect()}
        assert dois and dois <= fact, bridge


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join without an Exchange on
    either side — the pay-the-shuffle-once-at-write-time contract."""
    from scraping_etl_spark.sources.readers import load_table
    from scraping_etl_spark.sources.writers import write_bucketed

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    customer = load_table(spark, "/root/testdata/sf0.001", "customer")
    try:
        write_bucketed(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            "bkt_orders", ("o_custkey",), 8, path=str(tmp_path / "o"),
        )
        write_bucketed(
            customer.select(F.col("c_custkey").alias("o_custkey"), "c_name"),
            "bkt_customer", ("o_custkey",), 8, path=str(tmp_path / "c"),
        )
        # hint("merge"): at this tiny scale Catalyst would broadcast the
        # customer side; the point is the sort-merge path bucketing buys
        joined = spark.table("bkt_orders").join(
            spark.table("bkt_customer").hint("merge"), "o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # no hash-repartition Exchange on either side: the bucket files
        # already provide the join partitioning
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == orders.count()  # every order has a customer
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_aqe_skew_join_splits_hot_partition(spark):
    """Scale proof for the no-salt path: AQE's skew-join handles a
    90%-one-key join on its own (thresholds scaled down to test size).
    At 100 TB the same mechanism splits oversized shuffle partitions at
    their real defaults; salted_join remains the belt-and-braces manual
    fallback for engines/joins AQE can't rewrite."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        # force a sort-merge join: skew splitting applies to SMJ/SHJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        pad = "x" * 100
        probe = spark.range(50_000).selectExpr(
            "if(id % 10 = 0, id, 1) as k", f"concat('{pad}', id) as pv"
        )
        build = spark.range(0, 50_000, 7).selectExpr(
            "id as k", "concat('b', id) as bv"
        )
        joined = probe.join(build, "k")
        # execute joined ITSELF (count() would run a different plan and
        # leave joined's AdaptiveSparkPlan unfinalized)
        n = len(joined.collect())
        # correctness: hot key 1 matches nothing (1 % 7 != 0) except k=1?
        # 1 is not a multiple of 7, so only the 10%-tail keys match
        expect = probe.filter("k % 7 = 0").count()
        assert n == expect > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_chunk_dedup_hot_chunk_takes_broadcast_path(spark):
    """Skew proof for chunk_dedup_stats: a boilerplate chunk shared by
    20% of docs makes its md5 the hot key of the pairs ⋈ docs_per_chunk
    join — and AQE's skew-join CANNOT rewrite that join (the build
    side's final HashAggregate sits between its shuffle stage and the
    join, which breaks OptimizeSkewedJoin's pattern; verified
    empirically, no split even with forceOptimizeSkewedJoin). So the
    operator decomposes by construction: with hot_threshold below the
    boilerplate's doc count, its pair rows are flagged through a
    map-side BROADCAST join (no hot shuffle partition anywhere), only
    the skew-free residual takes the shuffle join, and the
    shared-fraction results stay exact."""
    from scraping_etl_spark.operators.corpus_prep import chunk_dedup_stats

    boiler = " ".join(f"b{j}" for j in range(10))  # one full chunk
    docs = spark.range(5_000).selectExpr(
        "id as doc_id",
        # 20% of docs open with the identical boilerplate chunk, then
        # 10 unique tokens (their own second chunk); the rest are 10
        # unique tokens (one unshared chunk)
        f"""if(id % 5 = 0,
             concat('{boiler} ',
                    concat_ws(' ', transform(sequence(0, 9),
                                             j -> concat('u', id, '_', j)))),
             concat_ws(' ', transform(sequence(0, 9),
                                      j -> concat('v', id, '_', j)))
           ) as text""",
    )
    out = chunk_dedup_stats(docs, chunk_len=10, hot_threshold=100)
    rows = out.collect()
    assert len(rows) == 5_000
    hot = [r for r in rows if r.doc_id % 5 == 0]
    cold = [r for r in rows if r.doc_id % 5 != 0]
    assert all(
        (r.n_chunks, r.n_shared, r.shared_frac) == (2, 1, 0.5) for r in hot
    )
    assert all(r.n_shared == 0 for r in cold)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the viral chunk's 1000 pair rows ride BroadcastHashJoins (flag +
    # anti), never a shuffled join partition
    assert "BroadcastHashJoin" in plan, plan
    # default threshold (nothing "viral" at test scale): same results
    # through the pure shuffle path
    ref = {
        (r.doc_id, r.n_chunks, r.n_shared)
        for r in chunk_dedup_stats(docs, chunk_len=10).collect()
    }
    assert {(r.doc_id, r.n_chunks, r.n_shared) for r in rows} == ref


def test_chunk_dedup_rejects_bad_hot_threshold(spark):
    import pytest

    from scraping_etl_spark.operators.corpus_prep import chunk_dedup_stats

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_dedup_stats(docs, hot_threshold=0)

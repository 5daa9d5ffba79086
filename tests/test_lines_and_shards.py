"""Line-level corpus surgery (operators/lines.py) and the
deterministic shuffle-to-shards layout (curation.shuffle_to_shards)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark.operators import lines as L
from scraping_etl_spark.operators.curation import shuffle_to_shards


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# dedup_lines
# ---------------------------------------------------------------------------

def test_dedup_lines_first_occurrence_wins_globally(spark):
    df = _docs(spark, [
        (1, "boiler\nunique one\nfooter"),
        (2, "boiler\nunique two\nfooter"),
        (3, "unique three\nboiler"),
    ])
    out = {r.doc_id: r for r in L.dedup_lines(df).collect()}
    assert out[1].text == "boiler\nunique one\nfooter"
    assert out[2].text == "unique two"          # both boilerplate lines gone
    assert out[3].text == "unique three"
    assert (out[1].n_lines, out[1].n_kept) == (3, 3)
    assert (out[2].n_lines, out[2].n_kept) == (3, 1)


def test_dedup_lines_intra_document_repeats_dropped(spark):
    out = L.dedup_lines(_docs(spark, [(1, "x\ny\nx\nx")])).collect()[0]
    assert out.text == "x\ny" and out.n_lines == 4 and out.n_kept == 2


def test_dedup_lines_all_boilerplate_doc_empties_not_dropped(spark):
    df = _docs(spark, [(1, "b1\nb2"), (2, "b1\nb2")])
    out = {r.doc_id: r for r in L.dedup_lines(df).collect()}
    assert out[2].text == "" and out[2].n_kept == 0 and out[2].n_lines == 2
    assert out[1].text == "b1\nb2"


def test_dedup_lines_trims_and_skips_blank_lines(spark):
    out = L.dedup_lines(_docs(spark, [(1, "  a  \n\n \nb")])).collect()[0]
    assert out.text == "a\nb" and out.n_lines == 2


def test_dedup_lines_deterministic_across_partitioning(spark):
    rows = [(i, f"shared line\nunique {i}\nfooter line") for i in range(40)]
    a = L.dedup_lines(_docs(spark, rows).repartition(1)).collect()
    b = L.dedup_lines(_docs(spark, rows).repartition(13)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# filter_quality_lines
# ---------------------------------------------------------------------------

def test_filter_quality_lines_c4_rules(spark):
    text = "\n".join([
        "this line has enough words.",   # keep
        "too short.",                    # < min_words
        "no terminal punctuation here",  # no punct
        "function() { return 1; }",      # brace
        "does this question line work?", # keep
    ])
    out = L.filter_quality_lines(
        _docs(spark, [(1, text)]), min_words=4
    ).collect()[0]
    assert out.text == (
        "this line has enough words.\ndoes this question line work?"
    )
    assert out.n_lines == 5 and out.n_kept == 2


def test_filter_quality_lines_punct_optional(spark):
    out = L.filter_quality_lines(
        _docs(spark, [(1, "four words right here\nshort.")]),
        min_words=4, require_terminal_punct=False,
    ).collect()[0]
    assert out.text == "four words right here" and out.n_kept == 1


def test_filter_quality_lines_zero_shuffle(spark):
    plan = (
        L.filter_quality_lines(_docs(spark, [(1, "a.\nb.")]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_filter_quality_lines_validates(spark):
    with pytest.raises(ValueError):
        L.filter_quality_lines(_docs(spark, [(1, "x")]), min_words=0)


# ---------------------------------------------------------------------------
# shuffle_to_shards
# ---------------------------------------------------------------------------

def test_shuffle_shards_is_permutation_and_deterministic(spark):
    df = spark.range(500).select(F.col("id").alias("doc_id"))
    a = shuffle_to_shards(df, n_shards=8, seed="s1")
    rows = a.collect()
    assert len(rows) == 500
    # (shard, pos) pairs are unique and positions are dense per shard
    pairs = {(r.shard, r.shard_pos) for r in rows}
    assert len(pairs) == 500
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.shard_pos)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))
    # rerun + any partitioning -> bit-identical layout
    b = shuffle_to_shards(df.repartition(11), n_shards=8, seed="s1").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b))


def test_shuffle_shards_seed_changes_permutation(spark):
    df = spark.range(300).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: (r.shard, r.shard_pos)
         for r in shuffle_to_shards(df, 4, seed="e1").collect()}
    b = {r.doc_id: (r.shard, r.shard_pos)
         for r in shuffle_to_shards(df, 4, seed="e2").collect()}
    assert a != b


def test_shuffle_shards_roughly_uniform(spark):
    df = spark.range(4000).select(F.col("id").alias("doc_id"))
    sizes = [
        r.n for r in shuffle_to_shards(df, 8, seed="u")
        .groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert len(sizes) == 8
    assert max(sizes) < 2 * min(sizes)


def test_shuffle_shards_validates(spark):
    with pytest.raises(ValueError):
        shuffle_to_shards(spark.range(3), n_shards=0)


# ---------------------------------------------------------------------------
# remove_common_lines (host-level boilerplate)
# ---------------------------------------------------------------------------

def _hdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_remove_common_lines_drops_every_copy(spark):
    rows = [(i, f"nav bar\ncontent {i}\nfooter", "h1") for i in range(6)]
    rows += [(10 + i, f"other {i}\nnav bar", "h2") for i in range(2)]  # < min docs
    out = {r.doc_id: r for r in
           L.remove_common_lines(_hdocs(spark, rows), min_df_frac=0.5).collect()}
    # h1: nav+footer in 6/6 docs -> gone from ALL (no first copy kept)
    for i in range(6):
        assert out[i].text == f"content {i}", out[i]
        assert out[i].n_lines == 3 and out[i].n_kept == 1
    # h2 has only 2 docs (< min_group_docs=3): untouched
    assert out[10].text == "other 0\nnav bar"


def test_remove_common_lines_df_threshold(spark):
    # line in 2 of 5 docs (0.4 < 0.6) survives; in 4 of 5 (0.8) removed
    rows = [(i, ("often\n" if i < 4 else "") + ("seldom\n" if i < 2 else "")
             + f"body {i}", "h") for i in range(5)]
    out = {r.doc_id: r.text for r in
           L.remove_common_lines(_hdocs(spark, rows), min_df_frac=0.6).collect()}
    assert out[0] == "seldom\nbody 0"
    assert out[4] == "body 4"


def test_remove_common_lines_validates(spark):
    d = _hdocs(spark, [(1, "x", "h")])
    with pytest.raises(ValueError):
        L.remove_common_lines(d, min_df_frac=0.0)
    with pytest.raises(ValueError):
        L.remove_common_lines(d, min_group_docs=0)


# ---------------------------------------------------------------------------
# token_budget_mix
# ---------------------------------------------------------------------------

def test_token_budget_mix_fills_budget_with_one_overshoot(spark):
    from scraping_etl_spark.operators.curation import token_budget_mix

    rows = [(i, "w " * 10, "a") for i in range(20)]  # 10 tokens each
    df = _hdocs(spark, [(i, t.strip(), s) for i, t, s in rows])
    out = token_budget_mix(df, {"a": 35})
    got = out.collect()
    total = sum(r.n_doc_tokens for r in got)
    # 35-token budget over 10-token docs -> 4 docs (30 before 4th < 35)
    assert len(got) == 4 and total == 40
    assert max(r.cum_before for r in got) == 30


def test_token_budget_mix_unlisted_sources_excluded_and_deterministic(spark):
    from scraping_etl_spark.operators.curation import token_budget_mix

    rows = [(i, "x y z", "a" if i % 2 == 0 else "b") for i in range(30)]
    df = _hdocs(spark, rows)
    out = token_budget_mix(df, {"a": 9})
    ids1 = sorted(r.doc_id for r in out.collect())
    assert len(ids1) == 3  # 3-token docs, budget 9 -> exactly 3 docs
    assert all(i % 2 == 0 for i in ids1)  # only source 'a'
    ids2 = sorted(
        r.doc_id
        for r in token_budget_mix(df.repartition(7), {"a": 9}).collect()
    )
    assert ids1 == ids2
    # a different seed picks a different (still size-3) set
    ids3 = sorted(
        r.doc_id for r in token_budget_mix(df, {"a": 9}, seed="other").collect()
    )
    assert len(ids3) == 3 and ids3 != ids1


def test_token_budget_mix_emits_no_future_warning(spark):
    # the budget lookup spells map access bmap[x]: the getItem(<Column>)
    # form warns on every plan build and is going away
    import warnings

    from scraping_etl_spark.operators.curation import token_budget_mix

    df = _hdocs(spark, [(i, "x y", "a") for i in range(4)])
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        assert token_budget_mix(df, {"a": 3}).count() == 2


def test_token_budget_mix_prune_equals_unpruned(spark):
    """The tournament prune is a pure optimization: tiny prune_cap
    (but >= the selectable bound) must not change the selection."""
    from scraping_etl_spark.operators.curation import token_budget_mix

    rows = [(i, "t " * (1 + i % 3), "s") for i in range(40)]
    df = _hdocs(spark, [(i, t.strip(), s) for i, t, s in rows])
    a = sorted(r.doc_id for r in token_budget_mix(df, {"s": 12}).collect())
    b = sorted(
        r.doc_id
        for r in token_budget_mix(df, {"s": 12}, prune_cap=12).collect()
    )
    assert a == b and len(a) > 0


def test_token_budget_mix_validates(spark):
    from scraping_etl_spark.operators.curation import token_budget_mix

    d = _hdocs(spark, [(1, "x", "s")])
    with pytest.raises(ValueError):
        token_budget_mix(d, {})
    with pytest.raises(ValueError):
        token_budget_mix(d, {"s": -1})

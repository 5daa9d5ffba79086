"""Cavnar-Trenkle n-gram language ID (textstats.char_ngram_profiles /
lang_id_ngram) — unit + accuracy pins behind the `doc_lang_id_ngram`
gate's hash check."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from scraping_etl_spark.operators import textstats as TS


def test_char_ngrams_edges(spark):
    df = spark.createDataFrame(
        [("abcd",), ("ab",), ("",)], "s string"
    ).select(TS.char_ngrams(F.col("s"), 3).alias("g"))
    got = [r.g for r in df.collect()]
    assert got == [["abc", "bcd"], [], []]


def _toy(spark):
    # Clear signal: each language's docs repeat a distinctive word.
    rows = []
    for i in range(6):
        rows.append((100 + i, "aa", "xxxx yyyy " + "aardvark " * 4))
        rows.append((200 + i, "bb", "xxxx yyyy " + "bobolink " * 4))
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_lang_id_ngram_recovers_clear_signal(spark):
    df = _toy(spark)
    pred = {r.doc_id: r.pred_lang
            for r in TS.lang_id_ngram(df, top_m=50, doc_m=20).collect()}
    for doc_id, lang in [(100, "aa"), (105, "aa"), (200, "bb"), (205, "bb")]:
        assert pred[doc_id] == lang, (doc_id, pred[doc_id])


def test_lang_id_ngram_gramless_doc_ties_to_first_language(spark):
    """A doc with no n-grams is equidistant (dist 0) from every
    language; the deterministic tie-break picks the alphabetically
    first — the contract the oracle mirrors."""
    df = _toy(spark).unionByName(
        _toy(spark).sparkSession.createDataFrame(
            [(999, "bb", "xy")], "doc_id long, lang string, text string"
        )
    )
    got = {r.doc_id: (r.pred_lang, r.dist)
           for r in TS.lang_id_ngram(df, top_m=50, doc_m=20).collect()}
    assert got[999] == ("aa", 0)


def test_lang_id_ngram_unmatched_gram_costs_model_depth(spark):
    """A doc whose grams appear in no profile scores exactly
    ng * penalty against every language, where the penalty in
    pretrained mode is max(model max rank, doc_m): the model depth is
    Cavnar-Trenkle's out-of-place maximum (trained depth, not the
    scoring call's top_m — r11 ADVICE item 1), and the doc_m arm keeps
    matched <= unmatched when the doc profile is the deeper side
    (r12 ADVICE item 1)."""
    base = _toy(spark)
    extra = base.sparkSession.createDataFrame(
        [(998, "bb", "qqqq")], "doc_id long, lang string, text string"
    )
    # train profiles WITHOUT the alien doc, score WITH it
    profiles = TS.char_ngram_profiles(base, top_m=50)
    depth = profiles.agg(F.max("rank")).first()[0]
    assert depth < 50  # the toy vocab is shallower than top_m
    got = {
        r.doc_id: (r.pred_lang, r.dist)
        for r in TS.lang_id_ngram(
            base.unionByName(extra), top_m=50, doc_m=20, profiles=profiles
        ).collect()
    }
    # "qqqq" -> grams qqq, qqq -> distinct 'qqq' only: ng=1
    assert got[998] == ("aa", max(depth, 20))


def test_lang_id_ngram_depth_mismatch_keeps_matched_le_unmatched(spark):
    """Scoring with a top_m SMALLER than the training depth must not
    invert the semantics: a matched gram's cost |dr - rank| is bounded
    by the model depth, never more than an unmatched gram's penalty.
    The penalty must therefore come from the model (max rank), not the
    call-site top_m — with the call-site value, rank-40 matches would
    cost up to ~39 while unmatched cost only 10."""
    base = _toy(spark)
    profiles = TS.char_ngram_profiles(base, top_m=50)
    depth = profiles.agg(F.max("rank")).first()[0]
    got = {
        r.doc_id: r.dist
        for r in TS.lang_id_ngram(
            base, top_m=10, doc_m=20, profiles=profiles
        ).collect()
    }
    ng = 20  # doc_m cap; every toy doc has >= 20 distinct grams or fewer
    # distance can never exceed all-unmatched at the model depth
    for doc_id, dist in got.items():
        assert dist <= ng * depth, (doc_id, dist, depth)
    # and self-consistency: identical calls with call-site top_m 10 vs
    # 80 give identical results because the model fixes the penalty
    again = {
        r.doc_id: r.dist
        for r in TS.lang_id_ngram(
            base, top_m=80, doc_m=20, profiles=profiles
        ).collect()
    }
    assert got == again


def test_lang_id_ngram_doc_deeper_than_model_keeps_matched_le_unmatched(spark):
    """The converse depth mismatch (r12 ADVICE item 1): when the DOC
    profile is deeper than the model (doc_m > trained depth), a matched
    gram at doc rank dr can cost |dr - rank| up to doc_m - 1, which
    exceeds a model-depth penalty. The penalty must be
    max(depth, doc_m), so a doc matching a language's entire profile
    still scores strictly below an equal-length doc matching nothing."""
    base = _toy(spark)
    # shallow model: depth <= 4 << doc_m = 20
    profiles = TS.char_ngram_profiles(base, top_m=4)
    depth = profiles.agg(F.max("rank")).first()[0]
    assert depth <= 4
    alien = base.sparkSession.createDataFrame(
        [(997, "bb", "qqqq")], "doc_id long, lang string, text string"
    )
    got = {
        r.doc_id: (r.pred_lang, r.dist)
        for r in TS.lang_id_ngram(
            base.unionByName(alien), top_m=4, doc_m=20, profiles=profiles
        ).collect()
    }
    # alien: ng = 1 (only gram 'qqq'), unmatched -> penalty = max(depth, 20)
    assert got[997] == ("aa", max(depth, 20))
    # every real doc matches its own language's grams; with the doc_m
    # arm in the penalty no match can be priced above a miss, so each
    # doc's distance stays under all-unmatched at the same gram count
    ng_by_doc = {
        r._id: r._ng
        for r in base.select(
            F.col("doc_id").alias("_id"),
            F.least(
                F.size(F.array_distinct(TS.char_ngrams(F.col("text"), 3))),
                F.lit(20),
            ).alias("_ng"),
        ).collect()
    }
    for doc_id, (_, dist) in got.items():
        if doc_id == 997:
            continue
        assert dist < ng_by_doc[doc_id] * max(depth, 20), (doc_id, dist)


def test_gate_accuracy_on_marked_corpus(spark):
    """The driver gate plants per-language markers (the corpus text is
    language-agnostic by construction); the classifier must recover
    the labels — pinned at >= 0.95 so the gate is evidence of real
    discrimination, not just determinism."""
    from scraping_etl_spark.plans import pipeline_ops as P

    df = P.q_doc_lang_id_ngram(spark, "/root/testdata/sf0.001")
    acc = df.select(
        F.avg((F.col("lang") == F.col("pred_lang")).cast("double")).alias("a")
    ).collect()[0]["a"]
    assert acc >= 0.95, acc


def test_lang_id_plan_has_no_bnlj(spark):
    """The language axis attaches via a broadcast HASH join on a
    non-foldable zero key — a literal key would constant-fold and
    degrade to BroadcastNestedLoopJoin."""
    df = TS.lang_id_ngram(_toy(spark), top_m=50, doc_m=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lang_id_ngram_stable_under_repartition(spark):
    """Deterministic under any physical partitioning: ranks use total
    orders (count desc, gram asc / dist asc, lang asc), so predictions
    and distances must be bit-identical on a repartitioned input."""
    df = _toy(spark)
    a = {(r.doc_id, r.pred_lang, r.dist)
         for r in TS.lang_id_ngram(df, top_m=50, doc_m=20).collect()}
    b = {(r.doc_id, r.pred_lang, r.dist)
         for r in TS.lang_id_ngram(df.repartition(17), top_m=50, doc_m=20).collect()}
    assert a == b and a


# ---------------------------------------------------------------------------
# Corpus-law fits (textstats.zipf_fit / heaps_fit)
# ---------------------------------------------------------------------------

def test_zipf_fit_recovers_a_planted_power_law(spark):
    """Words planted with freq = round(1000 / rank) fit slope ~ -1
    with r2 ~ 1 — the law the operator exists to detect."""
    import pyspark.sql.functions as F
    from scraping_etl_spark.operators.textstats import zipf_fit

    words = []
    for r in range(1, 21):
        words += [f"w{r:02d}"] * round(1000 / r)
    df = spark.createDataFrame(
        [(1, " ".join(words), "xx")], "doc_id long, text string, lang string"
    )
    out = zipf_fit(df, top_r=20).collect()
    assert len(out) == 1
    row = out[0]
    assert row.n_types == 20
    assert -1.05 <= row.zipf_slope <= -0.95
    assert row.zipf_r2 > 0.99


def test_heaps_fit_exponent_brackets_growth(spark):
    """A corpus whose docs each add fresh vocabulary grows types with
    tokens (beta > 0); cumulative points are monotone; a saturated
    one-word corpus pins beta = 0."""
    from scraping_etl_spark.operators.textstats import heaps_fit

    fresh = [
        (i, " ".join(f"tok{i}_{j}" for j in range(20)), "xx")
        for i in range(40)
    ]
    df = spark.createDataFrame(fresh, "doc_id long, text string, lang string")
    out = sorted(heaps_fit(df).collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in out] == list(range(10))
    for a, b in zip(out, out[1:]):
        assert b.n_tokens_cum >= a.n_tokens_cum
        assert b.n_types_cum >= a.n_types_cum
    # every token is a fresh type here -> V = N exactly -> beta = 1
    assert out[0].heaps_beta == 1.0 and out[0].heaps_r2 == 1.0

    flat = [(i, "same same same", "yy") for i in range(40)]
    df2 = spark.createDataFrame(flat, "doc_id long, text string, lang string")
    out2 = heaps_fit(df2).collect()
    assert all(r.heaps_beta == 0.0 for r in out2)
    assert all(r.n_types_cum in (0, 1) for r in out2)


# ---------------------------------------------------------------------------
# Language segmentation (textstats.lang_segments) — registered gate
# ---------------------------------------------------------------------------

def test_lang_segments_splits_a_planted_code_switch(spark):
    from scraping_etl_spark.operators.textstats import lang_segments

    en = "the cat and the dog went to the market in town " * 4
    de = "der hund und die katze ist nicht im haus und das " * 4
    rows = [
        (1, en),                 # monolingual -> one segment
        (2, en + de),            # code-switched -> two segments
        (3, de + en + de),       # three segments
        (4, ""),                 # empty -> no rows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = lang_segments(df, chunk_tokens=16)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 4 not in by_doc
    assert [s.lang for s in sorted(by_doc[1], key=lambda r: r.seg_idx)] == ["en"]
    assert [s.lang for s in sorted(by_doc[2], key=lambda r: r.seg_idx)] == ["en", "de"]
    assert [s.lang for s in sorted(by_doc[3], key=lambda r: r.seg_idx)] == ["de", "en", "de"]
    # segment geometry: contiguous, ordered, token counts add up
    segs = sorted(by_doc[3], key=lambda r: r.seg_idx)
    for a, b in zip(segs, segs[1:]):
        assert b.start_chunk == a.end_chunk + 1
    assert sum(s.n_tokens for s in segs) == len((de + en + de).split())


def test_lang_segments_gate_matches_oracle_staged_for_r14(spark):
    """The registered doc_lang_segments gate hashes against its DuckDB
    oracle end-to-end (planted cross-language composites included)."""
    import duckdb

    from scraping_etl_spark.plans import pipeline_ops as P

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_id, r.seg_idx): (r.lang, r.start_chunk, r.end_chunk, r.n_tokens)
        for r in P.q_doc_lang_segments(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        (r[0], r[1]): (r[2], r[3], r[4], r[5])
        for r in con.execute(P.ORACLE_DOC_LANG_SEGMENTS).fetchall()
    }
    assert got == want
    # at least one planted composite genuinely splits
    n_segs = {}
    for (d, s) in got:
        if d >= 1_000_000:
            n_segs[d] = max(n_segs.get(d, 0), s + 1)
    assert n_segs and max(n_segs.values()) >= 2


def test_carry_cols_equals_join_back(spark):
    """The carry_cols pass-through (r16 scan elimination) is
    value-identical to the old corpus.join(pred) shape on BOTH
    operators — the contract the doc_lang_id_ngram /
    doc_lang_margin hashes rely on."""
    df = _toy(spark)
    plain = TS.lang_id_ngram(df, top_m=50, doc_m=20)
    joined = sorted(
        (r.doc_id, r.lang, r.pred_lang, r.dist)
        for r in df.select("doc_id", "lang").join(plain, "doc_id").collect()
    )
    carried = sorted(
        (r.doc_id, r.lang, r.pred_lang, r.dist)
        for r in TS.lang_id_ngram(
            df, top_m=50, doc_m=20, carry_cols=("lang",)
        ).collect()
    )
    assert carried == joined
    plain_m = TS.lang_id_ngram_margin(df, top_m=50, doc_m=20, min_margin=3)
    joined_m = sorted(
        (r.doc_id, r.lang, r.pred_lang, r.dist, r.margin)
        for r in df.select("doc_id", "lang").join(plain_m, "doc_id").collect()
    )
    carried_m = sorted(
        (r.doc_id, r.lang, r.pred_lang, r.dist, r.margin)
        for r in TS.lang_id_ngram_margin(
            df, top_m=50, doc_m=20, min_margin=3, carry_cols=("lang",)
        ).collect()
    )
    assert carried_m == joined_m

"""Unit tests for the round-8 curation & retrieval operators:
BM25 search, per-key caps, duplicate-passage detection, SemDeDup,
the trainable quality classifier, and DSIR weights.

(The registry gates for these are additionally hash-checked against
their DuckDB oracles by tests/test_relational_queries.py.)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from scraping_etl_spark.operators import classifier as CLF
from scraping_etl_spark.operators import curation as CU
from scraping_etl_spark.operators import similarity as SIM
from scraping_etl_spark.operators.search import bm25_topk


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def _bm25_expected(docs, queries, k1=1.2, b=0.75):
    """Loop-oracle BM25 over token lists."""
    toks = {i: t.lower().split() for i, t in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {}
    for t in toks.values():
        for w in set(t):
            df[w] = df.get(w, 0) + 1
    out = {}
    for qid, terms in queries:
        scores = {}
        for d, t in toks.items():
            s = 0.0
            for w in sorted(set(x.lower() for x in terms)):
                tf = t.count(w)
                if tf == 0 or w not in df:
                    continue
                idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
                s += idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * len(t) / avgdl)
                )
            if s != 0.0:
                scores[d] = round(s, 6)
        out[qid] = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return out


def test_bm25_matches_loop_oracle(spark):
    docs = [
        (0, "spark hash join join join"),
        (1, "spark table scan"),
        (2, "window sort window"),
        (3, "the the the a"),
    ]
    queries = [(0, ["join", "spark"]), (1, ["window"]), (2, ["absent"])]
    got = bm25_topk(
        spark.createDataFrame(docs, "doc_id LONG, text STRING"),
        spark.createDataFrame(
            [(q, ts) for q, ts in queries], "query_id INT, terms ARRAY<STRING>"
        ),
        k=3,
    ).collect()
    expected = _bm25_expected(docs, queries)
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    # query 2 has no postings: absent entirely
    assert 2 not in by_q
    for qid in (0, 1):
        exp = expected[qid][:3]
        assert [(i + 1, d, s) for i, (d, s) in enumerate(exp)] == sorted(by_q[qid])


def test_bm25_rewards_tf_and_rarity(spark):
    d = spark.createDataFrame(
        [(0, "hash hash hash filler"), (1, "hash filler filler filler"),
         (2, "filler filler filler filler")],
        "doc_id LONG, text STRING",
    )
    q = spark.createDataFrame([(0, ["hash"])], "query_id INT, terms ARRAY<STRING>")
    rows = {r.doc_id: r.rank for r in bm25_topk(d, q, k=3).collect()}
    assert rows[0] == 1 and rows[1] == 2 and 2 not in rows


def test_bm25_no_cartesian(spark):
    d = spark.createDataFrame([(0, "a b"), (1, "b c")], "doc_id LONG, text STRING")
    q = spark.createDataFrame([(0, ["b"])], "query_id INT, terms ARRAY<STRING>")
    plan = bm25_topk(d, q)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# per_key_cap
# ---------------------------------------------------------------------------

def _cap_fixture(spark):
    rows = [(i, f"s{i % 3}", float(1000 - i)) for i in range(90)]
    return spark.createDataFrame(rows, "id LONG, host STRING, q DOUBLE")


def test_per_key_cap_matches_single_window(spark):
    df = _cap_fixture(spark)
    got = CU.per_key_cap(
        df, 7, key_col="host", order_col="q", descending=True, id_col="id"
    )
    w = Window.partitionBy("host").orderBy(F.desc("q"), F.asc("id"))
    exp = (
        df.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= 7)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_per_key_cap_salt_count_invariant(spark):
    df = _cap_fixture(spark)
    a = CU.per_key_cap(df, 5, key_col="host", order_col="q", id_col="id", n_salts=1)
    b = CU.per_key_cap(df, 5, key_col="host", order_col="q", id_col="id", n_salts=64)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_per_key_cap_hash_order_and_small_groups(spark):
    df = spark.createDataFrame(
        [(1, "x", 0.0), (2, "x", 0.0), (3, "y", 0.0)], "id LONG, host STRING, q DOUBLE"
    )
    got = CU.per_key_cap(df, 10, key_col="host", order_col=None, id_col="id")
    # groups smaller than n survive whole
    assert got.count() == 3
    with pytest.raises(ValueError):
        CU.per_key_cap(df, 0, key_col="host")


# ---------------------------------------------------------------------------
# duplicate_passage_stats
# ---------------------------------------------------------------------------

def test_duplicate_passages_known_shared_span(spark):
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens -> 4 trigram positions
    docs = [
        (0, shared + " unique0 tail0"),
        (1, "head1 " + shared),
        (2, "nothing shared here at all friends"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in CU.duplicate_passage_stats(df, k=3).collect()}
    # doc 0: 8 tokens -> 6 gram positions; grams 0..3 are the shared span
    assert out[0].n_grams == 6
    assert out[0].n_dup_grams == 4
    assert out[0].max_dup_run == 4
    assert out[0].dup_frac == round(4 / 6, 6)
    # doc 1: shared span sits at the end (positions 1..4 of 5)
    assert out[1].n_grams == 5
    assert out[1].n_dup_grams == 4
    assert out[1].max_dup_run == 4
    # doc 2: clean
    assert out[2].n_dup_grams == 0 and out[2].max_dup_run == 0
    assert out[2].dup_frac == 0.0


def test_duplicate_passages_split_runs(spark):
    # two disjoint shared trigrams -> two islands of length 1 each
    docs = [
        (0, "a b c xxx0 d e f yyy0"),
        (1, "a b c zzz1 d e f www1"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in CU.duplicate_passage_stats(df, k=3).collect()}
    assert out[0].n_dup_grams == 2
    assert out[0].max_dup_run == 1


def test_duplicate_passages_short_doc_and_validation(spark):
    df = spark.createDataFrame([(0, "one two")], "doc_id LONG, text STRING")
    r = CU.duplicate_passage_stats(df, k=5).collect()[0]
    assert r.n_grams == 0 and r.dup_frac == 0.0
    with pytest.raises(ValueError):
        CU.duplicate_passage_stats(df, k=0)
    with pytest.raises(ValueError):
        CU.duplicate_passage_stats(df, min_docs=1)


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

def _planted_embeddings(spark):
    import random

    rng = random.Random(11)
    rows = []
    for i in range(40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(8)]))
    # 2x-scaled copies of the first 5: cosine exactly 1 with originals
    for i in range(5):
        rows.append((100 + i, [2.0 * x for x in rows[i][1]]))
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_semantic_dedup_drops_planted_copies(spark):
    e = _planted_embeddings(spark)
    unit = e.select(
        "vec_id", SIM.normalize_embedding(F.col("embedding")).alias("embedding")
    )
    cents = SIM.kmeans_train_fx(unit, n_clusters=4, iters=SIM.INDEX_ITERS)
    pairs = SIM.semantic_dedup_pairs(e, cents, threshold=0.99).collect()
    planted = {(a, b) for a, b, _, _ in [tuple(r) for r in pairs]}
    for i in range(5):
        assert (i, 100 + i) in planted
    surv = SIM.semantic_dedup_survivors(e, cents, threshold=0.99)
    ids = {r.vec_id for r in surv.collect()}
    assert all(100 + i not in ids for i in range(5))  # copies dropped
    assert all(i in ids for i in range(5))            # originals kept


def test_semantic_dedup_scale_invariant_assignment(spark):
    """A 2x-scaled vector must land in the same cluster as its
    original (the normalization contract)."""
    e = _planted_embeddings(spark)
    unit = e.select(
        "vec_id", SIM.normalize_embedding(F.col("embedding")).alias("embedding")
    )
    cents = SIM.kmeans_train_fx(unit, n_clusters=4, iters=SIM.INDEX_ITERS)
    surv = SIM.semantic_dedup_survivors(e, cents, threshold=2.0)  # no drops
    cl = {r.vec_id: r.cluster for r in surv.collect()}
    for i in range(5):
        assert cl[i] == cl[100 + i]


def test_semantic_dedup_no_cartesian(spark):
    e = _planted_embeddings(spark)
    cents = [[0.1] * 8, [-0.1] * 8]
    plan = (
        SIM.semantic_dedup_pairs(e, cents, 0.99)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Quality classifier
# ---------------------------------------------------------------------------

def _labeled_quality(spark):
    real = [
        (i, "the quick brown fox jumps over a lazy dog in the sunny park", 1)
        for i in range(20)
    ]
    noise = [
        (100 + i, f"q7x{i}z 9ffa{i}b 77cc{i}d e1b2c{i} aa8d{i}f 4e5f{i}a", 0)
        for i in range(20)
    ]
    return spark.createDataFrame(real + noise, "doc_id LONG, text STRING, label INT")


def test_classifier_separates_real_from_noise(spark):
    labeled = CLF.quality_features(_labeled_quality(spark))
    w = CLF.train_logreg(labeled, dim=len(CLF.FEATURE_NAMES), iters=30)
    scored = CLF.score_logreg(labeled, w).collect()
    real = [r.quality_prob for r in scored if r.label == 1]
    fake = [r.quality_prob for r in scored if r.label == 0]
    assert min(real) > 0.5 > max(fake)


def test_classifier_score_matches_manual_sigmoid(spark):
    df = CLF.quality_features(
        spark.createDataFrame([(0, "hello world foo")], "doc_id LONG, text STRING")
    )
    feats = df.collect()[0].features
    w = [0.3, -0.2, 0.5, 1.0, -0.1, 2.0]
    got = CLF.score_logreg(df, w).collect()[0].quality_prob
    z = 0.0
    for wi, xi in zip(w, feats):
        z = z + wi * xi
    assert got == round(1.0 / (1.0 + math.exp(-z)), 6)


def test_classifier_validation(spark):
    df = CLF.quality_features(
        spark.createDataFrame([(0, "a", 1)], "doc_id LONG, text STRING, label INT")
    )
    with pytest.raises(ValueError):
        CLF.train_logreg(df, dim=0)
    with pytest.raises(ValueError):
        CLF.train_logreg(df.filter("label = 9"), dim=6, iters=1)


# ---------------------------------------------------------------------------
# DSIR weights
# ---------------------------------------------------------------------------

def test_dsir_weight_is_logp_difference(spark):
    from scraping_etl_spark.operators import corpus_prep as CP

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "xq zr pw lk jh gf"),
         (2, "the dog sat on the rug")],
        "doc_id LONG, text STRING",
    )
    target = spark.createDataFrame(
        [(10, "the cat sat on the mat again and again")],
        "doc_id LONG, text STRING",
    )
    t = CP.with_lm_score(docs, lm=target)
    r = CP.with_lm_score(docs)
    out = {x.doc_id: x for x in CU.dsir_weights(docs, t, r).collect()}
    tt = {x.doc_id: x.avg_logp for x in t.collect()}
    rr = {x.doc_id: x.avg_logp for x in r.collect()}
    for d in (0, 1, 2):
        assert out[d].log_weight == round(tt[d] - rr[d], 6)
    # the target-like doc must outrank the gibberish doc
    assert out[0].log_weight > out[1].log_weight


# ---------------------------------------------------------------------------
# winnowing fingerprints (operators/dedup.py — registered r8)
# ---------------------------------------------------------------------------

def test_winnow_guarantee_shared_substring_shares_fingerprint(spark):
    """The published winnowing guarantee: two docs sharing a substring
    of >= w + k - 1 tokens share at least one selected fingerprint."""
    from scraping_etl_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 >= 4+4-1
    df = spark.createDataFrame(
        [(1, f"one two {shared} three"), (2, f"{shared} nine ten eleven")],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=4, w=4)
    a = {r.fingerprint for r in fps.filter("doc_id = 1").collect()}
    b = {r.fingerprint for r in fps.filter("doc_id = 2").collect()}
    assert a & b


def test_winnow_short_doc_single_minimum(spark):
    """A doc with fewer than w grams keeps exactly its global-min hash."""
    from scraping_etl_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    got = winnow_fingerprints(df, k=4, w=4).collect()  # 2 grams < w
    assert len(got) == 1


def test_winnow_candidate_pairs_require_min_shared(spark):
    from scraping_etl_spark.operators.dedup import winnow_candidate_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j"), (3, "z y x w v u t s")],
        "doc_id long, text string",
    )
    pairs = winnow_candidate_pairs(df, k=4, w=4, min_shared=2).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


# ---------------------------------------------------------------------------
# Gumbel-top-k weighted sample (operators/curation.py — registered r8)
# ---------------------------------------------------------------------------

def test_gumbel_sample_deterministic_and_seed_sensitive(spark):
    from scraping_etl_spark.operators.curation import weighted_sample_gumbel

    df = spark.createDataFrame(
        [(i, float(i % 13)) for i in range(200)], "doc_id long, log_weight double"
    )
    a = {r.doc_id for r in weighted_sample_gumbel(df, 20, seed="s1").collect()}
    b = {r.doc_id for r in weighted_sample_gumbel(df.repartition(7), 20, seed="s1").collect()}
    c = {r.doc_id for r in weighted_sample_gumbel(df, 20, seed="s2").collect()}
    assert a == b          # partitioning-invariant
    assert a != c          # seed actually matters
    assert len(a) == 20


def test_gumbel_key_monotone_in_weight(spark):
    """Same id, larger weight -> strictly larger key (the noise is a
    pure function of the id, so weight shifts are order-preserving)."""
    from scraping_etl_spark.operators.curation import weighted_sample_gumbel

    lo = spark.createDataFrame([(1, 0.0)], "doc_id long, log_weight double")
    hi = spark.createDataFrame([(1, 5.0)], "doc_id long, log_weight double")
    k_lo = weighted_sample_gumbel(lo, 1).collect()[0].gumbel_key
    k_hi = weighted_sample_gumbel(hi, 1).collect()[0].gumbel_key
    assert k_hi > k_lo


def test_gumbel_rejects_bad_n(spark):
    import pytest
    from scraping_etl_spark.operators.curation import weighted_sample_gumbel

    df = spark.createDataFrame([(1, 0.0)], "doc_id long, log_weight double")
    with pytest.raises(ValueError):
        weighted_sample_gumbel(df, 0)


# ---------------------------------------------------------------------------
# phrase_match (positional phrase search)
# ---------------------------------------------------------------------------

def _phrase_docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "quick the brown fox"),        # terms present, order wrong
            (3, "THE QUICK the quick brown"),  # case + second occurrence
            (4, "a a a b"),                    # overlapping repeated term
            (5, ""),
        ],
        "doc_id long, text string",
    )


def _phrases(spark, rows):
    return spark.createDataFrame(rows, "phrase_id int, terms array<string>")


def test_phrase_match_requires_consecutive_order(spark):
    from scraping_etl_spark.operators.search import phrase_match

    out = phrase_match(
        _phrase_docs(spark), _phrases(spark, [(0, ["quick", "brown"])])
    ).collect()
    got = {r.doc_id: (r.n_matches, r.first_pos) for r in out}
    # doc 2 has both words ("quick the brown": quick@0, brown@2) but
    # never consecutive in phrase order -> no match
    assert got == {1: (1, 1), 3: (1, 3)}


def test_phrase_match_counts_overlapping_occurrences(spark):
    from scraping_etl_spark.operators.search import phrase_match

    out = phrase_match(
        _phrase_docs(spark), _phrases(spark, [(7, ["a", "a"])])
    ).collect()
    assert {r.doc_id: (r.n_matches, r.first_pos) for r in out} == {4: (2, 0)}


def test_phrase_match_repeated_term_needs_both_positions(spark):
    from scraping_etl_spark.operators.search import phrase_match

    docs = spark.createDataFrame(
        [(1, "x a y a z"), (2, "a a")], "doc_id long, text string"
    )
    out = phrase_match(docs, _phrases(spark, [(0, ["a", "a"])])).collect()
    # doc 1 has two 'a's but never adjacent -> no match
    assert {r.doc_id: r.n_matches for r in out} == {2: 1}


def test_phrase_match_lowercases_and_skips_absent(spark):
    from scraping_etl_spark.operators.search import phrase_match

    out = phrase_match(
        _phrase_docs(spark),
        _phrases(spark, [(0, ["The", "QUICK"]), (1, ["missing", "words"])]),
    ).collect()
    got = {(r.phrase_id, r.doc_id): r.n_matches for r in out}
    assert got == {(0, 1): 1, (0, 3): 2}


# ---------------------------------------------------------------------------
# Hashed (fastText-shape) classifier
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_hashed_classifier_separates_and_is_deterministic(spark):
    base = _labeled_quality(spark)
    texts = base.select("doc_id", "text")
    sp, idf_df = CLF.hashing_tfidf(texts, n_features=16, return_idf=True)
    import math as _m

    idf_rows = {r["slot"]: float(r["_idf"]) for r in idf_df.collect()}
    n_docs = texts.count()
    default = _m.log(float(n_docs + 1)) + 1.0
    idf = [idf_rows.get(s, default) for s in range(16)]
    dense = CLF.dense_from_sparse(sp, 16)
    from pyspark.sql import functions as F

    zeros = F.array(*[F.lit(0.0)] * 16)
    labeled = base.join(dense, "doc_id", "left").select(
        "label",
        F.concat(F.array(F.lit(1.0)), F.coalesce("dense", zeros)).alias(
            "features"
        ),
    )
    w = CLF.train_logreg(labeled, dim=17, iters=20)
    scored = CLF.score_hashed_logreg(base, idf, w, 16).join(
        base.select("doc_id", "label"), "doc_id"
    )
    rows = scored.collect()
    real = [r.quality_prob for r in rows if r.label == 1]
    fake = [r.quality_prob for r in rows if r.label == 0]
    # hashed bag-of-words separates the md5-noise negatives
    assert min(real) > max(fake)
    again = CLF.score_hashed_logreg(base.repartition(7), idf, w, 16).collect()
    assert {(r.doc_id, r.quality_prob) for r in again} == {
        (r.doc_id, r.quality_prob) for r in rows
    }


def test_hashed_classifier_empty_doc_scores_bias(spark):
    import math as _m

    df = spark.createDataFrame([(1, "")], "doc_id LONG, text STRING")
    w = [0.4] + [1.0] * 8
    got = CLF.score_hashed_logreg(df, [1.0] * 8, w, 8).collect()[0]
    assert got.quality_prob == round(1.0 / (1.0 + _m.exp(-0.4)), 6)


def test_hashed_classifier_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError):
        CLF.score_hashed_logreg(df, [1.0] * 3, [0.0] * 5, 4)
    with pytest.raises(ValueError):
        CLF.score_hashed_logreg(df, [1.0] * 4, [0.0] * 4, 4)


# ---------------------------------------------------------------------------
# Duplicated-span removal
# ---------------------------------------------------------------------------

def test_remove_duplicate_spans_cuts_shared_passage_only(spark):
    shared = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"{shared} epsilon zeta eta theta iota"),
            (3, "totally unrelated text with no overlap here"),
            (4, "tiny doc"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in CU.remove_duplicate_spans(df, k=5).collect()}
    # the shared 5-gram is cut from both carriers, the rest survives
    assert out[1].text_kept == "alpha beta gamma delta"
    assert out[1].n_dropped == 5
    assert out[2].text_kept == "epsilon zeta eta theta iota"
    assert out[3].n_dropped == 0
    assert out[3].text_kept == out[3].text_kept.lower()
    assert out[4].n_tokens == 2 and out[4].n_dropped == 0


def test_remove_duplicate_spans_within_doc_repeat_not_cut(spark):
    # duplication must be CROSS-document (min_docs=2 distinct docs)
    df = spark.createDataFrame(
        [(1, "a b c d e x a b c d e"), (2, "unrelated words entirely here now")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in CU.remove_duplicate_spans(df, k=5).collect()}
    assert out[1].n_dropped == 0


def test_remove_duplicate_spans_validates(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError):
        CU.remove_duplicate_spans(df, k=0)
    with pytest.raises(ValueError):
        CU.remove_duplicate_spans(df, min_docs=1)


# ---------------------------------------------------------------------------
# Hybrid retrieval (BM25 -> PRF rerank)
# ---------------------------------------------------------------------------

def test_hybrid_prf_reranks_by_embedding(spark):
    from scraping_etl_spark.operators.search import hybrid_prf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana fruit market"),
            (2, "apple orchard harvest season"),
            (3, "apple pie recipe baking"),
            (4, "unrelated quantum physics lecture"),
        ],
        "doc_id LONG, text STRING",
    )
    # doc 1 is the lexical top hit; doc 3's vector is closest to doc 1,
    # doc 2's is opposite — the rerank must promote 3 over 2
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [-1.0, 0.0]),
            (3, [0.9, 0.1]),
            (4, [0.0, 1.0]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    qs = spark.createDataFrame([(0, ["apple"])], "query_id INT, terms ARRAY<STRING>")
    out = hybrid_prf_topk(docs, qs, emb, k_lex=4, k=3).orderBy("rank").collect()
    assert [r.doc_id for r in out] == [1, 3, 2] or [r.doc_id for r in out][0] == 1
    assert out[0].cos_sim == 1.0  # PRF doc ranks itself first
    ranks = {r.doc_id: r.rank for r in out}
    assert ranks[3] < ranks[2]
    import pytest as _pt

    with _pt.raises(ValueError):
        hybrid_prf_topk(docs, qs, emb, k_lex=0)


def test_term_screen_word_boundaries_and_counts(spark):
    from scraping_etl_spark.operators.curation import term_screen

    df = spark.createDataFrame(
        [
            (1, "Spark beats spark classic"),   # 2 hits, 1 term (cased)
            (2, "sparkling water"),             # substring, NOT a hit
            (3, "clean document here"),
            (4, "spark and vector and vector"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in term_screen(df, ["spark", "vector"]).collect()}
    assert (out[1].n_hits, out[1].n_terms, out[1].keep) == (2, 1, False)
    assert (out[2].n_hits, out[2].keep) == (0, True)
    assert out[3].keep
    assert (out[4].n_hits, out[4].n_terms) == (3, 2)
    assert term_screen(df, ["spark"], max_hits=2).filter("doc_id = 1").collect()[0].keep
    with pytest.raises(ValueError):
        term_screen(df, [])

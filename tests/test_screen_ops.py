"""Round-9 operator units: Bloom screen (operators/bloom.py),
canonical normalization (operators/normalize.py), PMI collocations
(textstats.pmi_collocations), containment pairs
(dedup.containment_pairs)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark.operators import bloom as BL
from scraping_etl_spark.operators import normalize as NORM
from scraping_etl_spark.operators.dedup import containment_pairs, jaccard, word_shingles
from scraping_etl_spark.operators.textstats import pmi_collocations


def _keys(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "key string")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# bloom
# ---------------------------------------------------------------------------

def test_bloom_no_false_negative(spark):
    members = [f"m{i}" for i in range(200)]
    filt = BL.bloom_build(_keys(spark, members), m_bits=1 << 12, k_hashes=4)
    out = BL.bloom_screen(
        _keys(spark, members), filt, m_bits=1 << 12, k_hashes=4
    ).collect()
    assert all(r.bloom_hit for r in out)  # the Bloom invariant


def test_bloom_fp_rate_within_bound(spark):
    """Non-members hit at ~(1-e^(-kn/m))^k; assert within 3x the
    formula (probabilistic but deterministic for fixed seeds/corpus)."""
    m_bits, k, n = 1 << 12, 4, 200
    members = [f"m{i}" for i in range(n)]
    probes = [f"x{i}" for i in range(2000)]
    filt = BL.bloom_build(_keys(spark, members), m_bits=m_bits, k_hashes=k)
    out = BL.bloom_screen(_keys(spark, probes), filt, m_bits=m_bits, k_hashes=k)
    fp = out.filter("bloom_hit").count() / 2000
    bound = (1 - math.exp(-k * n / m_bits)) ** k
    assert fp <= 3 * bound + 0.001, (fp, bound)


def test_bloom_filters_merge_by_union(spark):
    """Disjoint builds OR together: union+distinct equals the build
    over the union corpus (cell-exact, the CMS-merge analogue)."""
    a, b = [f"a{i}" for i in range(50)], [f"b{i}" for i in range(50)]
    fa = BL.bloom_build(_keys(spark, a), m_bits=1 << 10, k_hashes=3)
    fb = BL.bloom_build(_keys(spark, b), m_bits=1 << 10, k_hashes=3)
    merged = fa.unionByName(fb).distinct()
    full = BL.bloom_build(_keys(spark, a + b), m_bits=1 << 10, k_hashes=3)
    assert sorted(r.bit for r in merged.collect()) == sorted(
        r.bit for r in full.collect()
    )


def test_bloom_size_bounded_and_validates(spark):
    filt = BL.bloom_build(_keys(spark, [f"k{i}" for i in range(5000)]),
                          m_bits=64, k_hashes=3)
    assert filt.count() <= 64
    with pytest.raises(ValueError):
        BL.bloom_build(_keys(spark, ["x"]), m_bits=1)
    with pytest.raises(ValueError):
        BL.bloom_build(_keys(spark, ["x"]), k_hashes=0)


@pytest.mark.slow
def test_bloom_screen_shuffle_fallback_past_cap(spark, monkeypatch):
    """A bit relation past the measured cap must lose the broadcast
    hint and still screen identically."""
    members = [f"m{i}" for i in range(100)]
    filt = BL.bloom_build(_keys(spark, members), m_bits=1 << 10, k_hashes=3)
    probes = _keys(spark, members + ["absent1", "absent2"])
    hinted = BL.bloom_screen(probes, filt, m_bits=1 << 10, k_hashes=3)
    monkeypatch.setattr(BL, "MAX_BROADCAST_BITS", 5)
    capped = BL.bloom_screen(probes, filt, m_bits=1 << 10, k_hashes=3)
    assert sorted(map(tuple, hinted.collect())) == sorted(
        map(tuple, capped.collect())
    )


# ---------------------------------------------------------------------------
# normalize
# ---------------------------------------------------------------------------

def test_normalize_text_canonical_form(spark):
    rows = spark.createDataFrame(
        [("Héllo,  WORLD!?",), ("hello world",), ("  hello   world  ",)],
        "text string",
    )
    out = [r.n for r in rows.select(NORM.normalize_text("text").alias("n")).collect()]
    assert out == ["hello world"] * 3


def test_normalize_accent_map_lengths_match():
    assert len(NORM.ACCENT_FROM) == len(NORM.ACCENT_TO)


def test_normalized_dup_families_and_canonical(spark):
    df = _docs(spark, [
        (1, "Crème brûlée!"), (2, "creme brulee"), (3, "CREME  BRULEE"),
        (4, "something else"),
    ])
    out = {r.doc_id: r for r in NORM.normalized_dup_families(df).collect()}
    assert out[1].n_family == 3 and out[1].is_canonical
    assert out[2].n_family == 3 and not out[2].is_canonical
    assert out[4].n_family == 1 and out[4].is_canonical


def test_normalize_is_zero_shuffle(spark):
    df = _docs(spark, [(1, "A b")])
    plan = (
        df.select(NORM.normalize_text("text"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# pmi collocations
# ---------------------------------------------------------------------------

def test_pmi_hand_computed(spark):
    """Corpus: 'a b' x4 and 'c d' x2 and 'a d' x2 (one doc each pair).
    N=8 bigrams; unigrams a=6, b=4, c=2, d=4. pmi(c,d)=ln(8*2/(2*4))
    =ln(2); pmi(a,b)=ln(8*4/(6*4))=ln(4/3); pmi(a,d)=ln(8*2/(6*4))
    =ln(2/3)<0."""
    rows = [(i, "a b") for i in range(4)]
    rows += [(10 + i, "c d") for i in range(2)]
    rows += [(20 + i, "a d") for i in range(2)]
    out = {(r.w1, r.w2): r for r in
           pmi_collocations(_docs(spark, rows), k=10, min_count=2).collect()}
    assert out[("c", "d")].pmi == round(math.log(2), 6)
    assert out[("a", "b")].pmi == round(math.log(4 / 3), 6)
    assert out[("a", "d")].pmi == round(math.log(2 / 3), 6)
    assert out[("c", "d")].rank == 1


def test_pmi_min_count_floor(spark):
    rows = [(1, "x y"), (2, "p q p q p q")]
    out = pmi_collocations(_docs(spark, rows), k=10, min_count=2).collect()
    pairs = {(r.w1, r.w2) for r in out}
    assert ("x", "y") not in pairs  # count 1 < floor
    assert ("p", "q") in pairs


def test_pmi_bigrams_do_not_cross_documents(spark):
    out = pmi_collocations(
        _docs(spark, [(1, "a b"), (2, "b a")] * 3), k=10, min_count=2
    ).collect()
    cab = {(r.w1, r.w2): r.c_ab for r in out}
    # 'b a' bigram exists only inside doc 2's text, never across docs
    assert cab[("a", "b")] == 3 and cab[("b", "a")] == 3


def test_pmi_validates_args(spark):
    d = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        pmi_collocations(d, k=0)
    with pytest.raises(ValueError):
        pmi_collocations(d, min_count=0)


# ---------------------------------------------------------------------------
# containment
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A 6-token quote inside a 40-token doc: containment 1.0, Jaccard
    tiny — the asymmetric case."""
    long_txt = " ".join(f"w{i}" for i in range(40))
    quote = " ".join(f"w{i}" for i in range(6))
    df = _docs(spark, [(1, long_txt), (2, quote)])
    out = containment_pairs(df, k=3, tau=0.9).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2) and r.containment == 1.0
    jac = (
        df.alias("a").crossJoin(df.alias("b"))
        .filter("a.doc_id < b.doc_id")
        .select(jaccard(word_shingles(F.col("a.text"), 3),
                        word_shingles(F.col("b.text"), 3)).alias("j"))
        .collect()[0].j
    )
    assert jac < 0.15  # resemblance would never flag this pair


def test_containment_denominator_is_smaller_doc(spark):
    """Half-overlap: doc2 shares its first 5 of 10 tokens with doc1's
    8; shared 3-grams = 3, min grams = 6 (doc1 has 6, doc2 8)."""
    d1 = " ".join(f"w{i}" for i in range(8))
    d2 = " ".join(f"w{i}" for i in range(5)) + " x1 x2 x3 x4 x5"
    out = containment_pairs(_docs(spark, [(1, d1), (2, d2)]), k=3, tau=0.3).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_shared == 3 and r.n_a == 6 and r.n_b == 8
    assert r.containment == 0.5


def test_containment_too_common_grams_dropped(spark):
    """A gram in > max_docs_per_gram docs contributes no candidates."""
    df = _docs(spark, [(i, "same four token text") for i in range(10)])
    out = containment_pairs(df, k=4, tau=0.1, max_docs_per_gram=4).collect()
    assert out == []


def test_containment_no_cartesian_in_plan(spark):
    df = _docs(spark, [(i, f"u{i} v{i} w{i} x{i} y{i}") for i in range(20)])
    plan = (
        containment_pairs(df, k=3, tau=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_validates_args(spark):
    d = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError):
        containment_pairs(d, k=0)
    with pytest.raises(ValueError):
        containment_pairs(d, tau=0.0)

"""Units for the round-8 additions: count-min sketch
(operators/sketches.py), consecutive-repeat collapse and the adaptive
per-stratum quality gate (operators/corpus_prep.py) — the edge cases
the DuckDB hash gates can't distinguish (empty inputs, degenerate
geometry, tie handling, the CMS error contract under forced
collisions)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark.operators import corpus_prep as CP
from scraping_etl_spark.operators import sketches as SK
from scraping_etl_spark.operators.textstats import with_quality_score


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# collapse_repeat_tokens
# ---------------------------------------------------------------------------

def test_collapse_basic_run(spark):
    df = _docs(spark, [(1, "the the the cat sat sat on the mat")])
    row = CP.collapse_repeat_tokens(df).collect()[0]
    assert row.text_collapsed == "the cat sat on the mat"
    assert row.n_collapsed == 3


def test_collapse_preserves_nonadjacent_repeats(spark):
    """Only CONSECUTIVE repeats collapse — a token reappearing later
    stays (that's content, not stutter)."""
    df = _docs(spark, [(1, "a b a b a")])
    row = CP.collapse_repeat_tokens(df).collect()[0]
    assert row.text_collapsed == "a b a b a"
    assert row.n_collapsed == 0


def test_collapse_single_token_and_empty(spark):
    df = _docs(spark, [(1, "word"), (2, ""), (3, "   ")])
    rows = {r.doc_id: r for r in CP.collapse_repeat_tokens(df).collect()}
    assert rows[1].text_collapsed == "word"
    assert rows[1].n_collapsed == 0
    assert rows[2].text_collapsed == ""
    assert rows[2].n_collapsed == 0
    assert rows[3].text_collapsed == ""
    assert rows[3].n_collapsed == 0


def test_collapse_whole_doc_one_run(spark):
    df = _docs(spark, [(1, "x x x x x")])
    row = CP.collapse_repeat_tokens(df).collect()[0]
    assert row.text_collapsed == "x"
    assert row.n_collapsed == 4


def test_collapse_is_zero_shuffle(spark):
    """Plan contract: no Exchange anywhere — the collapse is a pure
    projection."""
    df = _docs(spark, [(1, "a a b")])
    plan = CP.collapse_repeat_tokens(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_collapse_idempotent(spark):
    """Collapsing twice is the same as once (fixpoint after one pass:
    no adjacent equal pair survives)."""
    df = _docs(spark, [(1, "a a a b b c a a")])
    once = CP.collapse_repeat_tokens(df).select(
        "doc_id", F.col("text_collapsed").alias("text")
    )
    twice = CP.collapse_repeat_tokens(once).collect()[0]
    assert twice.text_collapsed == "a b c a"
    assert twice.n_collapsed == 0


# ---------------------------------------------------------------------------
# adaptive_quality_gate
# ---------------------------------------------------------------------------

def _scored(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    return with_quality_score(df)


def test_adaptive_gate_per_stratum_cutoff(spark):
    """Each language gets its OWN cutoff: a stratum of low scorers
    still keeps ~half its docs rather than being wiped by the other
    stratum's threshold."""
    rich = [(i, "en", "the quick brown fox jumps over lazy dog number %d" % i)
            for i in range(10)]
    poor = [(100 + i, "xx", "blah blah") for i in range(10)]
    out = CP.adaptive_quality_gate(_scored(spark, rich + poor), keep_frac=0.5)
    by_lang = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    # ties can push kept count above half, never below
    assert by_lang.get("en", 0) >= 5
    assert by_lang.get("xx", 0) >= 5  # identical scores → all tie at threshold


def test_adaptive_gate_keep_all(spark):
    out = CP.adaptive_quality_gate(
        _scored(spark, [(1, "en", "one two"), (2, "en", "three four")]),
        keep_frac=1.0,
    )
    assert out.count() == 2


def test_adaptive_gate_threshold_is_observed_score(spark):
    """percentile_disc contract: the threshold is an actual score from
    the stratum (no interpolation), and every survivor clears it."""
    rows = [(i, "en", " ".join(f"w{j}" for j in range(i + 1))) for i in range(8)]
    out = CP.adaptive_quality_gate(_scored(spark, rows), keep_frac=0.25)
    got = out.collect()
    assert got, "gate must keep at least the top quartile"
    scores = {r.quality_score for r in _scored(spark, rows).collect()}
    for r in got:
        assert r.threshold in scores
        assert r.quality_score >= r.threshold


def test_adaptive_gate_rejects_bad_frac(spark):
    df = _scored(spark, [(1, "en", "a b")])
    with pytest.raises(ValueError):
        CP.adaptive_quality_gate(df, keep_frac=0.0)
    with pytest.raises(ValueError):
        CP.adaptive_quality_gate(df, keep_frac=1.5)


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

def test_cms_never_undercounts_and_respects_eps(spark):
    """The two-sided CMS contract on a corpus with known counts, using
    a DELIBERATELY tiny width so collisions actually occur."""
    rows = [(i, ("alpha " * 50 + "beta " * 20 + f"tail{i % 37}").strip())
            for i in range(40)]
    df = _docs(spark, rows)
    width, depth = 16, 4
    sk = SK.cms_build(df, width=width, depth=depth)
    exact = (
        df.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    est = SK.cms_estimate(exact, sk, width=width, depth=depth).collect()
    n_total = sum(r.n_occ for r in est)  # exact covers every token
    eps_n = math.e / width * n_total
    for r in est:
        assert r.cms_est >= r.n_occ, r
        assert r.cms_est <= r.n_occ + eps_n, (r, eps_n)


def test_cms_sketch_size_bounded(spark):
    """The sketch relation never exceeds depth x width rows no matter
    the vocabulary."""
    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(50)]
    sk = SK.cms_build(_docs(spark, rows), width=32, depth=3)
    assert sk.count() <= 32 * 3


def test_cms_unseen_token_estimates_present(spark):
    """A candidate never seen in the corpus gets a (possibly colliding,
    never-null) estimate after the left join + coalesce."""
    df = _docs(spark, [(1, "a a b")])
    sk = SK.cms_build(df, width=8, depth=2)
    cands = spark.createDataFrame([("zzz-not-there",)], "token string")
    row = SK.cms_estimate(cands, sk, width=8, depth=2).collect()[0]
    assert row.cms_est is not None and row.cms_est >= 0


def test_cms_rejects_bad_geometry(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        SK.cms_build(df, width=1)
    with pytest.raises(ValueError):
        SK.cms_build(df, depth=0)


def test_cms_estimate_rejects_geometry_mismatch(spark):
    """A sketch probed with geometry it wasn't built with silently
    breaks the never-undercount guarantee — the probe must raise
    instead of returning wrong estimates."""
    df = _docs(spark, [(1, "a b c d e")])
    sk = SK.cms_build(df, width=16, depth=3)
    cands = spark.createDataFrame([("a",)], "token string")
    with pytest.raises(ValueError, match="geometry mismatch"):
        SK.cms_estimate(cands, sk, width=16, depth=5)  # wrong depth
    with pytest.raises(ValueError, match="geometry mismatch"):
        SK.cms_estimate(cands, sk, width=8, depth=3)  # narrower width
    # matching geometry still works; empty sketch is unverifiable but
    # harmless (all estimates coalesce to 0)
    assert SK.cms_estimate(cands, sk, width=16, depth=3).collect()[0].cms_est >= 1
    empty = sk.filter(F.lit(False))
    row = SK.cms_estimate(cands, empty, width=16, depth=3).collect()[0]
    assert row.cms_est == 0


def test_cms_deterministic_across_repartition(spark):
    """Plan-constant hashes: the sketch is identical no matter the
    input partitioning."""
    rows = [(i, f"w{i % 7} w{i % 5} common") for i in range(60)]
    a = SK.cms_build(_docs(spark, rows).repartition(1), width=64, depth=3)
    b = SK.cms_build(_docs(spark, rows).repartition(13), width=64, depth=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# pagerank (operators/graph.py)
# ---------------------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


@pytest.mark.slow
def test_pagerank_mass_conserved_and_hub_wins(spark):
    from scraping_etl_spark.operators.graph import PR_SCALE, pagerank

    e = _edges(spark, [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")])
    r = {x["node"]: x["rank_fx"] for x in pagerank(e, n_iter=40).collect()}
    # mass conserved up to floor-division dust (<= n_nodes ulps/round)
    assert abs(sum(r.values()) - PR_SCALE) <= 40 * 4
    # converged ordering: hub > a > b = c (analytic fixpoint
    # hub ~ 0.4794, a ~ 0.4456, b = c = teleport 0.0375)
    assert r["hub"] > r["a"] > r["b"] == r["c"]


def test_pagerank_empty_edges_raises(spark):
    from scraping_etl_spark.operators.graph import pagerank

    with pytest.raises(ValueError, match="edges is empty"):
        pagerank(_edges(spark, []).filter(F.lit(False)), n_iter=2).collect()


def test_pagerank_dangling_mass_redistributes(spark):
    from scraping_etl_spark.operators.graph import PR_SCALE, pagerank

    e = _edges(spark, [("a", "d"), ("b", "d")])  # d has no out-edges
    r = {x["node"]: x["rank_fx"] for x in pagerank(e, n_iter=5).collect()}
    assert abs(sum(r.values()) - PR_SCALE) <= 5 * 3
    assert r["d"] > r["a"] == r["b"]


def test_pagerank_deterministic_across_partitioning(spark):
    from scraping_etl_spark.operators.graph import pagerank

    pairs = [(f"h{i % 7}", f"h{(i * 3) % 7}") for i in range(100)]
    a = {x["node"]: x["rank_fx"]
         for x in pagerank(_edges(spark, pairs), n_iter=8).collect()}
    b = {x["node"]: x["rank_fx"]
         for x in pagerank(_edges(spark, pairs).repartition(11), n_iter=8).collect()}
    assert a == b


@pytest.mark.slow
def test_pagerank_parallel_edges_weigh_double(spark):
    """Duplicate edges are parallel links: two a->b links send twice
    the per-link mass a->c gets from one."""
    from scraping_etl_spark.operators.graph import pagerank

    e = _edges(spark, [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")])
    r = {x["node"]: x["rank_fx"] for x in pagerank(e, n_iter=30).collect()}
    assert r["b"] > r["c"]


def test_pagerank_rejects_bad_iter(spark):
    from scraping_etl_spark.operators.graph import pagerank

    with pytest.raises(ValueError):
        pagerank(_edges(spark, [("a", "b")]), n_iter=0)


# ---------------------------------------------------------------------------
# heavy_hitter_candidates (containment guarantee)
# ---------------------------------------------------------------------------

def test_hh_candidates_contain_global_topm(spark):
    """The guarantee the gate relies on: global top-m (count desc,
    token asc) ⊆ per-bucket top-m candidates, for a skewed vocabulary
    and a bucket count small enough to force real contention."""
    from scraping_etl_spark.operators.textstats import vocab_topk

    rows = [(i, " ".join(f"w{j}" for j in range(i % 40)) + " hot " * (i % 7))
            for i in range(120)]
    df = _docs(spark, rows)
    for m in (1, 5, 10):
        cand = {r.token for r in
                SK.heavy_hitter_candidates(df, m=m, n_buckets=4).collect()}
        top = {r.token for r in vocab_topk(df, k=m).collect()}
        assert top <= cand, (m, top - cand)


def test_hh_candidates_bounded_output(spark):
    df = _docs(spark, [(i, " ".join(f"t{i}_{j}" for j in range(20)))
                       for i in range(50)])
    n = SK.heavy_hitter_candidates(df, m=3, n_buckets=8).count()
    assert n <= 3 * 8


def test_hh_candidates_rejects_bad_args(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        SK.heavy_hitter_candidates(df, m=0)
    with pytest.raises(ValueError):
        SK.heavy_hitter_candidates(df, m=1, n_buckets=0)


# ---------------------------------------------------------------------------
# sliding_chunks (RAG chunking)
# ---------------------------------------------------------------------------

def test_sliding_chunks_overlap_and_tail(spark):
    """Grid starts at stride, right-aligned tail window when the grid
    misses the end; every token covered; no empty chunks."""
    df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(9)))])
    got = sorted(CP.sliding_chunks(df, size=4, stride=3).collect(),
                 key=lambda r: r.chunk_idx)
    assert [r.chunk_text for r in got] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t5 t6 t7 t8"
    ]
    covered = set(" ".join(r.chunk_text for r in got).split())
    assert covered == {f"t{i}" for i in range(9)}


def test_sliding_chunks_exact_grid_no_duplicate_tail(spark):
    """When the grid lands exactly on the last start, no duplicate
    tail chunk is emitted."""
    df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(10)))])
    got = CP.sliding_chunks(df, size=4, stride=3).collect()
    assert len(got) == 3
    assert len({r.chunk_idx for r in got}) == 3


def test_sliding_chunks_short_and_empty_docs(spark):
    df = _docs(spark, [(1, "a b"), (2, "")])
    got = CP.sliding_chunks(df, size=4, stride=3).collect()
    assert len(got) == 1  # empty doc yields no chunk
    assert got[0].chunk_text == "a b" and got[0].n_tokens == 2


def test_sliding_chunks_zero_shuffle(spark):
    df = _docs(spark, [(1, "a b c d e")])
    plan = CP.sliding_chunks(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sliding_chunks_rejects_bad_args(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        CP.sliding_chunks(df, size=0)
    with pytest.raises(ValueError):
        CP.sliding_chunks(df, size=4, stride=5)
    with pytest.raises(ValueError):
        CP.sliding_chunks(df, size=4, stride=0)


# ---------------------------------------------------------------------------
# hashing_tfidf (operators/classifier.py)
# ---------------------------------------------------------------------------

def test_hashing_tfidf_collisions_sum_tf(spark):
    """Tokens hashing to the same slot add their counts — a 2-slot
    space forces collisions; total tf mass per doc is preserved."""
    from scraping_etl_spark.operators.classifier import hashing_tfidf

    df = _docs(spark, [(1, "a b c"), (2, "d d")])
    rows = hashing_tfidf(df, n_features=2).collect()
    per_doc: dict[int, int] = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tf
    assert per_doc == {1: 3, 2: 2}


def test_hashing_tfidf_idf_monotone(spark):
    """A slot present in every doc gets the minimum idf (1.0 exactly:
    ln((N+1)/(N+1)) + 1); rarer slots score higher."""
    from scraping_etl_spark.operators.classifier import hashing_tfidf

    df = _docs(spark, [(1, "common rare1"), (2, "common"), (3, "common")])
    out = hashing_tfidf(df, n_features=1024).collect()
    by_tf = {}
    for r in out:
        by_tf.setdefault(r.slot, []).append(r)
    # the slot appearing in all 3 docs has tfidf == tf * 1.0
    full = [rs for rs in by_tf.values() if len(rs) == 3]
    assert full and all(r.tfidf == r.tf * 1.0 for r in full[0])


def test_hashing_tfidf_idf_table_bounded(spark):
    from scraping_etl_spark.operators.classifier import hashing_tfidf

    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(40)]
    out = hashing_tfidf(_docs(spark, rows), n_features=16)
    assert out.select("slot").distinct().count() <= 16


def test_hashing_tfidf_rejects_bad_width(spark):
    from scraping_etl_spark.operators.classifier import hashing_tfidf

    with pytest.raises(ValueError):
        hashing_tfidf(_docs(spark, [(1, "a")]), n_features=1)


# ---------------------------------------------------------------------------
# Character entropy
# ---------------------------------------------------------------------------

def test_char_entropy_known_values(spark):
    import math

    from scraping_etl_spark.operators.textstats import with_char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),        # single class -> H = 0
            (2, "abab"),        # two classes, p = 1/2 each -> ln 2
            (3, ""),            # empty -> 0 by convention
            (4, "ab12"),        # a, b, other(2): 1/4,1/4,1/2
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in with_char_entropy(df).collect()}
    assert out[1].char_entropy == 0.0 and out[1].alpha_frac == 1.0
    assert out[2].char_entropy == round(math.log(2), 6)
    assert out[3].char_entropy == 0.0 and out[3].alpha_frac == 0.0
    h4 = -(0.25 * math.log(0.25) * 2 + 0.5 * math.log(0.5))
    assert out[4].char_entropy == round(h4, 6)
    assert out[4].alpha_frac == 0.5


def test_char_entropy_case_insensitive_and_stable(spark):
    from scraping_etl_spark.operators.textstats import with_char_entropy

    df = spark.createDataFrame(
        [(1, "AbAb"), (2, "abab")], "doc_id LONG, text STRING"
    )
    out = {r.doc_id: r for r in with_char_entropy(df).collect()}
    assert out[1].char_entropy == out[2].char_entropy


def test_keyword_extract_ranks_rare_terms_first(spark):
    from scraping_etl_spark.operators.textstats import keyword_extract

    df = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common quark quark"),
            (3, "common plain words"),
        ],
        "doc_id LONG, text STRING",
    )
    out = keyword_extract(df, top_k=2).collect()
    top = {(r.doc_id, r.rank): r.token for r in out}
    import math

    # doc 2: quark tf=2, idf=ln(4/2)+1 -> 2*1.693; beats 'common'
    # (tf=1, idf=ln(4/4)+1=1.0 — in every doc, floor idf)
    assert top[(2, 1)] == "quark" and top[(2, 2)] == "common"
    # doc 3: singleton rare terms tie at idf ln(2)+1; token tie-break
    assert top[(3, 1)] == "plain" and top[(3, 2)] == "words"
    scores = {(r.doc_id, r.token): r.tfidf for r in out}
    assert scores[(2, "quark")] == round(2 * (math.log(2) + 1), 6)
    assert scores[(2, "common")] == 1.0
    import pytest as _pt

    with _pt.raises(ValueError):
        keyword_extract(df, top_k=0)


# ---------------------------------------------------------------------------
# HITS hubs/authorities (graph.hits)
# ---------------------------------------------------------------------------

def _ref_hits(edges, n_iter, scale):
    """Pure-Python loop oracle with the SAME integer arithmetic."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    hub = {n: scale for n in nodes}
    auth = {}
    for _ in range(n_iter):
        auth_raw = {}
        for u, v in edges:
            auth_raw[v] = auth_raw.get(v, 0) + hub.get(u, 0)
        t = sum(auth_raw.values()) or 1
        q = max(t // scale, 1)
        auth = {v: x // q for v, x in auth_raw.items()}
        hub_raw = {}
        for u, v in edges:
            hub_raw[u] = hub_raw.get(u, 0) + auth.get(v, 0)
        t = sum(hub_raw.values()) or 1
        q = max(t // scale, 1)
        hub = {u: x // q for u, x in hub_raw.items()}
    return {n: (hub.get(n, 0), auth.get(n, 0)) for n in nodes}


def test_hits_matches_loop_oracle_and_separates_roles(spark):
    from scraping_etl_spark.operators.graph import HITS_SCALE, hits

    # two directory hosts each linking three content hosts; one content
    # host also links back out (mixed role); one stray edge
    edges = [
        ("hub1", "art1"), ("hub1", "art2"), ("hub1", "art3"),
        ("hub2", "art1"), ("hub2", "art2"), ("hub2", "art3"),
        ("art1", "misc"), ("stray", "misc"),
    ]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {
        r.node: (r.hub_fx, r.auth_fx)
        for r in hits(df, n_iter=4).collect()
    }
    assert got == _ref_hits(edges, 4, HITS_SCALE)
    # role separation: directories out-hub everything, articles out-auth
    assert got["hub1"][0] == got["hub2"][0] > got["art1"][0]
    assert got["art1"][1] == got["art2"][1] == got["art3"][1] > got["hub1"][1]
    assert got["hub1"][1] == 0          # nothing links the directories
    assert got["stray"][1] == 0


def test_hits_deterministic_under_repartition(spark):
    import random as _r

    from scraping_etl_spark.operators.graph import hits

    rng = _r.Random(5)
    edges = [(f"h{rng.randrange(12)}", f"h{rng.randrange(12)}")
             for _ in range(80)]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    a = {r.node: (r.hub_fx, r.auth_fx)
         for r in hits(df, n_iter=3).collect()}
    b = {r.node: (r.hub_fx, r.auth_fx)
         for r in hits(df.repartition(13), n_iter=3).collect()}
    assert a == b


def test_hits_empty_edges_raises(spark):
    import pyspark.sql.types as T

    from scraping_etl_spark.operators.graph import hits

    empty = spark.createDataFrame([], "src STRING, dst STRING")
    with pytest.raises(ValueError, match="empty"):
        hits(empty)


def test_hits_gate_matches_oracle_staged_for_r14(spark):
    """The registered host_hits gate hashes against its unrolled-CTE
    DuckDB oracle (MATERIALIZED CTEs — DuckDB inlines plain CTEs per
    reference and the chain would re-evaluate exponentially), and the
    planted host-0 authority dominates."""
    import duckdb

    from scraping_etl_spark.plans import curation_ops as CR

    sf = "/root/testdata/sf0.001"
    got = {
        r.host: (r.hub_fx, r.auth_fx, r.hub, r.auth)
        for r in CR.q_host_hits(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(CR.ORACLE_HOST_HITS).fetchall()
    }
    assert got == want
    top = max(got.items(), key=lambda kv: kv[1][1])
    assert top[1][1] > 0

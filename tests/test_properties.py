"""Property-based tests (SURVEY §5.4): hypothesis-driven fuzz of the
S15 SQL-literal escaping round-trip and the generic as-of join against
a brute-force loop oracle. Hypothesis generates the data; Spark runs
once per example set (examples are batched into one DataFrame per test
to keep JVM round-trips sane)."""

from __future__ import annotations

import pytest

try:
    from hypothesis import given, settings, strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# S15 escaping round-trip
# ---------------------------------------------------------------------------

# strings exercising the escaping rules: quotes, doubled quotes, unicode,
# newlines, empty, NULL-looking text
_tricky = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(
            whitelist_categories=("L", "N", "P", "S", "Z"),
            whitelist_characters="'\"\\\n\t",
        ),
        max_size=40,
    ),
)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(st.integers(-10**9, 10**9), _tricky), min_size=1, max_size=8))
@pytest.mark.slow
def test_sql_literal_roundtrip(spark, rows):
    """Rendered INSERT literals parse back to the original values under
    standard SQL unescaping ('' → ')."""
    from scraping_etl_spark.sources.writers import render_sql_inserts

    df = spark.createDataFrame(rows, "n long, s string")
    stmts = [r.stmt for r in render_sql_inserts(df, "t").collect()]
    assert len(stmts) == len(rows)
    got = set()
    for s in stmts:
        assert s.startswith("INSERT INTO t (n, s) VALUES (") and s.endswith(");")
        body = s[len("INSERT INTO t (n, s) VALUES (") : -2]
        n_part, s_part = body.split(", ", 1)
        n_val = None if n_part == "NULL" else int(n_part)
        if s_part == "NULL":
            s_val = None
        else:
            assert s_part[0] == "'" and s_part[-1] == "'"
            s_val = s_part[1:-1].replace("''", "'")
        got.add((n_val, s_val))
    assert got == {(n, s) for n, s in rows}


# ---------------------------------------------------------------------------
# Generic as-of join vs loop oracle
# ---------------------------------------------------------------------------

def _asof_oracle(probe_rows, build_rows, direction, tolerance):
    """Brute-force reference: nearest build `on` at-or-before/after the
    probe per key, ties broken by max value (the operator's tie_break)."""
    out = {}
    for key, p_on, p_id in probe_rows:
        cands = [
            (b_on, v) for k, b_on, v in build_rows
            if k == key
            and (b_on <= p_on if direction == "backward" else b_on >= p_on)
            and (tolerance is None or abs(p_on - b_on) <= tolerance)
        ]
        if not cands:
            out[p_id] = None
            continue
        best_on = max(c[0] for c in cands) if direction == "backward" else min(
            c[0] for c in cands
        )
        out[p_id] = max(v for o, v in cands if o == best_on)
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 10**6)),
        min_size=1, max_size=25, unique_by=lambda t: t[2],
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
        min_size=0, max_size=25,
    ),
    st.sampled_from(["backward", "forward"]),
    st.sampled_from([None, 5.0]),
)
@pytest.mark.slow
def test_asof_join_matches_loop_oracle(spark, probes, builds, direction, tol):
    from scraping_etl_spark.operators.asof import asof_join

    p = spark.createDataFrame(probes, "k int, t int, pid long")
    b = spark.createDataFrame(builds, "k int, t int, v int") if builds else (
        spark.createDataFrame([], "k int, t int, v int")
    )
    got_rows = asof_join(
        p, b, on="t", by="k", value_cols=["v"],
        direction=direction, tolerance=tol, tie_break=["v"],
    ).collect()
    got = {r.pid: r.v for r in got_rows}
    exp = _asof_oracle(probes, builds, direction, tol)
    assert got == exp


# ---------------------------------------------------------------------------
# interval_join vs brute-force loop oracle
# ---------------------------------------------------------------------------

@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=20),           # point ts
    st.lists(st.tuples(st.integers(0, 500), st.integers(0, 200)),    # (start, span)
             min_size=1, max_size=10),
    st.integers(7, 100),                                             # bucket width
)
@pytest.mark.slow
def test_interval_join_matches_loop_oracle(spark, pts, ivs, width):
    """Bucketed range join == the O(n·m) loop for any point/interval
    set and any bucket width (width must not change results, only the
    plan's duplication factor)."""
    from scraping_etl_spark.operators.interval import interval_join

    points = spark.createDataFrame(
        [(i, t) for i, t in enumerate(pts)], "pid long, ts long"
    )
    intervals = spark.createDataFrame(
        [(j, s, s + span) for j, (s, span) in enumerate(ivs)],
        "iid long, lo long, hi long",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(
            points, intervals, "ts", "lo", "hi", bucket_width=width
        ).collect()
    }
    want = {
        (i, j)
        for i, t in enumerate(pts)
        for j, (s, span) in enumerate(ivs)
        if s <= t <= s + span
    }
    assert got == want


# ---------------------------------------------------------------------------
# pack_sequences conservation invariants
# ---------------------------------------------------------------------------

@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.sampled_from(["en", "fr"])),
        min_size=1, max_size=15,
    ),
    st.integers(1, 40),
    st.sampled_from([1, 4]),
)
@pytest.mark.slow
def test_pack_sequences_conserves_tokens_and_docs(spark, docs, budget, n_shards):
    """Packing must conserve under any shard count: every doc appears in
    exactly one sequence, token totals per stratum are preserved, and
    seq ids per (stratum, shard) window partition are the
    floor-division image of that partition's running sum (monotone
    from 0, no duplicates)."""
    from scraping_etl_spark.operators.corpus_prep import pack_sequences

    rows = [
        (i, " ".join(["w"] * n) if n else "", lang)
        for i, (n, lang) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = pack_sequences(df, budget=budget, n_shards=n_shards).collect()

    assert sum(r.n_docs for r in out) == len(docs)
    for lang in {l for _, l in docs}:
        want_tokens = sum(n for n, l in docs if l == lang)
        assert sum(r.seq_tokens for r in out if r.lang == lang) == want_tokens
    for key in {(r.lang, r.shard) for r in out}:
        seqs = sorted(r.seq_id for r in out if (r.lang, r.shard) == key)
        assert seqs[0] == 0 and seqs == sorted(set(seqs))


# ---------------------------------------------------------------------------
# stratified_quantiles vs the direct sorted-list definition
# ---------------------------------------------------------------------------

@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["en", "fr"])),
        min_size=1, max_size=40,
    ),
    st.sampled_from([0.25, 0.5, 0.9, 1.0]),
)
def test_stratified_quantiles_matches_sorted_definition(spark, vals, q):
    """Histogram-CDF quantile == sorted(stratum)[ceil(q·n) - 1] (the
    percentile_disc definition) for every stratum and any q."""
    import math

    from scraping_etl_spark.operators.corpus_prep import stratified_quantiles

    rows = [(i, lang, v) for i, (v, lang) in enumerate(vals)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, v int")
    got = {
        r.lang: (r.value, r.n_rows)
        for r in stratified_quantiles(df, "v", (q,)).collect()
    }
    for lang in {l for _, l in vals}:
        stratum = sorted(v for v, l in vals if l == lang)
        want = stratum[math.ceil(q * len(stratum)) - 1]
        assert got[lang] == (want, len(stratum)), (lang, q, stratum)


# ---------------------------------------------------------------------------
# with_lm_score vs a pure-Python bigram LM
# ---------------------------------------------------------------------------

@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=8),
        min_size=1, max_size=8,
    )
)
@pytest.mark.slow
def test_lm_score_matches_python_reference(spark, docs):
    """Add-one bigram LM computed independently in Python: unigram and
    bigram counts over the whole corpus, V = |vocab|, per-doc mean
    ln((c_bi+1)/(c_w1+V)) — must match the operator exactly (round 6)."""
    import math
    from collections import Counter

    from scraping_etl_spark.operators.corpus_prep import with_lm_score

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.avg_logp) for r in with_lm_score(df).collect()}

    uni = Counter(t for toks in docs for t in toks)
    big = Counter(
        (toks[i], toks[i + 1]) for toks in docs for i in range(len(toks) - 1)
    )
    v = len(uni)
    for i, toks in enumerate(docs):
        bis = [(toks[j], toks[j + 1]) for j in range(len(toks) - 1)]
        if not bis:
            assert got[i] == (0, 0.0)
            continue
        lps = [math.log((big[b] + 1.0) / (uni[b[0]] + v)) for b in bis]
        assert got[i][0] == len(bis)
        assert abs(got[i][1] - round(sum(lps) / len(lps), 6)) < 1e-9, (i, toks)


# ---------------------------------------------------------------------------
# URL canonicalization: idempotence + dedup-key soundness
# ---------------------------------------------------------------------------

_url_host = st.from_regex(r"[A-Za-z][A-Za-z0-9\-]{0,8}(\.[A-Za-z]{2,4}){1,2}", fullmatch=True)
_url_path = st.from_regex(r"(/[A-Za-z0-9._~%\-]{0,6}){0,4}/?", fullmatch=True)
_url_query = st.lists(
    st.from_regex(r"[a-z_]{1,8}=[A-Za-z0-9]{0,6}", fullmatch=True),
    min_size=0, max_size=4,
)


@settings(max_examples=25, deadline=None)
@given(
    st.sampled_from(["http", "https", "HTTP", "HtTpS"]),
    _url_host,
    st.sampled_from(["", ":80", ":443", ":8080"]),
    _url_path,
    _url_query,
    st.sampled_from(["", "#frag", "#a/b?c=d"]),
)
@pytest.mark.slow
def test_canonical_url_is_idempotent(spark, scheme, host, port, path, params, frag):
    """canon(canon(u)) == canon(u) for generated URL-shaped inputs —
    the property that makes the canonical form a stable dedup key
    (a second normalization pass over an already-normalized frontier
    must be a no-op)."""
    from scraping_etl_spark.operators.urls import canonical_url

    u = f"{scheme}://{host}{port}{path}"
    if params:
        u += "?" + "&".join(params)
    u += frag
    df = spark.createDataFrame([(u,)], "u string")
    once = df.select(canonical_url("u").alias("c"))
    row = once.select(
        "c", canonical_url("c").alias("c2")
    ).collect()[0]
    assert row.c2 == row.c, (u, row.c, row.c2)


# ---------------------------------------------------------------------------
# SCD2: random update sequences vs a Python reference
# ---------------------------------------------------------------------------

@settings(max_examples=15, deadline=None)
@given(
    st.lists(  # batches of (key, value) updates
        st.lists(
            st.tuples(st.integers(1, 4), st.sampled_from(["a", "b", "c", None])),
            min_size=1, max_size=4, unique_by=lambda kv: kv[0],
        ),
        min_size=1, max_size=4,
    )
)
@pytest.mark.slow
def test_scd2_matches_python_reference(spark, batches):
    """Fold random update batches through scd2_merge and through an
    independent per-key Python state machine; the version histories
    must agree exactly (dates are the batch index)."""
    import datetime

    from scraping_etl_spark.etl.scd import scd2_merge

    dim = spark.createDataFrame(
        [], "k long, attr string, effective_from date, effective_to date, is_current boolean"
    )
    # python reference: per key, list of [attr, from, to, current]
    ref: dict[int, list] = {}
    for bi, batch in enumerate(batches):
        eff = datetime.date(2000, 1, 1) + datetime.timedelta(days=bi)
        upd = spark.createDataFrame(batch, "k long, attr string")
        dim = scd2_merge(dim, upd, key_col="k", compare_cols=["attr"],
                         effective_date=eff.isoformat())
        dim = spark.createDataFrame(dim.collect(), dim.schema)  # pin state
        for k, v in batch:
            hist = ref.setdefault(k, [])
            cur = next((h for h in hist if h[3]), None)
            if cur is None:
                hist.append([v, eff, None, True])
            elif cur[0] != v:
                cur[2], cur[3] = eff, False
                hist.append([v, eff, None, True])
    none_safe = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    got = sorted(map(tuple, dim.collect()), key=none_safe)
    want = sorted(
        ((k, h[0], h[1], h[2], h[3]) for k, hist in ref.items() for h in hist),
        key=none_safe,
    )
    assert got == want


# ---------------------------------------------------------------------------
# Token divergence: metric properties
# ---------------------------------------------------------------------------

@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=6),
             min_size=1, max_size=5),
    st.lists(st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=6),
             min_size=1, max_size=5),
)
@pytest.mark.slow
def test_token_divergence_properties(spark, da, db):
    """JS divergence is symmetric, non-negative, bounded by ln 2, and
    zero iff the smoothed distributions coincide (equal corpora)."""
    import math

    from scraping_etl_spark.operators.corpus_prep import token_divergence

    a = spark.createDataFrame(
        [(i, "en", " ".join(t)) for i, t in enumerate(da)],
        "doc_id long, lang string, text string")
    b = spark.createDataFrame(
        [(i, "en", " ".join(t)) for i, t in enumerate(db)],
        "doc_id long, lang string, text string")
    ab = token_divergence(a, b).collect()[0].js_div
    ba = token_divergence(b, a).collect()[0].js_div
    aa = token_divergence(a, a).collect()[0].js_div
    assert ab == ba
    assert 0.0 <= ab <= math.log(2.0)
    assert aa == 0.0


# ---------------------------------------------------------------------------
# with_kn_score vs a pure-Python Kneser-Ney model
# ---------------------------------------------------------------------------

@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=8),
        min_size=1, max_size=8,
    )
)
@pytest.mark.slow
def test_kn_score_matches_python_reference(spark, docs):
    """Interpolated KN computed independently in Python: bigram counts,
    context totals/branching, continuation counts, type total, D=0.75
    — per-doc mean ln P must match the operator (round 6)."""
    import math
    from collections import Counter, defaultdict

    from scraping_etl_spark.operators.corpus_prep import with_kn_score

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp_kn) for r in with_kn_score(df).collect()
    }

    big = Counter(
        (toks[i], toks[i + 1]) for toks in docs for i in range(len(toks) - 1)
    )
    cw1 = defaultdict(int)
    nf = defaultdict(set)
    np_ = defaultdict(set)
    for (a, b), c in big.items():
        cw1[a] += c
        nf[a].add(b)
        np_[b].add(a)
    t = float(len(big))

    def p(a, b):
        return (
            max(big[(a, b)] - 0.75, 0.0) + 0.75 * len(nf[a]) * len(np_[b]) / t
        ) / cw1[a]

    for i, toks in enumerate(docs):
        bis = [(toks[j], toks[j + 1]) for j in range(len(toks) - 1)]
        if not bis:
            assert got[i] == (0, 0.0)
            continue
        lps = [math.log(p(a, b)) for a, b in bis]
        assert got[i][0] == len(bis)
        assert abs(got[i][1] - round(sum(lps) / len(lps), 6)) < 1e-9, (i, toks)


# ---------------------------------------------------------------------------
# char entropy vs a pure-Python reference
# ---------------------------------------------------------------------------

@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        # latin + digits + punctuation + a few accents: exotic unicode
        # lowercasing differs between Python and the JVM (e.g. dotted
        # I) — out of scope for the reference comparison
        st.text(alphabet="abcXYZ019 .,!?éüß-", max_size=24),
        min_size=1,
        max_size=6,
    )
)
@pytest.mark.slow
def test_char_entropy_matches_python_reference(spark, texts):
    import math

    from scraping_etl_spark.operators.textstats import with_char_entropy

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.char_entropy, r.alpha_frac)
        for r in with_char_entropy(df).collect()
    }
    for i, t in enumerate(texts):
        s = t.lower()
        n = len(s)
        if n == 0:
            assert got[i] == (0.0, 0.0)
            continue
        counts = [s.count(c) for c in "abcdefghijklmnopqrstuvwxyz"]
        alpha = float(sum(counts))
        counts.append(n - alpha)
        h = -sum((c / n) * math.log(c / n) for c in counts if c > 0)
        assert abs(got[i][0] - round(h, 6)) < 2e-6, (i, t)
        assert abs(got[i][1] - round(alpha / n, 6)) < 2e-6, (i, t)


# ---------------------------------------------------------------------------
# n-gram novelty vs a pure-Python first-owner scan
# ---------------------------------------------------------------------------

@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8),
        min_size=1, max_size=8,
    ),
    st.integers(1, 3),
)
@pytest.mark.slow
def test_ngram_novelty_matches_python_reference(spark, docs, k):
    from scraping_etl_spark.operators.dedup import ngram_novelty

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.novelty_frac)
        for r in ngram_novelty(df, k=k).collect()
    }
    first: dict[tuple, int] = {}
    shingles = []
    for i, toks in enumerate(docs):
        sh = {tuple(toks[j : j + k]) for j in range(len(toks) - k + 1)}
        shingles.append(sh)
        for g in sh:
            first.setdefault(g, i)
    for i, sh in enumerate(shingles):
        if not sh:
            assert got[i] == (0, 0.0)
            continue
        novel = sum(1 for g in sh if first[g] == i)
        assert got[i][0] == len(sh)
        assert abs(got[i][1] - round(novel / len(sh), 6)) < 1e-9, (i, docs)


# ---------------------------------------------------------------------------
# AllPairs exact similarity join vs brute force (incl. the PPJoin
# length filter and sub-floor thresholds)
# ---------------------------------------------------------------------------

_AP_THRESHOLDS = (0.25, 0.4, 0.55, 0.75, 1.0)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(  # token sets over a TINY alphabet -> heavy overlap,
        st.sets(  # adversarial for both prefix and length filtering
            st.sampled_from([f"t{i}" for i in range(9)]), min_size=0, max_size=7
        ),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from(_AP_THRESHOLDS),
)
def test_allpairs_sets_equal_brute_force(spark, sets_py, t):
    """allpairs_jaccard_sets == the O(n²) loop oracle for ANY input
    and ANY threshold, including below the documented floor (the
    warning fires there; completeness must not depend on it) — the
    prefix filter's completeness proof and the length filter's
    losslessness, fuzzed together."""
    import warnings as _w

    from scraping_etl_spark.operators.dedup import allpairs_jaccard_sets

    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in enumerate(sets_py)],
        "_id long, _set array<string>",
    )
    with _w.catch_warnings():
        _w.simplefilter("ignore")  # sub-floor thresholds warn by design
        got = {
            (r.id_a, r.id_b, r.jacc)
            for r in allpairs_jaccard_sets(df, t).collect()
        }
    want = set()
    for i, a in enumerate(sets_py):
        for j in range(i + 1, len(sets_py)):
            b = sets_py[j]
            if not a or not b:
                continue
            jc = round(len(a & b) / len(a | b), 6)
            if jc >= t:
                want.add((i, j, jc))
    assert got == want, (sets_py, t)


# ---------------------------------------------------------------------------
# Cavnar-Trenkle n-gram language ID vs a pure-Python oracle
# ---------------------------------------------------------------------------

_ct_text = st.text(
    alphabet=st.sampled_from(list("abcdefg \n\tXY")), max_size=30
)


def _ct_oracle(rows, n=3, top_m=10, doc_m=6):
    """Loop oracle for lang_id_ngram's default self-training mode:
    same normalization, rarest-first... rather frequency-ranked
    profiles with (count desc, gram asc) ties, out-of-place distance
    with top_m penalty, (dist, lang) lexicographic argmin."""
    import re
    from collections import Counter, defaultdict

    def grams(s):
        t = re.sub(r"\s+", " ", s.lower())
        return [t[i:i + n] for i in range(len(t) - n + 1)]

    lc = defaultdict(Counter)
    for _id, lang, text in rows:
        lc[lang].update(grams(text))
    lp = {}
    for lang, c in lc.items():
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_m]
        lp[lang] = {g: i + 1 for i, (g, _) in enumerate(ranked)}
    langs = sorted(lp)
    out = {}
    for _id, _lang, text in rows:
        dc = Counter(grams(text))
        dranked = sorted(dc.items(), key=lambda kv: (-kv[1], kv[0]))[:doc_m]
        dp = {g: i + 1 for i, (g, _) in enumerate(dranked)}
        best = min(
            (
                sum(
                    abs(dr - lp[L][g]) if g in lp[L] else top_m
                    for g, dr in dp.items()
                ),
                L,
            )
            for L in langs
        )
        out[_id] = best
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.lists(_ct_text, min_size=2, max_size=8),
    st.lists(_ct_text, min_size=0, max_size=6),
)
@pytest.mark.slow
def test_lang_id_ngram_matches_loop_oracle(spark, texts_a, texts_b):
    """lang_id_ngram (self-training mode) == the loop oracle for ANY
    ascii corpus: profiles, doc ranking, penalties, and BOTH tie-break
    levels (gram asc inside ranks, lang asc at the argmin) — including
    empty/short texts whose gram set is empty."""
    from scraping_etl_spark.operators.textstats import lang_id_ngram

    rows = [(i, "aa", t) for i, t in enumerate(texts_a)]
    rows += [(100 + i, "bb", t) for i, t in enumerate(texts_b)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: (r.dist, r.pred_lang)
        for r in lang_id_ngram(df, top_m=10, doc_m=6).collect()
    }
    want = _ct_oracle(rows, top_m=10, doc_m=6)
    assert got == want, (texts_a, texts_b)


# ---------------------------------------------------------------------------
# edit_distance_pairs: Ed-Join candidate completeness vs a DP oracle
# ---------------------------------------------------------------------------

def _lev_dp(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=4, max_size=12),
        min_size=2,
        max_size=10,
        unique=True,
    ),
    st.integers(1, 2),
)
@pytest.mark.slow
def test_edit_distance_pairs_complete_vs_dp_oracle(spark, strings, k):
    """Tiny alphabet + short strings: repeated grams, shared prefixes
    and every near-tie the prefix filter could get wrong. q=1 keeps
    the length floor at k+1 so hypothesis's short strings stay in
    domain; verify-by-levenshtein means any mismatch is a CANDIDATE
    COMPLETENESS bug, the theorem under test."""
    from scraping_etl_spark.operators.dedup import edit_distance_pairs

    rows = [(i, s) for i, s in enumerate(strings) if len(s) >= k + 1]
    if len(rows) < 2:
        return
    df = spark.createDataFrame(rows, "rid LONG, s STRING")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, k, "rid", "s", q=1).collect()
    }
    want = {}
    for i, a in rows:
        for j, b in rows:
            if i < j and abs(len(a) - len(b)) <= k:
                d = _lev_dp(a, b)
                if d <= k:
                    want[(i, j)] = d
    assert got == want


# ---------------------------------------------------------------------------
# allpairs_cosine_weighted: prefix-filter COMPLETENESS under fuzzed
# sparse weighted vectors (the Bayardo suffix-bound theorem)
# ---------------------------------------------------------------------------

@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(st.integers(0, 6), st.floats(0.05, 4.0,
                                                   allow_nan=False)),
            min_size=1, max_size=5,
        ),
        min_size=2, max_size=8,
    ),
    st.sampled_from([0.5, 0.7, 0.9]),
)
@pytest.mark.slow
def test_allpairs_cosine_weighted_complete_vs_loop(spark, raw, threshold):
    """A 7-feature universe forces heavy feature sharing — the regime
    where a buggy suffix bound would silently drop qualifying pairs.
    The loop oracle computes every pair's exact cosine, so any
    mismatch is a candidate-completeness bug."""
    import math

    from scraping_etl_spark.operators.dedup import allpairs_cosine_weighted

    rows = []
    for i, feats in enumerate(raw):
        dedup = {}
        for t, w in feats:
            dedup[str(t)] = w  # distinct features per row, last wins
        rows.append((i, sorted(dedup.items())))
    df = spark.createDataFrame(
        [(i, [(t, w) for t, w in v]) for i, v in rows],
        "_id LONG, _vec array<struct<t: string, w: double>>",
    )
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in allpairs_cosine_weighted(df, threshold).collect()
    }

    def cos(a, b):
        da, db = dict(a), dict(b)
        na = math.sqrt(sum(w * w for w in da.values()))
        nb = math.sqrt(sum(w * w for w in db.values()))
        if na == 0 or nb == 0:
            return 0.0
        return sum(da[t] * db.get(t, 0.0) for t in da) / (na * nb)

    want = {}
    for i, a in rows:
        for j, b in rows:
            if i < j:
                c = round(cos(a, b), 6)
                if c >= threshold:
                    want[(i, j)] = c
    assert set(got) == set(want)
    for k_ in got:
        assert abs(got[k_] - want[k_]) < 2e-6, k_


# ---------------------------------------------------------------------------
# Fellegi–Sunter labeled weights + scoring vs a pure-Python reference
# ---------------------------------------------------------------------------

_fs_row = st.tuples(st.booleans(), st.booleans(), st.booleans())


@settings(max_examples=25, deadline=None)
@given(st.lists(_fs_row, min_size=1, max_size=30))
@pytest.mark.slow
def test_fs_weights_and_score_match_python_reference(spark, rows):
    """The r15-seated FS pipeline end to end on arbitrary labeled
    agreement patterns: closed-form add-half m/u estimation + the
    fixed-order log-LR sum, recomputed independently in Python —
    weights exactly, scores within the 6-dp rounding half-width
    (libm vs JVM log may differ in the last ulp)."""
    import math

    from scraping_etl_spark.operators import linkage as LK

    fields = ["f1", "f2"]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "pid long, is_match boolean, f1 boolean, f2 boolean",
    )
    w = LK.fs_weights(df, fields).collect()[0]

    nm = sum(1 for r in rows if r[0])
    nu = len(rows) - nm
    m, u = {}, {}
    for j, c in enumerate(fields, start=1):
        am = sum(1 for r in rows if r[0] and r[j])
        au = sum(1 for r in rows if not r[0] and r[j])
        m[c] = (am + 0.5) / (nm + 1.0)
        u[c] = (au + 0.5) / (nu + 1.0)
        assert getattr(w, f"m_{c}") == m[c], c  # same IEEE ops -> exact
        assert getattr(w, f"u_{c}") == u[c], c
    assert (w.n_match, w.n_nonmatch) == (nm, nu)

    scored = {
        r.pid: r.fs_score
        for r in LK.fs_score(df, LK.fs_weights(df, fields), fields).collect()
    }
    for i, orig in enumerate(rows):
        want = sum(
            math.log(m[c] / u[c]) if orig[j] else
            math.log((1.0 - m[c]) / (1.0 - u[c]))
            for j, c in enumerate(fields, start=1)
        )
        assert abs(scored[i] - round(want, 6)) <= 1e-6, (orig, want)


# ---------------------------------------------------------------------------
# IVF decontaminate tier: full-probe equality on arbitrary vectors
# ---------------------------------------------------------------------------

_vec3 = st.lists(
    st.floats(min_value=-4.0, max_value=4.0,
              allow_nan=False, allow_infinity=False, width=32),
    min_size=3, max_size=3,
)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(_vec3, min_size=2, max_size=10),
    st.lists(_vec3, min_size=1, max_size=8),
    st.lists(_vec3, min_size=1, max_size=3),
    st.sampled_from([0.3, 0.7, 0.95]),
)
@pytest.mark.slow
def test_emb_decontaminate_ivf_full_probe_equals_brute_fuzz(
    spark, corpus_vecs, bench_vecs, cents, threshold
):
    """On ARBITRARY float vectors (including zero and near-parallel
    ones) and ARBITRARY centroids (including duplicates — the contract
    must not depend on k-means having trained anything sensible) the
    IVF tier at full probe must reproduce the expression tier row for
    row — same rounded cosines, argmax ties and hit counts — because
    probing every cell covers every pair."""
    from scraping_etl_spark.operators.similarity import (
        embedding_decontaminate,
        embedding_decontaminate_ivf,
    )

    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(corpus_vecs)],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(bench_vecs)],
        "vec_id long, embedding array<float>",
    )
    brute = sorted(map(tuple, embedding_decontaminate(
        corpus, bench, threshold=threshold
    ).collect()))
    ivf = sorted(map(tuple, embedding_decontaminate_ivf(
        corpus, bench, cents, threshold=threshold, n_probe=len(cents)
    ).collect()))
    assert ivf == brute

"""Queries exercising the engine's library operators (asof, textstats,
dedup, similarity) on the scale tables, with DuckDB oracles.

These are the `queries()` faces of the operator modules — the operator
itself lives in ``scraping_etl_spark/operators/``; here it is applied to
the driver's tables so the correctness gate covers it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_etl_spark.operators import textstats as TS
from scraping_etl_spark.operators.asof import asof_join
from scraping_etl_spark.sources.readers import load_table, spread_narrow_scan


# ---------------------------------------------------------------------------
# As-of join (SURVEY §2.3 J4)
# ---------------------------------------------------------------------------

def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event, the user's latest click at-or-before it.

    The engine's as-of join (union + sort + last-ignorenulls window: one
    shuffle, no range explosion). Build side deduped per (user, ts) with
    an explicit tie-break so the match is total-order deterministic.
    """
    e = load_table(spark, sf_dir, "events")
    probe = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    build = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    res = asof_join(
        probe, build, on="ts", by="user_id", direction="backward",
        tie_break=["click_event_id"],
    )
    return res.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "click_event_id",
        F.round("click_value", 6).alias("click_value"),
        F.unix_micros("ts_asof").alias("click_ts_us"),
    )


ORACLE_ASOF_PURCHASE_CLICK = """
WITH clicks AS (
  SELECT user_id, ts, event_id AS click_event_id, value AS click_value
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
), purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       c.click_event_id,
       round(c.click_value, 6) AS click_value,
       epoch_us(c.ts) AS click_ts_us
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# Text analysis (north-star operators over `documents`)
# ---------------------------------------------------------------------------

def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text stats: whitespace token/char counts + diversity PLUS
    the BPE-ish pre-tokenizer count and the tokens-per-word ratio a
    training-data budget actually uses (textstats.bpe_ish_tokens)."""
    from scraping_etl_spark.operators.textstats import bpe_ish_tokens

    d = load_table(spark, sf_dir, "documents")
    bpe = F.size(bpe_ish_tokens("text")).cast("long")
    return TS.with_text_stats(d).select(
        "doc_id", "n_tokens", "n_chars_actual", "distinct_ratio",
        "mean_token_len",
        bpe.alias("n_bpe_tokens"),
        F.round(bpe / F.greatest(F.col("n_tokens"), F.lit(1)), 4)
        .alias("tokens_per_word"),
    )


# \p classes work in both Java regex and RE2; the BPE-ish pattern is
# lookahead-free for exactly that reason (textstats.BPE_ISH_PATTERN).
ORACLE_DOC_TEXT_STATS = r"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t,
         list_filter(
           regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+', 0),
           x -> regexp_matches(x, '\S')) AS bpe
  FROM documents
)
SELECT doc_id,
       CAST(len(t) AS BIGINT)            AS n_tokens,
       CAST(length(text) AS BIGINT)      AS n_chars_actual,
       round(len(list_distinct(t)) / greatest(len(t), 1), 6) AS distinct_ratio,
       round(coalesce(list_aggregate(list_transform(t, x -> length(x)), 'sum'), 0)
             / greatest(len(t), 1), 6)   AS mean_token_len,
       CAST(len(bpe) AS BIGINT)          AS n_bpe_tokens,
       round(len(bpe) / greatest(len(t), 1), 4) AS tokens_per_word
FROM toks
"""


def _sw_list(lang: str) -> str:
    """The ``lang`` stopwords as a DuckDB list of quoted literals."""
    return ", ".join(
        "'{}'".format(w.replace("'", "''")) for w in TS.STOPWORDS[lang]
    )


_CT_N, _CT_TOP_M, _CT_DOC_M = 3, 200, 20
_CT_MARKER_REPS = 12
# pretrained-branch model depth — DELIBERATELY != the scoring call's
# top_m, so the penalty-derivation semantics (unmatched cost = the
# model's own max rank, not the call-site top_m) are what the hash
# pins (r11 ADVICE item 1).
_CT_PRE_M = 150


def q_doc_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle n-gram language ID over the documents table:
    per-language char-trigram rank profiles trained from the corpus's
    own labels, every doc scored by the out-of-place measure, argmin
    language predicted (textstats.char_ngram_profiles +
    lang_id_ngram). The synthetic corpus's text is language-AGNOSTIC
    by construction (same token pool for every ``lang`` label), so
    the gate appends a per-language marker phrase first — the same
    planted-signal convention as the PII and chunk-dedup gates,
    mirrored in the oracle — and the classifier then has real
    discrimination to demonstrate (accuracy pinned by
    ``tests/test_textstats.py``). Emits the true label beside the
    prediction and the integer distance, so the hash gates the
    profile ranks, the penalty arithmetic and the tie-breaks at
    once.

    The gate exercises BOTH branches (r11 verdict item 5): ``self``
    rows train on the whole corpus's own labels; ``pretrained`` rows
    score the ``doc_id % 4 == 1`` slice against a model trained
    ONLY on the disjoint ``% 4 == 0`` split — the deployment shape
    (train once offline, score many), reference anchor the
    train-once-enrich-many pattern of ``SD_Upd.py:10-61``. The model
    is trained at depth ``_CT_PRE_M`` ≠ the scoring call's ``top_m``,
    so the unmatched-gram penalty MUST come from the model's own
    max rank for the hashes to agree — pinning the Cavnar-Trenkle
    matched ≤ unmatched invariant under depth mismatch."""
    # the gram explodes below are the map-heaviest stage in the whole
    # registry; a one-row-group parquet scan would serialize them
    d = spread_narrow_scan(load_table(spark, sf_dir, "documents"))
    marker = F.array_join(
        F.array_repeat(F.repeat(F.col("lang"), 3), _CT_MARKER_REPS),
        " ",
    )
    corpus = d.select(
        "doc_id", "lang",
        F.concat(F.col("text"), F.lit(" "), marker).alias("text"),
    )
    # the TRUE label rides the checkpointed doc-profile side
    # (carry_cols) instead of a corpus.join(pred) — one fewer corpus
    # scan + shuffle per branch, value-identical output (r16 watch
    # item: measured, no hash change)
    pred = TS.lang_id_ngram(
        corpus, n=_CT_N, top_m=_CT_TOP_M, doc_m=_CT_DOC_M,
        carry_cols=("lang",),
    )
    self_rows = pred.select(
        "doc_id", F.lit("self").alias("mode"), "lang", "pred_lang", "dist"
    )
    train = corpus.filter(F.col("doc_id") % 4 == 0)
    # score a quarter-slice, not the full complement: the branch exists
    # to pin the pretrained/deployment semantics (disjoint model, depth
    # mismatch), and a 1/4 slice pins them at a quarter of the cost
    score = corpus.filter(F.col("doc_id") % 4 == 1)
    model = TS.char_ngram_profiles(train, n=_CT_N, top_m=_CT_PRE_M)
    pred_pre = TS.lang_id_ngram(
        score, n=_CT_N, top_m=_CT_TOP_M, doc_m=_CT_DOC_M, profiles=model,
        carry_cols=("lang",),
    )
    pre_rows = pred_pre.select(
        "doc_id", F.lit("pretrained").alias("mode"),
        "lang", "pred_lang", "dist",
    )
    return self_rows.unionByName(pre_rows)


ORACLE_DOC_LANG_ID_NGRAM = rf"""
WITH corpus AS (
  SELECT doc_id, lang,
         text || ' ' || array_to_string(
           list_transform(generate_series(1, {_CT_MARKER_REPS}),
                          i -> repeat(lang, 3)), ' ') AS text
  FROM documents
),
txt AS (
  SELECT doc_id, lang,
         regexp_replace(lower(text), '\s+', ' ', 'g') AS t
  FROM corpus
),
grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           generate_series(1, len(t) - {_CT_N - 1}),
           i -> substr(t, i, {_CT_N}))) AS g
  FROM txt
),
lp AS (
  SELECT lang, g, lr FROM (
    SELECT lang, g,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, g) AS lr
    FROM grams GROUP BY lang, g
  ) WHERE lr <= {_CT_TOP_M}
),
dp AS (
  SELECT doc_id, g, dr FROM (
    SELECT doc_id, g,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, g) AS dr
    FROM grams GROUP BY doc_id, g
  ) WHERE dr <= {_CT_DOC_M}
),
nd AS (
  SELECT d.doc_id, COALESCE(c.ng, 0) AS ng
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS ng FROM dp GROUP BY 1) c
  USING (doc_id)
),
langs AS (SELECT DISTINCT lang FROM documents),
matched AS (
  SELECT dp.doc_id, lp.lang,
         sum(abs(dp.dr - lp.lr)) AS s,
         count(*) AS m
  FROM dp JOIN lp ON dp.g = lp.g
  GROUP BY 1, 2
),
dist AS (
  SELECT nd.doc_id, l.lang AS pred,
         COALESCE(m.s, 0) + (nd.ng - COALESCE(m.m, 0)) * {_CT_TOP_M} AS dist
  FROM nd CROSS JOIN langs l
  LEFT JOIN matched m ON m.doc_id = nd.doc_id AND m.lang = l.lang
),
best AS (
  SELECT doc_id, pred, dist,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY dist, pred) AS rn
  FROM dist
),
-- pretrained branch: model trained ONLY on the doc_id % 4 = 0 split
-- at depth {_CT_PRE_M}; docs % 4 != 0 scored against it. Per-doc
-- profiles (dp/nd) are doc-local, so the score side is just the
-- restriction. The unmatched-gram penalty is
-- greatest(model max rank, doc_m) (scalar subquery), not the scoring
-- call's top_m — the depth mismatch is the thing under test, and the
-- doc_m arm keeps matched <= unmatched when the doc profile is the
-- deeper side (r12 advice; at this gate's geometry the model arm
-- wins, so the arithmetic is exercised, not just the literal).
lp_pre AS (
  SELECT lang, g, lr FROM (
    SELECT lang, g,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, g) AS lr
    FROM grams WHERE doc_id % 4 = 0 GROUP BY lang, g
  ) WHERE lr <= {_CT_PRE_M}
),
pen_pre AS (SELECT greatest(max(lr), {_CT_DOC_M}) AS p FROM lp_pre),
langs_pre AS (SELECT DISTINCT lang FROM lp_pre),
matched_pre AS (
  SELECT dp.doc_id, lp_pre.lang,
         sum(abs(dp.dr - lp_pre.lr)) AS s,
         count(*) AS m
  FROM dp JOIN lp_pre ON dp.g = lp_pre.g
  WHERE dp.doc_id % 4 = 1
  GROUP BY 1, 2
),
dist_pre AS (
  SELECT nd.doc_id, l.lang AS pred,
         COALESCE(m.s, 0)
           + (nd.ng - COALESCE(m.m, 0)) * (SELECT p FROM pen_pre) AS dist
  FROM nd CROSS JOIN langs_pre l
  LEFT JOIN matched_pre m ON m.doc_id = nd.doc_id AND m.lang = l.lang
  WHERE nd.doc_id % 4 = 1
),
best_pre AS (
  SELECT doc_id, pred, dist,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY dist, pred) AS rn
  FROM dist_pre
)
SELECT b.doc_id, 'self' AS mode, d.lang,
       b.pred AS pred_lang, CAST(b.dist AS BIGINT) AS dist
FROM best b JOIN documents d USING (doc_id)
WHERE rn = 1
UNION ALL
SELECT b.doc_id, 'pretrained' AS mode, d.lang,
       b.pred AS pred_lang, CAST(b.dist AS BIGINT) AS dist
FROM best_pre b JOIN documents d USING (doc_id)
WHERE rn = 1
"""


# sits between the marked docs' margin floor (~86 at sf0.01) and the
# ambiguous slice's median (~138 overall, ~33 at its 10th pct), so the
# driver corpus exercises BOTH the predict and the abstain branch
_CT_MIN_MARGIN = 60


def q_doc_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID with a confidence margin and abstention
    (textstats.lang_id_ngram_margin): per doc the two smallest
    out-of-place distances; predictions whose runner-up is within
    ``_CT_MIN_MARGIN`` abstain to ``'und'`` — the deployment-grade
    screen shape (route by language, 'don't know' on ambiguous text)
    above the plain argmin of ``doc_lang_id_ngram``.

    The corpus plants BOTH outcomes: docs with ``doc_id % 5 != 0``
    carry the per-language marker phrase (separable — real prediction,
    large margin); ``% 5 == 0`` docs keep their language-AGNOSTIC raw
    text (near-tied profiles — the abstain path). The hash therefore
    pins the top-2 ordering, the margin arithmetic AND the abstain
    threshold at once. Self-trained on the corpus's own labels."""
    d = spread_narrow_scan(load_table(spark, sf_dir, "documents"))
    marker = F.array_join(
        F.array_repeat(F.repeat(F.col("lang"), 3), _CT_MARKER_REPS),
        " ",
    )
    corpus = d.select(
        "doc_id", "lang",
        F.when(
            F.col("doc_id") % 5 == 0, F.col("text")
        ).otherwise(
            F.concat(F.col("text"), F.lit(" "), marker)
        ).alias("text"),
    )
    # true label carried through the checkpointed doc side instead of
    # a corpus.join(pred) — same scan elimination as doc_lang_id_ngram
    pred = TS.lang_id_ngram_margin(
        corpus, n=_CT_N, top_m=_CT_TOP_M, doc_m=_CT_DOC_M,
        min_margin=_CT_MIN_MARGIN, carry_cols=("lang",),
    )
    return pred.select("doc_id", "lang", "pred_lang", "dist", "margin")


ORACLE_DOC_LANG_MARGIN = rf"""
WITH corpus AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 5 = 0 THEN text
              ELSE text || ' ' || array_to_string(
                list_transform(generate_series(1, {_CT_MARKER_REPS}),
                               i -> repeat(lang, 3)), ' ')
         END AS text
  FROM documents
),
txt AS (
  SELECT doc_id, lang,
         regexp_replace(lower(text), '\s+', ' ', 'g') AS t
  FROM corpus
),
grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           generate_series(1, len(t) - {_CT_N - 1}),
           i -> substr(t, i, {_CT_N}))) AS g
  FROM txt
),
lp AS (
  SELECT lang, g, lr FROM (
    SELECT lang, g,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, g) AS lr
    FROM grams GROUP BY lang, g
  ) WHERE lr <= {_CT_TOP_M}
),
dp AS (
  SELECT doc_id, g, dr FROM (
    SELECT doc_id, g,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, g) AS dr
    FROM grams GROUP BY doc_id, g
  ) WHERE dr <= {_CT_DOC_M}
),
nd AS (
  SELECT d.doc_id, COALESCE(c.ng, 0) AS ng
  FROM documents d
  LEFT JOIN (SELECT doc_id, count(*) AS ng FROM dp GROUP BY 1) c
  USING (doc_id)
),
langs AS (SELECT DISTINCT lang FROM documents),
matched AS (
  SELECT dp.doc_id, lp.lang,
         sum(abs(dp.dr - lp.lr)) AS s,
         count(*) AS m
  FROM dp JOIN lp ON dp.g = lp.g
  GROUP BY 1, 2
),
dist AS (
  SELECT nd.doc_id, l.lang AS cand,
         COALESCE(m.s, 0) + (nd.ng - COALESCE(m.m, 0)) * {_CT_TOP_M} AS dist
  FROM nd CROSS JOIN langs l
  LEFT JOIN matched m ON m.doc_id = nd.doc_id AND m.lang = l.lang
),
ranked AS (
  SELECT doc_id, cand, dist,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY dist, cand) AS rn
  FROM dist
),
top2 AS (
  SELECT a.doc_id,
         a.cand AS best_lang, a.dist AS best_dist,
         b.dist AS second_dist
  FROM ranked a
  LEFT JOIN ranked b ON b.doc_id = a.doc_id AND b.rn = 2
  WHERE a.rn = 1
)
SELECT t.doc_id, d.lang,
       CASE WHEN t.second_dist - t.best_dist < {_CT_MIN_MARGIN}
            THEN 'und' ELSE t.best_lang END AS pred_lang,
       CAST(t.best_dist AS BIGINT) AS dist,
       CAST(t.second_dist - t.best_dist AS BIGINT) AS margin
FROM top2 t JOIN documents d USING (doc_id)
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return TS.with_fingerprint(d).select("doc_id", "fingerprint")


ORACLE_DOC_FINGERPRINT = r"""
SELECT doc_id,
       md5(array_to_string(
             list_sort(list_distinct(
               list_filter(string_split_regex(text, '\s+'), x -> x <> ''))),
             ' ')) AS fingerprint
FROM documents
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return TS.with_quality_score(d).select("doc_id", "quality_score")


ORACLE_DOC_QUALITY = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '')        AS t,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tl
  FROM documents
)
SELECT doc_id,
       round(0.4 * least(len(t) / 200.0, 1.0)
           + 0.4 * (len(list_distinct(t)) / greatest(len(t), 1))
           + 0.2 * least((len(list_filter(tl, x -> x IN ({_sw_list('en')})))
                          / greatest(len(t), 1)) / 0.08, 1.0),
             6) AS quality_score
FROM toks
"""


# ---------------------------------------------------------------------------
# URL canonicalization + dedup (operators/urls.py)
# ---------------------------------------------------------------------------

def q_doc_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalize + dedup gate: deterministic messy URLs are
    derived from the documents table (case-shifted host, default port,
    duplicated slashes, tracking params, fragment — one alias family
    per (source, doc_id mod 40)), canonicalized JVM-side and deduped.
    The oracle derives the canonical form INDEPENDENTLY from the
    construction arithmetic rather than mirroring the normalizer —
    a stronger check than expression parity."""
    from scraping_etl_spark.operators.urls import url_dedup

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTPS://WwW."), F.col("source"), F.lit(".Example.COM:443/Articles//"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("/?utm_campaign=x&fbclid="), F.col("doc_id").cast("string"),
        F.lit("&q="), (F.col("doc_id") % 20).cast("string"), F.lit("#sec"),
    )
    df = d.select("doc_id", "source", raw.alias("url"))
    return url_dedup(df, "url", "doc_id", keep_cols=("source",)).select(
        "canonical_url", "source",
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("survivor_id").cast("long").alias("survivor_id"),
    )


ORACLE_DOC_URL_CANONICAL = """
-- canonical form derived independently from the construction: the
-- messy url is a pure function of (source, doc_id), so its canonical
-- form is 'https://www.' || source || '.example.com/Articles/' || m40
-- || '?q=' || m20 — asserting the normalizer's OUTPUT, not its steps
SELECT 'https://www.' || source || '.example.com/Articles/'
         || CAST(doc_id % 40 AS VARCHAR)
         || '?q=' || CAST(doc_id % 20 AS VARCHAR) AS canonical_url,
       source,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(min(doc_id) AS BIGINT) AS survivor_id
FROM documents
GROUP BY 1, 2
"""


def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class entropy + letter fraction (textstats.
    with_char_entropy): fixed 27-symbol alphabet keeps it a
    zero-shuffle map-side expression at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return TS.with_char_entropy(d).select("doc_id", "char_entropy", "alpha_frac")


#: The a-z literal list shared by the oracle's two lambdas.
_ENT_ALPHA_SQL = "[" + ", ".join(f"'{c}'" for c in "abcdefghijklmnopqrstuvwxyz") + "]"

ORACLE_DOC_CHAR_ENTROPY = f"""
WITH base AS (
  SELECT doc_id, lower(text) AS s,
         CAST(len(lower(text)) AS DOUBLE) AS L
  FROM documents
), cnt AS (
  SELECT doc_id, L,
         list_transform({_ENT_ALPHA_SQL},
                        ch -> CAST(len(s) - len(replace(s, ch, '')) AS DOUBLE))
           AS cs
  FROM base
), agg AS (
  SELECT doc_id, L, cs, list_sum(cs) AS alpha FROM cnt
)
SELECT doc_id,
       CASE WHEN L > 0 THEN round(-(list_sum(list_transform(
              list_append(cs, L - alpha),
              x -> CASE WHEN x > 0 THEN (x / L) * ln(x / L) ELSE 0.0 END))), 6)
            ELSE 0.0 END AS char_entropy,
       CASE WHEN L > 0 THEN round(alpha / L, 6) ELSE 0.0 END AS alpha_frac
FROM agg
"""


def q_doc_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datasheet (the "Datasheets for Datasets" summary
    a corpus release ships — Gebru et al. 2021): sizes, diversity,
    exact-duplicate mass, and a short-doc fraction, all in TWO scans
    (one plain agg + one distinct-text agg) — every number a
    map-side-combinable aggregate, no windows, no joins."""
    d = load_table(spark, sf_dir, "documents")
    toks = TS.tokens("text")
    base = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(
            F.avg((F.size(toks) >= 20).cast("double")), 6
        ).alias("frac_ge_20_tokens"),
    )
    dups = d.agg(
        F.countDistinct(F.md5("text")).cast("long").alias("n_distinct_texts")
    )
    return base.join(dups).select(
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_sources",
        "avg_chars",
        "frac_ge_20_tokens",
        "n_distinct_texts",
        F.round(
            F.lit(1.0) - F.col("n_distinct_texts") / F.col("n_docs"), 6
        ).alias("dup_frac"),
    )


ORACLE_DOC_DATASHEET = r"""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> ''))) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         round(avg(n_chars), 4) AS avg_chars,
         round(avg(CASE WHEN len(list_filter(string_split_regex(text, '\s+'),
                                             x -> x <> '')) >= 20
                        THEN 1.0 ELSE 0.0 END), 6) AS frac_ge_20_tokens
  FROM documents
), dups AS (
  SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
  FROM documents
)
SELECT n_docs, n_tokens, n_langs, n_sources, avg_chars, frac_ge_20_tokens,
       n_distinct_texts,
       round(1.0 - CAST(n_distinct_texts AS DOUBLE) / n_docs, 6) AS dup_frac
FROM base, dups
"""


# ---------------------------------------------------------------------------
# Language segmentation gate (textstats.lang_segments)
# ---------------------------------------------------------------------------

_SEG_CHUNK = 16
_SEG_LANGS = ("en", "de", "es", "fr")


def q_doc_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switch segmentation gate (textstats.lang_segments): fixed
    16-token windows voted by stopword hits, consecutive same-label
    windows collapsed to segments. Corpus: documents plus PLANTED
    code-switched composites — every doc with doc_id % 10 == 0 is
    paired with the next doc of a DIFFERENT language (doc_id + 1 when
    its lang differs) as first-32-tokens(a) ++ first-32-tokens(b), so
    the composite must split into >= 2 segments while monolingual docs
    stay single-segment. The oracle is the exact relational mirror
    (stopword lists inline, same argmax tie-break, same lag/running-sum
    collapse)."""
    d = load_table(spark, sf_dir, "documents")
    toks = TS.tokens("text", lowercase=True)
    head = F.array_join(F.slice(toks, 1, 32), " ")
    a = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", head.alias("_ha"), F.col("lang").alias("_la")
    )
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        head.alias("_hb"),
        F.col("lang").alias("_lb"),
    )
    planted = (
        a.join(b, "doc_id")
        .filter(F.col("_la") != F.col("_lb"))
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat_ws(" ", "_ha", "_hb").alias("text"),
        )
    )
    corpus = d.select("doc_id", "text").unionByName(planted)
    return TS.lang_segments(
        corpus, langs=_SEG_LANGS, chunk_tokens=_SEG_CHUNK
    )


def _oracle_doc_lang_segments() -> str:
    hits = ",\n         ".join(
        f"CAST(sum(CASE WHEN _tok IN ({_sw_list(lang)}) THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS h_{lang}"
        for lang in _SEG_LANGS
    )
    # the argmax mirror: the Spark fold (right-to-left, >=) selects the
    # FIRST lang in _SEG_LANGS order among the positive maxima
    g = "greatest({})".format(", ".join(f"h_{l}" for l in _SEG_LANGS))
    lang_case = "CASE "
    for lang in _SEG_LANGS:
        lang_case += f"WHEN h_{lang} > 0 AND h_{lang} = {g} THEN '{lang}' "
    lang_case += "ELSE 'unknown' END"
    return rf"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT a.doc_id + 1000000 AS doc_id,
         array_to_string(list_slice(list_filter(
             string_split_regex(lower(a.text), '\s+'), x -> x <> ''), 1, 32), ' ')
         || ' ' ||
         array_to_string(list_slice(list_filter(
             string_split_regex(lower(b.text), '\s+'), x -> x <> ''), 1, 32), ' ')
         AS text
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 = 0 AND a.lang <> b.lang
),
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS _tok,
         generate_subscripts(list_filter(string_split_regex(lower(text), '\s+'),
                                         x -> x <> ''), 1) - 1 AS _pos
  FROM base
),
hits AS (
  SELECT doc_id, _pos // {_SEG_CHUNK} AS _chunk,
         CAST(count(*) AS BIGINT) AS _n_tokens,
         {hits}
  FROM tok GROUP BY 1, 2
),
labeled AS (
  SELECT doc_id, _chunk, _n_tokens, {lang_case} AS _lang
  FROM hits
),
segged AS (
  SELECT doc_id, _chunk, _n_tokens, _lang,
         CAST(sum(CASE WHEN _prev IS NULL OR _prev <> _lang THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY _chunk) AS BIGINT) - 1 AS _seg
  FROM (
    SELECT doc_id, _chunk, _n_tokens, _lang,
           lag(_lang) OVER (PARTITION BY doc_id ORDER BY _chunk) AS _prev
    FROM labeled
  )
)
SELECT doc_id, _seg AS seg_idx, min(_lang) AS lang,
       min(_chunk) AS start_chunk, max(_chunk) AS end_chunk,
       CAST(sum(_n_tokens) AS BIGINT) AS n_tokens
FROM segged GROUP BY 1, 2
"""


ORACLE_DOC_LANG_SEGMENTS = _oracle_doc_lang_segments()

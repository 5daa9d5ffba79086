"""Driver-gate faces for the round-8 curation & retrieval operators.

Registry faces + exact DuckDB oracles for ``operators/search.py``
(BM25), ``operators/curation.py`` (per-host cap, duplicate passages,
DSIR weights), ``operators/classifier.py`` (trainable quality
classifier) and the SemDeDup pair/survivor operators in
``operators/similarity.py``. Conventions follow ``plans/corpus_ops.py``
(shared token-SQL fragments, deterministic corpus construction for
operators that need planted structure) and ``plans/ml_ops.py`` (lazy
oracles embedding run-time-trained model constants, built for the
scale dir they are given).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_etl_spark.operators import classifier as CLF
from scraping_etl_spark.operators import corpus_prep as CP
from scraping_etl_spark.operators import curation as CU
from scraping_etl_spark.operators import similarity as SIM
from scraping_etl_spark.operators.search import bm25_topk, hybrid_prf_topk
from scraping_etl_spark.operators.textstats import STOPWORDS
from scraping_etl_spark.plans.ml_ops import (
    _ivf_index,
    double_list_sql,
    oracle_emb_cluster_assign,
)
from scraping_etl_spark.sources.readers import load_table, spread_narrow_scan

_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
_LTOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# BM25 keyword search (operators/search.bm25_topk gate)
# ---------------------------------------------------------------------------

#: Fixed query workload: common terms, rare terms, a term absent from
#: the corpus (zero postings — contributes nothing), and the two
#: highest-df near-stopwords (lowest idf) — every branch of the
#: scoring function fires.
_BM25_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("spark", "hash", "join")),
    (1, ("window", "sort", "stream")),
    (2, ("slow", "scan")),
    (3, ("vector", "quantum")),
    (4, ("the", "a")),
)
_BM25_K = 5
_BM25_K1, _BM25_B = 1.2, 0.75


def q_doc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 documents for 5 fixed keyword queries
    (operators/search.bm25_topk): postings from one explode+agg,
    idf attached to the tiny query side first, per-(query, doc)
    scores folded in sorted-term order so the float sum is
    deterministic and fully hash-gated."""
    d = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(qid, list(terms)) for qid, terms in _BM25_QUERIES],
        "query_id INT, terms ARRAY<STRING>",
    )
    return bm25_topk(d, queries, k=_BM25_K, k1=_BM25_K1, b=_BM25_B)


def _bm25_oracle(
    k: int = _BM25_K,
    rel: str = "documents",
    prefix_ctes: str = "",
    out_id: str = "doc_id",
) -> str:
    """BM25 oracle text, parameterized so composition gates can run it
    over a derived corpus: ``rel`` names the scored relation (columns
    ``doc_id``, ``text``), ``prefix_ctes`` prepends the CTEs that
    build it, ``out_id`` aliases the id in the final projection."""
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    k1p1 = repr(_BM25_K1 + 1.0)
    one_minus_b = repr(1.0 - _BM25_B)
    return f"""
WITH {prefix_ctes}qs(query_id, term) AS (VALUES {qvals}),
tok AS (
  SELECT doc_id, unnest(t) AS t, len(t) AS dl
  FROM (SELECT doc_id, {_LTOKS} AS t FROM {rel})
),
postings AS (
  SELECT doc_id, t, dl, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2, 3
),
consts AS (
  SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl
  FROM (SELECT len({_LTOKS}) AS dl FROM {rel}) WHERE dl > 0
),
dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY t),
qidf AS (
  SELECT DISTINCT q.query_id, d.t,
         ln(1.0 + ((c.n_docs - d.df) + 0.5) / (d.df + 0.5)) AS idf,
         c.avgdl
  FROM qs q JOIN dfreq d ON d.t = lower(q.term) CROSS JOIN consts c
),
contrib AS (
  SELECT qi.query_id, p.doc_id, qi.t,
         (qi.idf * (p.tf * {k1p1}))
         / (p.tf + {_BM25_K1!r} * ({one_minus_b} + ({_BM25_B!r} * p.dl) / qi.avgdl))
           AS c
  FROM postings p JOIN qidf qi ON p.t = qi.t
),
scores AS (
  SELECT query_id, doc_id,
         round(list_reduce(list_prepend(0.0, list(c ORDER BY t)),
                           (x, y) -> x + y), 6) AS score
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rk
  FROM scores
)
SELECT query_id, CAST(rk AS INTEGER) AS rank, doc_id AS {out_id}, score
FROM ranked WHERE rk <= {k}
"""


ORACLE_DOC_BM25 = _bm25_oracle()


# ---------------------------------------------------------------------------
# Per-source cap (operators/curation.per_key_cap gate)
# ---------------------------------------------------------------------------

_CAP_N = 10


def q_doc_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level down-sampling gate: keep the 10 longest documents
    per source (n_chars DESC, doc_id tiebreak) via the two-stage salt
    tournament — every source is capped below its sf0.01 size (25), so
    the cap genuinely drops rows."""
    d = load_table(spark, sf_dir, "documents")
    return CU.per_key_cap(
        d, _CAP_N, key_col="source", order_col="n_chars", descending=True
    ).select("doc_id", "source", "n_chars", "cap_rank")


ORACLE_DOC_SOURCE_CAP = f"""
SELECT doc_id, source, n_chars, CAST(rk AS INTEGER) AS cap_rank
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
WHERE rk <= {_CAP_N}
"""


# ---------------------------------------------------------------------------
# SemDeDup (operators/similarity.semantic_dedup_survivors gate)
# ---------------------------------------------------------------------------

#: Same planted-duplicate construction as ``q_emb_cosine_dups``
#: (plans/ml_ops.py): power-of-two-scaled copies are bit-exact in
#: direction, so the copy's normalized vector — and therefore its
#: cluster and cosine 1.0 — reproduce in both engines.
_SEM_N_COPIES = 25
_SEM_ID_SHIFT = 10_000
_SEM_THRESHOLD = 0.99
_SEM_CLUSTERS = 8


@functools.lru_cache(maxsize=4)
def _sem_centroids(sf_dir: str) -> tuple:
    """Train-once SemDeDup centroids per scale dir: k-means over the
    UNIT-NORMALIZED base embeddings (the paper clusters the sphere),
    seeded by ``vec_id``."""
    from scraping_etl_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark()
    e = load_table(spark, sf_dir, "embeddings")
    unit = e.select(
        "vec_id", SIM.normalize_embedding(F.col("embedding")).alias("embedding")
    )
    return tuple(
        tuple(c)
        for c in SIM.kmeans_train_fx(
            unit, n_clusters=_SEM_CLUSTERS, iters=SIM.INDEX_ITERS
        )
    )


def _sem_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row dot products against every centroid dominate the map
    # side; spread a one-row-group scan (measured 2.6 -> 1.4 s at sf0.1)
    e = spread_narrow_scan(
        load_table(spark, sf_dir, "embeddings")
    ).select("vec_id", "embedding")
    copies = (
        e.filter(F.col("vec_id") < _SEM_N_COPIES)
        .select(
            (F.col("vec_id") + _SEM_ID_SHIFT).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x.cast("double") * 2.0).cast("float")
            ).alias("embedding"),
        )
    )
    return e.unionByName(copies)


def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup gate: embeddings ∪ 25 two-x-scaled copies → cluster the
    sphere with train-once centroids → within-cluster cosine ≥ 0.99 →
    greedy min-id survivors. The 25 copies (cosine exactly 1.0 with
    their originals, same cluster by the normalization contract) are
    dropped; the random base vectors survive."""
    centroids = [list(c) for c in _sem_centroids(sf_dir)]
    return SIM.semantic_dedup_survivors(
        _sem_corpus(spark, sf_dir), centroids, threshold=_SEM_THRESHOLD
    )


def oracle_emb_semantic_dedup(sf_dir: str) -> str:
    """Lazy DuckDB twin: centroids embedded as DOUBLE plan constants
    (``oracle_emb_ivf_topk`` convention); the SQL
    reproduces the union corpus, unit normalization, L2 assignment
    over the sphere, within-cluster pairs at cosine ≥ threshold
    (rounded 6 before the compare, as the operator does) and the
    greedy id_b drop."""
    centroids = _sem_centroids(sf_dir)
    cent_rows = ",\n         ".join(
        f"({i}, [{double_list_sql(c)}])" for i, c in enumerate(centroids)
    )
    dim = len(centroids[0])
    dot_self = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> {v}[i]::DOUBLE * {v}[i]::DOUBLE), (x, y) -> x + y)"
    )
    sq_dist = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> (u.unit[i] - cent.c[i]) * (u.unit[i] - cent.c[i])), "
        "(x, y) -> x + y)"
    ).format(d=dim)
    dot_ab = (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), "
        "(x, y) -> x + y)"
    )
    norm_a = dot_self.format(d=dim, v="a.embedding")
    norm_b = dot_self.format(d=dim, v="b.embedding")
    return f"""
WITH cent(cid, c) AS (
  VALUES {cent_rows}
), corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_SEM_ID_SHIFT},
         list_transform(embedding, x -> CAST(x::DOUBLE * 2.0 AS FLOAT))
  FROM embeddings WHERE vec_id < {_SEM_N_COPIES}
), unitized AS (
  SELECT vec_id, embedding,
         CASE WHEN sqrt({dot_self.format(d=dim, v='embedding')}) > 0
              THEN list_transform(embedding,
                     x -> x::DOUBLE / sqrt({dot_self.format(d=dim, v='embedding')}))
              ELSE list_transform(embedding, x -> x::DOUBLE) END AS unit
  FROM corpus
), dist AS (
  SELECT u.vec_id, u.embedding, cent.cid, {sq_dist} AS d
  FROM unitized u CROSS JOIN cent
), assign AS (
  SELECT vec_id, embedding, cid AS cluster,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
  FROM dist
), side AS (
  SELECT vec_id, embedding, cluster FROM assign WHERE rk = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(CASE WHEN sqrt({norm_a}) * sqrt({norm_b}) > 0
                    THEN {dot_ab} / (sqrt({norm_a}) * sqrt({norm_b}))
                    ELSE 0.0 END, 6) AS cos_sim
  FROM side a JOIN side b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
), dropped AS (
  SELECT DISTINCT id_b FROM pairs WHERE cos_sim >= {_SEM_THRESHOLD}
)
SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster
FROM side s LEFT JOIN dropped d ON s.vec_id = d.id_b
WHERE d.id_b IS NULL
"""


# ---------------------------------------------------------------------------
# Duplicate passages (operators/curation.duplicate_passage_stats gate)
# ---------------------------------------------------------------------------

#: Corpus construction mirrors the chunk-dedup gate: a re-keyed copy
#: of the first 50 docs guarantees long verbatim cross-document
#: passages (whole-document runs) on top of whatever k-grams the
#: synthetic vocabulary repeats naturally.
_PASS_N_COPIES = 50
_PASS_ID_SHIFT = 100_000
_PASS_K = 5


def q_doc_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage profile over documents ∪ re-keyed copies:
    per-doc k-gram positions, cross-document duplicated positions,
    duplicated fraction and the longest duplicated run."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < _PASS_N_COPIES).select(
        (F.col("doc_id") + _PASS_ID_SHIFT).alias("doc_id"), "text"
    )
    return CU.duplicate_passage_stats(d.unionByName(copies), k=_PASS_K)


ORACLE_DOC_DUP_PASSAGES = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PASS_ID_SHIFT}, text FROM documents
  WHERE doc_id < {_PASS_N_COPIES}
),
tok AS (SELECT doc_id, {_LTOKS} AS t FROM corpus),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {_PASS_K}
              THEN list_transform(generate_series(1, len(t) - {_PASS_K} + 1),
                     i -> array_to_string(list_slice(t, i, i + {_PASS_K} - 1), ' '))
              ELSE [] END AS gs
  FROM tok
),
occ AS (
  SELECT doc_id, unnest(generate_series(1, len(gs))) AS pos, unnest(gs) AS g
  FROM grams
),
dupg AS (
  SELECT g FROM (SELECT g, doc_id FROM occ GROUP BY 1, 2)
  GROUP BY g HAVING count(*) >= 2
),
marked AS (
  SELECT o.doc_id, o.pos, (d.g IS NOT NULL) AS is_dup
  FROM occ o LEFT JOIN dupg d USING (g)
),
islands AS (
  SELECT doc_id,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM marked WHERE is_dup
),
runs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS run
  FROM islands GROUP BY doc_id, grp
),
per_doc_runs AS (
  SELECT doc_id, sum(run) AS n_dup, max(run) AS max_run
  FROM runs GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM occ GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(r.n_dup, 0) AS BIGINT) AS n_dup_grams,
       round(coalesce(r.n_dup, 0) / greatest(coalesce(t.n_grams, 0), 1), 6)
         AS dup_frac,
       CAST(coalesce(r.max_run, 0) AS BIGINT) AS max_dup_run
FROM corpus c
LEFT JOIN totals t USING (doc_id)
LEFT JOIN per_doc_runs r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Trainable quality classifier (operators/classifier.py gate)
# ---------------------------------------------------------------------------

#: Negatives: every token replaced by an 8-hex-char md5 fragment of
#: (token, doc_id) — no stopwords, near-1 distinct ratio, uniform
#: token length — the deterministic stand-in for "raw web noise"
#: against the documents as the curated positives (GPT-3 appendix A
#: trains exactly this shape: curated-vs-raw logistic regression).
_CLF_ITERS = 40
_CLF_LR = 0.5


def _corrupted_negatives(d: DataFrame) -> DataFrame:
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    noise = F.array_join(
        F.transform(
            toks,
            lambda t: F.substring(
                F.md5(F.concat(t, F.col("doc_id").cast("string"))), 1, 8
            ),
        ),
        " ",
    )
    return d.select(F.col("doc_id"), noise.alias("text"))


@functools.lru_cache(maxsize=4)
def _clf_weights(sf_dir: str) -> tuple:
    """Train-once logistic weights per scale dir (documents as
    positives vs md5-corrupted copies as negatives)."""
    from scraping_etl_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark()
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pos = d.withColumn("label", F.lit(1))
    neg = _corrupted_negatives(d).withColumn("label", F.lit(0))
    labeled = CLF.quality_features(pos.unionByName(neg))
    w = CLF.train_logreg(
        labeled, dim=len(CLF.FEATURE_NAMES), lr=_CLF_LR, iters=_CLF_ITERS
    )
    return tuple(w)


def q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier gate: score every document with the
    train-once logistic model (weights as plan constants — map-side
    scoring, the deployment path)."""
    w = list(_clf_weights(sf_dir))
    d = load_table(spark, sf_dir, "documents")
    return CLF.score_logreg(CLF.quality_features(d), w).select(
        "doc_id", "quality_prob"
    )


def oracle_doc_quality_classifier(sf_dir: str) -> str:
    """Lazy DuckDB twin: the learned weights are plan constants; the
    feature pipeline (ln(1+tokens), distinct ratio, stopword ratio
    rounded 6, mean token length, non-alnum ratio) and the
    left-to-right sigmoid dot fold are written out explicitly."""
    w = _clf_weights(sf_dir)
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS["en"])
    feats = [
        "1.0",
        "ln(1.0 + len(toks))",
        "CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1)",
        (
            "round(CAST(len(list_filter(ltoks, x -> x IN ({sl}))) AS DOUBLE)"
            " / greatest(len(ltoks), 1), 6)"
        ).format(sl=stop_list),
        (
            "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(toks, x -> CAST(len(x) AS BIGINT))), "
            "(a, b) -> a + b) AS DOUBLE) / greatest(len(toks), 1)"
        ),
        (
            "CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) "
            "AS DOUBLE) / greatest(len(text), 1)"
        ),
    ]
    z = "0.0"
    for wj, fj in zip(w, feats):
        z = f"({z} + CAST({float(wj)!r} AS DOUBLE) * ({fj}))"
    return f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks, {_LTOKS} AS ltoks FROM documents
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-({z}))), 6) AS quality_prob
FROM base
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (operators/curation.dsir_weights gate)
# ---------------------------------------------------------------------------

#: Same deterministic slice convention as the reference-LM gate in
#: plans/corpus_ops.py: target LM = doc_id ≡ 0 (mod 7) slice, raw
#: pool = everything else; the raw LM is the pool's own counts.
_DSIR_REF_FILTER = "doc_id % 7 = 0"
_DSIR_POOL_FILTER = "doc_id % 7 <> 0"

_BI_SQL = (
    "CASE WHEN len(t) >= 2 "
    "THEN list_transform(generate_series(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1]) ELSE [] END"
)


def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR gate: importance log-weights for the raw pool — target LM
    trained on the curated mod-7 slice (reference mode, smoothing
    floors), raw LM = the pool's own counts (self mode), weight =
    difference of the per-bigram-normalized log-likelihoods."""
    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 7 == 0)
    pool = d.filter(F.col("doc_id") % 7 != 0)
    # the pool is scored under TWO models (target LM + its own) —
    # derive the per-(doc, bigram) relation once, materialize, share
    # (one pool explode instead of two; value-identical, r16)
    pairs = CP.lm_gram_pairs(pool).localCheckpoint()
    t_scored = CP.with_lm_score(pool, lm=target, pairs=pairs)
    r_scored = CP.with_lm_score(pool, pairs=pairs)
    return CU.dsir_weights(pool, t_scored, r_scored)


ORACLE_DOC_DSIR_WEIGHTS = f"""
WITH lmtok AS (
  SELECT {_LTOKS} AS t FROM documents WHERE {_DSIR_REF_FILTER}
),
tbc AS (
  SELECT g, count(*) AS cbi
  FROM (SELECT unnest({_BI_SQL}) AS g FROM lmtok) GROUP BY 1
),
tuc AS (
  SELECT w, count(*) AS cw
  FROM (SELECT unnest(t) AS w FROM lmtok) GROUP BY 1
),
tv AS (SELECT count(*) AS v FROM tuc),
pool AS (SELECT doc_id, {_LTOKS} AS t FROM documents WHERE {_DSIR_POOL_FILTER}),
pbi AS (SELECT doc_id, unnest({_BI_SQL}) AS g FROM pool),
t_agg AS (
  SELECT pbi.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(ln((coalesce(tbc.cbi, 0) + 1.0)
                      / (coalesce(tuc.cw, 0) + tv.v))), 6) AS logp_t
  FROM pbi
  LEFT JOIN tbc USING (g)
  LEFT JOIN tuc ON tuc.w = split_part(pbi.g, ' ', 1)
  CROSS JOIN tv
  GROUP BY 1
),
rbc AS (SELECT g, count(*) AS cbi FROM pbi GROUP BY 1),
ruc AS (
  SELECT w, count(*) AS cw
  FROM (SELECT unnest(t) AS w FROM pool) GROUP BY 1
),
rv AS (SELECT count(*) AS v FROM ruc),
r_agg AS (
  SELECT pbi.doc_id,
         round(avg(ln((rbc.cbi + 1.0) / (ruc.cw + rv.v))), 6) AS logp_r
  FROM pbi
  JOIN rbc USING (g)
  JOIN ruc ON ruc.w = split_part(pbi.g, ' ', 1)
  CROSS JOIN rv
  GROUP BY 1
)
SELECT p.doc_id,
       CAST(coalesce(t_agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       coalesce(t_agg.logp_t, 0.0) AS logp_target,
       coalesce(r_agg.logp_r, 0.0) AS logp_raw,
       round(coalesce(t_agg.logp_t, 0.0) - coalesce(r_agg.logp_r, 0.0), 6)
         AS log_weight
FROM (SELECT doc_id FROM documents WHERE {_DSIR_POOL_FILTER}) p
LEFT JOIN t_agg USING (doc_id)
LEFT JOIN r_agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprint candidates (operators/dedup.winnow_candidate_pairs)
# ---------------------------------------------------------------------------

#: Planted-overlap construction (re-keyed copies, the chunk-dedup
#: convention) so the candidate pass has guaranteed long shared
#: substrings; winnowing parameters small enough that the tiny
#: synthetic vocabulary still yields several prints per doc.
_WIN_N_COPIES = 50
_WIN_ID_SHIFT = 200_000
_WIN_K, _WIN_W = 4, 4
_WIN_MIN_SHARED = 2
_WIN_MAX_DOCS = 64


def q_doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing candidate pairs over documents ∪ re-keyed
    copies: per-row k-gram hash windows → distinct selected prints →
    too-common filter → shared-print pair counts ≥ 2."""
    from scraping_etl_spark.operators.dedup import winnow_candidate_pairs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") < _WIN_N_COPIES).select(
        (F.col("doc_id") + _WIN_ID_SHIFT).alias("doc_id"), "text"
    )
    return winnow_candidate_pairs(
        d.unionByName(copies),
        k=_WIN_K, w=_WIN_W,
        min_shared=_WIN_MIN_SHARED, max_docs_per_fp=_WIN_MAX_DOCS,
    )


ORACLE_DOC_WINNOW_PAIRS = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_WIN_ID_SHIFT}, text FROM documents
  WHERE doc_id < {_WIN_N_COPIES}
),
tok AS (SELECT doc_id, {_LTOKS} AS t FROM corpus),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {_WIN_K}
              THEN list_transform(generate_series(1, len(t) - {_WIN_K} + 1),
                     i -> array_to_string(list_slice(t, i, i + {_WIN_K} - 1), ' '))
              ELSE [] END AS gs
  FROM tok
),
hashed AS (
  SELECT doc_id,
         list_transform(gs, g -> (('0x' || substr(md5(g), 1, 15))::BIGINT)) AS hs
  FROM grams
),
selected AS (
  SELECT doc_id,
         list_distinct(
           CASE
             WHEN len(hs) >= {_WIN_W} THEN
               list_transform(generate_series(1, len(hs) - {_WIN_W} + 1),
                 i -> list_reduce(list_slice(hs, i, i + {_WIN_W} - 1),
                                  (x, y) -> least(x, y)))
             WHEN len(hs) > 0 THEN
               [list_reduce(hs, (x, y) -> least(x, y))]
             ELSE []
           END) AS fps
  FROM hashed
),
fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM selected),
common AS (
  SELECT fingerprint FROM fp GROUP BY 1 HAVING count(*) > {_WIN_MAX_DOCS}
),
kept AS (
  SELECT f.doc_id, f.fingerprint
  FROM fp f LEFT JOIN common c USING (fingerprint)
  WHERE c.fingerprint IS NULL
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WIN_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# Gumbel-top-k weighted sample (operators/curation.weighted_sample_gumbel)
# ---------------------------------------------------------------------------

_GUM_N = 100
_GUM_SEED = "r8"


def q_doc_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document samplers, method-tagged: one row per
    sampled document across BOTH of the engine's deterministic
    md5-derived samplers:

    - ``method='gumbel'``: 100 documents drawn with probability
      ∝ (1 + n_chars) via Gumbel-top-k over md5 noise
      (curation.weighted_sample_gumbel), columns
      ``(doc_id, lang, n_chars, gumbel_key)``.
    - ``method='stratified'``: ``corpus_ops.q_doc_stratified_sample``
      verbatim — per-language uniform N smallest
      (md5(doc_id), doc_id) via the two-stage salt tournament
      (corpus_prep.stratified_sample_n), columns
      ``(doc_id, lang, sample_rank)``.

    Each method's missing columns are null-padded, so the union IS the
    two components side by side — the weighted-vs-uniform pick overlap
    is the sampler-calibration comparison the tag enables. Both
    component oracles are embedded verbatim as CTEs."""
    from scraping_etl_spark.plans.corpus_ops import q_doc_stratified_sample

    d = load_table(spark, sf_dir, "documents")
    weighted = d.withColumn("log_weight", F.log(F.lit(1.0) + F.col("n_chars")))
    gumbel = CU.weighted_sample_gumbel(
        weighted, _GUM_N, weight_col="log_weight", seed=_GUM_SEED
    ).select(
        F.lit("gumbel").alias("method"),
        "doc_id", "lang", "n_chars",
        F.lit(None).cast("int").alias("sample_rank"),
        "gumbel_key",
    )
    strat = q_doc_stratified_sample(spark, sf_dir).select(
        F.lit("stratified").alias("method"),
        "doc_id", "lang",
        F.lit(None).cast("long").alias("n_chars"),
        "sample_rank",
        F.lit(None).cast("double").alias("gumbel_key"),
    )
    return gumbel.unionByName(strat)


#: The gumbel component alone, embedded verbatim in the superset
#: oracle.
ORACLE_DOC_GUMBEL_COMPONENT = f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         round(
           ln(1.0 + n_chars)
           + (- ln(- ln(
               ((('0x' || substr(md5('{_GUM_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 ::DOUBLE + 0.5) / {float(1 << 60)!r})))),
           6) AS gumbel_key
  FROM documents
)
SELECT doc_id, lang, n_chars, gumbel_key
FROM keyed
ORDER BY gumbel_key DESC, doc_id
LIMIT {_GUM_N}
"""


def _gumbel_superset_oracle() -> str:
    """Fold-superset oracle: both component oracles verbatim as CTEs,
    method-tagged and null-padded to the union schema."""
    from scraping_etl_spark.plans.corpus_ops import ORACLE_DOC_STRATIFIED_SAMPLE

    return f"""
WITH gumbel_tier AS (
{ORACLE_DOC_GUMBEL_COMPONENT}
), strat_tier AS (
{ORACLE_DOC_STRATIFIED_SAMPLE}
)
SELECT 'gumbel' AS method, doc_id, lang, n_chars,
       CAST(NULL AS INTEGER) AS sample_rank, gumbel_key
FROM gumbel_tier
UNION ALL
SELECT 'stratified' AS method, doc_id, lang,
       CAST(NULL AS BIGINT) AS n_chars, sample_rank,
       CAST(NULL AS DOUBLE) AS gumbel_key
FROM strat_tier
"""


ORACLE_DOC_GUMBEL_SAMPLE = _gumbel_superset_oracle()


# ---------------------------------------------------------------------------
# Semantic cluster profile (cluster_assign + per-cluster rollup)
# ---------------------------------------------------------------------------

def q_emb_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster corpus profile over the trained IVF index (the
    domain-discovery face of `emb_cluster_assign`): vector count,
    distinct labels, label range and mean centroid distance per
    cluster — a groupBy over the zero-shuffle assignment."""
    from scraping_etl_spark.operators.similarity import cluster_assign

    e = load_table(spark, sf_dir, "embeddings")
    centroids = [list(c) for c in _ivf_index(sf_dir)]
    assigned = cluster_assign(e, centroids).join(
        e.select("vec_id", "label"), "vec_id"
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.count_distinct("label").cast("long").alias("n_labels"),
        F.min("label").alias("min_label"),
        F.max("label").alias("max_label"),
        F.round(F.avg("sq_dist"), 6).alias("avg_sq_dist"),
    )


def oracle_emb_cluster_profile(sf_dir: str) -> str:
    """Lazy DuckDB twin sharing ``oracle_emb_cluster_assign``'s
    centroid plan constants and assignment SQL, plus the rollup."""
    assign_sql = oracle_emb_cluster_assign(sf_dir)
    return f"""
WITH assign AS (
{assign_sql}
)
SELECT a.cluster,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(DISTINCT e.label) AS BIGINT) AS n_labels,
       min(e.label) AS min_label,
       max(e.label) AS max_label,
       round(avg(a.sq_dist), 6) AS avg_sq_dist
FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Host-graph PageRank (operators/graph.py gate) — crawl prioritization
# ---------------------------------------------------------------------------

_PR_ITER = 5


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-prioritization gate: PageRank over a deterministic host
    link graph derived from the documents table (one out-link per doc,
    from its source host to the host at index ``doc_id % n_hosts`` —
    except every third doc links to host 0, making it a genuine hub so
    the fixpoint is non-uniform and the hash gate has teeth; a pure
    function of the data either way, so the oracle reproduces the same
    multigraph). Integer fixed-point power iteration
    (operators/graph.py) makes the 5-round fixpoint bit-identical on
    both engines; ``rank`` is the readable double, ``rank_fx`` the
    exact gate value."""
    from scraping_etl_spark.operators.graph import PR_SCALE, pagerank
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    hosts = (
        d.select("source").distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy("source")) - 1,
        )
    )
    n_hosts = hosts.count()
    edges = d.select(
        F.col("source").alias("src"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(0))
        .otherwise(F.col("doc_id") % n_hosts)
        .cast("int")
        .alias("_i"),
    ).join(
        F.broadcast(hosts), F.col("_i") == F.col("idx")
    ).select("src", F.col("source").alias("dst"))
    ranks = pagerank(edges, n_iter=_PR_ITER)
    return ranks.select(
        F.col("node").alias("host"),
        "rank_fx",
        F.round(F.col("rank_fx") / F.lit(float(PR_SCALE)), 8).alias("rank"),
    )


def _pagerank_oracle_sql(n_iter: int) -> str:
    """Unrolled-CTE DuckDB twin of q_host_pagerank: identical integer
    fixed-point algebra (BIGINT ranks in 1e-12 units, floor division
    by out-degree, damping 17/20 as integer multiply-then-divide), one
    CTE layer per power-iteration round."""
    from scraping_etl_spark.operators.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_SCALE,
    )

    parts = [f"""
WITH hosts AS (
  SELECT source AS node,
         row_number() OVER (ORDER BY source) - 1 AS idx
  FROM (SELECT DISTINCT source FROM documents)
),
nn AS (SELECT count(*) AS n FROM hosts),
edges AS (
  SELECT d.source AS src, h.node AS dst
  FROM documents d
  JOIN hosts h
    ON h.idx = CASE WHEN d.doc_id % 3 = 0 THEN 0
                    ELSE d.doc_id % (SELECT n FROM nn) END
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
r0 AS (
  SELECT node,
         CAST({PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS rank_fx
  FROM hosts
)"""]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(f""",
c{i} AS (
  SELECT e.dst AS node, sum(r.rank_fx // d.deg) AS inflow
  FROM r{p} r JOIN deg d ON r.node = d.src
  JOIN edges e ON e.src = r.node
  GROUP BY 1
),
d{i} AS (
  SELECT coalesce(sum(rank_fx), 0) AS dm
  FROM r{p} WHERE node NOT IN (SELECT src FROM deg)
),
r{i} AS (
  SELECT h.node,
         CAST(({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM})
                // ({PR_DAMP_DEN} * (SELECT n FROM nn))
              + ({PR_DAMP_NUM} * (coalesce(c.inflow, 0)
                                  + (SELECT dm FROM d{i})
                                    // (SELECT n FROM nn)))
                // {PR_DAMP_DEN} AS BIGINT) AS rank_fx
  FROM hosts h LEFT JOIN c{i} c ON h.node = c.node
)""")
    parts.append(f"""
SELECT node AS host, rank_fx,
       round(rank_fx / {float(PR_SCALE)!r}, 8) AS rank
FROM r{n_iter}
""")
    return "".join(parts)


ORACLE_HOST_PAGERANK = _pagerank_oracle_sql(_PR_ITER)


# ---------------------------------------------------------------------------
# Hashing-trick TF-IDF (operators/classifier.hashing_tfidf gate)
# ---------------------------------------------------------------------------

_TFIDF_F = 64  # small width at gate scale so slot collisions actually occur


def q_doc_hashing_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing TF-IDF gate: sparse (doc, slot, tf, tfidf) rows
    over a deliberately narrow 64-slot space (collisions present, so
    the hash-and-sum path is genuinely exercised). idf is the smoothed
    slot document frequency; both engines reproduce the md5-slot and
    the double math bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    return CLF.hashing_tfidf(d, n_features=_TFIDF_F)


ORACLE_DOC_HASHING_TFIDF = f"""
WITH tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS t FROM documents
),
tf AS (
  SELECT doc_id,
         (('0x' || substr(md5(t), 1, 15))::BIGINT % {_TFIDF_F}) AS slot,
         CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
idf AS (
  -- same ln(quotient) shape as the Spark side (NOT ln(a) - ln(b):
  -- the two differ in the last ulp and the gate rounds at 6dp)
  SELECT slot,
         ln(((SELECT n FROM n) + 1.0)
            / (count(DISTINCT doc_id) + 1.0)) + 1.0 AS _idf
  FROM tf GROUP BY 1
)
SELECT tf.doc_id, tf.slot, tf.tf,
       round(tf.tf * idf._idf, 6) AS tfidf
FROM tf JOIN idf USING (slot)
"""


# ---------------------------------------------------------------------------
# Positional phrase search (operators/search.phrase_match gate)
# ---------------------------------------------------------------------------

#: Fixed phrase workload over the synthetic vocabulary: a common
#: bigram, a 3-term phrase, a REPEATED-term phrase (the anchor
#: algorithm's hard case — "a a" must not certify on a single "a"),
#: and a phrase absent from the corpus.
_PHRASES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("table", "value")),
    (1, ("fast", "table", "value")),
    (2, ("a", "a")),
    (3, ("spark", "shuffle")),
)


def q_doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase-occurrence search for 4 fixed phrases
    (operators/search.phrase_match): positional postings + anchor
    alignment vote, one partial-agg shuffle at matched-posting
    cardinality, zero self-joins."""
    from scraping_etl_spark.operators.search import phrase_match

    d = load_table(spark, sf_dir, "documents")
    phrases = spark.createDataFrame(
        [(pid, list(terms)) for pid, terms in _PHRASES],
        "phrase_id INT, terms ARRAY<STRING>",
    )
    return phrase_match(d, phrases)


def _phrase_oracle() -> str:
    pvals = ", ".join(
        f"({pid}, {i}, '{t}')"
        for pid, terms in _PHRASES
        for i, t in enumerate(terms)
    )
    return f"""
WITH pt(pid, i, ptm) AS (VALUES {pvals}),
pm AS (SELECT pid, count(*) AS m FROM pt GROUP BY 1),
tok AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS w
  FROM (SELECT doc_id, {_LTOKS} AS t FROM documents)
),
an AS (
  SELECT pt.pid, tok.doc_id, tok.pos - pt.i AS a,
         count(DISTINCT pt.i) AS hits
  FROM tok JOIN pt ON tok.w = pt.ptm
  GROUP BY 1, 2, 3
),
occ AS (
  SELECT an.pid, an.doc_id, an.a
  FROM an JOIN pm USING (pid) WHERE an.hits = pm.m
)
SELECT pid AS phrase_id, doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(a) AS BIGINT) AS first_pos
FROM occ GROUP BY 1, 2
"""


ORACLE_DOC_PHRASE_SEARCH = _phrase_oracle()


# ---------------------------------------------------------------------------
# Bag-of-hashed-words linear classifier (the fastText deployment shape)
# ---------------------------------------------------------------------------

#: Hash width of the gate model. Production widths (HASH_FEATURES) make
#: the idf/weight constant lists longer, nothing else — the plan shape
#: and the oracle generation are width-independent.
_FCLF_FEATURES = 32
_FCLF_ITERS = 15
_FCLF_LR = 0.5
#: Negative-copy id offset: keeps corrupted rows from colliding with
#: their positives in the (doc, slot) tf aggregation.
_FCLF_NEG_OFFSET = 10**12


@functools.lru_cache(maxsize=4)
def _fclf_model(sf_dir: str) -> tuple:
    """Train-once (idf[32], w[33]) per scale dir: documents as curated
    positives vs their md5-corrupted copies as raw negatives (the
    ``_clf_weights`` labeling), features = hashed TF-IDF. The idf
    table is LEARNED from the training corpus and frozen into the
    model — deployment scoring then needs no corpus-wide statistics
    pass (:func:`classifier.score_hashed_logreg`)."""
    import math

    from scraping_etl_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark()
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pos = d
    neg = _corrupted_negatives(d).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_FCLF_NEG_OFFSET)
    )
    labeled_txt = pos.unionByName(neg)
    # one distinct-count job, shared with hashing_tfidf's idf formula;
    # materialize_tf stops the (doc, slot) aggregation from executing
    # twice (once under the idf collect, once under the feature
    # checkpoint) — both pure cost knobs, output unchanged (r16)
    n_docs = labeled_txt.select("doc_id").distinct().count()
    sp, idf_df = CLF.hashing_tfidf(
        labeled_txt, n_features=_FCLF_FEATURES, return_idf=True,
        materialize_tf=True, n_docs=n_docs,
    )
    # model-scale collect: <= n_features rows (the train-once convention)
    idf_rows = {r["slot"]: float(r["_idf"]) for r in idf_df.collect()}
    empty_slot_idf = math.log(float(n_docs + 1)) + 1.0
    idf = [idf_rows.get(s, empty_slot_idf) for s in range(_FCLF_FEATURES)]
    dense = CLF.dense_from_sparse(sp, _FCLF_FEATURES)
    zeros = F.array(*[F.lit(0.0)] * _FCLF_FEATURES)
    labeled = (
        pos.select("doc_id", F.lit(1).alias("label"))
        .unionByName(neg.select("doc_id", F.lit(0).alias("label")))
        .join(dense, "doc_id", "left")
        .select(
            "label",
            F.concat(
                F.array(F.lit(1.0)), F.coalesce(F.col("dense"), zeros)
            ).alias("features"),
        )
    )
    w = CLF.train_logreg(
        labeled, dim=_FCLF_FEATURES + 1, lr=_FCLF_LR, iters=_FCLF_ITERS
    )
    return tuple(idf), tuple(w)


def q_doc_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words quality classifier, deployment path: the
    trained (idf, weights) ride as plan constants; scoring is one
    (doc, slot) partial agg + a fixed-point sparse dot — no
    corpus-scale joins (classifier.score_hashed_logreg)."""
    idf, w = _fclf_model(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    return CLF.score_hashed_logreg(
        d, list(idf), list(w), _FCLF_FEATURES
    ).select("doc_id", "quality_prob")


def oracle_doc_hashed_classifier(sf_dir: str) -> str:
    """Lazy DuckDB twin: idf + weights as plan constants; the md5-slot
    hash, the round-6 tfidf, and the fixed-point dot grid are written
    out with the exact Spark-side arithmetic shape."""
    idf, w = _fclf_model(sf_dir)
    idf_list = double_list_sql(idf)
    w_list = double_list_sql(w[1:])
    fx = "1000000000000.0"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS tok FROM documents
), tf AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT
              % {_FCLF_FEATURES} AS BIGINT) AS slot,
         CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
), term AS (
  SELECT doc_id,
         CAST(round(
           list_extract(list_value({w_list}), CAST(slot AS INTEGER) + 1)
           * round(tf * list_extract(list_value({idf_list}),
                                     CAST(slot AS INTEGER) + 1), 6)
           * {fx}) AS BIGINT) AS fxv
  FROM tf
), z AS (
  SELECT doc_id, sum(fxv) AS zfx FROM term GROUP BY 1
)
SELECT d.doc_id,
       round(1.0 / (1.0 + exp(-(CAST({float(w[0])!r} AS DOUBLE)
                                + coalesce(CAST(z.zfx AS DOUBLE), 0.0)
                                  / {fx}))), 6) AS quality_prob
FROM documents d LEFT JOIN z USING (doc_id)
"""


def q_doc_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span removal (curation.remove_duplicate_spans):
    drop every token covered by a cross-document-duplicated 5-gram,
    reassemble the survivors in order — the text itself hash-gates."""
    d = load_table(spark, sf_dir, "documents")
    return CU.remove_duplicate_spans(d, k=5)


ORACLE_DOC_DEDUP_SPANS = f"""
WITH tok AS (
  SELECT doc_id, {_LTOKS} AS t FROM documents
), toks AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS w
  FROM tok
), grams AS (
  SELECT doc_id, generate_subscripts(gs, 1) - 1 AS gpos, unnest(gs) AS g
  FROM (SELECT doc_id,
               CASE WHEN len(t) >= 5
                    THEN list_transform(generate_series(1, len(t) - 4),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
                    ELSE [] END AS gs
        FROM tok)
), dup AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams)
  GROUP BY g HAVING count(*) >= 2
), cov AS (
  SELECT DISTINCT gr.doc_id, gr.gpos + off.o AS pos
  FROM grams gr JOIN dup USING (g), generate_series(0, 4) AS off(o)
), kept AS (
  SELECT t.doc_id, t.pos, t.w
  FROM toks t LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.pos
  WHERE cov.doc_id IS NULL
), re AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_kept,
         count(*) AS n_kept
  FROM kept GROUP BY 1
), tot AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(tot.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(tot.n_tokens, 0) - coalesce(re.n_kept, 0) AS BIGINT)
         AS n_dropped,
       coalesce(re.text_kept, '') AS text_kept
FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN re USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 -> PRF embedding rerank
# ---------------------------------------------------------------------------

_HY_K_LEX, _HY_K, _HY_DIM = 20, 5, 64


def q_doc_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval gate (search.hybrid_prf_topk): the same 5
    keyword queries as ``doc_bm25``, top-20 lexical candidates
    re-ranked by cosine to the top hit's embedding (PRF), final
    top-5 — the full retrieve-then-rerank composition in one
    hash-gated query."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    queries = spark.createDataFrame(
        [(qid, list(terms)) for qid, terms in _BM25_QUERIES],
        "query_id INT, terms ARRAY<STRING>",
    )
    return hybrid_prf_topk(
        d, queries, e, k_lex=_HY_K_LEX, k=_HY_K, k1=_BM25_K1, b=_BM25_B
    )


def _hybrid_oracle() -> str:
    dot_vp = (
        "list_reduce(list_prepend(0.0, list_transform(generate_series(1, {d}), "
        "i -> c.v[i] * c.pv[i])), (x, y) -> x + y)"
    ).format(d=_HY_DIM)
    nv = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, {d}), "
        "i -> c.v[i] * c.v[i])), (x, y) -> x + y))"
    ).format(d=_HY_DIM)
    npv = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, {d}), "
        "i -> c.pv[i] * c.pv[i])), (x, y) -> x + y))"
    ).format(d=_HY_DIM)
    return f"""
WITH lex AS ({_bm25_oracle(k=_HY_K_LEX)}),
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
prf AS (
  SELECT l.query_id, e.v AS pv
  FROM lex l JOIN emb e ON e.vec_id = l.doc_id
  WHERE l.rank = 1
),
cand AS (
  SELECT l.query_id, l.doc_id, e.v, p.pv
  FROM lex l
  JOIN emb e ON e.vec_id = l.doc_id
  JOIN prf p USING (query_id)
),
scored AS (
  SELECT query_id, doc_id,
         round(CASE WHEN {nv} * {npv} > 0
                    THEN {dot_vp} / ({nv} * {npv}) ELSE 0.0 END, 6) AS cos_sim
  FROM cand c
),
ranked AS (
  SELECT query_id, doc_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, doc_id) AS rk
  FROM scored
)
SELECT query_id, CAST(rk AS INTEGER) AS rank, doc_id, cos_sim
FROM ranked WHERE rk <= {_HY_K}
"""


ORACLE_DOC_HYBRID_SEARCH = _hybrid_oracle()


# ---------------------------------------------------------------------------
# Banned-term content screen
# ---------------------------------------------------------------------------

_SCREEN_TERMS = ("spark", "vector", "stream")


def q_doc_term_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-boundary banned-term screen (curation.term_screen) over a
    fixed 3-term list known to occur in the corpus — hit counts,
    distinct-term counts and the keep verdict all hash-gate."""
    d = load_table(spark, sf_dir, "documents")
    return CU.term_screen(d, list(_SCREEN_TERMS), max_hits=0)


ORACLE_DOC_TERM_SCREEN = f"""
WITH t AS (
  SELECT doc_id,
         list_filter({_LTOKS},
                     x -> x IN ({", ".join("'" + t + "'" for t in _SCREEN_TERMS)}))
           AS hits
  FROM documents
)
SELECT doc_id,
       CAST(len(hits) AS BIGINT) AS n_hits,
       CAST(len(list_distinct(hits)) AS BIGINT) AS n_terms,
       len(hits) <= 0 AS keep
FROM t
"""


# ---------------------------------------------------------------------------
# RAG retrieval pipeline: chunk -> dedup -> BM25 over chunks
# ---------------------------------------------------------------------------

_RAGP_K = 5
_RAGP_ID_BASE = 1000


def q_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval composition in one hash-gated query: overlapping
    chunking (corpus_prep.sliding_chunks, the ``doc_rag_chunks``
    grid), exact-duplicate chunk collapse (min-id survivor per
    identical chunk text — overlapping windows of near-identical docs
    produce verbatim chunk dupes), then BM25 top-5 over the CHUNK
    corpus for the standard 5 queries. Chunk ids are
    ``doc_id * 1000 + chunk_idx`` (chunk counts are bounded far below
    1000 by the doc-length cap). The composition is the point: a
    retrieval index built over derived chunks, every stage already
    individually gated."""
    from scraping_etl_spark.plans.corpus_ops import _RAG_SIZE, _RAG_STRIDE

    d = load_table(spark, sf_dir, "documents")
    ch = CP.sliding_chunks(d, size=_RAG_SIZE, stride=_RAG_STRIDE)
    cd = ch.select(
        (F.col("doc_id") * _RAGP_ID_BASE + F.col("chunk_idx")).alias("chunk_id"),
        F.col("chunk_text"),
    )
    survivors = cd.groupBy("chunk_text").agg(
        F.min("chunk_id").alias("chunk_id")
    ).localCheckpoint()
    # ^ bm25_topk consumes its corpus TWICE (the N/avgdl constants
    # projection and the posting build) — without the cut the chunk
    # explode + dedup shuffle ran once per consumer (r17; the kept2
    # convention)
    queries = spark.createDataFrame(
        [(qid, list(terms)) for qid, terms in _BM25_QUERIES],
        "query_id INT, terms ARRAY<STRING>",
    )
    return bm25_topk(
        survivors, queries, k=_RAGP_K,
        k1=_BM25_K1, b=_BM25_B,
        id_col="chunk_id", text_col="chunk_text",
    )


def _rag_pipeline_oracle() -> str:
    from scraping_etl_spark.plans.corpus_ops import ORACLE_DOC_RAG_CHUNKS

    prefix = f"""ch AS ({ORACLE_DOC_RAG_CHUNKS}),
cd AS (
  SELECT doc_id * {_RAGP_ID_BASE} + chunk_idx AS doc_id,
         chunk_text AS text
  FROM ch
),
chunks_d AS (SELECT min(doc_id) AS doc_id, text FROM cd GROUP BY text),
"""
    return _bm25_oracle(
        k=_RAGP_K, rel="chunks_d", prefix_ctes=prefix, out_id="chunk_id"
    )


ORACLE_RAG_PIPELINE = _rag_pipeline_oracle()


# ---------------------------------------------------------------------------
# HITS hubs/authorities gate (operators/graph.hits)
# ---------------------------------------------------------------------------

_HITS_ITER = 4


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub/authority gate: Kleinberg HITS over the SAME deterministic
    host multigraph as ``host_pagerank`` (every third doc links host 0
    — host 0 becomes the strong authority, its habitual linkers the
    strong hubs, so the two roles genuinely separate and the hash has
    teeth). Integer fixed-point with per-round floor-div L1
    renormalization (operators/graph.hits) makes the 4-round fixpoint
    bit-identical on both engines."""
    from pyspark.sql.window import Window

    from scraping_etl_spark.operators.graph import HITS_SCALE, hits

    d = load_table(spark, sf_dir, "documents")
    hosts = (
        d.select("source").distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy("source")) - 1,
        )
    )
    n_hosts = hosts.count()
    edges = d.select(
        F.col("source").alias("src"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(0))
        .otherwise(F.col("doc_id") % n_hosts)
        .cast("int")
        .alias("_i"),
    ).join(
        F.broadcast(hosts), F.col("_i") == F.col("idx")
    ).select("src", F.col("source").alias("dst"))
    out = hits(edges, n_iter=_HITS_ITER)
    return out.select(
        F.col("node").alias("host"),
        "hub_fx",
        "auth_fx",
        F.round(F.col("hub_fx") / F.lit(float(HITS_SCALE)), 8).alias("hub"),
        F.round(F.col("auth_fx") / F.lit(float(HITS_SCALE)), 8).alias("auth"),
    )


def _hits_oracle_sql(n_iter: int) -> str:
    """Unrolled-CTE DuckDB twin of q_host_hits: identical integer
    algebra (BIGINT weights in 1e-9 units, floor-div L1 renorm by the
    floor-divided total), one CTE pair per iteration."""
    from scraping_etl_spark.operators.graph import HITS_SCALE

    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and this chain references each level several times
    # (expression + scalar-total subquery) — inlined, the 4-iteration
    # unroll re-evaluates the base exponentially and never finishes
    parts = [f"""
WITH hosts AS MATERIALIZED (
  SELECT source AS node,
         row_number() OVER (ORDER BY source) - 1 AS idx
  FROM (SELECT DISTINCT source FROM documents)
),
nn AS MATERIALIZED (SELECT count(*) AS n FROM hosts),
edges AS MATERIALIZED (
  SELECT d.source AS src, h.node AS dst
  FROM documents d
  JOIN hosts h
    ON h.idx = CASE WHEN d.doc_id % 3 = 0 THEN 0
                    ELSE d.doc_id % (SELECT n FROM nn) END
),
h0 AS MATERIALIZED (SELECT node, CAST({HITS_SCALE} AS BIGINT) AS hub_fx FROM hosts)"""]
    for i in range(1, n_iter + 1):
        p = i - 1
        parts.append(f""",
ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub_fx) AS x
  FROM h{p} h JOIN edges e ON e.src = h.node
  GROUP BY 1
),
a{i} AS MATERIALIZED (
  SELECT node,
         x // greatest((SELECT coalesce(sum(x), 1) FROM ar{i})
                         // {HITS_SCALE}, 1) AS auth_fx
  FROM ar{i}
),
hr{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth_fx) AS x
  FROM a{i} a JOIN edges e ON e.dst = a.node
  GROUP BY 1
),
h{i} AS MATERIALIZED (
  SELECT node,
         x // greatest((SELECT coalesce(sum(x), 1) FROM hr{i})
                         // {HITS_SCALE}, 1) AS hub_fx
  FROM hr{i}
)""")
    parts.append(f"""
SELECT n.node AS host,
       CAST(coalesce(h.hub_fx, 0) AS BIGINT) AS hub_fx,
       CAST(coalesce(a.auth_fx, 0) AS BIGINT) AS auth_fx,
       round(coalesce(h.hub_fx, 0) / {float(HITS_SCALE)!r}, 8) AS hub,
       round(coalesce(a.auth_fx, 0) / {float(HITS_SCALE)!r}, 8) AS auth
FROM hosts n
LEFT JOIN h{n_iter} h ON h.node = n.node
LEFT JOIN a{n_iter} a ON a.node = n.node
""")
    return "".join(parts)


ORACLE_HOST_HITS = _hits_oracle_sql(_HITS_ITER)

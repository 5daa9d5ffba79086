r"""LLM-data-pipeline query surface: dedup, similarity search,
multimodal plumbing, and star-schema-shaped queries on the scale tables.

Each query is the driver-gate face of an operator module
(operators/dedup.py, operators/similarity.py, operators/multimodal.py,
etl/star_schema.py); the oracle strings are exact DuckDB mirrors built
around engine-portable primitives (md5 hashing, lexicographic mins,
sequential left-folds) — see the determinism notes in the operator
modules.

Corpus-construction note: the driver's ``documents`` table has no
duplicate texts at sf0.01, so the dedup queries union the table with a
deterministically mutated copy of itself (same transformation in the
oracle SQL) — the operator then has real duplicates to find while
remaining hash-comparable.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scraping_etl_spark.operators import dedup as DD
from scraping_etl_spark.operators import linkage as LK
from scraping_etl_spark.operators import multimodal as MM
from scraping_etl_spark.operators import similarity as SIM
from scraping_etl_spark.operators.textstats import tokens
from scraping_etl_spark.sources.readers import load_table, spread_narrow_scan

_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# Exact dedup (hash groupBy)
# ---------------------------------------------------------------------------

def _docs_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return d.unionByName(dup)


def q_doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups over documents ∪ re-keyed copy of the
    first 50 docs. One md5-groupBy shuffle (operators/dedup.py)."""
    return DD.exact_dup_groups(_docs_with_exact_dups(spark, sf_dir)).select(
        "dup_key", "n_docs", "min_doc_id", "max_doc_id"
    )


ORACLE_DOC_EXACT_DUPS = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
)
SELECT md5(text) AS dup_key,
       count(*)    AS n_docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM corpus GROUP BY 1 HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# MinHash-LSH near-dedup
# ---------------------------------------------------------------------------

_NEARDUP_SUFFIX = " zzznear zzzdup zzzmarker"
_MH_HASHES, _MH_BANDS, _MH_K, _MH_T = 16, 4, 3, 0.5


def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingle + minhash signatures are per-row heavy; spread a
    # one-row-group scan so they don't serialize on one core
    d = spread_narrow_scan(load_table(spark, sf_dir, "documents"))
    near = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_NEARDUP_SUFFIX)).alias("text"),
        "lang", "source", "n_chars",
    )
    return d.unionByName(near)


def q_doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified with
    exact shingle Jaccard ≥ 0.5. No cross join anywhere: candidates
    come from the band-hash equi-join (operators/dedup.py)."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    return DD.minhash_lsh_pairs(
        corpus, k=_MH_K, num_hashes=_MH_HASHES, bands=_MH_BANDS, threshold=_MH_T
    ).select("id_a", "id_b", "jaccard")


def _minhash_oracle() -> str:
    r = _MH_HASHES // _MH_BANDS
    p = DD.MINHASH_PRIME
    params = DD.minhash_params(_MH_HASHES)
    mins = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) AS m{s}"
        for s, (a, b) in enumerate(params)
    )
    band_cols = ",\n         ".join(
        "md5(concat_ws('|', '{j}', {parts})) AS b{j}".format(
            j=j,
            parts=", ".join(f"m{j * r + i}::VARCHAR" for i in range(r)),
        )
        for j in range(_MH_BANDS)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT id, {j} AS band_idx, b{j} AS band_hash FROM sig2"
        for j in range(_MH_BANDS)
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || '{_NEARDUP_SUFFIX}'
  FROM documents WHERE doc_id < 30
), toks AS (
  SELECT doc_id AS id, {_TOKS} AS t FROM corpus
), sh AS (
  SELECT id,
         list_distinct(list_transform(
           CASE WHEN len(t) >= {_MH_K} THEN generate_series(1, len(t) - {_MH_K - 1}) ELSE [] END,
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
  FROM toks
), docs AS (
  SELECT id, s FROM sh WHERE len(s) > 0
), sig AS (
  SELECT id,
         list_transform(s, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
  FROM docs
), sig2 AS (
  SELECT id,
         {mins}
  FROM sig
), sig3 AS (
  SELECT id,
         {band_cols}
  FROM sig2
), bands AS (
{band_rows.replace('FROM sig2', 'FROM sig3')}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       round(len(list_intersect(da.s, db.s))
             / greatest(len(list_distinct(list_concat(da.s, db.s))), 1), 6) AS jaccard
FROM cand c
JOIN docs da ON da.id = c.id_a
JOIN docs db ON db.id = c.id_b
WHERE round(len(list_intersect(da.s, db.s))
            / greatest(len(list_distinct(list_concat(da.s, db.s))), 1), 6) >= {_MH_T}
"""


ORACLE_DOC_MINHASH_PAIRS = _minhash_oracle()


def q_doc_cross_corpus_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup screen: an incoming batch (30 re-keyed docs
    with a near-dup suffix) checked against the existing corpus via
    cross-corpus banded LSH — candidates only from band-bucket
    collisions, Jaccard-verified (operators/dedup.py
    cross_corpus_neardup_pairs)."""
    ref = load_table(spark, sf_dir, "documents")
    new = ref.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_NEARDUP_SUFFIX)).alias("text"),
    )
    return DD.cross_corpus_neardup_pairs(
        new, ref, k=_MH_K, num_hashes=_MH_HASHES, bands=_MH_BANDS, threshold=_MH_T
    ).select("new_id", "ref_id", "jaccard")


def _cross_minhash_oracle() -> str:
    r = _MH_HASHES // _MH_BANDS
    p = DD.MINHASH_PRIME
    params = DD.minhash_params(_MH_HASHES)
    mins = ",\n         ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {p})) AS m{s}"
        for s, (a, b) in enumerate(params)
    )
    band_cols = ",\n         ".join(
        "md5(concat_ws('|', '{j}', {parts})) AS b{j}".format(
            j=j,
            parts=", ".join(f"m{j * r + i}::VARCHAR" for i in range(r)),
        )
        for j in range(_MH_BANDS)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT id, side, {j} AS band_idx, b{j} AS band_hash FROM sig3"
        for j in range(_MH_BANDS)
    )
    return f"""
WITH corpus AS (
  SELECT doc_id + 1000000 AS doc_id, text || '{_NEARDUP_SUFFIX}' AS text,
         'n' AS side
  FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id, text, 'r' AS side FROM documents
), toks AS (
  SELECT doc_id AS id, side, {_TOKS} AS t FROM corpus
), sh AS (
  SELECT id, side,
         list_distinct(list_transform(
           CASE WHEN len(t) >= {_MH_K} THEN generate_series(1, len(t) - {_MH_K - 1}) ELSE [] END,
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
  FROM toks
), docs AS (
  SELECT id, side, s FROM sh WHERE len(s) > 0
), sig AS (
  SELECT id, side,
         list_transform(s, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
  FROM docs
), sig2 AS (
  SELECT id, side,
         {mins}
  FROM sig
), sig3 AS (
  SELECT id, side,
         {band_cols}
  FROM sig2
), bands AS (
{band_rows}
), cand AS (
  SELECT DISTINCT a.id AS new_id, b.id AS ref_id
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.side = 'n' AND b.side = 'r'
)
SELECT c.new_id, c.ref_id,
       round(len(list_intersect(da.s, db.s))
             / greatest(len(list_distinct(list_concat(da.s, db.s))), 1), 6) AS jaccard
FROM cand c
JOIN docs da ON da.id = c.new_id AND da.side = 'n'
JOIN docs db ON db.id = c.ref_id AND db.side = 'r'
WHERE round(len(list_intersect(da.s, db.s))
            / greatest(len(list_distinct(list_concat(da.s, db.s))), 1), 6) >= {_MH_T}
"""


ORACLE_DOC_CROSS_CORPUS_DUPS = _cross_minhash_oracle()


# ---------------------------------------------------------------------------
# Near-dup cluster collapse: pairs → connected components → survivors
# ---------------------------------------------------------------------------


def q_doc_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs collapsed into clusters: distributed connected
    components (operators/dedup.py::dedup_clusters — iterated hash-min
    label propagation, one join + one partial-agg groupBy per round).
    One row per doc in the pair graph; ``cluster_id`` is the min doc id
    in its component, the min-id survivor."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(
        corpus, k=_MH_K, num_hashes=_MH_HASHES, bands=_MH_BANDS, threshold=_MH_T
    )
    comp = DD.dedup_clusters(pairs)
    return comp.withColumn("is_survivor", F.col("doc_id") == F.col("cluster_id"))


def q_doc_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dedup composition a 100 TB corpus clean runs:
    LSH pairs → connected components → one min-id survivor per cluster
    → per-language rollup of the deduped corpus. Docs outside the pair
    graph are singleton clusters (their own survivor). Generalizes
    ``q_doc_dedup_survivors`` from exact content groups to near-dup
    clusters."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(
        corpus, k=_MH_K, num_hashes=_MH_HASHES, bands=_MH_BANDS, threshold=_MH_T
    )
    comp = DD.dedup_clusters(pairs)
    labeled = corpus.join(comp, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )
    clusters = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("n_chars", "doc_id").alias("n_chars"),
    )
    return clusters.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum(F.col("n_docs") - 1).alias("n_removed"),
        F.sum("n_chars").alias("total_chars"),
    )


def _neardup_component_cte() -> str:
    """Shared oracle CTE chain: the (bit-identical) MinHash pair SQL as
    a subquery, symmetrized edges, and a recursive reachability walk —
    ``min(reach)`` per node is exactly the hash-min fixpoint label."""
    return f"""pairs AS (
{_minhash_oracle()}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk (node, reach) AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT e.src AS node, w.reach FROM edges e JOIN walk w ON w.node = e.dst
), comp AS (
  SELECT node AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY node
)"""


ORACLE_DOC_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE {_neardup_component_cte()}
SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_survivor FROM comp
"""


ORACLE_DOC_NEARDUP_SURVIVORS = f"""
WITH RECURSIVE {_neardup_component_cte()},
corpus2 AS (
  SELECT doc_id, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, n_chars FROM documents WHERE doc_id < 30
), labeled AS (
  SELECT c.doc_id, c.lang, c.n_chars,
         coalesce(k.cluster_id, c.doc_id) AS cluster_id
  FROM corpus2 c LEFT JOIN comp k USING (doc_id)
), clusters AS (
  SELECT cluster_id,
         count(*) AS n_docs,
         min_by(lang, doc_id) AS lang,
         min_by(n_chars, doc_id) AS n_chars
  FROM labeled GROUP BY cluster_id
)
SELECT lang,
       count(*) AS n_survivors,
       CAST(sum(n_docs - 1) AS BIGINT) AS n_removed,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM clusters GROUP BY lang
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 16-bit SimHash fingerprint (operators/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", DD.simhash_column(F.col("text"), _SIMHASH_BITS).alias("simhash16")
    )


def _simhash_oracle() -> str:
    h = "('0x' || substr(md5(x), 1, 15))::BIGINT"
    votes = ",\n       ".join(
        f"list_aggregate(list_transform(td, x -> CASE WHEN (({h} >> {i}) & 1) = 1 "
        f"THEN 1 ELSE -1 END), 'sum') AS v{i}"
        for i in range(_SIMHASH_BITS)
    )
    total = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(_SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct({_TOKS}) AS td FROM documents
), votes AS (
  SELECT doc_id,
       {votes}
  FROM toks
)
SELECT doc_id, CAST({total} AS BIGINT) AS simhash16 FROM votes
"""


ORACLE_DOC_SIMHASH = _simhash_oracle()


# ---------------------------------------------------------------------------
# n-gram Jaccard (adjacent-doc pairs — the scalar-similarity face)
# ---------------------------------------------------------------------------

def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-shingle Jaccard between consecutive doc ids — exercises
    the exact n-gram Jaccard primitive on a deterministic pairing. The
    pairing is a LEFT join so the max-id doc (which has no successor)
    still appears, with a NULL jaccard — one output row per input doc,
    the contract a boundary-safe operator face owes its callers."""
    d = load_table(spark, sf_dir, "documents")
    a = d.select("doc_id", DD.word_shingles(F.col("text"), 3).alias("_sa"))
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        DD.word_shingles(F.col("text"), 3).alias("_sb"),
    )
    return (
        a.join(b, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("_sb").isNotNull(),
                DD.jaccard(F.col("_sa"), F.col("_sb")),
            ).alias("jaccard"),
        )
    )


ORACLE_DOC_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           CASE WHEN len(t) >= 3 THEN generate_series(1, len(t) - 2) ELSE [] END,
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
)
SELECT a.doc_id,
       CASE WHEN b.doc_id IS NOT NULL
            THEN round(len(list_intersect(a.s, b.s))
                       / greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6)
            END AS jaccard
FROM sh a LEFT JOIN sh b ON b.doc_id = a.doc_id + 1
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_TOPK, _N_PROBES, _DIM = 3, 20, 64

_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)


def double_list_sql(xs) -> str:
    """``xs`` as comma-separated DuckDB DOUBLE literals — how the lazy
    oracles embed trained plan constants (``repr`` round-trips every
    float bit, so both engines see the same values)."""
    return ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in xs)


def _cosine_oracle() -> str:
    dot_pq = _DOT.format(a="p.q", b="e.embedding")
    n_p = _DOT.format(a="p.q", b="p.q")
    n_e = _DOT.format(a="e.embedding", b="e.embedding")
    return f"""
WITH probes AS (
  SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < {_N_PROBES}
), scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {dot_pq} AS dot_pq,
         sqrt({n_p}) * sqrt({n_e}) AS den
  FROM probes p, embeddings e
  WHERE p.query_id <> e.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         CASE WHEN den > 0 THEN dot_pq / den ELSE 0.0 END AS c,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY (CASE WHEN den > 0 THEN dot_pq / den ELSE 0.0 END) DESC,
                    neighbor_id) AS rk
  FROM scored
)
SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id, round(c, 6) AS cos_sim
FROM ranked WHERE rk <= {_TOPK}
"""


ORACLE_EMB_COSINE_TOPK = _cosine_oracle()


# ---------------------------------------------------------------------------
# Hard-negative mining gate (similarity.hard_negatives)
# ---------------------------------------------------------------------------

#: Band + k of the hard-negative gate. The embeddings table's random
#: vectors concentrate off-diagonal cosine well below the near-dup
#: ceiling (measured max anchor cosine ≈ 0.49 at sf0.01), so the gate
#: PLANTS the ceiling case: every anchor's exact copy joins the corpus
#: re-keyed +1e6 — cosine 1 ≥ _HN_HI, and the hash pins that it is
#: EXCLUDED (a broken band filter would seat it at rank 1).
_HN_K, _HN_LO, _HN_HI = 3, 0.05, 0.6


def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining gate (similarity.hard_negatives): per
    anchor (vec_id < _N_PROBES, the cosine-gate probe convention) the
    top-3 corpus vectors with cosine in [_HN_LO, _HN_HI) — the
    contrastive-training negative band that EXCLUDES near-duplicates
    above the ceiling (false negatives) and easy negatives below the
    floor. Corpus: embeddings ∪ each anchor's exact copy re-keyed
    +1e6, so the near-dup ceiling genuinely bites. Brute-exact tier;
    the oracle is the same banded brute force, so the band arithmetic
    and the rank order are what hash."""
    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
    )
    corpus = e.select("vec_id", "embedding").unionByName(
        anchors.select(
            (F.col("anchor_id") + 1_000_000).alias("vec_id"),
            F.col("anchor_vec").alias("embedding"),
        )
    )
    return SIM.hard_negatives(
        corpus, anchors, k=_HN_K, lo=_HN_LO, hi=_HN_HI,
    )


def _hard_negatives_oracle() -> str:
    dot_pq = _DOT.format(a="p.q", b="e.embedding")
    n_p = _DOT.format(a="p.q", b="p.q")
    n_e = _DOT.format(a="e.embedding", b="e.embedding")
    return f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, embedding AS q
  FROM embeddings WHERE vec_id < {_N_PROBES}
), corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT anchor_id + 1000000 AS vec_id, q AS embedding FROM anchors
), scored AS (
  SELECT p.anchor_id, e.vec_id AS neighbor_id,
         CASE WHEN sqrt({n_p}) * sqrt({n_e}) > 0
              THEN {dot_pq} / (sqrt({n_p}) * sqrt({n_e}))
              ELSE 0.0 END AS c
  FROM anchors p, corpus e
  WHERE p.anchor_id <> e.vec_id
), ranked AS (
  SELECT anchor_id, neighbor_id, c,
         row_number() OVER (
           PARTITION BY anchor_id ORDER BY c DESC, neighbor_id) AS rk
  FROM scored
  WHERE c >= {_HN_LO} AND c < {_HN_HI}
)
SELECT anchor_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
       round(c, 6) AS cos_sim
FROM ranked WHERE rk <= {_HN_K}
"""


ORACLE_EMB_HARD_NEGATIVES = _hard_negatives_oracle()


def q_emb_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 over BOTH corpus representations, tier-tagged: the
    float32 corpus (``tier='float32'``, the exact brute-force cosine
    top-k: broadcast probes, partitioned rank window) and the
    int8-QUANTIZED corpus (``tier='int8'``, the memory-bandwidth tier,
    similarity.quantize_embedding: 4× fewer bytes streamed with
    near-identical ranking since the per-vector scale cancels in
    cosine). Same probe set, same k, same ranking both tiers — the per-tier rank columns side-by-side
    are the exact-vs-quantized agreement a user of the quantized tier
    inspects. Quantization is deterministic integer arithmetic, so the
    whole union keeps a full value-level oracle (both component
    oracles embedded verbatim as CTEs)."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qe = e.select(
        "vec_id", SIM.quantize_embedding(F.col("embedding")).alias("embedding")
    )
    qprobes = qe.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        SIM.cosine_topk(e, probes, k=_TOPK)
        .select(F.lit("float32").alias("tier"), "*")
        .unionByName(
            SIM.cosine_topk(qe, qprobes, k=_TOPK)
            .select(F.lit("int8").alias("tier"), "*")
        )
    )


def _quantized_component_oracle() -> str:
    """The int8 tier alone, embedded verbatim in the superset oracle."""
    dot_pq = _DOT.format(a="p.q", b="e.q")
    n_p = _DOT.format(a="p.q", b="p.q")
    n_e = _DOT.format(a="e.q", b="e.q")
    return f"""
WITH quant AS (
  SELECT vec_id,
         CASE WHEN mx > 0
              THEN list_transform(embedding,
                     x -> CAST(round(x::DOUBLE * (127.0 / mx), 0) AS INTEGER))
              ELSE list_transform(embedding, x -> 0) END AS q
  FROM (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
    FROM embeddings
  )
), probes AS (
  SELECT vec_id AS query_id, q FROM quant WHERE vec_id < {_N_PROBES}
), scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {dot_pq} AS dot_pq,
         sqrt({n_p}) * sqrt({n_e}) AS den
  FROM probes p, quant e
  WHERE p.query_id <> e.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         CASE WHEN den > 0 THEN dot_pq / den ELSE 0.0 END AS c,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY (CASE WHEN den > 0 THEN dot_pq / den ELSE 0.0 END) DESC,
                    neighbor_id) AS rk
  FROM scored
)
SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id, round(c, 6) AS cos_sim
FROM ranked WHERE rk <= {_TOPK}
"""


#: Both component oracles verbatim as CTEs, each tagged with its tier.
ORACLE_EMB_QUANTIZED_TOPK = f"""
WITH float_tier AS (
{ORACLE_EMB_COSINE_TOPK}
), int8_tier AS (
{_quantized_component_oracle()}
)
SELECT 'float32' AS tier, * FROM float_tier
UNION ALL
SELECT 'int8' AS tier, * FROM int8_tier
"""


_ANN_PLANES, _ANN_PROBES = 6, 50


def q_emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 via sign-random-projection buckets — the 100 TB
    scale path (hash join on bucket id, no cross join). Recall < 1 is by
    design, but the pipeline itself is deterministic arithmetic (seeded
    ±1 hyperplanes, left-fold dot products, Hamming-1 multi-probe), so
    the DuckDB oracle mirrors it bit-for-bit — a full hash gate, not a
    rows-only check."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _ANN_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return SIM.ann_hyperplane_topk(e, probes, dim=_DIM, k=_TOPK, planes=_ANN_PLANES)


def _ann_oracle() -> str:
    """Bit-identical DuckDB twin of ``ann_hyperplane_topk``: same ±1
    hyperplane literals, same left-fold dot order, same Hamming-1
    multi-probe fan-out, same (cos DESC, id ASC) ranking."""
    from scraping_etl_spark.operators.similarity import _hyperplane

    dot_w = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> embedding[i]::DOUBLE * (ARRAY[{w}])[i]), (x, y) -> x + y)"
    )
    bits = " + ".join(
        "CASE WHEN {dw} >= 0 THEN {bit} ELSE 0 END".format(
            dw=dot_w.format(
                d=_DIM,
                w=", ".join(f"{float(x):.1f}" for x in _hyperplane(_DIM, j)),
            ),
            bit=1 << j,
        )
        for j in range(_ANN_PLANES)
    )
    variants = ", ".join(
        ["home"] + [f"xor(home, {1 << j})" for j in range(_ANN_PLANES)]
    )
    dot_pq = _DOT.format(a="p.q", b="s.embedding")
    n_p = _DOT.format(a="p.q", b="p.q")
    n_c = _DOT.format(a="s.embedding", b="s.embedding")
    return f"""
WITH sig AS (
  SELECT vec_id, embedding, ({bits}) AS bucket FROM embeddings
), pvariants AS (
  SELECT vec_id AS query_id, embedding AS q,
         unnest([{variants}]) AS bucket
  FROM (SELECT vec_id, embedding, bucket AS home FROM sig WHERE vec_id < {_ANN_PROBES})
), scored AS (
  SELECT p.query_id, s.vec_id AS neighbor_id, s.bucket,
         {dot_pq} AS dp,
         sqrt({n_p}) * sqrt({n_c}) AS den
  FROM pvariants p JOIN sig s
    ON s.bucket = p.bucket AND p.query_id <> s.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, bucket,
         CASE WHEN den > 0 THEN dp / den ELSE 0.0 END AS c,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY (CASE WHEN den > 0 THEN dp / den ELSE 0.0 END) DESC,
                    neighbor_id) AS rk
  FROM scored
)
SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id,
       round(c, 6) AS cos_sim, CAST(bucket AS INTEGER) AS bucket
FROM ranked WHERE rk <= {_TOPK}
"""


ORACLE_EMB_ANN_TOPK = _ann_oracle()


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=4)
def _ivf_index(sf_dir: str) -> tuple:
    """One-time IVF index per scale dir (the production build-once
    pattern — repeated queries, including bench passes, reuse it)."""
    from scraping_etl_spark.session import get_spark
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or get_spark()
    e = load_table(spark, sf_dir, "embeddings")
    return tuple(
        tuple(c)
        for c in SIM.kmeans_train_fx(e, n_clusters=16, iters=SIM.INDEX_ITERS)
    )


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means inverted-list) approximate top-3 — the
    cluster-pruned scale path beside the LSH one; probes search their 4
    nearest of 16 lists (operators/similarity.ivf_topk). The index is
    built once per sf_dir and reused; the lazy oracle embeds the
    trained centroids as plan constants, so the gate is a full hash
    compare."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    centroids = [list(c) for c in _ivf_index(sf_dir)]
    return SIM.ivf_topk(e, probes, centroids, k=_TOPK, n_probe=4)


def oracle_emb_ivf_topk(sf_dir: str) -> str:
    """DuckDB twin of :func:`q_emb_ivf_topk`, built *lazily* (the
    registry's callable-oracle support exists for exactly this case)
    because the centroids are run-time plan constants: ``kmeans_train_fx``
    runs once per sf_dir (``_ivf_index`` cache, shared with the Spark
    query), and the trained centroids are embedded as DOUBLE literals —
    the same constants-in-the-plan pattern ``_ann_oracle`` uses for its
    hyperplanes. Everything downstream of training is deterministic
    arithmetic mirrored bit-for-bit: the same left-fold squared-distance
    sum, the same (distance, cid) lexicographic nearest-centroid pick
    (Spark's ``array_sort`` over structs ≡ ``ORDER BY d, cid``), the
    same 4-probe fan-out, and the same (cos DESC, id ASC) ranking."""
    centroids = _ivf_index(sf_dir)
    cent_rows = ",\n         ".join(
        f"({i}, [{double_list_sql(c)}])" for i, c in enumerate(centroids)
    )
    # identical fold order to similarity._sq_dist_to: (a - b) * (a - b)
    sq_dist = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> (e.embedding[i]::DOUBLE - cent.c[i]) "
        "* (e.embedding[i]::DOUBLE - cent.c[i])), (x, y) -> x + y)"
    ).format(d=_DIM)
    dot_pq = _DOT.format(a="p.q", b="s.embedding")
    n_p = _DOT.format(a="p.q", b="p.q")
    n_c = _DOT.format(a="s.embedding", b="s.embedding")
    return f"""
WITH cent(cid, c) AS (
  VALUES {cent_rows}
), dist AS (
  SELECT e.vec_id, e.embedding, cent.cid, {sq_dist} AS d
  FROM embeddings e CROSS JOIN cent
), assign AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
  FROM dist
), corpus AS (
  SELECT vec_id, embedding, cid AS cluster FROM assign WHERE rk = 1
), probes AS (
  SELECT vec_id AS query_id, embedding AS q, cid AS cluster
  FROM assign WHERE vec_id < 20 AND rk <= 4
), scored AS (
  SELECT p.query_id, s.vec_id AS neighbor_id,
         {dot_pq} AS dp,
         sqrt({n_p}) * sqrt({n_c}) AS den
  FROM probes p JOIN corpus s
    ON s.cluster = p.cluster AND p.query_id <> s.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         CASE WHEN den > 0 THEN dp / den ELSE 0.0 END AS c,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY (CASE WHEN den > 0 THEN dp / den ELSE 0.0 END) DESC,
                    neighbor_id) AS rk
  FROM scored
)
SELECT query_id, CAST(rk AS INTEGER) AS rank, neighbor_id, round(c, 6) AS cos_sim
FROM ranked WHERE rk <= {_TOPK}
"""


_DUP_PLANES = 16


def q_emb_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over embeddings ∪ 2x-scaled
    copies of the first 25 vectors (scaling by a power of two is exact
    in floating point, so cosine == 1.0 and every sign projection
    matches bit-for-bit in both engines). Candidates via the full
    16-plane sign signature as an exact blocking key — equi-join, no
    cross join (operators/similarity.embedding_dup_pairs)."""
    e = load_table(spark, sf_dir, "embeddings")
    dup = e.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + F.lit(2000000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    corpus = e.select("vec_id", "embedding").unionByName(dup)
    return SIM.embedding_dup_pairs(
        corpus, dim=_DIM, threshold=0.999, planes=_DUP_PLANES
    )


def _emb_dups_oracle() -> str:
    from scraping_etl_spark.operators.similarity import _hyperplane

    dot_w = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> embedding[i]::DOUBLE * (ARRAY[{w}])[i]), (x, y) -> x + y)"
    )
    bits = " + ".join(
        "CASE WHEN {dw} >= 0 THEN {bit} ELSE 0 END".format(
            dw=dot_w.format(
                d=_DIM,
                w=", ".join(f"{float(x):.1f}" for x in _hyperplane(_DIM, j)),
            ),
            bit=1 << j,
        )
        for j in range(_DUP_PLANES)
    )
    dot_ab = _DOT.format(a="a.embedding", b="b.embedding")
    n_a = _DOT.format(a="a.embedding", b="a.embedding")
    n_b = _DOT.format(a="b.embedding", b="b.embedding")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 2000000,
         list_transform(embedding, x -> CAST(x::DOUBLE * 2.0 AS FLOAT))
  FROM embeddings WHERE vec_id < 25
), sig AS (
  SELECT vec_id, embedding, ({bits}) AS _sig FROM corpus
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CASE WHEN sqrt({n_a}) * sqrt({n_b}) > 0
              THEN {dot_ab} / (sqrt({n_a}) * sqrt({n_b}))
              ELSE 0.0 END AS c
  FROM sig a JOIN sig b ON a._sig = b._sig AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(c, 6) AS cos_sim
FROM pairs WHERE round(c, 6) >= 0.999
"""


ORACLE_EMB_COSINE_DUPS = _emb_dups_oracle()


def q_doc_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via mapInPandas (Arrow batches)
    — deterministic features so the plumbing is oracle-checkable
    (operators/multimodal.py)."""
    d = load_table(spark, sf_dir, "documents")
    return MM.media_features(MM.attach_payload(d))


ORACLE_DOC_MEDIA_FEATURES = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text)                                  AS payload_md5
FROM documents
"""


_MEDIA_CHUNK, _MEDIA_BITS, _MEDIA_BANDS, _MEDIA_HAM = 8, 60, 4, 3


def q_doc_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-asset near-dup pairs WITHOUT decoding: byte-chunk SimHash
    over the payload column, banded Hamming-ball lookup
    (multimodal.payload_simhash / payload_neardup_pairs). Corpus =
    payload-attached documents ∪ exact re-keyed copies (doc_id ≡ 0 mod
    7, +2e6 — the re-hosted-asset case, Hamming 0) ∪ single-byte-tail
    edits (doc_id ≡ 0 mod 5, +1e6, one '~' appended — the touched-up-
    metadata case: one edited chunk among ~len/8, small but nonzero
    Hamming, so the ≤ max_hamming verify genuinely bites per doc).
    The oracle mirrors the hex/md5/vote/band/bit_count arithmetic
    bit-for-bit."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(2000000)).alias("doc_id"), "text"
    )
    edited = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit("~")).alias("text"),
    )
    corpus = MM.attach_payload(d.unionByName(exact).unionByName(edited))
    return MM.payload_neardup_pairs(
        corpus, chunk_bytes=_MEDIA_CHUNK, bits=_MEDIA_BITS,
        bands=_MEDIA_BANDS, max_hamming=_MEDIA_HAM,
    )


def _media_votes_sql() -> str:
    """The 60-bit vote combiner as SQL (generated, not hand-typed)."""
    terms = []
    for i in range(_MEDIA_BITS):
        terms.append(
            "CASE WHEN list_aggregate(list_transform(hs, x -> CASE WHEN "
            f"(x >> {i}) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0 "
            f"THEN (1::BIGINT << {i}) ELSE 0 END"
        )
    return " + ".join(terms)


def _media_dedup_oracle() -> str:
    width = _MEDIA_BITS // _MEDIA_BANDS
    mask = (1 << width) - 1
    step = 2 * _MEDIA_CHUNK
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, text || '~' FROM documents WHERE doc_id % 5 = 0
),
hx AS (SELECT doc_id, hex(encode(text)) AS h FROM corpus),
ch AS (
  SELECT doc_id,
         list_transform(
           CASE WHEN len(h) > 0 THEN generate_series(1, len(h), {step})
                ELSE [] END,
           i -> ('0x' || substr(md5(substring(h, i, {step})), 1, 15))::BIGINT
         ) AS hs
  FROM hx
),
sig AS (SELECT doc_id, ({_media_votes_sql()}) AS s FROM ch),
banded AS (
  SELECT g.doc_id, b.band, (g.s >> (b.band * {width})) & {mask} AS val
  FROM sig g, (SELECT unnest(generate_series(0, {_MEDIA_BANDS - 1})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM banded a
  JOIN banded b2 ON a.band = b2.band AND a.val = b2.val
                AND a.doc_id < b2.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(sa.s, sb.s)) AS INT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE bit_count(xor(sa.s, sb.s)) <= {_MEDIA_HAM}
"""


ORACLE_DOC_MEDIA_DEDUP = _media_dedup_oracle()


# ---------------------------------------------------------------------------
# Star-schema shapes on the scale tables (J2/J3/A2/A3 driver coverage)
# ---------------------------------------------------------------------------

def q_doc_token_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension build: explode tokens → distinct → deterministic
    md5-hex surrogate key. The scale-table twin of
    etl/star_schema.build_keywords (which uses xxhash64; the query uses
    an md5-prefix key because the oracle must reproduce it in DuckDB —
    same partition-independence property)."""
    d = load_table(spark, sf_dir, "documents")
    dim = d.select(F.explode(tokens(F.col("text"))).alias("token")).distinct()
    return dim.select(
        F.substring(F.md5("token"), 1, 16).alias("token_key"), "token"
    )


ORACLE_DOC_TOKEN_DIM = f"""
WITH dim AS (
  SELECT DISTINCT token FROM (
    SELECT unnest({_TOKS}) AS token FROM documents
  )
)
SELECT substr(md5(token), 1, 16) AS token_key, token FROM dim
"""


def q_doc_token_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge build: explode (doc, token) → inner join the broadcast
    token dim (etl/star_schema.build_keyword_article_map twin, SURVEY
    J2/J3). Multiplicity preserved: a doc repeating a token contributes
    one bridge row per occurrence."""
    d = load_table(spark, sf_dir, "documents")
    exploded = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    dim = q_doc_token_dim(spark, sf_dir)
    return exploded.join(F.broadcast(dim), "token", "inner").select(
        "doc_id", "token_key"
    )


ORACLE_DOC_TOKEN_BRIDGE = f"""
SELECT doc_id, substr(md5(token), 1, 16) AS token_key
FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
"""


# ---------------------------------------------------------------------------
# Gap-fillers: P4/P6/P8 (doc filters), F14 (from_json), F3 (date
# round-trip), F2 (regexp_extract_all)
# ---------------------------------------------------------------------------

def q_doc_clean_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning-filter stack on the scale docs: na.drop (P6) +
    multi-clause predicate (P4) + higher-order exists/rlike (P8, the
    fixed Q5 form) → grouped count (A1)."""
    d = load_table(spark, sf_dir, "documents")
    kept = (
        d.na.drop(subset=["text", "lang"])
        .filter((F.col("source") != "src9") & (F.col("n_chars") > 50))
        .filter(F.exists(tokens(F.col("text")), lambda x: x.rlike("^[a-z]{5,}$")))
    )
    return kept.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))


ORACLE_DOC_CLEAN_FILTERS = f"""
SELECT lang, source, count(*) AS n_docs
FROM documents
WHERE text IS NOT NULL AND lang IS NOT NULL
  AND source <> 'src9' AND n_chars > 50
  AND len(list_filter({_TOKS}, x -> regexp_matches(x, '^[a-z]{{5,}}$'))) > 0
GROUP BY lang, source
"""


def q_events_props_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON deserialization as a typed struct (SURVEY F14 ``from_json``,
    completing the get_json_object face in relational.py) + P6 na.drop
    on the parse result. Avg computed as exact-int sum / count with one
    double division (engine-portable)."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.withColumn("p", F.from_json("props", "k INT")).na.drop(subset=["p"])
    return (
        parsed.select("event_type", F.col("p.k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


ORACLE_EVENTS_PROPS_STRUCT = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(k) AS DOUBLE) / count(*) AS avg_k
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
) WHERE k IS NOT NULL
GROUP BY event_type
"""


def q_order_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY F3: render dates as the reference's '19 July 2024' string
    form, parse back with ``to_date(_, 'd MMMM yyyy')``, extract parts.
    Proves the reference's date pipeline round-trips losslessly."""
    o = load_table(spark, sf_dir, "orders")
    s = F.date_format("o_orderdate", "d MMMM yyyy")
    parsed = F.to_date(s, "d MMMM yyyy")
    return (
        o.select(
            F.year(parsed).alias("yr"),
            F.date_format(parsed, "MMMM").alias("month_name"),
            F.dayofmonth(parsed).alias("dom"),
        )
        .groupBy("yr", "month_name")
        .agg(F.count(F.lit(1)).alias("n"), F.min("dom").alias("min_dom"))
    )


ORACLE_ORDER_DATE_ROUNDTRIP = """
SELECT year(d)      AS yr,
       monthname(d) AS month_name,
       count(*)     AS n,
       min(dayofmonth(d)) AS min_dom
FROM (
  SELECT strptime(strftime(o_orderdate, '%-d %B %Y'), '%-d %B %Y')::DATE AS d
  FROM orders
)
GROUP BY yr, month_name
"""


def q_doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint (north-star text
    analysis — complements the order-insensitive bag fingerprint of
    ``doc_fingerprint``): Rabin-Karp polynomial fold over the token
    sequence (operators/textstats.rolling_fingerprint)."""
    from scraping_etl_spark.operators.textstats import rolling_fingerprint

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint("text").alias("rolling_fp"))


def _rolling_oracle() -> str:
    from scraping_etl_spark.operators.textstats import ROLLING_BASE, ROLLING_PRIME

    # DuckDB's list_reduce seeds from the first element, so prepend the
    # explicit zero accumulator to mirror Spark's aggregate(…, 0, …)
    return f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({_TOKS}, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT)),
         (acc, t) -> (acc * {ROLLING_BASE} + t) % {ROLLING_PRIME}
       ) AS rolling_fp
FROM documents
"""


ORACLE_DOC_ROLLING_HASH = _rolling_oracle()


def q_doc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data composition: quality-filter →
    normalize → exact-dedup → keep one canonical survivor per content
    group (min doc_id) → per-language survivor stats. One groupBy
    shuffle for the dedup, one for the rollup — the shape a 100 TB
    corpus clean actually runs."""
    corpus = _docs_with_exact_dups(spark, sf_dir)
    kept = corpus.filter((F.col("n_chars") > 50) & F.col("text").isNotNull())
    normalized = kept.withColumn(
        "_key", F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    )
    survivors = (
        normalized.groupBy("_key")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
        )
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum(F.col("n_copies") - 1).alias("n_removed"),
        F.sum("n_chars").alias("total_chars"),
    )


ORACLE_DOC_DEDUP_SURVIVORS = """
WITH corpus AS (
  SELECT doc_id, text, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, n_chars FROM documents WHERE doc_id < 50
), kept AS (
  SELECT *, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS _key
  FROM corpus WHERE n_chars > 50 AND text IS NOT NULL
), survivors AS (
  SELECT _key,
         min(doc_id) AS survivor_id,
         count(*) AS n_copies,
         min_by(lang, doc_id) AS lang,
         min_by(n_chars, doc_id) AS n_chars
  FROM kept GROUP BY _key
)
SELECT lang,
       count(*) AS n_survivors,
       CAST(sum(n_copies - 1) AS BIGINT) AS n_removed,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM survivors GROUP BY lang
"""


def q_parts_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL entry path (``spark.sql`` over registered temp views —
    the engine's second query-authoring face next to the DataFrame API):
    per-brand part stats with a LIKE filter and a size histogram bucket.
    Also the gate coverage for the ``part`` table."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_brand,
               CAST(floor(p_size / 10) AS INT)       AS size_bucket,
               count(*)                               AS n_parts,
               round(avg(p_retailprice), 4)           AS avg_price,
               CAST(sum(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT)
                                                      AS n_brass
        FROM part
        GROUP BY p_brand, CAST(floor(p_size / 10) AS INT)
        """
    )


ORACLE_PARTS_BRAND_STATS = """
SELECT p_brand,
       CAST(floor(p_size / 10) AS INTEGER) AS size_bucket,
       count(*) AS n_parts,
       round(avg(p_retailprice), 4) AS avg_price,
       CAST(sum(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS n_brass
FROM part
GROUP BY p_brand, CAST(floor(p_size / 10) AS INTEGER)
"""


def q_supplier_balance_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier ⋈ broadcast nation rollup — gate coverage for the
    ``supplier`` table; the plan shape is the J1 fact→dim broadcast."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 4).alias("total_acctbal"),
            F.round(F.max("s_acctbal"), 4).alias("max_acctbal"),
        )
    )


ORACLE_SUPPLIER_BALANCE = """
SELECT n_name,
       count(*) AS n_suppliers,
       round(sum(s_acctbal), 4) AS total_acctbal,
       round(max(s_acctbal), 4) AS max_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_doc_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analysis-surface rollup (SURVEY §2.4 extension): per-language
    corpus profile with *exact* distinct counts. The registered
    :func:`q_doc_corpus_profile_hll` emits every column of this profile
    plus the sketch-tolerance verdicts, and its oracle checks them;
    ``tools/dump_plans.py`` dumps this plan."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        F.avg("n_chars").alias("avg_chars"),
    )


#: Relative-error budget for the HLL tier's tolerance gate: the
#: documented rsd of ``approx_count_distinct`` (default 0.05) with a
#: 3× margin (≈3 standard deviations of the estimator) and an absolute
#: floor of 1 for tiny cardinalities (where HLL++ is exact anyway —
#: sparse-mode linear counting).
_HLL_RSD = 0.05


def q_doc_corpus_profile_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch tier of the corpus profile as a BOUNDED-TOLERANCE
    gate: ``approx_count_distinct`` (HyperLogLog++) is the mergeable
    single-pass estimate that makes cardinality profiling feasible at
    100 TB, where an exact distinct means a full shuffle of every key.
    HLL register layouts are engine-specific, so instead of comparing
    the raw estimates (un-oracle-able) the query emits the EXACT counts
    plus a within-tolerance verdict for each sketch — ``|approx −
    exact| ≤ max(ceil(3·rsd·exact), 1)`` — and the DuckDB oracle
    asserts the exact counts AND that every verdict is true. That makes
    this a full value-checked row: the sketch must land within its own
    documented error bound at every scale, not merely return 5 rows.
    (The exact columns here are the verification harness; the
    production query is the approx-only projection.) It also carries
    the full exact profile (n_docs, avg_chars — the
    ``q_doc_corpus_profile`` columns)."""
    d = load_table(spark, sf_dir, "documents")
    tol = lambda exact: F.greatest(  # noqa: E731 — local alias
        F.ceil(3 * _HLL_RSD * F.col(exact)), F.lit(1)
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
            F.avg("n_chars").alias("avg_chars"),
            F.approx_count_distinct("source", _HLL_RSD).alias("_as"),
            F.approx_count_distinct(F.md5("text"), _HLL_RSD).alias("_at"),
        )
        .select(
            "lang",
            "n_docs",
            "n_sources",
            "n_distinct_texts",
            "avg_chars",
            (F.abs(F.col("_as") - F.col("n_sources")) <= tol("n_sources"))
            .alias("sources_within_tol"),
            (F.abs(F.col("_at") - F.col("n_distinct_texts")) <= tol("n_distinct_texts"))
            .alias("texts_within_tol"),
        )
    )


ORACLE_DOC_CORPUS_PROFILE_HLL = """
SELECT lang,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT md5(text)) AS n_distinct_texts,
       avg(n_chars) AS avg_chars,
       true AS sources_within_tol,
       true AS texts_within_tol
FROM documents
GROUP BY lang
"""


def q_doc_zip_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY J5: positional zip-join — ``zip_with`` pairs each token
    with its successor (the scale-table face of the reference's
    given-name[i] × surname[i] pairing, ScienceDirect.py:59-73 →
    sources/extraction.zip_full_names)."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return d.select(
        "doc_id",
        F.size(bigrams).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_distinct_bigrams"),
    )


ORACLE_DOC_ZIP_BIGRAMS = f"""
SELECT doc_id,
       CAST(len(bg) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams
FROM (
  SELECT doc_id,
         CASE WHEN len(t) >= 2
              THEN list_transform(generate_series(1, len(t) - 1),
                                  i -> concat_ws(' ', t[i], t[i+1]))
              ELSE [] END AS bg
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
)
"""


def q_doc_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""SURVEY F2: ``regexp_extract_all`` + ``element_at`` (the
    reference picks the 4th date match — ScienceDirect.py:245-251; here
    the 1st and count of t-words per doc). ``try_element_at`` because
    ANSI mode makes plain ``element_at`` throw on empty match arrays
    (DuckDB's ``[1]`` is NULL-tolerant already)."""
    d = load_table(spark, sf_dir, "documents")
    matches = F.regexp_extract_all("text", F.lit(r"\b(t\w+)\b"), 1)
    return d.select(
        "doc_id",
        F.size(matches).cast("long").alias("n_t_words"),
        F.try_element_at(matches, F.lit(1)).alias("first_t"),
    )


ORACLE_DOC_REGEX_EXTRACT = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\b(t\w+)\b', 1)) AS BIGINT) AS n_t_words,
       regexp_extract_all(text, '\b(t\w+)\b', 1)[1] AS first_t
FROM documents
"""


# ---------------------------------------------------------------------------
# Semantic cluster assignment (similarity.cluster_assign gate)
# ---------------------------------------------------------------------------

def q_emb_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering: every embedding assigned to its nearest
    trained IVF centroid (operators/similarity.cluster_assign) — the
    per-doc domain label a mixture-balancing pipeline keys on. Shares
    the per-sf index cache with q_emb_ivf_topk; assignment itself is
    map-side over centroid plan constants, zero shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    centroids = [list(c) for c in _ivf_index(sf_dir)]
    return SIM.cluster_assign(e, centroids)


def oracle_emb_cluster_assign(sf_dir: str) -> str:
    """DuckDB twin of :func:`q_emb_cluster_assign` — same lazy
    constants-in-the-plan pattern as :func:`oracle_emb_ivf_topk` (the
    two share one `_ivf_index` cache, so a run that executes both
    queries trains exactly one index per scale dir). Same left-fold
    squared distance, same (d, cid) lexicographic argmin, same round-6
    distance."""
    centroids = _ivf_index(sf_dir)
    cent_rows = ",\n         ".join(
        f"({i}, [{double_list_sql(c)}])" for i, c in enumerate(centroids)
    )
    sq_dist = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> (e.embedding[i]::DOUBLE - cent.c[i]) "
        "* (e.embedding[i]::DOUBLE - cent.c[i])), (x, y) -> x + y)"
    ).format(d=_DIM)
    return f"""
WITH cent(cid, c) AS (
  VALUES {cent_rows}
), dist AS (
  SELECT e.vec_id, cent.cid, {sq_dist} AS d
  FROM embeddings e CROSS JOIN cent
), assign AS (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
  FROM dist
)
SELECT vec_id, CAST(cid AS INTEGER) AS cluster, round(d, 6) AS sq_dist
FROM assign WHERE rk = 1
"""


#: emb_decontaminate gate knobs: the benchmark is every 20th vector
#: (the held-out "eval suite"), the corpus is the rest, and the
#: threshold sits where the scale tables actually produce hits (the
#: testdata embeddings are near-uniform, so cross-split cosines top out
#: ~0.49 at sf0.01 / ~0.51 at sf0.1 — 0.42 yields a small non-trivial
#: flagged set at every sf).
_DECON_MOD = 20
_DECON_TAU = 0.42


def q_emb_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (operators/similarity.
    embedding_decontaminate): corpus vectors within cosine ``_DECON_TAU``
    of any benchmark vector (vec_id % 20 == 0 plays the eval suite),
    with the closest benchmark item and the hit count. The benchmark
    side broadcasts behind the measured-count guard; the corpus is
    scanned once map-side."""
    e = load_table(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") % _DECON_MOD == 0).select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") % _DECON_MOD != 0).select("vec_id", "embedding")
    return SIM.embedding_decontaminate(corpus, bench, threshold=_DECON_TAU)


def _emb_decontaminate_oracle() -> str:
    dot_cb = _DOT.format(a="c.embedding", b="b.embedding")
    n_c = _DOT.format(a="c.embedding", b="c.embedding")
    n_b = _DOT.format(a="b.embedding", b="b.embedding")
    return f"""
WITH bench AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_DECON_MOD} = 0
), corp AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_DECON_MOD} <> 0
), flagged AS (
  SELECT c.vec_id, b.vec_id AS bench_id,
         round(CASE WHEN sqrt({n_c}) * sqrt({n_b}) > 0
                    THEN {dot_cb} / (sqrt({n_c}) * sqrt({n_b}))
                    ELSE 0.0 END, 6) AS cos_sim
  FROM corp c JOIN bench b ON c.vec_id <> b.vec_id
  WHERE round(CASE WHEN sqrt({n_c}) * sqrt({n_b}) > 0
                   THEN {dot_cb} / (sqrt({n_c}) * sqrt({n_b}))
                   ELSE 0.0 END, 6) >= {_DECON_TAU}
), ranked AS (
  SELECT vec_id, bench_id, cos_sim,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cos_sim DESC, bench_id) AS rk,
         count(*) OVER (PARTITION BY vec_id) AS n_bench_hits
  FROM flagged
)
SELECT vec_id, bench_id, cos_sim, CAST(n_bench_hits AS BIGINT) AS n_bench_hits
FROM ranked WHERE rk = 1
"""


ORACLE_EMB_DECONTAMINATE = _emb_decontaminate_oracle()


#: Cells each corpus vector probes in the IVF decontaminate face — the
#: production recall trade (4 of 16, the ``emb_ivf_topk`` setting), NOT
#: full probe: at full probe the tier compares every (corpus, bench)
#: pair, i.e. costs exactly what the expression tier costs plus a
#: shuffle, so checking it would certify nothing the
#: ``emb_decontaminate`` row doesn't already certify — and would add a
#: second ~15 s row to the sf1 floor.
_DIVF_PROBE = 4


def q_emb_decontaminate_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-tier face of the semantic decontamination screen
    (operators/similarity.embedding_decontaminate_ivf): the scale
    escalation the expression tier documents for reference sides past
    the broadcast cap, oracle-checked in its PRODUCTION setting. Same corpus/bench
    slices as ``emb_decontaminate``; the lake/bench side lives in the
    per-sf trained 16-cell inverted lists (``_ivf_index``, plan
    constants) and each corpus vector probes its ``_DIVF_PROBE``
    nearest cells. Partial probe is still hash-exact because the
    lazy oracle (:func:`oracle_emb_decontaminate_ivf`) replays the
    WHOLE index — centroid literals, (d, cid) cell assignment, the
    probe fan-out — before applying the expression tier's threshold/
    argmax/hit-count arithmetic restricted to probed cells (the
    ``oracle_emb_ivf_topk`` pattern). Full probe ≡ expression tier
    stays the operator-suite contract; the subset-honesty pin
    (partial flags ⊆ exact flags, hit counts never higher) lives in
    ``tests/test_dedup_similarity.py`` beside this gate's oracle test."""
    e = load_table(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") % _DECON_MOD == 0).select(
        "vec_id", "embedding"
    )
    corpus = e.filter(F.col("vec_id") % _DECON_MOD != 0).select(
        "vec_id", "embedding"
    )
    centroids = [list(c) for c in _ivf_index(sf_dir)]
    return SIM.embedding_decontaminate_ivf(
        corpus, bench, centroids,
        threshold=_DECON_TAU, n_probe=_DIVF_PROBE,
    )


def oracle_emb_decontaminate_ivf(sf_dir: str) -> str:
    """DuckDB twin of :func:`q_emb_decontaminate_ivf`, built lazily
    (the registry's callable-oracle support) because the centroids are
    run-time plan constants shared through ``_ivf_index``. The replay:
    every vector's squared distance to every centroid literal with the
    identical left-fold order, (d, cid)-lexicographic ranking, bench
    rows keep their ONE nearest cell, corpus rows fan out to their
    ``_DIVF_PROBE`` nearest; downstream is the expression-tier oracle's
    flagged/ranked SQL verbatim with the join restricted to matching
    cells — so ``n_bench_hits`` counts within probed cells, exactly
    the operator's documented IVF recall trade."""
    centroids = _ivf_index(sf_dir)
    cent_rows = ",\n         ".join(
        f"({i}, [{double_list_sql(c)}])" for i, c in enumerate(centroids)
    )
    # identical fold order to similarity._sq_dist_to: (a - b) * (a - b)
    sq_dist = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> (e.embedding[i]::DOUBLE - cent.c[i]) "
        "* (e.embedding[i]::DOUBLE - cent.c[i])), (x, y) -> x + y)"
    ).format(d=_DIM)
    dot_cb = _DOT.format(a="c.embedding", b="b.embedding")
    n_c = _DOT.format(a="c.embedding", b="c.embedding")
    n_b = _DOT.format(a="b.embedding", b="b.embedding")
    cos = (
        f"round(CASE WHEN sqrt({n_c}) * sqrt({n_b}) > 0 "
        f"THEN {dot_cb} / (sqrt({n_c}) * sqrt({n_b})) "
        f"ELSE 0.0 END, 6)"
    )
    return f"""
WITH cent(cid, c) AS (
  VALUES {cent_rows}
), dist AS (
  SELECT e.vec_id, e.embedding, cent.cid, {sq_dist} AS d
  FROM embeddings e CROSS JOIN cent
), assign AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
  FROM dist
), bench AS (
  SELECT vec_id, embedding, cid AS cell FROM assign
  WHERE vec_id % {_DECON_MOD} = 0 AND rk = 1
), corp AS (
  SELECT vec_id, embedding, cid AS cell FROM assign
  WHERE vec_id % {_DECON_MOD} <> 0 AND rk <= {_DIVF_PROBE}
), flagged AS (
  SELECT c.vec_id, b.vec_id AS bench_id, {cos} AS cos_sim
  FROM corp c JOIN bench b ON b.cell = c.cell AND c.vec_id <> b.vec_id
  WHERE {cos} >= {_DECON_TAU}
), ranked AS (
  SELECT vec_id, bench_id, cos_sim,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cos_sim DESC, bench_id) AS rk,
         count(*) OVER (PARTITION BY vec_id) AS n_bench_hits
  FROM flagged
)
SELECT vec_id, bench_id, cos_sim, CAST(n_bench_hits AS BIGINT) AS n_bench_hits
FROM ranked WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Distributed fixed-point k-means — training replayed by the oracle
# ---------------------------------------------------------------------------

_KM_K, _KM_ITERS = 8, 4


@functools.lru_cache(maxsize=4)
def _km_centroids(sf_dir: str) -> tuple:
    """Train-once per scale dir (the ``_ivf_index`` convention): the
    scale tables are immutable, the trainer is bit-deterministic, so
    re-runs (bench pass 2, repeated driver calls) pay scoring only."""
    from scraping_etl_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark()
    e = load_table(spark, sf_dir, "embeddings")
    return tuple(
        tuple(c)
        for c in SIM.kmeans_train_fx(e, n_clusters=_KM_K, iters=_KM_ITERS)
    )


def q_emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (similarity.kmeans_train_fx) —
    the training loop itself is the gate: deterministic md5-scatter
    seeds, map-side assignment, fixed-point centroid updates, then the
    final assignment with distances. The STATIC DuckDB oracle replays
    seed selection, all four assignment passes and all four integer-
    lattice updates from the raw table (the ``host_pagerank``
    iterative-fixpoint convention) — no trained constants cross over,
    so the hash gate certifies the whole fixpoint, not a frozen
    model."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = [list(c) for c in _km_centroids(sf_dir)]
    return SIM.cluster_assign(e, cents)


def _kmeans_oracle_sql(k: int, iters: int, d: int, fx: int) -> str:
    dist = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> (p.v[i] - c.c[i]) * (p.v[i] - c.c[i])), (x, y) -> x + y)"
    ).format(d=d)
    parts = [
        f"""WITH pts AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), seeds AS (
  SELECT vec_id, v,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           AS rn
  FROM pts
), cl0 AS (
  SELECT rn - 1 AS cid, v AS c FROM seeds WHERE rn <= {k}
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", a{i} AS (
  SELECT p.vec_id, p.v, c.cid, {dist} AS dd
  FROM pts p CROSS JOIN cl{i - 1} c
), w{i} AS (
  SELECT vec_id, v, cid FROM a{i}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) = 1
), u{i} AS (
  SELECT cid, g.j AS pos,
         sum(CAST(round(v[g.j] * {fx}.0) AS BIGINT)) AS sfx,
         count(*) AS n
  FROM w{i}, generate_series(1, {d}) AS g(j)
  GROUP BY 1, 2
), cl{i} AS (
  SELECT cid, list(cx ORDER BY pos) AS c FROM (
    SELECT prev.cid, g.j AS pos,
           coalesce(CAST(u.sfx AS DOUBLE) / ({fx}.0 * u.n), prev.c[g.j]) AS cx
    FROM cl{i - 1} prev
    CROSS JOIN generate_series(1, {d}) AS g(j)
    LEFT JOIN u{i} u ON u.cid = prev.cid AND u.pos = g.j
  ) GROUP BY 1
)"""
        )
    parts.append(
        f""", fa AS (
  SELECT p.vec_id, c.cid, {dist} AS dd
  FROM pts p CROSS JOIN cl{iters} c
), fw AS (
  SELECT vec_id, cid, dd FROM fa
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) = 1
)
SELECT vec_id, CAST(cid AS INTEGER) AS cluster, round(dd, 6) AS sq_dist
FROM fw"""
    )
    return "".join(parts)


ORACLE_EMB_KMEANS_TRAIN = _kmeans_oracle_sql(
    _KM_K, _KM_ITERS, _DIM, SIM.KMEANS_FX_SCALE
)


# ---------------------------------------------------------------------------
# Keyword extraction + n-gram novelty
# ---------------------------------------------------------------------------

_MLLTOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 exact-vocabulary TF-IDF keywords per document
    (textstats.keyword_extract) — rank key is the rounded score, so
    the ordering itself is hash-gated."""
    from scraping_etl_spark.operators.textstats import keyword_extract

    d = load_table(spark, sf_dir, "documents")
    return keyword_extract(d, top_k=3)


ORACLE_DOC_KEYWORDS = f"""
WITH tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_MLLTOKS}) AS token FROM documents)
  GROUP BY 1, 2
), n AS (SELECT count(*) AS n FROM documents),
idf AS (
  SELECT token,
         ln((n.n + 1.0) / (count(DISTINCT doc_id) + 1.0)) + 1.0 AS idf
  FROM tf CROSS JOIN n GROUP BY token, n.n
), scored AS (
  SELECT tf.doc_id, tf.token, round(tf.tf * idf.idf, 6) AS tfidf
  FROM tf JOIN idf USING (token)
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tfidf
FROM (SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rank
      FROM scored)
WHERE rank <= 3
"""


def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram novelty in id order (dedup.ngram_novelty):
    the dataset-redundancy growth signal."""
    d = load_table(spark, sf_dir, "documents")
    return DD.ngram_novelty(d, k=5)


ORACLE_DOC_NGRAM_NOVELTY = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           CASE WHEN len(t) >= 5 THEN generate_series(1, len(t) - 4) ELSE [] END,
           i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
  FROM (SELECT doc_id, {_MLLTOKS} AS t FROM documents)
), fo AS (
  SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY 1
), agg AS (
  SELECT sh.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         round(sum(CASE WHEN sh.doc_id = fo.first_doc THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 6) AS novelty_frac
  FROM sh JOIN fo USING (g)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(agg.n_grams, 0) AS BIGINT) AS n_grams,
       coalesce(agg.novelty_frac, 0.0) AS novelty_frac
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection
# ---------------------------------------------------------------------------

_JL_K = 16


def q_emb_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection 64 -> 16 (similarity.jl_project): every
    projected coordinate hash-gates via the fixed-point CSV (the
    ``doc_token_ids`` rendering convention — integer strings render
    identically in both engines), plus the adjacent-pair distance
    ratio ``||pa-pb|| / ||va-vb||``, the quantity the JL lemma bounds."""
    e = load_table(spark, sf_dir, "embeddings")
    p = SIM.jl_project(e, out_dim=_JL_K, dim=_DIM)
    fx = F.array_join(
        F.transform(
            "proj",
            lambda x: F.round(x * F.lit(1_000_000.0), 0)
            .cast("long")
            .cast("string"),
        ),
        " ",
    )
    base = e.select("vec_id", F.col("embedding").alias("_v")).join(
        p.select("vec_id", "proj"), "vec_id"
    )
    nxt = base.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("_v").alias("_vb"),
        F.col("proj").alias("_pb"),
    )
    def _sqd(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    joined = base.join(nxt, "vec_id", "left")
    dorig = F.sqrt(_sqd(F.col("_v"), F.col("_vb")))
    dproj = F.sqrt(_sqd(F.col("proj"), F.col("_pb")))
    ratio = F.when(
        F.col("_vb").isNotNull() & (dorig > 0), F.round(dproj / dorig, 6)
    )
    return joined.select("vec_id", fx.alias("proj_fx"), ratio.alias("dist_ratio"))


_JL_MAT_SQL = "[" + ", ".join(
    "[" + ", ".join(repr(x) for x in row) + "]"
    for row in __import__(
        "scraping_etl_spark.operators.similarity", fromlist=["jl_matrix"]
    ).jl_matrix(_JL_K, 64)
) + "]"

ORACLE_EMB_JL_PROJECT = f"""
WITH pts AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), pr AS (
  SELECT vec_id, v,
         list_transform({_JL_MAT_SQL},
           r -> round(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, {_DIM}),
                                 i -> v[i] * r[i])),
                  (x, y) -> x + y) / sqrt({float(_JL_K)!r}), 6)) AS proj
  FROM pts
), paired AS (
  SELECT a.vec_id, a.proj, b.v AS vb, b.proj AS pb, a.v AS va
  FROM pr a LEFT JOIN pr b ON b.vec_id = a.vec_id + 1
)
SELECT vec_id,
       array_to_string(list_transform(proj,
         x -> CAST(CAST(round(x * 1000000.0) AS BIGINT) AS VARCHAR)), ' ')
         AS proj_fx,
       CASE WHEN vb IS NOT NULL AND
                 sqrt(list_reduce(list_prepend(0.0,
                   list_transform(generate_series(1, {_DIM}),
                                  i -> (va[i] - vb[i]) * (va[i] - vb[i]))),
                   (x, y) -> x + y)) > 0
            THEN round(
              sqrt(list_reduce(list_prepend(0.0,
                list_transform(generate_series(1, {_JL_K}),
                               i -> (proj[i] - pb[i]) * (proj[i] - pb[i]))),
                (x, y) -> x + y))
              / sqrt(list_reduce(list_prepend(0.0,
                  list_transform(generate_series(1, {_DIM}),
                                 i -> (va[i] - vb[i]) * (va[i] - vb[i]))),
                  (x, y) -> x + y)), 6)
       END AS dist_ratio
FROM paired
"""


# ---------------------------------------------------------------------------
# Fuzzy entity matching (record linkage)
# ---------------------------------------------------------------------------

_FM_T, _FM_N = 0.7, 5


def q_doc_title_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage gate (dedup.fuzzy_string_pairs): 40-char document
    "titles" vs copies with one md5-positioned character DROPPED —
    char-5-gram Jaccard via the AllPairs prefix filter (5-grams, not
    trigrams: on 40-char strings the trigram vocabulary is so small
    that every prefix token is common and the candidate join fans out
    ~10x — measured 18 s vs 1.8 s at sf0.1 for identical links) (provably
    complete, never an all-pairs scan on the Spark side; the ORACLE
    is the brute-force all-pairs, so losslessness is what hashes).
    Cross-side semantics: left ids are even (2*doc), corrupted right
    ids odd (2*doc+1); ``same_doc`` marks true links."""
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.substring("text", 1, 40).alias("_s")
    ).filter(F.length("_s") >= 10)
    left = base.select((F.col("doc_id") * 2).alias("_fid"), "_s")
    plen = F.length("_s")
    p = (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
            ).cast("long"),
            plen - 2,
        )
        + 2
    )
    right = base.select(
        (F.col("doc_id") * 2 + 1).alias("_fid"),
        F.concat(
            F.col("_s").substr(F.lit(1), (p - 1).cast("int")),
            F.col("_s").substr((p + 1).cast("int"), plen),
        ).alias("_s"),
    )
    pairs = DD.fuzzy_string_pairs(
        left.unionByName(right), _FM_T, id_col="_fid", string_col="_s", n=_FM_N
    )
    return pairs.select(
        "id_a",
        "id_b",
        "jacc",
        (
            (F.col("id_b") - F.col("id_a") == 1)
            & (F.pmod(F.col("id_a"), 2) == 0)
        ).alias("same_doc"),
    )


def q_er_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution composition — the record-linkage end-to-end a
    catalog/author/domain table needs: fuzzy candidate pairs
    (dedup.fuzzy_string_pairs — char-5-gram Jaccard under the AllPairs
    prefix filter, never all-pairs) → connected components
    (dedup.dedup_clusters — hash-min label propagation) → min-id
    canonical entity + family size. Entities: 40-char document
    'titles' (doc_id ≡ 0 mod 5), each with TWO independently corrupted
    variants (one md5-positioned char dropped; different salt per
    variant) — true 3-member families the transitive closure must
    reassemble even when the two variants' mutual similarity dips
    below threshold (the reason ER needs components, not just pairs).
    Composes three already-gated operators under ONE exact oracle
    (brute-force pairs + recursive-CTE reachability)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.substring("text", 1, 40).alias("_s")
    ).filter(F.length("_s") >= 10)
    plen = F.length("_s")

    def _dropped(salt: str):
        p = (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("doc_id").cast("string"),
                                       F.lit(salt))),
                        1, 15,
                    ), 16, 10,
                ).cast("long"),
                plen - 2,
            )
            + 2
        )
        return F.concat(
            F.col("_s").substr(F.lit(1), (p - 1).cast("int")),
            F.col("_s").substr((p + 1).cast("int"), plen),
        )

    ents = (
        base.select((F.col("doc_id") * 4).alias("_eid"), "_s")
        .unionByName(base.select(
            (F.col("doc_id") * 4 + 1).alias("_eid"),
            _dropped("a").alias("_s"),
        ))
        .unionByName(base.select(
            (F.col("doc_id") * 4 + 2).alias("_eid"),
            _dropped("b").alias("_s"),
        ))
    )
    pairs = DD.fuzzy_string_pairs(
        ents, _FM_T, id_col="_eid", string_col="_s", n=_FM_N
    )
    comp = DD.dedup_clusters(pairs)
    labeled = ents.join(
        comp, ents["_eid"] == comp["doc_id"], "left"
    ).select(
        F.col("_eid").alias("entity_id"),
        F.coalesce("cluster_id", "_eid").alias("canonical_id"),
    )
    sizes = labeled.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return labeled.join(sizes, "canonical_id").select(
        "entity_id",
        "canonical_id",
        (F.col("entity_id") == F.col("canonical_id")).alias("is_canonical"),
        "n_members",
    )


ORACLE_ER_PIPELINE = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, substr(text, 1, 40) AS s
  FROM documents
  WHERE doc_id % 5 = 0 AND len(substr(text, 1, 40)) >= 10
), ents AS (
  SELECT doc_id * 4 AS id, s FROM base
  UNION ALL
  SELECT doc_id * 4 + 1 AS id,
         substr(s, 1, CAST(p - 1 AS INTEGER))
           || substr(s, CAST(p + 1 AS INTEGER)) AS s
  FROM (SELECT doc_id, s,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'a'), 1, 15))::BIGINT
                 % (len(s) - 2) + 2 AS p
        FROM base)
  UNION ALL
  SELECT doc_id * 4 + 2 AS id,
         substr(s, 1, CAST(p - 1 AS INTEGER))
           || substr(s, CAST(p + 1 AS INTEGER)) AS s
  FROM (SELECT doc_id, s,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'b'), 1, 15))::BIGINT
                 % (len(s) - 2) + 2 AS p
        FROM base)
), sets AS (
  SELECT id,
         list_distinct(list_transform(
           generate_series(1, len(lower(s)) - {_FM_N - 1}),
           i -> substr(lower(s), CAST(i AS INTEGER), {_FM_N}))) AS g
  FROM ents WHERE len(s) >= {_FM_N}
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sets a JOIN sets b ON a.id < b.id
  WHERE round(len(list_intersect(a.g, b.g))
              / greatest(len(list_distinct(list_concat(a.g, b.g))), 1),
              6) >= {_FM_T}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk (node, reach) AS (
  SELECT src AS node, src AS reach FROM edges
  UNION
  SELECT e.src AS node, w.reach FROM edges e JOIN walk w ON w.node = e.dst
), comp AS (
  SELECT node AS id, min(reach) AS cluster_id FROM walk GROUP BY node
), labeled AS (
  SELECT e.id AS entity_id, coalesce(c.cluster_id, e.id) AS canonical_id
  FROM ents e LEFT JOIN comp c ON c.id = e.id
), sizes AS (
  SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_members
  FROM labeled GROUP BY 1
)
SELECT l.entity_id, l.canonical_id,
       (l.entity_id = l.canonical_id) AS is_canonical,
       s.n_members
FROM labeled l JOIN sizes s USING (canonical_id)
"""



# ---------------------------------------------------------------------------
# Bounded edit-distance join gate (dedup.edit_distance_pairs)
# ---------------------------------------------------------------------------

#: Edit threshold / q-gram width of the edit-join gate. 40-char
#: titles give len - q + 1 - k*q = 32 >= 1, so the Ed-Join prefix
#: bound is live (and the short-string guard never fires).
_EJ_K, _EJ_Q = 2, 3


def q_doc_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded edit-distance self-join gate (dedup.edit_distance_pairs
    — Ed-Join positional-q-gram prefix filtering + banded-DP
    levenshtein verify, never all-pairs; the ORACLE is the brute-force
    all-pairs, so candidate COMPLETENESS is what hashes). Corpus:
    ASCII 40-char document titles (doc_id = 0 mod 5), each with a
    1-substitution variant and a 2-substitution variant at
    md5-positioned offsets — (base, v1) links at dist <= 1, (base, v2)
    at dist <= 2, and (v1, v2) only where the planted positions
    collide, so the threshold boundary itself is exercised. ASCII
    filter because DuckDB's levenshtein is byte-based on multi-byte
    text while Spark's is codepoint-based (measured: 4 vs 2 on the
    same pair) — the mirrored guard keeps both engines on the same
    metric."""
    ents = _edit_join_entities(load_table(spark, sf_dir, "documents"))
    pairs = DD.edit_distance_pairs(
        ents, _EJ_K, id_col="_eid", string_col="_s", q=_EJ_Q
    )
    return pairs.select(
        "id_a", "id_b", "dist",
        (
            F.floor(F.col("id_a") / 4) == F.floor(F.col("id_b") / 4)
        ).alias("same_doc"),
    )


def _edit_join_entities(d: DataFrame) -> DataFrame:
    """The shared edit-gate corpus (see :func:`q_doc_edit_join`):
    40-char ASCII titles of the doc_id ≡ 0 (mod 5) slice as ``_eid =
    doc_id*4``, plus a 1-substitution variant (``*4+1``) and a
    2-substitution variant (``*4+2``) at md5-positioned offsets."""
    base = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.substring("text", 1, 40).alias("_s")
    ).filter(F.col("_s").rlike("^[ -~]{12,}$"))
    plen = F.length("_s")

    def _pos(salt: str) -> Column:
        return (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("doc_id").cast("string"),
                                       F.lit(salt))),
                        1, 15,
                    ), 16, 10,
                ).cast("long"),
                plen - 2,
            )
            + 2
        )

    def _sub_at(s: Column, p: Column, ch: str) -> Column:
        return F.concat(
            s.substr(F.lit(1), (p - 1).cast("int")),
            F.lit(ch),
            s.substr((p + 1).cast("int"), plen),
        )

    v1 = _sub_at(F.col("_s"), _pos("x"), "~")
    v2 = _sub_at(_sub_at(F.col("_s"), _pos("x"), "~"), _pos("y"), "#")
    return (
        base.select((F.col("doc_id") * 4).alias("_eid"), "_s")
        .unionByName(base.select((F.col("doc_id") * 4 + 1).alias("_eid"),
                                 v1.alias("_s")))
        .unionByName(base.select((F.col("doc_id") * 4 + 2).alias("_eid"),
                                 v2.alias("_s")))
    )


def q_doc_edit_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-side edit-distance screen gate (dedup.edit_screen_pairs —
    the batch face of ``streaming.edit_screen_stream``, so the
    streaming screen has an oracle-checked twin).
    Corpus: the :func:`q_doc_edit_join` entities split by role — the
    LAKE holds the base titles (``_eid ≡ 0 mod 4``), the INCOMING
    batch holds both planted variants (``1``/``2`` mod 4) — so every
    incoming row has a true cross match at dist 1 or 2 and the
    within-incoming (v1, v2) pairs are deliberately ABSENT from the
    output (the screen's contract: in-corpus pairing at rest is the
    self-join's job). The ORACLE is the brute-force cross join, so
    one-sided-prefix candidate completeness is what hashes."""
    ents = _edit_join_entities(load_table(spark, sf_dir, "documents"))
    lake = ents.filter(F.col("_eid") % 4 == 0)
    incoming = ents.filter(F.col("_eid") % 4 != 0)
    pairs = DD.edit_screen_pairs(
        incoming, lake, _EJ_K, id_col="_eid", string_col="_s", q=_EJ_Q
    )
    return pairs.select(
        "new_id", "ref_id", "dist",
        (
            F.floor(F.col("new_id") / 4) == F.floor(F.col("ref_id") / 4)
        ).alias("same_doc"),
    )


#: The shared edit-gate corpus CTEs (DuckDB twin of
#: :func:`_edit_join_entities`) — used by both edit-gate oracles.
_EJ_ENTS_CTE = f"""base AS (
  SELECT doc_id, substr(text, 1, 40) AS s
  FROM documents
  WHERE doc_id % 5 = 0 AND regexp_matches(substr(text, 1, 40), '^[ -~]{{12,}}$')
), px AS (
  SELECT doc_id, s,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'x'), 1, 15))::BIGINT
           % (len(s) - 2) + 2 AS p1,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'y'), 1, 15))::BIGINT
           % (len(s) - 2) + 2 AS p2
  FROM base
), ents AS (
  SELECT doc_id * 4 AS id, s FROM base
  UNION ALL
  SELECT doc_id * 4 + 1 AS id,
         substr(s, 1, CAST(p1 - 1 AS INTEGER)) || '~'
           || substr(s, CAST(p1 + 1 AS INTEGER)) AS s
  FROM px
  UNION ALL
  SELECT doc_id * 4 + 2 AS id,
         substr(v1, 1, CAST(p2 - 1 AS INTEGER)) || '#'
           || substr(v1, CAST(p2 + 1 AS INTEGER)) AS s
  FROM (SELECT doc_id, p2,
               substr(s, 1, CAST(p1 - 1 AS INTEGER)) || '~'
                 || substr(s, CAST(p1 + 1 AS INTEGER)) AS v1
        FROM px)
)"""

ORACLE_DOC_EDIT_JOIN = f"""
WITH {_EJ_ENTS_CTE}
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist,
       (a.id // 4 = b.id // 4) AS same_doc
FROM ents a JOIN ents b
  ON a.id < b.id AND abs(len(a.s) - len(b.s)) <= {_EJ_K}
WHERE levenshtein(a.s, b.s) <= {_EJ_K}
"""

# ---------------------------------------------------------------------------
# Fellegi–Sunter match scoring gate (operators/linkage.py)
# ---------------------------------------------------------------------------

#: Agreement fields of the FS gate: three positional 8-char windows
#: plus the bounded edit-distance predicate — a realistic mixed panel
#: (the variants substitute single chars, so each field disagrees on
#: some true matches and u-agreement occurs on shared title prefixes).
_FS_FIELDS = ["agr_pre8", "agr_mid8", "agr_suf8", "agr_lev2"]


def q_er_fs_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring gate (linkage.fs_weights
    + fs_score — Fellegi & Sunter JASA 1969): the decision layer above
    the ER pair generators. Corpus: the :func:`q_doc_edit_join`
    entities — per family the three within-family pairs are TRUE
    matches and (base_i, base_{i+1}) successor pairs across adjacent
    families are NON-matches. Weights train on the ``family % 3 == 0``
    labeled slice (closed-form m/u counts, add-half smoothing); every
    pair is then scored with the fixed-order log-likelihood-ratio sum.
    The hash pins the m/u estimation arithmetic, the per-field CASE
    weights and the fold order at once; the oracle recomputes all of
    it from scratch in SQL."""
    # localCheckpoint: consumed twice (weight slice + scoring pass)
    flagged = _fs_flagged_pairs(spark, sf_dir).localCheckpoint()
    weights = LK.fs_weights(
        flagged.filter(F.col("_fam") % 3 == 0), _FS_FIELDS
    )
    return LK.fs_score(
        flagged.select("id_a", "id_b", "is_match", *_FS_FIELDS),
        weights, _FS_FIELDS,
    ).select("id_a", "id_b", "is_match", "fs_score")


def _fs_flagged_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared FS gate pair corpus: edit-gate families flagged with
    the four agreement fields (see :func:`q_er_fs_scores`). Used by
    both the labeled-scoring and the EM gates."""
    ents = _edit_join_entities(load_table(spark, sf_dir, "documents"))
    fam = ents.select(
        "_eid", "_s", F.floor(F.col("_eid") / 4).alias("_fam")
    )
    a = fam.select(F.col("_eid").alias("id_a"), F.col("_s").alias("_sa"),
                   F.col("_fam").alias("_fa"))
    b = fam.select(F.col("_eid").alias("id_b"), F.col("_s").alias("_sb"),
                   F.col("_fam").alias("_fb"))
    match_pairs = (
        a.join(b, (F.col("_fa") == F.col("_fb"))
               & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "_sa", "_sb", F.lit(True).alias("is_match"),
                F.col("_fa").alias("_fam"))
    )
    bases = fam.filter(F.col("_eid") % 4 == 0).withColumn(
        "_rk", F.row_number().over(Window.orderBy("_eid"))
    )
    succ = (
        bases.select(F.col("_eid").alias("id_a"), F.col("_s").alias("_sa"),
                     F.col("_fam").alias("_fam"), F.col("_rk").alias("_r"))
        .join(
            bases.select(F.col("_eid").alias("id_b"),
                         F.col("_s").alias("_sb"),
                         (F.col("_rk") - 1).alias("_r")),
            "_r",
        )
    )
    nonmatch_pairs = succ.select(
        "id_a", "id_b", "_sa", "_sb", F.lit(False).alias("is_match"), "_fam"
    )
    # prefix-collision non-matches (id_b re-keyed to the unused
    # _eid ≡ 3 slot): the successor title with THIS family's first 8
    # chars grafted on — agr_pre8 agrees on a true NON-match, so the
    # u-side of the weight estimation has real mass, not only the
    # smoothing floor
    collision_pairs = succ.select(
        "id_a",
        (F.col("id_b") + 3).alias("id_b"),
        "_sa",
        F.concat(
            F.substring("_sa", 1, 8),
            F.col("_sb").substr(F.lit(9), F.length("_sb")),
        ).alias("_sb"),
        F.lit(False).alias("is_match"),
        "_fam",
    )
    pairs = match_pairs.unionByName(nonmatch_pairs).unionByName(
        collision_pairs
    )
    la, lb = F.length("_sa"), F.length("_sb")
    return pairs.select(
        "id_a", "id_b", "is_match", "_fam",
        (F.substring("_sa", 1, 8) == F.substring("_sb", 1, 8)).alias("agr_pre8"),
        (F.substring("_sa", 17, 8) == F.substring("_sb", 17, 8)).alias("agr_mid8"),
        (F.col("_sa").substr(la - 7, F.lit(8))
         == F.col("_sb").substr(lb - 7, F.lit(8))).alias("agr_suf8"),
        (F.levenshtein("_sa", "_sb") <= 2).alias("agr_lev2"),
    )


#: DuckDB twins of the four agreement fields (shared by the labeled
#: and EM oracles).
_FS_FIELD_SQL = {
    "agr_pre8": "substr(s_a, 1, 8) = substr(s_b, 1, 8)",
    "agr_mid8": "substr(s_a, 17, 8) = substr(s_b, 17, 8)",
    "agr_suf8":
        "substr(s_a, len(s_a) - 7, 8) = substr(s_b, len(s_b) - 7, 8)",
    "agr_lev2": "levenshtein(s_a, s_b) <= 2",
}


def _fs_pair_ctes() -> str:
    """The shared FS pair-corpus CTE chain (DuckDB twin of
    :func:`_fs_flagged_pairs`), ending at ``flagged``."""
    agrees = ",\n         ".join(
        f"{e} AS {c}" for c, e in _FS_FIELD_SQL.items()
    )
    return f"""{_EJ_ENTS_CTE},
fam AS (SELECT id, s, id // 4 AS fam FROM ents),
match_pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
         true AS is_match, a.fam AS fam
  FROM fam a JOIN fam b ON a.fam = b.fam AND a.id < b.id
),
bases AS (
  SELECT id, s, fam, row_number() OVER (ORDER BY id) AS rk
  FROM fam WHERE id % 4 = 0
),
nonmatch_pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b,
         false AS is_match, a.fam AS fam
  FROM bases a JOIN bases b ON b.rk = a.rk + 1
),
collision_pairs AS (
  SELECT a.id AS id_a, b.id + 3 AS id_b, a.s AS s_a,
         substr(a.s, 1, 8) || substr(b.s, 9) AS s_b,
         false AS is_match, a.fam AS fam
  FROM bases a JOIN bases b ON b.rk = a.rk + 1
),
pairs AS (
  SELECT * FROM match_pairs
  UNION ALL SELECT * FROM nonmatch_pairs
  UNION ALL SELECT * FROM collision_pairs
),
flagged AS MATERIALIZED (
  SELECT id_a, id_b, is_match, fam,
         {agrees}
  FROM pairs
)"""


def _fs_oracle() -> str:
    wcols = ",\n  ".join(
        f"(sum(CASE WHEN is_match AND {c} THEN 1 ELSE 0 END) + 0.5)"
        f" / (sum(CASE WHEN is_match THEN 1 ELSE 0 END) + 1.0) AS m_{c},\n  "
        f"(sum(CASE WHEN NOT is_match AND {c} THEN 1 ELSE 0 END) + 0.5)"
        f" / (sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END) + 1.0) AS u_{c}"
        for c in _FS_FIELDS
    )
    score = " + ".join(
        f"(CASE WHEN {c} THEN ln(m_{c} / u_{c})"
        f" ELSE ln((1.0 - m_{c}) / (1.0 - u_{c})) END)"
        for c in _FS_FIELDS
    )
    return f"""
WITH {_fs_pair_ctes()},
weights AS (
  SELECT
  {wcols}
  FROM flagged WHERE fam % 3 = 0
)
SELECT id_a, id_b, is_match,
       round({score}, 6) AS fs_score
FROM flagged CROSS JOIN weights
"""


ORACLE_ER_FS_SCORES = _fs_oracle()


#: EM gate iteration count (the fixpoint the hash pins) — kept small
#: so the k-times-unrolled oracle stays tractable while the estimates
#: already separate.
_FS_EM_ITERS = 3


def q_er_fs_em_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSUPERVISED Fellegi–Sunter gate (linkage.fs_em_weights —
    Winkler 1988 latent-mixture EM): the same pair corpus as
    :func:`q_er_fs_scores` but the m/u/p weights are estimated WITHOUT
    the labels (they ride along only as ground truth in the output).
    The hash pins the whole EM fixpoint — fixed-order E-step products,
    integer-grid M-step sums, add-half smoothing — for
    ``_FS_EM_ITERS`` iterations, plus the downstream fixed-order
    log-LR scoring; the oracle unrolls every iteration as MATERIALIZED
    CTEs (the ``host_hits`` convention)."""
    # localCheckpoint once: the pair derivation (edit-join entities,
    # md5 windows, three-way union, agreement flags) would otherwise
    # execute for the EM collect and again for the scoring pass — the
    # weighted-cosine convention
    flagged = _fs_flagged_pairs(spark, sf_dir).localCheckpoint()
    weights = LK.fs_em_weights_df(flagged, _FS_FIELDS, n_iters=_FS_EM_ITERS)
    return LK.fs_score(
        flagged.select("id_a", "id_b", "is_match", *_FS_FIELDS),
        weights, _FS_FIELDS,
    ).select("id_a", "id_b", "is_match", "fs_score")


def _fs_em_oracle() -> str:
    """Unrolled-CTE DuckDB twin of :func:`q_er_fs_em_scores`:
    iteration ``i``'s responsibility CTE cross-joins iteration
    ``i-1``'s one-row constants, the M-step sums integer-grid
    responsibilities (floor(w*SCALE + 0.5) — identical IEEE ops on
    both engines), and the final score uses iteration ``k``'s
    constants. Every CTE is MATERIALIZED (DuckDB inlines plain CTEs
    per reference — the host_hits lesson)."""
    half, one = LK.EM_SCALE // 2, LK.EM_SCALE
    fields = _FS_FIELDS
    em0_cols = [f"CAST({LK.EM_INIT_P!r} AS DOUBLE) AS p"]
    for c in fields:
        em0_cols.append(f"CAST({LK.EM_INIT_M!r} AS DOUBLE) AS m_{c}")
        em0_cols.append(f"CAST({LK.EM_INIT_U!r} AS DOUBLE) AS u_{c}")
    parts = [f"""
WITH {_fs_pair_ctes()},
em0 AS MATERIALIZED (SELECT {', '.join(em0_cols)})"""]
    for i in range(1, _FS_EM_ITERS + 1):
        prev = i - 1
        num = " * ".join(
            [f"e.p"] + [
                f"(CASE WHEN f.{c} THEN e.m_{c} ELSE 1.0 - e.m_{c} END)"
                for c in fields
            ]
        )
        den = " * ".join(
            [f"(1.0 - e.p)"] + [
                f"(CASE WHEN f.{c} THEN e.u_{c} ELSE 1.0 - e.u_{c} END)"
                for c in fields
            ]
        )
        sums = [
            "count(*) AS n",
            "sum(wq) AS sw",
        ]
        for c in fields:
            sums.append(
                f"sum(CASE WHEN {c} THEN wq ELSE 0 END) AS swa_{c}"
            )
            sums.append(
                f"sum(CASE WHEN {c} THEN {one} - wq ELSE 0 END) AS sua_{c}"
            )
        # p is add-half-smoothed on the grid exactly like m/u (keeps
        # EM off the 0/1 absorbing states) — mirrors linkage.py
        upd = [
            f"(sw + {half}) / (n * {float(one)!r} + {float(one)!r}) AS p"
        ]
        for c in fields:
            upd.append(
                f"(swa_{c} + {half}) / CAST(sw + {one} AS DOUBLE) AS m_{c}"
            )
            upd.append(
                f"(sua_{c} + {half}) / CAST(n * CAST({one} AS BIGINT)"
                f" - sw + {one} AS DOUBLE) AS u_{c}"
            )
        parts.append(f""",
resp{i} AS MATERIALIZED (
  SELECT f.*,
         CAST(floor(({num}) / (({num}) + ({den}))
                    * {float(one)!r} + 0.5) AS BIGINT) AS wq
  FROM flagged f CROSS JOIN em{prev} e
),
sums{i} AS MATERIALIZED (
  SELECT {', '.join(sums)} FROM resp{i}
),
em{i} AS MATERIALIZED (
  SELECT {', '.join(upd)} FROM sums{i}
)""")
    score = " + ".join(
        f"(CASE WHEN f.{c} THEN ln(e.m_{c} / e.u_{c})"
        f" ELSE ln((1.0 - e.m_{c}) / (1.0 - e.u_{c})) END)"
        for c in fields
    )
    parts.append(f"""
SELECT f.id_a, f.id_b, f.is_match,
       round({score}, 6) AS fs_score
FROM flagged f CROSS JOIN em{_FS_EM_ITERS} e
""")
    return "".join(parts)


ORACLE_ER_FS_EM_SCORES = _fs_em_oracle()


ORACLE_DOC_EDIT_SCREEN = f"""
WITH {_EJ_ENTS_CTE}
SELECT n.id AS new_id, r.id AS ref_id,
       CAST(levenshtein(n.s, r.s) AS INTEGER) AS dist,
       (n.id // 4 = r.id // 4) AS same_doc
FROM (SELECT * FROM ents WHERE id % 4 <> 0) n
JOIN (SELECT * FROM ents WHERE id % 4 = 0) r
  ON abs(len(n.s) - len(r.s)) <= {_EJ_K}
WHERE levenshtein(n.s, r.s) <= {_EJ_K}
"""


# ---------------------------------------------------------------------------
# Semantic ingest-screen batch face (similarity.embedding_decontaminate
# cross-side). The doc_edit_screen pattern applied to the third
# streaming twin, so streaming.emb_screen_stream has an oracle-checked
# batch face.
# ---------------------------------------------------------------------------

#: Ingest-screen threshold: the testdata embeddings are near-uniform
#: (cross cosines top out ~0.51 at sf0.1), so at 0.95 only the PLANTED
#: copies refuse — the cross-side contract, not corpus noise, is what
#: hashes.
_IS_TAU = 0.95


def q_emb_ingest_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of ``streaming.emb_screen_stream``: screen an
    INCOMING embedding batch against the vector LAKE with
    :func:`similarity.embedding_decontaminate` at
    ``exclude_same_id=False`` (lake and batch are distinct relations,
    so id equality never marks a self-pair). Lake: ``vec_id % 3 == 0``.
    Incoming: the fresh ``% 3 == 1`` slice (survives), every lake row
    re-keyed +1e6 (refused against its source), and every EVEN lake
    row RE-DELIVERED under its ORIGINAL id — refused against its own
    lake copy, the r14-ADVICE case a self-pair exclusion would
    silently land twice. Output mirrors the stream's landed rows:
    ``(vec_id, refused, lake_id, cos_sim, n_lake_hits)``."""
    e = load_table(spark, sf_dir, "embeddings")
    lake = e.filter(F.col("vec_id") % 3 == 0).select("vec_id", "embedding")
    fresh = e.filter(F.col("vec_id") % 3 == 1).select("vec_id", "embedding")
    mirrors = lake.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    redeliv = lake.filter(F.col("vec_id") % 2 == 0)
    incoming = fresh.unionByName(mirrors).unionByName(redeliv)
    flags = SIM.embedding_decontaminate(
        incoming,
        lake.select(F.col("vec_id").alias("_lid"),
                    F.col("embedding").alias("_lvec")),
        threshold=_IS_TAU,
        bench_id_col="_lid", bench_vec_col="_lvec",
        exclude_same_id=False,
    ).select(
        "vec_id",
        F.col("bench_id").alias("lake_id"),
        "cos_sim",
        F.col("n_bench_hits").alias("n_lake_hits"),
    )
    return (
        incoming.select("vec_id")
        .join(flags, "vec_id", "left")
        .select(
            "vec_id",
            F.col("lake_id").isNotNull().alias("refused"),
            "lake_id", "cos_sim", "n_lake_hits",
        )
    )


def _emb_ingest_screen_oracle() -> str:
    dot_il = _DOT.format(a="i.embedding", b="l.embedding")
    n_i = _DOT.format(a="i.embedding", b="i.embedding")
    n_l = _DOT.format(a="l.embedding", b="l.embedding")
    cos = (
        f"round(CASE WHEN sqrt({n_i}) * sqrt({n_l}) > 0 "
        f"THEN {dot_il} / (sqrt({n_i}) * sqrt({n_l})) "
        f"ELSE 0.0 END, 6)"
    )
    return f"""
WITH lake AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0
), incoming AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 1
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM lake
  UNION ALL
  SELECT vec_id, embedding FROM lake WHERE vec_id % 2 = 0
), flagged AS (
  SELECT i.vec_id, l.vec_id AS lake_id, {cos} AS cos_sim
  FROM incoming i JOIN lake l ON {cos} >= {_IS_TAU}
), ranked AS (
  SELECT vec_id, lake_id, cos_sim,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cos_sim DESC, lake_id) AS rk,
         count(*) OVER (PARTITION BY vec_id) AS n_lake_hits
  FROM flagged
)
SELECT i.vec_id,
       r.lake_id IS NOT NULL AS refused,
       r.lake_id,
       r.cos_sim,
       CAST(r.n_lake_hits AS BIGINT) AS n_lake_hits
FROM incoming i
LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r ON i.vec_id = r.vec_id
"""


ORACLE_EMB_INGEST_SCREEN = _emb_ingest_screen_oracle()


ORACLE_DOC_TITLE_FUZZY_MATCH = f"""
WITH base AS (
  SELECT doc_id, substr(text, 1, 40) AS s
  FROM documents
  WHERE doc_id % 5 = 0 AND len(substr(text, 1, 40)) >= 10
), lr AS (
  SELECT doc_id * 2 AS id, s FROM base
  UNION ALL
  SELECT doc_id * 2 + 1 AS id,
         substr(s, 1, CAST(p - 1 AS INTEGER))
           || substr(s, CAST(p + 1 AS INTEGER)) AS s
  FROM (SELECT doc_id, s,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % (len(s) - 2) + 2 AS p
        FROM base)
), sets AS (
  SELECT id,
         list_distinct(list_transform(
           generate_series(1, len(lower(s)) - {_FM_N - 1}),
           i -> substr(lower(s), CAST(i AS INTEGER), {_FM_N}))) AS g
  FROM lr WHERE len(s) >= {_FM_N}
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         round(len(list_intersect(a.g, b.g))
               / greatest(len(list_distinct(list_concat(a.g, b.g))), 1),
               6) AS jacc
  FROM sets a JOIN sets b ON a.id < b.id
)
SELECT id_a, id_b, jacc,
       (id_b - id_a = 1 AND id_a % 2 = 0) AS same_doc
FROM pairs WHERE jacc >= {_FM_T}
"""


# ---------------------------------------------------------------------------
# Weighted-cosine all-pairs gate (dedup.allpairs_cosine_weighted)
# ---------------------------------------------------------------------------

_WC_T = 0.9
#: Signature size / boost width of the weighted-cosine gate corpus:
#: each doc is represented by its top-24 TF-IDF tokens (the signature
#: vector an IDF-weighted near-dup join actually runs on — rare
#: distinctive tokens, so prefix-token fan-out stays bounded as the
#: corpus grows; the full-vocabulary variant measured quadratic
#: candidate mass on the shared-vocabulary testdata: OOM at sf0.1).
_WC_TOPK = 24
_WC_NBOOST = 5


def q_doc_weighted_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-cosine all-pairs gate (dedup.allpairs_cosine_weighted
    — Bayardo 2007 prefix filter; the ORACLE is the brute-force
    token-join dot product, so candidate completeness is what hashes).
    Corpus: per-doc top-24 TF-IDF signature vectors over 3-word
    SHINGLES of the doc_id ≡ 0 (mod 5) slice, plus a re-keyed copy of
    every fifth signature with its FIRST 5 entries' weights doubled
    (feature-ascending order) — the same feature SET under shifted
    weights, cosine high but below 1: the pair Jaccard cannot
    separate and weighted cosine must. Vectors sort by feature before
    the fold so the verify's float sum order is deterministic; IDF
    ranks are identical doubles on both engines, so the kept top-24
    set is engine-stable (ties broken by feature).

    Why shingles (measured): the testdata's WORD vocabulary is 31
    words (df 250-3923 at sf0.1) — no word is rare, so any word-level
    prefix filter degenerates to the all-pairs scan it exists to
    avoid (first cut: 102k prefix rows at sf0.1, candidate-join OOM;
    top-24-by-IDF did not help — 24 of 31 shared words is still the
    same set). 3-shingles are the standard near-dup signature
    precisely because their feature space grows combinatorially:
    measured at sf0.1, vocab 23k, median df 2, Σdf² ≈ 155k —
    candidate mass bounded. ``spread_narrow_scan`` spreads the
    one-row-group local parquet; the signature relation is
    localCheckpoint-ed once (consumed by both union branches)."""
    from scraping_etl_spark.operators.dedup import word_shingles

    d = spread_narrow_scan(
        load_table(spark, sf_dir, "documents")
    ).filter(F.col("doc_id") % 5 == 0)
    base = d.select(
        "doc_id",
        F.explode(word_shingles(F.lower(F.col("text")), 3)).alias("w"),
    )
    # materialize the (doc, shingle, tf) relation ONCE: the n_docs
    # count below is an eager action and would otherwise execute the
    # full shingle explode+agg a second time before the signature
    # checkpoint re-runs it for idf+kept (r17; the corpus-scale explode
    # is this gate's dominant cost)
    tf = base.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint()
    n_docs = tf.select("doc_id").distinct().count()
    idf = tf.groupBy("w").agg(
        (
            F.log(
                F.lit(float(n_docs + 1))
                / (F.count(F.lit(1)).cast("double") + F.lit(1.0))
            )
            + F.lit(1.0)
        ).alias("idf")
    )
    kept = (
        tf.join(idf, "w")
        .select("doc_id", "w", (F.col("tf") * F.col("idf")).alias("x"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id")
                .orderBy(F.col("x").desc(), F.col("w"))
            ),
        )
        .filter(F.col("rk") <= _WC_TOPK)
    )
    base_vecs = (
        kept.select(
            F.col("doc_id").alias("_id"),
            F.struct(F.col("w").alias("t"), F.col("x").alias("w")).alias("e"),
        )
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("e")).alias("_vec"))
    ).localCheckpoint()
    boosted_vecs = base_vecs.filter(F.col("_id") % 5 == 0).select(
        (F.col("_id") + 1_000_000).alias("_id"),
        F.transform(
            "_vec",
            lambda x, i: F.struct(
                x["t"].alias("t"),
                F.when(i < _WC_NBOOST, x["w"] * 2).otherwise(x["w"]).alias("w"),
            ),
        ).alias("_vec"),
    )
    vecs = base_vecs.unionByName(boosted_vecs)
    pairs = DD.allpairs_cosine_weighted(vecs, _WC_T)
    return pairs.select(
        "id_a", "id_b", "cos_sim",
        (F.col("id_b") - F.col("id_a") == 1_000_000).alias("same_doc"),
    )


ORACLE_DOC_WEIGHTED_COSINE = f"""
WITH toks AS (
  SELECT doc_id, {_MLLTOKS} AS t FROM documents WHERE doc_id % 5 = 0
),
base AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE [] END)) AS w
  FROM toks
),
tf AS (SELECT doc_id, w, count(*) AS tf FROM base GROUP BY 1, 2),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
idf AS (
  SELECT w, ln((n + 1.0) / (count(*) + 1.0)) + 1.0 AS idf
  FROM tf CROSS JOIN nd GROUP BY w, n
),
kept AS (
  SELECT doc_id, w, x
  FROM (
    SELECT t.doc_id, t.w, t.tf * i.idf AS x,
           row_number() OVER (
             PARTITION BY t.doc_id
             ORDER BY t.tf * i.idf DESC, t.w) AS rk
    FROM tf t JOIN idf i USING (w)
  ) WHERE rk <= {_WC_TOPK}
),
boosted AS (
  SELECT doc_id + 1000000 AS doc_id, w,
         CASE WHEN rkw <= {_WC_NBOOST} THEN x * 2 ELSE x END AS x
  FROM (SELECT doc_id, w, x,
               row_number() OVER (PARTITION BY doc_id ORDER BY w) AS rkw
        FROM kept WHERE doc_id % 5 = 0)
),
wv AS (SELECT * FROM kept UNION ALL SELECT * FROM boosted),
-- accumulation order pinned to the Spark side's fold (r13 ADVICE):
-- the query sorts each vector by feature before the sequential
-- F.aggregate, so both the norm and the dot product below fold in
-- feature-ascending order via list_reduce (left fold; the Spark
-- fold's extra +0.0 init and 0-contribution misses are IEEE no-ops
-- because every weight is > 0)
nrm AS (
  SELECT doc_id,
         sqrt(list_reduce(list(x * x ORDER BY w),
                          (acc, v) -> acc + v)) AS nn
  FROM wv GROUP BY 1
),
unit AS (
  SELECT wv.doc_id, wv.w, wv.x / nrm.nn AS x
  FROM wv JOIN nrm USING (doc_id)
),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(list_reduce(list(a.x * b.x ORDER BY a.w),
                           (acc, v) -> acc + v), 6) AS cos_sim
  FROM unit a JOIN unit b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, cos_sim,
       (id_b - id_a = 1000000) AS same_doc
FROM dots WHERE cos_sim >= {_WC_T}
"""


# Payload containment gate (multimodal.payload_containment_pairs)
# ---------------------------------------------------------------------------

_PC_TAU = 0.9
_PC_CHUNK = 8
_PC_MAXDOCS = 64
_PC_LEN = 48


def q_doc_payload_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset-containment gate (multimodal.payload_containment_pairs —
    Broder containment on byte-chunk sets, no decoding; the oracle is
    the exact hex/md5/set mirror including the too-common-chunk skew
    filter). Corpus: 48-byte ASCII text prefixes as payloads, plus
    planted CONTAINERS — for adjacent qualifying docs (i, i+1), asset
    id i+3e6 carries payload(i) || payload(i+1), a chunk-aligned
    concatenation by construction — so both halves read containment
    1.0 against their container while the SimHash resemblance tier
    would score the big container as distant from each small half."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.substring("text", 1, _PC_LEN).alias("_t")
    ).filter(F.col("_t").rlike(rf"^[ -~]{{{_PC_LEN}}}$"))
    nxt = base.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("_t").alias("_tn")
    )
    containers = (
        base.join(nxt, "doc_id")
        .filter(F.col("doc_id") % 6 == 0)
        .select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.concat("_t", "_tn").alias("_t"),
        )
    )
    corpus = MM.attach_payload(
        base.unionByName(containers), text_col="_t"
    )
    return MM.payload_containment_pairs(
        corpus, chunk_bytes=_PC_CHUNK, tau=_PC_TAU,
        max_docs_per_chunk=_PC_MAXDOCS,
    )


ORACLE_DOC_PAYLOAD_CONTAINMENT = rf"""
WITH base AS (
  SELECT doc_id, substr(text, 1, {_PC_LEN}) AS t
  FROM documents
  WHERE regexp_matches(substr(text, 1, {_PC_LEN}), '^[ -~]{{{_PC_LEN}}}$')
),
corpus AS (
  SELECT doc_id, t FROM base
  UNION ALL
  SELECT a.doc_id + 3000000 AS doc_id, a.t || b.t AS t
  FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 6 = 0
),
ch AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(substring(hex(encode(t)), i, {2 * _PC_CHUNK})), 1, 15))::BIGINT AS c
  FROM corpus,
       unnest(generate_series(1, len(hex(encode(t))), {2 * _PC_CHUNK})) AS u(i)
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY 1),
common AS (
  SELECT c FROM ch GROUP BY c HAVING count(*) > {_PC_MAXDOCS}
),
kept AS (SELECT * FROM ch WHERE c NOT IN (SELECT c FROM common)),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.c = b.c AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b, s.n_shared,
       na.n AS n_a, nb.n AS n_b,
       round(s.n_shared / least(na.n, nb.n), 6) AS containment
FROM shared s
JOIN sizes na ON na.doc_id = s.id_a
JOIN sizes nb ON nb.doc_id = s.id_b
WHERE round(s.n_shared / least(na.n, nb.n), 6) >= {_PC_TAU}
"""

"""Round-9 screening / canonicalization / collocation driver gates.

Four new gates over the scale tables, one per new operator:

- ``doc_bloom_screen`` — Bloom-filter banned-content pre-screen
  (``operators/bloom.py``). xxhash64 bit positions are not
  DuckDB-reproducible, so the driver row checks the Bloom CONTRACT
  (no false negative vs an exact membership twin) as a verdict
  column — the CMS/HLL tolerance-gate convention; the fp-rate bound
  is pytest-pinned in tests/test_screen_ops.py.
- ``doc_normalize_dups`` — canonical-form dedup families
  (``operators/normalize.py``) over a corpus with planted case /
  accent / punctuation variants; FULL exact gate (the canonical form
  and its md5 are reproduced verbatim in SQL).
- ``doc_pmi_collocations`` — top-k PMI bigram collocations
  (``textstats.pmi_collocations``); exact gate with the float
  rounded to 6 decimals on both sides (the ``doc_dsir_weights``
  convention).
- ``doc_containment`` — one-sided k-gram containment pairs
  (``dedup.containment_pairs``) over a corpus with planted
  quote-inclusion docs (the first 20 tokens of every 3rd document);
  exact gate.

Synthesis conventions follow ``plans/curation_ops.py`` (id-shifted
planted twins, the winnow corpus pattern).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_etl_spark.operators import bloom as BL
from scraping_etl_spark.operators import normalize as NORM
from scraping_etl_spark.operators.dedup import containment_pairs
from scraping_etl_spark.operators.textstats import pmi_collocations, tokens
from scraping_etl_spark.plans.ml_ops import double_list_sql
from scraping_etl_spark.sources.readers import load_table

_LTOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# Bloom banned-content screen (operators/bloom.py gate)
# ---------------------------------------------------------------------------

#: Every 23rd document's content hash is "banned"; the whole corpus is
#: screened. Gate geometry is deliberately small (m=2^14) so fp
#: collisions are at least possible — the verdict column proves the
#: no-false-negative side regardless.
_BLOOM_BANNED_MOD = 23
_BLOOM_M, _BLOOM_K = 1 << 14, 4


def q_doc_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the corpus against a Bloom filter of banned content
    hashes. ``is_member`` is the exact twin (same relational
    membership DuckDB computes); ``nfn_ok`` asserts the Bloom
    invariant — a true member is NEVER rejected by the filter."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select("doc_id", F.md5("text").alias("h"))
    banned = hashed.filter(F.col("doc_id") % _BLOOM_BANNED_MOD == 0)
    filt = BL.bloom_build(banned, key_col="h", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    screened = BL.bloom_screen(
        hashed, filt, key_col="h", m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )
    exact = banned.select(F.col("h").alias("_bh")).distinct()
    return (
        screened.join(exact, screened["h"] == exact["_bh"], "left")
        .select(
            "doc_id",
            F.col("_bh").isNotNull().alias("is_member"),
            (F.col("bloom_hit") | F.col("_bh").isNull()).alias("nfn_ok"),
        )
    )


ORACLE_DOC_BLOOM_SCREEN = f"""
WITH banned AS (
  SELECT DISTINCT md5(text) AS h FROM documents
  WHERE doc_id % {_BLOOM_BANNED_MOD} = 0
)
SELECT d.doc_id,
       (b.h IS NOT NULL) AS is_member,
       true AS nfn_ok
FROM documents d LEFT JOIN banned b ON md5(d.text) = b.h
"""


# ---------------------------------------------------------------------------
# Canonical-form dedup families (operators/normalize.py gate)
# ---------------------------------------------------------------------------

_NORM_ID_SHIFT = 300_000
_NORM_N_COPIES = 60


def _norm_corpus(d: DataFrame) -> DataFrame:
    """Original docs plus a planted variant of the first
    ``_NORM_N_COPIES``: uppercased, 'a'→'á' accent-poisoned, with
    punctuation/whitespace junk appended — all of it erased by the
    canonical form, so each variant lands in its original's family."""
    variants = d.filter(F.col("doc_id") < _NORM_N_COPIES).select(
        (F.col("doc_id") + _NORM_ID_SHIFT).alias("doc_id"),
        F.concat(
            F.translate(F.upper("text"), "A", "Á"), F.lit(",!?  . ")
        ).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(variants)


def q_doc_normalize_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return NORM.normalized_dup_families(_norm_corpus(d)).orderBy("doc_id")


def _norm_sql(expr: str) -> str:
    return (
        f"trim(regexp_replace(lower(translate({expr}, "
        f"'{NORM.ACCENT_FROM}', '{NORM.ACCENT_TO}')), '[^a-z0-9]+', ' ', 'g'))"
    )


ORACLE_DOC_NORMALIZE_DUPS = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_NORM_ID_SHIFT},
         translate(upper(text), 'A', 'Á') || ',!?  . '
  FROM documents WHERE doc_id < {_NORM_N_COPIES}
),
keyed AS (
  SELECT doc_id, md5({_norm_sql('text')}) AS norm_md5 FROM corpus
),
fams AS (
  SELECT norm_md5, CAST(COUNT(*) AS BIGINT) AS n_family,
         MIN(doc_id) AS min_id
  FROM keyed GROUP BY 1
)
SELECT k.doc_id, k.norm_md5, f.n_family,
       (k.doc_id = f.min_id) AS is_canonical
FROM keyed k JOIN fams f USING (norm_md5)
ORDER BY k.doc_id
"""


# ---------------------------------------------------------------------------
# PMI collocations (textstats.pmi_collocations gate)
# ---------------------------------------------------------------------------

_PMI_K, _PMI_MIN = 40, 5


def q_doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return pmi_collocations(d, k=_PMI_K, min_count=_PMI_MIN)


ORACLE_DOC_PMI_COLLOCATIONS = f"""
WITH tok AS (SELECT doc_id, {_LTOKS} AS t FROM documents),
pairs AS (
  SELECT unnest(CASE WHEN len(t) >= 2
           THEN list_transform(generate_series(1, len(t) - 1),
                               i -> struct_pack(w1 := t[i], w2 := t[i+1]))
           ELSE [] END) AS p
  FROM tok
),
big AS (
  SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM pairs GROUP BY 1, 2
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w
  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1
),
total AS (SELECT SUM(c_ab) AS n_big FROM big),
scored AS (
  SELECT b.w1, b.w2, b.c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
         round(ln(CAST(t.n_big AS DOUBLE) * b.c_ab /
                  (CAST(ua.c_w AS DOUBLE) * ub.c_w)), 6) AS pmi
  FROM big b
  JOIN uni ua ON b.w1 = ua.w
  JOIN uni ub ON b.w2 = ub.w
  CROSS JOIN total t
  WHERE b.c_ab >= {_PMI_MIN}
)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INTEGER) AS rank,
       w1, w2, c_ab, c_a, c_b, pmi
FROM scored
ORDER BY pmi DESC, w1, w2
LIMIT {_PMI_K}
"""


# ---------------------------------------------------------------------------
# Containment pairs (dedup.containment_pairs gate)
# ---------------------------------------------------------------------------

_CONT_ID_SHIFT = 400_000
_CONT_K, _CONT_TAU, _CONT_MAX_DOCS = 4, 0.9, 64
_CONT_QUOTE_TOKENS = 20


def _cont_corpus(d: DataFrame) -> DataFrame:
    """Original docs plus a quote-inclusion doc for every 3rd: its
    first ``_CONT_QUOTE_TOKENS`` tokens verbatim — near-total
    containment in the original, tiny Jaccard (the case resemblance
    tiers miss)."""
    quotes = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + _CONT_ID_SHIFT).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(tokens("text", lowercase=True), 1, _CONT_QUOTE_TOKENS)
        ).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(quotes)


def q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        _cont_corpus(d),
        k=_CONT_K,
        tau=_CONT_TAU,
        max_docs_per_gram=_CONT_MAX_DOCS,
    ).orderBy("id_a", "id_b")


ORACLE_DOC_CONTAINMENT = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CONT_ID_SHIFT},
         array_to_string(list_slice({_LTOKS}, 1, {_CONT_QUOTE_TOKENS}), ' ')
  FROM documents WHERE doc_id % 3 = 0
),
tok AS (SELECT doc_id, {_LTOKS} AS t FROM corpus),
grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= {_CONT_K}
             THEN list_transform(generate_series(1, len(t) - {_CONT_K} + 1),
                    i -> array_to_string(list_slice(t, i, i + {_CONT_K} - 1), ' '))
             ELSE [] END) AS gram
    FROM tok
  )
),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY 1
),
common AS (
  SELECT gram FROM grams GROUP BY 1 HAVING COUNT(*) > {_CONT_MAX_DOCS}
),
kept AS (
  SELECT g.doc_id, g.gram FROM grams g ANTI JOIN common c ON g.gram = c.gram
),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b, s.n_shared,
       sa.n_grams AS n_a, sb.n_grams AS n_b,
       round(s.n_shared / CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE), 6)
         AS containment
FROM shared s
JOIN sizes sa ON s.id_a = sa.doc_id
JOIN sizes sb ON s.id_b = sb.doc_id
WHERE round(s.n_shared / CAST(least(sa.n_grams, sb.n_grams) AS DOUBLE), 6)
      >= {_CONT_TAU}
ORDER BY s.id_a, s.id_b
"""


# ---------------------------------------------------------------------------
# Line-level surgery + shuffled shards
# ---------------------------------------------------------------------------

_LINE_BOILER_A = "subscribe to our newsletter today"
_LINE_BOILER_B = "all rights reserved worldwide"


def _line_corpus(d: DataFrame) -> DataFrame:
    """Every doc rebuilt as 3 lines: shared header boilerplate, its own
    text, shared footer boilerplate — the C4 shape where documents are
    distinct but stitched from shared lines."""
    return d.select(
        "doc_id",
        F.concat_ws(
            "\n", F.lit(_LINE_BOILER_A), F.col("text"), F.lit(_LINE_BOILER_B)
        ).alias("text"),
    )


def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scraping_etl_spark.operators.lines import dedup_lines

    d = load_table(spark, sf_dir, "documents")
    return dedup_lines(_line_corpus(d)).orderBy("doc_id")


ORACLE_DOC_LINE_DEDUP = f"""
WITH corpus AS (
  SELECT doc_id,
         '{_LINE_BOILER_A}' || chr(10) || text || chr(10) ||
         '{_LINE_BOILER_B}' AS text
  FROM documents
),
lines AS (
  SELECT doc_id, pos - 1 AS pos, line FROM (
    SELECT doc_id,
           generate_subscripts(ls, 1) AS pos,
           unnest(ls) AS line
    FROM (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS ls
      FROM corpus
    )
  )
),
ranked AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY md5(line)
                            ORDER BY doc_id, pos) AS rk
  FROM lines
),
rebuilt AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS new_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM ranked WHERE rk = 1 GROUP BY doc_id
),
counts AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id
)
SELECT c.doc_id,
       COALESCE(r.new_text, '') AS text,
       COALESCE(ct.n_lines, 0) AS n_lines,
       COALESCE(r.n_kept, 0) AS n_kept
FROM corpus c
LEFT JOIN rebuilt r USING (doc_id)
LEFT JOIN counts ct USING (doc_id)
ORDER BY c.doc_id
"""

_LQ_MIN_WORDS = 4


def q_doc_line_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-rule gate: header passes (5 words + '.'), the doc's own
    text line fails (no terminal punctuation), a planted brace line
    fails, a punctuated copy of the text passes when long enough."""
    from scraping_etl_spark.operators.lines import filter_quality_lines

    d = load_table(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("this header line has punctuation."),
            F.col("text"),
            F.concat(F.col("text"), F.lit(".")),
            F.lit("code { barely } line."),
        ).alias("text"),
    )
    return filter_quality_lines(corpus, min_words=_LQ_MIN_WORDS).orderBy("doc_id")


ORACLE_DOC_LINE_QUALITY = f"""
WITH corpus AS (
  SELECT doc_id,
         'this header line has punctuation.' || chr(10) || text || chr(10)
         || text || '.' || chr(10) || 'code {{ barely }} line.' AS text,
         text AS orig
  FROM documents
),
split AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS ls
  FROM corpus
),
judged AS (
  SELECT doc_id, ls,
         list_filter(ls, x ->
           len(list_filter(string_split_regex(x, '\\s+'), t -> t <> ''))
             >= {_LQ_MIN_WORDS}
           AND NOT contains(x, '{{') AND NOT contains(x, '}}')
           AND (suffix(x, '.') OR suffix(x, '!') OR suffix(x, '?')
                OR suffix(x, '"') OR suffix(x, ''''))
         ) AS kept
  FROM split
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS text,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept
FROM judged
ORDER BY doc_id
"""

_SHARD_N, _SHARD_SEED = 16, "epoch0"


def q_doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scraping_etl_spark.operators.curation import shuffle_to_shards

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return shuffle_to_shards(d, n_shards=_SHARD_N, seed=_SHARD_SEED).orderBy(
        "shard", "shard_pos"
    )


ORACLE_DOC_SHUFFLE_SHARDS = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         md5('{_SHARD_SEED}' || '|' || CAST(doc_id AS VARCHAR)) AS perm
  FROM documents
),
sharded AS (
  SELECT doc_id, lang, perm,
         CAST((('0x' || substr(perm, 1, 15))::BIGINT % {_SHARD_N})
              AS INTEGER) AS shard
  FROM keyed
)
SELECT doc_id, lang, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY perm, doc_id) - 1
            AS BIGINT) AS shard_pos
FROM sharded
ORDER BY shard, shard_pos
"""


_HB_FRAC, _HB_MIN_DOCS = 0.5, 3


def q_doc_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level boilerplate gate: every doc of a source carries that
    source's promo line (df 1.0 → removed from ALL docs); a 'rare
    extra line' planted in every 10th doc stays under the df threshold
    and survives (lines.remove_common_lines)."""
    from scraping_etl_spark.operators.lines import remove_common_lines

    d = load_table(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("promo "), F.col("source")),
            F.col("text"),
            F.when(F.col("doc_id") % 10 == 0, F.lit("rare extra line")),
        ).alias("text"),
        "source",
    )
    return remove_common_lines(
        corpus, min_df_frac=_HB_FRAC, min_group_docs=_HB_MIN_DOCS
    ).orderBy("doc_id")


ORACLE_DOC_HOST_BOILERPLATE = f"""
WITH corpus AS (
  SELECT doc_id, source,
         'promo ' || source || chr(10) || text ||
         CASE WHEN doc_id % 10 = 0 THEN chr(10) || 'rare extra line'
              ELSE '' END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, source, pos - 1 AS pos, line FROM (
    SELECT doc_id, source,
           generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
    FROM (
      SELECT doc_id, source,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS ls
      FROM corpus
    )
  )
),
gsizes AS (SELECT source, COUNT(*) AS gn FROM corpus GROUP BY 1),
ldf AS (
  SELECT source, md5(line) AS h, COUNT(DISTINCT doc_id) AS df
  FROM lines GROUP BY 1, 2
),
boiler AS (
  SELECT l.source, l.h FROM ldf l JOIN gsizes g USING (source)
  WHERE g.gn >= {_HB_MIN_DOCS} AND l.df >= {_HB_FRAC} * g.gn
),
kept AS (
  SELECT ln.doc_id, ln.pos, ln.line
  FROM lines ln
  ANTI JOIN boiler b ON ln.source = b.source AND md5(ln.line) = b.h
),
rebuilt AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS new_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY 1
),
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lines GROUP BY 1)
SELECT c.doc_id,
       COALESCE(r.new_text, '') AS text,
       COALESCE(ct.n_lines, 0) AS n_lines,
       COALESCE(r.n_kept, 0) AS n_kept
FROM corpus c
LEFT JOIN rebuilt r USING (doc_id)
LEFT JOIN counts ct USING (doc_id)
ORDER BY c.doc_id
"""


_BM_BUDGETS = {"src0": 400, "src1": 150, "src2": 0, "src3": 60}
_BM_SEED = "mix0"


def q_doc_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus assembly gate: per-source token budgets
    filled in deterministic md5(seed|id) order, one overshooting doc
    allowed, zero-budget and unlisted sources excluded
    (curation.token_budget_mix)."""
    from scraping_etl_spark.operators.curation import token_budget_mix

    d = load_table(spark, sf_dir, "documents")
    return (
        token_budget_mix(d, dict(_BM_BUDGETS), seed=_BM_SEED)
        .select("doc_id", "source", "n_doc_tokens", "cum_before")
        .orderBy("doc_id")
    )


def _bm_budget_sql() -> str:
    return " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _BM_BUDGETS.items()
    )


ORACLE_DOC_BUDGET_MIX = f"""
WITH keyed AS (
  SELECT doc_id, source,
         CAST(len({_LTOKS}) AS BIGINT) AS n_doc_tokens,
         md5('{_BM_SEED}' || '|' || CAST(doc_id AS VARCHAR)) AS ord_key,
         CASE source {_bm_budget_sql()} ELSE NULL END AS budget
  FROM documents
),
eligible AS (
  SELECT * FROM keyed WHERE budget IS NOT NULL AND n_doc_tokens > 0
),
cum AS (
  SELECT doc_id, source, n_doc_tokens, budget,
         CAST(COALESCE(SUM(n_doc_tokens) OVER (
           PARTITION BY source ORDER BY ord_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cum_before
  FROM eligible
)
SELECT doc_id, source, n_doc_tokens, cum_before
FROM cum WHERE cum_before < budget
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Product-quantization ANN tier (similarity.pq_* gate — r10 queue)
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_TOPK, _PQ_N_PROBES = 8, 16, 3, 3


@functools.lru_cache(maxsize=4)
def _pq_index(sf_dir: str) -> tuple:
    """Train-once PQ artifacts per scale dir: the m codebooks and the
    probe vectors (model-scale collects, the train-once
    plan-constants convention)."""
    from pyspark.sql import SparkSession as _SS

    from scraping_etl_spark.operators import similarity as SIM
    from scraping_etl_spark.session import get_spark

    spark = _SS.getActiveSession() or get_spark()
    e = load_table(spark, sf_dir, "embeddings")
    books = SIM.pq_train(e, m=_PQ_M, k=_PQ_K)
    probes = tuple(
        (int(r["vec_id"]), tuple(float(x) for x in r["embedding"]))
        for r in e.filter(F.col("vec_id") < _PQ_N_PROBES)
        .select("vec_id", "embedding")
        .collect()
    )
    return tuple(tuple(tuple(c) for c in b) for b in books), probes


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k: encode the corpus to m subspace codes
    (map-side argmin over codebook plan constants), then answer each
    probe with m table lookups per vector — the 32x-less-scan-bandwidth
    ANN tier (similarity.pq_train/pq_encode/pq_topk)."""
    from scraping_etl_spark.operators import similarity as SIM

    books, probes = _pq_index(sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    enc = SIM.pq_encode(e, [list(map(list, b)) for b in books])
    return SIM.pq_topk(
        enc, [list(map(list, b)) for b in books],
        [(qid, list(q)) for qid, q in probes], k=_PQ_TOPK,
    ).select("query_id", "neighbor_id", "adc_dist", "rank")


def oracle_emb_pq_topk(sf_dir: str) -> str:
    """Lazy DuckDB twin: codebooks embedded as VALUES, per-subspace
    argmin replayed with the identical left-fold squared distance and
    (d, cid) tie-break, codes pivoted to columns, and the ADC sum
    written as the same FIXED-ORDER chain of adds over the same
    driver-computed lookup-table literals (no engine-side float
    derivation can disagree)."""
    from scraping_etl_spark.operators import similarity as SIM

    books, probes = _pq_index(sf_dir)
    m, sub = len(books), len(books[0][0])
    book_rows = ",\n         ".join(
        f"({j}, {cid}, [{double_list_sql(c)}])"
        for j, b in enumerate(books)
        for cid, c in enumerate(b)
    )
    sq = (
        "list_reduce(list_transform(generate_series(1, {s}), "
        "i -> (e.embedding[b.j*{s}+i]::DOUBLE - b.c[i]) "
        "* (e.embedding[b.j*{s}+i]::DOUBLE - b.c[i])), (x, y) -> x + y)"
    ).format(s=sub)
    pivot = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN cid END) AS c{j}" for j in range(m)
    )
    probe_selects = []
    for qid, q in probes:
        tables = SIM.pq_adc_tables(
            [list(map(list, b)) for b in books], list(q)
        )
        terms = " + ".join(
            f"[{double_list_sql(tables[j])}][c{j} + 1]" for j in range(m)
        )
        probe_selects.append(
            f"SELECT CAST({qid} AS BIGINT) AS query_id, vec_id AS neighbor_id,\n"
            f"       round({terms}, 6) AS adc_dist FROM code_pivot"
        )
    union = "\n  UNION ALL\n  ".join(probe_selects)
    return f"""
WITH book(j, cid, c) AS (
  VALUES {book_rows}
), dist AS (
  SELECT e.vec_id, b.j, b.cid, {sq} AS d
  FROM embeddings e CROSS JOIN book b
), code AS (
  SELECT vec_id, j, cid FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rk
    FROM dist
  ) WHERE rk = 1
), code_pivot AS (
  SELECT vec_id, {pivot} FROM code GROUP BY vec_id
), scored AS (
  {union}
), ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY adc_dist, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, adc_dist, rank
FROM ranked WHERE rank <= {_PQ_TOPK}
"""


# ---------------------------------------------------------------------------
# Domain blocklist screen (urls.blocklist_matches gate)
# ---------------------------------------------------------------------------

#: The gate blocklist: one registered domain (blocks src0 entirely,
#: subdomains included), one exact deep host (blocks only src1's
#: tracker mirror), one never-matching entry.
_BLOCKLIST = (
    "src0.example.com",
    "tracker.src1.example.com",
    "blocked.example.org",
)


def q_doc_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist screen (urls.blocklist_matches):
    deterministic URLs derived from the documents table — every 7th
    doc serves from a ``tracker.`` subdomain — screened against a
    3-entry blocklist that exercises exact-host, subdomain-of and
    no-match paths. The oracle derives hosts INDEPENDENTLY from the
    construction arithmetic (the doc_url_canonical convention) and
    reproduces the suffix-chain match relationally."""
    from scraping_etl_spark.operators.urls import blocklist_matches, host_of

    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("tracker.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
    )
    df = d.select("doc_id", url.alias("url"))
    bl = spark.createDataFrame([(x,) for x in _BLOCKLIST], "domain string")
    m = blocklist_matches(df, bl)
    return (
        df.join(m.select("doc_id", "blocked_by"), "doc_id", "left")
        .select(
            "doc_id",
            host_of("url").alias("host"),
            "blocked_by",
            F.col("blocked_by").isNotNull().alias("blocked"),
        )
    )


_BL_IN = ", ".join(f"'{x}'" for x in _BLOCKLIST)

ORACLE_DOC_BLOCKLIST = f"""
-- hosts derived independently from the construction: the url is a
-- pure function of (source, doc_id), so its host is
-- ('tracker.' when doc_id%7=0 else '') || source || '.example.com'
WITH hosts AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN 'tracker.' ELSE '' END)
           || source || '.example.com' AS host
  FROM documents
),
lab AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM hosts),
sfx AS (
  SELECT doc_id, host,
         unnest(list_transform(
           generate_series(1, len(ls)),
           i -> array_to_string(list_slice(ls, i, len(ls)), '.'))) AS s
  FROM lab
),
m AS (
  SELECT doc_id, arg_min(s, length(s)) AS blocked_by
  FROM sfx WHERE s IN ({_BL_IN}) GROUP BY 1
)
SELECT h.doc_id, h.host, m.blocked_by,
       m.blocked_by IS NOT NULL AS blocked
FROM hosts h LEFT JOIN m USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Exact all-pairs Jaccard with prefix filtering (dedup.allpairs_jaccard)
# ---------------------------------------------------------------------------

_ALLPAIRS_T = 0.6


def q_doc_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs trigram-shingle Jaccard ≥ 0.6
    (dedup.allpairs_jaccard — AllPairs prefix filtering, Bayardo et
    al. 2007). The oracle is the UNFILTERED brute-force quadratic join
    — so the hash gate proves the prefix filter LOSSLESS, not merely
    self-consistent."""
    from scraping_etl_spark.operators.dedup import allpairs_jaccard

    d = load_table(spark, sf_dir, "documents")
    return allpairs_jaccard(d, threshold=_ALLPAIRS_T)


ORACLE_DOC_ALLPAIRS = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           CASE WHEN len(t) >= 3 THEN generate_series(1, len(t) - 2) ELSE [] END,
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
        FROM documents)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.s, b.s))
               / greatest(len(list_distinct(list_concat(a.s, b.s))), 1),
               6) AS jacc
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, jacc FROM pairs WHERE jacc >= {_ALLPAIRS_T}
"""


# ---------------------------------------------------------------------------
# Z-order layout key (operators/layout.zvalue gate)
# ---------------------------------------------------------------------------

_Z_GATE_BITS = 12


def q_doc_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over the documents table
    (operators/layout.zvalue): interleave quantized length
    (``n_chars``) with a hash-derived second dimension — the layout
    key `z_order_layout` range-writes on. Per-doc output so the hash
    gates every interleaved bit; the key is a pure map-side
    expression — file assignment itself is ``repartitionByRange``'s
    sampled internals (deliberately not oracled: a global rank over
    the corpus is the exact sort this operator exists to avoid), and
    the locality claim is pinned by tests/test_layout.py instead."""
    from scraping_etl_spark.operators.layout import zvalue

    d = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars")
    y = F.col("doc_id") % (1 << _Z_GATE_BITS)
    return d.select("doc_id", zvalue(x, y, bits=_Z_GATE_BITS).alias("zval"))


def _zorder_oracle() -> str:
    cap = (1 << _Z_GATE_BITS) - 1
    terms = " + ".join(
        f"(CASE WHEN (xs & {1 << i}) > 0 THEN {1 << (2 * i)} ELSE 0 END)"
        f" + (CASE WHEN (ys & {1 << i}) > 0 THEN {1 << (2 * i + 1)} ELSE 0 END)"
        for i in range(_Z_GATE_BITS)
    )
    return f"""
WITH q AS (
  SELECT doc_id,
         least(greatest(n_chars, 0), {cap}) AS xs,
         doc_id % {1 << _Z_GATE_BITS} AS ys
  FROM documents
),
z AS (SELECT doc_id, CAST({terms} AS BIGINT) AS zval FROM q)
SELECT doc_id, zval FROM z
"""


ORACLE_DOC_ZORDER = _zorder_oracle()


# ---------------------------------------------------------------------------
# End-to-end curation pipeline gate (the LLM-side star_pipeline analog)
# ---------------------------------------------------------------------------

def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-CURATION path as ONE query — what a
    training-data team runs between "crawled" and "tokenized",
    end-to-end on this engine:

    URL blocklist screen → exact dedup (min-id survivor per content
    hash) → CCNet perplexity bucketing over the SURVIVOR corpus (the
    LM is trained on what survived, as deployed) → drop the tail
    third → per-(lang, source) rollup.

    Every stage is an already-gated operator
    (urls.blocklist_matches, dedup-by-hash, corpus_prep.ccnet_buckets)
    — this row gates their COMPOSITION: filters feeding filters, the
    LM trained on a filtered corpus, cutoffs computed post-dedup.
    Plan: the screen is map-side + one blocked-cardinality anti join;
    dedup is one partial-agg shuffle + a semi join; bucketing is the
    audited ccnet plan over the smaller corpus; the rollup is one
    partial agg."""
    from scraping_etl_spark.operators.corpus_prep import ccnet_buckets
    from scraping_etl_spark.operators.urls import blocklist_matches

    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("tracker.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
    )
    with_url = d.withColumn("url", url)
    bl = spark.createDataFrame([(x,) for x in _BLOCKLIST], "domain string")
    kept1 = with_url.join(
        blocklist_matches(with_url, bl).select("doc_id"), "doc_id", "left_anti"
    )
    survivors = kept1.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # the survivor corpus feeds the LM scorer's several consumers
    # (bigram pairs, unigram counts, the id spine) plus the final
    # rollup join — checkpoint once so the screen+dedup lineage runs
    # once, not per consumer
    kept2 = kept1.join(
        survivors.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint()
    bucketed = ccnet_buckets(kept2.select("doc_id", "text", "lang"))
    final = (
        kept2.select("doc_id", "source", "n_chars")
        .join(bucketed, "doc_id")
        .filter(F.col("bucket") != "tail")
    )
    return final.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("n_bigrams").cast("long").alias("sum_bigrams"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_CURATION_BL_IN = ", ".join(f"'{x}'" for x in _BLOCKLIST)

ORACLE_CURATION_PIPELINE = f"""
WITH hosts AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN 'tracker.' ELSE '' END)
           || source || '.example.com' AS host
  FROM documents
),
lab AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM hosts),
sfx AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(ls)),
           i -> array_to_string(list_slice(ls, i, len(ls)), '.'))) AS s
  FROM lab
),
blocked AS (
  SELECT DISTINCT doc_id FROM sfx WHERE s IN ({_CURATION_BL_IN})
),
kept1 AS (
  SELECT d.* FROM documents d ANTI JOIN blocked b USING (doc_id)
),
surv AS (SELECT min(doc_id) AS doc_id FROM kept1 GROUP BY md5(text)),
kept2 AS (SELECT k.* FROM kept1 k SEMI JOIN surv USING (doc_id)),
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
  FROM kept2
),
bi AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
                     THEN list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i+1])
                     ELSE [] END) AS g
  FROM tok
),
bc AS (SELECT g, count(*) AS cbi FROM bi GROUP BY 1),
uc AS (
  SELECT w, count(*) AS cw
  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1
),
v AS (SELECT count(*) AS v FROM uc),
agg AS (
  SELECT bi.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(ln((bc.cbi + 1.0) / (uc.cw + v.v))), 6) AS avg_logp
  FROM bi
  JOIN bc USING (g)
  JOIN uc ON uc.w = split_part(bi.g, ' ', 1)
  CROSS JOIN v
  GROUP BY 1
),
scored AS (
  SELECT k.doc_id, k.lang, k.source, k.n_chars,
         CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(round(coalesce(avg_logp, 0.0) * 1000000) AS BIGINT) AS fxv
  FROM kept2 k LEFT JOIN agg USING (doc_id)
),
hist AS (SELECT lang, fxv, count(*) AS f FROM scored GROUP BY 1, 2),
cdf AS (
  SELECT lang, fxv,
         sum(f) OVER (PARTITION BY lang ORDER BY fxv) AS cum,
         sum(f) OVER (PARTITION BY lang) AS n
  FROM hist
),
cutw AS (
  SELECT lang,
         min(CASE WHEN cum >= ceil(0.3333333333333333 * n) THEN fxv END) AS q0
  FROM cdf GROUP BY 1
),
final AS (
  SELECT s.* FROM scored s JOIN cutw c USING (lang) WHERE s.fxv > c.q0
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM final GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# IVF-PQ / IVFADC approximate top-k (similarity.ivfpq_* gate)
# ---------------------------------------------------------------------------

_IVFPQ_NC, _IVFPQ_M, _IVFPQ_K = 6, 4, 8
_IVFPQ_NPROBE, _IVFPQ_TOPK, _IVFPQ_NQ = 2, 3, 8
_IVFPQ_DIM = 64


@functools.lru_cache(maxsize=4)
def _ivfpq_index(sf_dir: str) -> tuple:
    """Train-once IVFADC artifacts per scale dir (coarse centroids +
    residual codebooks + probe vectors — model-scale collects, the
    train-once plan-constants convention)."""
    from pyspark.sql import SparkSession as _SS

    from scraping_etl_spark.operators import similarity as SIM
    from scraping_etl_spark.session import get_spark

    spark = _SS.getActiveSession() or get_spark()
    e = load_table(spark, sf_dir, "embeddings")
    cents, books = SIM.ivfpq_train(
        e, n_clusters=_IVFPQ_NC, m=_IVFPQ_M, k=_IVFPQ_K
    )
    probes = tuple(
        (int(r["vec_id"]), tuple(float(x) for x in r["embedding"]))
        for r in e.filter(F.col("vec_id") < _IVFPQ_NQ)
        .select("vec_id", "embedding")
        .collect()
    )
    return (
        tuple(tuple(c) for c in cents),
        tuple(tuple(tuple(c) for c in b) for b in books),
        probes,
    )


def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC approximate top-k (Jégou et al. 2011 §IV): coarse
    quantizer + PQ over residuals — encode is zero-shuffle expression
    work, queries visit only their n_probe inverted lists (partition
    pruning in the production cluster-partitioned layout) and pay m
    table lookups per candidate (similarity.ivfpq_*)."""
    from scraping_etl_spark.operators import similarity as SIM

    cents, books, probes = _ivfpq_index(sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    # the encoded relation feeds probes x n_probe TakeOrdered branches
    # — checkpoint once (m ints + cluster per vector) so the encode
    # expression chain runs once, not per branch
    enc = SIM.ivfpq_encode(
        e, [list(c) for c in cents], [list(map(list, b)) for b in books]
    ).localCheckpoint()
    return SIM.ivfpq_topk(
        enc,
        [list(c) for c in cents],
        [list(map(list, b)) for b in books],
        [(qid, list(q)) for qid, q in probes],
        k=_IVFPQ_TOPK,
        n_probe=_IVFPQ_NPROBE,
    ).select("query_id", "neighbor_id", "cluster", "adc_dist", "rank")


def oracle_emb_ivfpq_topk(sf_dir: str) -> str:
    """Lazy DuckDB twin: centroids + residual codebooks as VALUES,
    coarse argmin replayed with the identical left-fold distance and
    (d, cid) tie-break, residuals recomputed relationally, subspace
    codes pivoted, and each probe's per-probed-cluster ADC sum written
    as the same fixed-order chain over driver-computed tables (the
    ``oracle_emb_pq_topk`` convention)."""
    from scraping_etl_spark.operators import similarity as SIM

    cents, books, probes = _ivfpq_index(sf_dir)
    m, sub = len(books), len(books[0][0])
    dim = _IVFPQ_DIM
    cent_rows = ",\n         ".join(
        f"({cid}, [{double_list_sql(c)}])" for cid, c in enumerate(cents)
    )
    book_rows = ",\n         ".join(
        f"({j}, {cid}, [{double_list_sql(c)}])"
        for j, b in enumerate(books)
        for cid, c in enumerate(b)
    )
    coarse_sq = (
        "list_reduce(list_transform(generate_series(1, {d}), "
        "i -> (e.embedding[i]::DOUBLE - c.c[i]) "
        "* (e.embedding[i]::DOUBLE - c.c[i])), (x, y) -> x + y)"
    ).format(d=dim)
    sub_sq = (
        "list_reduce(list_transform(generate_series(1, {s}), "
        "i -> (r.r[b.j*{s}+i] - b.c[i]) * (r.r[b.j*{s}+i] - b.c[i])), "
        "(x, y) -> x + y)"
    ).format(s=sub)
    pivot = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN scid END) AS c{j}" for j in range(m)
    )
    probe_selects = []
    for qid, q in probes:
        coarse = sorted(
            (
                sum((float(a) - float(b)) ** 2 for a, b in zip(q, c)),
                cid,
            )
            for cid, c in enumerate(cents)
        )[:_IVFPQ_NPROBE]
        for _, cid in coarse:
            resq = [float(a) - float(b) for a, b in zip(q, cents[cid])]
            tables = SIM.pq_adc_tables(
                [list(map(list, b)) for b in books], resq
            )
            terms = " + ".join(
                f"[{double_list_sql(tables[j])}][c{j} + 1]" for j in range(m)
            )
            probe_selects.append(
                f"SELECT CAST({qid} AS BIGINT) AS query_id, vec_id AS neighbor_id,\n"
                f"       cluster, round({terms}, 6) AS adc_dist\n"
                f"FROM code_pivot WHERE cluster = {cid}"
            )
    union = "\n  UNION ALL\n  ".join(probe_selects)
    return f"""
WITH cent(cid, c) AS (
  VALUES {cent_rows}
), cd AS (
  SELECT e.vec_id, c.cid, {coarse_sq} AS d
  FROM embeddings e CROSS JOIN cent c
), assign AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
    FROM cd
  ) WHERE rk = 1
), resid AS (
  SELECT e.vec_id, a.cluster,
         list_transform(generate_series(1, {dim}),
                        i -> e.embedding[i]::DOUBLE - c.c[i]) AS r
  FROM embeddings e
  JOIN assign a USING (vec_id)
  JOIN cent c ON c.cid = a.cluster
), book(j, scid, c) AS (
  VALUES {book_rows}
), dist AS (
  SELECT r.vec_id, r.cluster, b.j, b.scid, {sub_sq} AS d
  FROM resid r CROSS JOIN book b
), code AS (
  SELECT vec_id, cluster, j, scid FROM (
    SELECT vec_id, cluster, j, scid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d, scid) AS rk
    FROM dist
  ) WHERE rk = 1
), code_pivot AS (
  SELECT vec_id, cluster, {pivot} FROM code GROUP BY vec_id, cluster
), scored AS (
  {union}
), ranked AS (
  SELECT query_id, neighbor_id, cluster, adc_dist,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY adc_dist, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cluster, adc_dist, rank
FROM ranked WHERE rank <= {_IVFPQ_TOPK}
"""


# ---------------------------------------------------------------------------
# HTML -> text extraction (operators/html.py gate)
# ---------------------------------------------------------------------------

def q_doc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style HTML→text extraction (operators/html.html_to_text):
    deterministic pages are synthesized from the documents table —
    script/style/head junk, a nav div, entities, comments, block
    structure — extracted back to visible text as a pure zero-shuffle
    regexp chain. The oracle rebuilds the SAME pages and runs the
    generated mirror chain (html_to_text_sql), so every regex in the
    chain is parity-gated."""
    from scraping_etl_spark.operators.html import with_extracted_text

    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"),
        F.lit("</title><style>p{margin:0}</style></head><body>"
              "<script>var a=1;if(a<2){a=3}</script><div id=\"nav\">Home | "),
        F.col("source"),
        F.lit("</div><h1>Doc &amp; "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><p>len&nbsp;"), F.col("n_chars").cast("string"),
        F.lit("</p><br/><!-- crawl --></body></html>"),
    )
    return with_extracted_text(
        d.select("doc_id", html.alias("html"))
    ).select("doc_id", "text", "n_text_chars", "extract_ratio")


def _html_oracle() -> str:
    from scraping_etl_spark.operators.html import html_to_text_sql

    page = (
        "'<html><head><title>' || source || "
        "'</title><style>p{margin:0}</style></head><body>"
        "<script>var a=1;if(a<2){a=3}</script><div id=\"nav\">Home | ' || "
        "source || '</div><h1>Doc &amp; ' || CAST(doc_id AS VARCHAR) || "
        "'</h1><p>' || text || '</p><p>len&nbsp;' || "
        "CAST(n_chars AS VARCHAR) || '</p><br/><!-- crawl --></body></html>'"
    )
    ext = html_to_text_sql("html")
    return f"""
WITH pages AS (
  SELECT doc_id, {page} AS html FROM documents
),
x AS (SELECT doc_id, html, {ext} AS t FROM pages)
SELECT doc_id, t AS text,
       CAST(length(t) AS BIGINT) AS n_text_chars,
       round(length(t) / greatest(length(html), 1), 6) AS extract_ratio
FROM x
"""


ORACLE_DOC_HTML_EXTRACT = _html_oracle()

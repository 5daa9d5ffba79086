"""Full-text keyword search: BM25 ranking over the documents table.

The reference repo's query surface is scrape -> clean -> relational
queries; a corpus engine at 100 TB additionally needs *retrieval over
the corpus itself* (inspecting a training corpus is mostly keyword
search: "show me the docs about X", decontamination forensics, quality
triage). This module implements Okapi BM25 (Robertson & Zaragoza 2009,
the public textbook formulation with the Lucene non-negative idf
variant) as pure DataFrame algebra — no UDFs, no driver-side loops.

Plan shape, and why it survives 100 TB:

- The posting table ``(doc, term) -> tf`` is ONE explode + partial agg;
  the (doc, term) key is skew-free by construction (a hot term is
  spread across its documents). Document length rides the grouping key
  (functionally dependent on doc), so no separate doclen join.
- Corpus constants (N, avgdl) attach as a 1-row broadcast on a
  non-foldable key (the ``pmod(xxhash64, 1)`` discipline from
  corpus_prep.with_lm_score — a literal key would fold the equi-join
  into a BroadcastNestedLoopJoin).
- Document frequency is a partial agg at distinct-(term, doc) scale;
  idf is then attached to the QUERY terms first (query side is tiny),
  so the vocabulary-scale df table is reduced by a broadcast semi
  shape before it ever meets the postings — the postings join sees
  ``(term, idf)`` for query terms only, broadcast.
- Per-(query, doc) scores fold contributions in sorted-term order
  (collect_list bounded by |query terms|, then a sequential
  ``F.aggregate``) — deterministic float summation, mirrored
  bit-for-bit by the DuckDB oracle's ``list_reduce`` over
  ``list(... ORDER BY term)``.
- Top-k per query is a rank window partitioned by query — never a
  global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scraping_etl_spark.operators.textstats import tokens


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries`` is a small DataFrame ``(query_id, terms array<string>)``
    — terms are matched lowercased. Scoring:

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))        [>= 0]
        s(q, d) = sum_t idf(t) * tf * (k1+1)
                               / (tf + k1 * (1 - b + b * dl/avgdl))

    Returns ``(query_id, rank, doc id, score)``; ties broken by doc id.
    """
    toks = tokens(text_col, lowercase=True)
    # corpus constants (N docs, average doc length) come from a pure
    # map-side doc-level projection — never from re-aggregating the
    # posting table (an earlier formulation paid a full postings
    # recompute plus a count_distinct for the same two scalars).
    consts = (
        docs.select(F.size(toks).alias("_dl"))
        .filter(F.col("_dl") > 0)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("_n_docs"),
            (F.sum("_dl") / F.count(F.lit(1))).alias("_avgdl"),
        )
        .withColumn("_k", F.pmod(F.xxhash64(F.col("_n_docs")), F.lit(1)))
    )

    # two-step projection: with a generator in the SAME select, the
    # sibling expression ``size(toks)`` re-runs the whole tokenization
    # per OUTPUT row (per token, not per doc — measured 4.3 s -> 0.8 s
    # on the posting build at sf0.1); materialize the token array
    # once, then explode the column
    base = docs.select(
        F.col(id_col).alias("_doc"), toks.alias("_toks")
    ).select(
        "_doc",
        F.size("_toks").alias("_dl"),
        F.explode("_toks").alias("_t"),
    )
    postings = base.groupBy("_doc", "_t", "_dl").agg(
        F.count(F.lit(1)).alias("_tf")
    )

    qterm_set = queries.select(
        F.explode(F.transform(F.col("terms"), F.lower)).alias("_t")
    ).distinct()
    # the inverted-index lookup: reduce the posting table to the query
    # terms' posting lists FIRST (broadcast semi-filter — at lake scale
    # this is "read k posting lists", the IR access path), and
    # checkpoint that small relation once for its two consumers
    # (df counts and scoring) instead of recomputing the full
    # explode+agg per branch.
    matched = postings.join(F.broadcast(qterm_set), "_t").localCheckpoint()

    # document frequency of the query terms (matched rows are unique
    # per (doc, term), so a plain count is the distinct-doc count)
    dfreq = matched.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))

    qterms = queries.select(
        F.col("query_id").alias("_qid"),
        F.explode(F.transform(F.col("terms"), F.lower)).alias("_t"),
    ).distinct()
    q_idf = (
        dfreq.join(F.broadcast(qterms), "_t")
        .withColumn("_kk", F.pmod(F.xxhash64("_t"), F.lit(1)))
        .join(
            F.broadcast(consts.withColumnRenamed("_k", "_kk")), "_kk"
        )
        .select(
            "_qid", "_t",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ).alias("_idf"),
            "_avgdl",
        )
    )

    contrib = (
        matched.join(F.broadcast(q_idf), "_t")
        .select(
            "_qid",
            "_doc",
            "_t",
            (
                F.col("_idf")
                * (F.col("_tf") * (k1 + 1.0))
                / (
                    F.col("_tf")
                    + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
                )
            ).alias("_c"),
        )
    )
    # deterministic sum: fold contributions in sorted-term order
    scores = (
        contrib.groupBy("_qid", "_doc")
        .agg(F.sort_array(F.collect_list(F.struct("_t", "_c"))).alias("_cs"))
        .select(
            "_qid",
            "_doc",
            F.round(
                F.aggregate(
                    F.col("_cs"), F.lit(0.0), lambda acc, s: acc + s["_c"]
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("score"), F.asc("_doc"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("_doc").alias(id_col),
            "score",
        )
    )


def phrase_match(docs: DataFrame, phrases: DataFrame) -> DataFrame:
    """Exact phrase occurrence search — the positional-index operator
    every full-text engine pairs with BM25 (Lucene/Elasticsearch
    ``match_phrase``; the textbook positional-postings algorithm,
    Manning et al., IR book §2.4): a document matches a phrase iff the
    phrase's terms occur at CONSECUTIVE token positions, in order.

    ``phrases`` is a small DataFrame ``(phrase_id, terms
    array<string>)``; matching is lowercased-whitespace-token exact.
    Returns one row per (phrase, matching doc): ``(phrase_id, id,
    n_matches, first_pos)`` with ``first_pos`` the 0-based token
    position of the first occurrence.

    Plan — anchor alignment, one corpus scan, zero self-joins:
    positional postings ``(doc, pos, term)`` come from one
    ``posexplode``; each posting joins the broadcast ``(phrase, offset,
    term)`` relation and votes for the anchor ``pos - offset``; a
    ``groupBy(phrase, doc, anchor)`` counting DISTINCT matched offsets
    equal to the phrase length certifies an occurrence at that anchor
    (within a group each offset matches at most once — ``pos = anchor +
    offset`` is injective — so repeated terms in the phrase are handled
    for free; negative anchors can never certify: offset 0 would be
    missing). The only shuffle is the partial-agg anchor count at
    matched-posting cardinality — postings that match no phrase term
    never leave the map side.
    """
    toks = tokens("text", lowercase=True)
    postings = docs.select(
        F.col("doc_id").alias("_doc"),
        F.posexplode(toks).alias("_pos", "_t"),
    )
    pterms = phrases.select(
        F.col("phrase_id").alias("_pid"),
        F.size(F.col("terms")).alias("_m"),
        F.posexplode(F.transform(F.col("terms"), F.lower)).alias("_i", "_pt"),
    )
    anchors = (
        postings.join(F.broadcast(pterms), postings["_t"] == pterms["_pt"])
        .select(
            "_pid", "_doc", "_m", (F.col("_pos") - F.col("_i")).alias("_a"), "_i"
        )
        .groupBy("_pid", "_doc", "_m", "_a")
        .agg(F.count_distinct("_i").alias("_hits"))
        .filter(F.col("_hits") == F.col("_m"))
    )
    return (
        anchors.groupBy("_pid", "_doc")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("_a").alias("first_pos"),
        )
        .select(
            F.col("_pid").alias("phrase_id"),
            F.col("_doc").alias("doc_id"),
            F.col("n_matches").cast("long").alias("n_matches"),
            F.col("first_pos").cast("long").alias("first_pos"),
        )
    )


def hybrid_prf_topk(
    docs: DataFrame,
    queries: DataFrame,
    embeddings: DataFrame,
    k_lex: int = 20,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid retrieval: BM25 candidates re-ranked by embedding cosine
    to a PSEUDO-RELEVANCE-FEEDBACK vector — the keyword query has no
    embedding, so the top lexical hit's vector stands in for it
    (Rocchio-style PRF, the classic trick for bolting dense re-ranking
    onto a lexical-only query surface). The two-stage
    retrieve-then-rerank shape is how every production RAG/IR stack
    composes lexical and dense scoring.

    Plan: :func:`bm25_topk` produces ``k_lex`` candidates per query
    (checkpointed once for its two consumers); the PRF relation is
    n_queries rows; candidates (``n_queries x k_lex`` rows, tiny)
    BROADCAST into the embedding table join — at lake scale the
    rerank reads the embedding rows of the candidates, never scans
    per query. The cosine is the module-standard left-fold (mirrored
    by the oracle); final top-``k`` is a per-query rank window over
    ``k_lex`` rows.
    """
    if k_lex < 1 or k < 1:
        raise ValueError(f"k_lex and k must be >= 1, got {k_lex}, {k}")
    from scraping_etl_spark.operators.similarity import cosine

    lex = bm25_topk(
        docs, queries, k=k_lex, k1=k1, b=b
    ).localCheckpoint()
    e = embeddings.select(
        F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v")
    )
    prf = (
        lex.filter(F.col("rank") == 1)
        .select(F.col("query_id").alias("_pq"), F.col("doc_id").alias("_pdoc"))
        .join(e, F.col("_pdoc") == F.col("_vid"))
        .select("_pq", F.col("_v").alias("_pv"))
    )
    cand = (
        e.join(
            F.broadcast(
                lex.select(
                    F.col("query_id").alias("_qid"), F.col("doc_id").alias("_doc")
                )
            ),
            F.col("_doc") == F.col("_vid"),
        )
        .join(F.broadcast(prf), F.col("_qid") == F.col("_pq"))
    )
    scored = cand.select(
        "_qid",
        "_doc",
        F.round(cosine(F.col("_v"), F.col("_pv")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("cos_sim"), F.asc("_doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("_doc").alias("doc_id"),
            "cos_sim",
        )
    )

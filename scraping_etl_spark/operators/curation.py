"""Corpus-curation operators: per-host caps, duplicate-passage
detection, and importance-resampling weights.

These extend the training-data-pipeline layer (``corpus_prep.py``)
with three curation moves every large public corpus build applies
(each cites its public technique; implementations are original
DataFrame algebra):

- :func:`per_key_cap` — cap documents per host/source, keeping the
  best N by an explicit deterministic order (Common-Crawl-derived
  corpora cap pages per registered domain so a single template farm
  cannot dominate the mix).
- :func:`duplicate_passage_stats` — sub-document duplicate detection:
  which *passages* (token k-grams) recur across documents, and how
  much of each document is duplicated material (the bounded k-gram
  form of suffix-array substring dedup, Lee et al. 2021,
  "Deduplicating Training Data Makes Language Models Better" — the
  full suffix array is replaced by fixed-length gram matching, which
  is what scales as joins).
- :func:`dsir_weights` — Data Selection with Importance Resampling
  (Xie et al. 2023): per-document importance weight = target-LM
  log-likelihood minus raw-LM log-likelihood, built by composing two
  prepared bigram LMs from :mod:`corpus_prep`.

Reference parity note: the reference repo (Selenium scrapers + a
pandas notebook, e.g. `webScrapingScienceDirect.py`, `ETL.ipynb`)
has no curation layer; these operators are the 100 TB-pipeline
extensions the build brief asks for beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scraping_etl_spark.operators.corpus_prep import word_grams
from scraping_etl_spark.operators.textstats import tokens


def per_key_cap(
    df: DataFrame,
    n: int,
    key_col: str = "source",
    order_col: str | None = None,
    descending: bool = True,
    id_col: str = "doc_id",
    n_salts: int = 64,
) -> DataFrame:
    """Keep at most ``n`` rows per ``key_col`` group, the best ranked
    by ``(order_col, id_col)`` (``order_col`` descending by default —
    "keep the N longest/highest-quality docs per host"; ``None`` ranks
    by ``md5(id)`` for a uniform deterministic cap). Adds ``cap_rank``
    (1-based rank within the group).

    Scale: the generalized form of the ``stratified_sample_n``
    two-stage salt tournament — a single ``row_number`` window per key
    would sort a whole host's documents in one task (hot hosts are
    exactly the motivation for the cap). Stage 1 ranks within
    (key, salt) over ``n_salts`` md5 buckets of the id and keeps each
    bucket's top ``n``; stage 2 ranks the ≤ ``n_salts·n`` survivors
    per key. Any global top-``n`` row necessarily wins its own bucket,
    so the cap is exact; stage-2 sorts are bounded by ``n_salts·n``
    rows per key regardless of host size."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    if order_col is None:
        order_exprs: list[Column] = [
            F.md5(F.col(id_col).cast("string")).asc(),
            F.col(id_col).asc(),
        ]
    else:
        first = F.col(order_col).desc() if descending else F.col(order_col).asc()
        order_exprs = [first, F.col(id_col).asc()]
    # salt from the TRAILING md5 hex chars of the id — independent of
    # any hash-based ordering built from the leading chars
    salt = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 18, 15), 16, 10
        ).cast("long"),
        F.lit(n_salts),
    )
    w1 = Window.partitionBy(key_col, "_salt").orderBy(*order_exprs)
    w2 = Window.partitionBy(key_col).orderBy(*order_exprs)
    return (
        df.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= n)
        .withColumn("cap_rank", F.row_number().over(w2))
        .filter(F.col("cap_rank") <= n)
        .drop("_salt", "_r1")
    )


def duplicate_passage_stats(df: DataFrame, k: int = 5, min_docs: int = 2) -> DataFrame:
    """Per-document duplicated-passage profile over token ``k``-grams.

    A gram occurring in ≥ ``min_docs`` distinct documents marks a
    duplicated passage; positions covered by such grams are duplicated
    positions. Returns per document:

    - ``n_grams``       — k-gram positions (``max(0, n_tokens - k + 1)``)
    - ``n_dup_grams``   — positions whose gram is cross-document duplicated
    - ``dup_frac``      — their ratio (0.0 for docs shorter than k tokens)
    - ``max_dup_run``   — longest run of CONSECUTIVE duplicated positions
      (a long run = a long verbatim shared passage, the signal substring
      dedup cuts on; a value ≥ r means a shared passage of r+k-1 tokens)

    Plan: positional explode → distinct (gram, doc) partial agg →
    gram-level doc counts (map-side combine collapses hot grams before
    the shuffle) → mark occurrences via a gram join — the agg-under-join
    shape, so the gram table is ``localCheckpoint``-ed before its two
    consumers (the mark join reads materialized rows; AQE's skew split
    handles Zipf-hot grams). Runs and islands are per-document windows:
    partitions are doc-length-bounded, never corpus-bounded."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # occ is consumed three ways (gram counts, the mark join, totals)
    # and deliberately NOT persisted: it is a pure map-side explode off
    # a two-column pruned scan, and materializing it would write a
    # k-times-larger intermediate than the text itself — re-scanning
    # the pruned columns is the cheaper side of that trade at scale.
    occ = df.select(
        F.col("doc_id").alias("_doc"),
        F.posexplode(word_grams(F.lower(F.col("text")), k)).alias("_pos", "_g"),
    )
    # distinct (gram, doc) first — partial agg — then doc counts per gram
    gram_docs = (
        occ.groupBy("_g", "_doc").agg(F.count(F.lit(1)).alias("_occ_in_doc"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n_docs"))
        .filter(F.col("_n_docs") >= min_docs)
        .select("_g")
        .localCheckpoint()
    )
    marked = occ.join(gram_docs.withColumn("_dup", F.lit(1)), "_g", "left")
    # islands of consecutive duplicated positions: group id = pos - rank
    w_doc = Window.partitionBy("_doc").orderBy("_pos")
    dup_only = (
        marked.filter(F.col("_dup").isNotNull())
        .withColumn("_grp", F.col("_pos") - F.row_number().over(w_doc))
    )
    runs = (
        dup_only.groupBy("_doc", "_grp")
        .agg(F.count(F.lit(1)).alias("_run"))
        .groupBy("_doc")
        .agg(
            F.sum("_run").alias("_n_dup"),
            F.max("_run").alias("_max_run"),
        )
    )
    totals = occ.groupBy("_doc").agg(F.count(F.lit(1)).alias("_n_grams"))
    return (
        df.select(F.col("doc_id"))
        .join(totals.withColumnRenamed("_doc", "doc_id"), "doc_id", "left")
        .join(runs.withColumnRenamed("_doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("_n_dup", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.round(
                F.coalesce("_n_dup", F.lit(0))
                / F.greatest(F.coalesce("_n_grams", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_frac"),
            F.coalesce("_max_run", F.lit(0)).cast("long").alias("max_dup_run"),
        )
    )


def dsir_weights(
    df: DataFrame,
    target_scored: DataFrame,
    raw_scored: DataFrame,
) -> DataFrame:
    """Importance-resampling weights from two per-document LM scores
    (DSIR, Xie et al. 2023: sample raw data with probability ∝
    ``p_target(x) / p_raw(x)`` estimated by n-gram models; here both
    sides are the bigram LMs :func:`corpus_prep.with_lm_score`
    produces). ``target_scored`` / ``raw_scored`` are that operator's
    outputs (``id, n_bigrams, avg_logp``) for the SAME documents under
    the target-domain LM and the raw-corpus LM respectively.

    Returns ``(id, n_bigrams, logp_target, logp_raw, log_weight)``
    with ``log_weight = avg_logp_target - avg_logp_raw`` (per-bigram
    normalized, so length cancels; > 0 = looks more like the target
    domain than like the raw corpus). Selection/sampling composes
    downstream: rank by ``log_weight`` (``per_key_cap``), threshold,
    or feed ``exp(log_weight)`` into a Gumbel-top-k style sampler.

    Plan: one equi-join of two doc-keyed aggregates — both sides
    already collapsed to one row per doc, so the join shuffles at
    document cardinality, not token cardinality."""
    t = target_scored.select(
        F.col("doc_id"),
        F.col("n_bigrams").alias("_nb_t"),
        F.col("avg_logp").alias("logp_target"),
    )
    r = raw_scored.select(
        F.col("doc_id"),
        F.col("n_bigrams").alias("_nb_r"),
        F.col("avg_logp").alias("logp_raw"),
    )
    return (
        df.select("doc_id")
        .join(t, "doc_id")
        .join(r, "doc_id")
        .select(
            "doc_id",
            F.col("_nb_t").alias("n_bigrams"),
            "logp_target",
            "logp_raw",
            F.round(F.col("logp_target") - F.col("logp_raw"), 6).alias(
                "log_weight"
            ),
        )
    )


def weighted_sample_gumbel(
    df: DataFrame,
    n: int,
    weight_col: str = "log_weight",
    seed: str = "gumbel",
) -> DataFrame:
    """Deterministic weighted sampling without replacement via the
    Gumbel-top-k trick (public result: Vieira 2014 / Kool et al. 2019 —
    ``argtop_k(log w_i + G_i)`` with i.i.d. Gumbel noise draws k items
    with probability proportional to their weights, the exponential-
    clocks construction): the ``n`` largest ``weight + g(id)`` rows,
    where ``g`` is Gumbel noise derived from ``md5(seed, id)`` instead
    of an RNG — so the sample is a pure function of (corpus, seed),
    reproducible across engines, retries and partitionings, which is
    what a training-data pipeline needs from its samplers. This is the
    weighted companion of ``corpus_prep.stratified_sample_n``
    (uniform bottom-N-by-hash) and the consumer DSIR's
    ``log_weight`` column was built for.

    ``u = (h60 + 0.5) / 2^60`` maps the 60-bit md5 prefix into (0, 1)
    (never exactly 0 or 1, so ``g = -ln(-ln u)`` is finite);
    both engines reproduce the arithmetic bit-for-bit.

    Plan: one map-side projection + global top-``n``
    (TakeOrderedAndProject — no global sort materializes; for
    per-stratum budgets compose with :func:`per_key_cap` on the
    ``gumbel_key`` instead). Ties break by id."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.lit(":"), F.col("doc_id").cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(float(1 << 60))
    g = -F.log(-F.log(u))
    return (
        df.withColumn("gumbel_key", F.round(F.col(weight_col) + g, 6))
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(n)
    )


def shuffle_to_shards(
    df: DataFrame,
    n_shards: int,
    seed: str = "0",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-data shuffle: assign every row a
    ``shard`` and a ``shard_pos`` such that reading shards in order,
    each sorted by position, yields a seed-keyed pseudorandom
    permutation of the corpus — the "shuffled shards" layout every
    epoch loader wants (vary ``seed`` per epoch for a fresh
    permutation; same seed ⇒ bit-identical layout, which is what makes
    a 100 TB training run resumable and auditable).

    No global sort: the permutation key is ``md5(seed || key)`` (the
    engine-portable ``md5_bucket`` trick), the shard is its bucket —
    rows scatter uniformly whatever the input order — and positions
    are ranked per shard. The only wide ops are one hash-partitioned
    exchange and ``n_shards`` independent task-sized sorts; choose
    ``n_shards`` so a shard fits a task (the same sizing rule as
    ``pack_sequences`` shards). Returns the frame + ``shard`` (int) +
    ``shard_pos`` (long, 0-based)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(seed), F.lit("|"), F.col(key_col).cast("string")))
    out = df.withColumn("_perm", h).withColumn(
        "shard",
        F.pmod(
            F.conv(F.substring("_perm", 1, 15), 16, 10).cast("long"),
            F.lit(n_shards),
        ).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("_perm", key_col)
    return (
        out.withColumn(
            "shard_pos", (F.row_number().over(w) - 1).cast("long")
        ).drop("_perm")
    )


def token_budget_mix(
    df: DataFrame,
    budgets: dict[str, int],
    seed: str = "0",
    prune_cap: int | None = None,
) -> DataFrame:
    """Token-budget corpus assembly: take documents per source in the
    deterministic ``md5(seed|id)`` order until each source's TOKEN
    budget is filled — the unit a training mix is actually specified
    in (epochs over The Pile / Dolma recipes quote tokens per source,
    not doc counts or rates). A document is taken while the running
    token total of the docs BEFORE it is still under budget, so the
    budget is met with at most one overshooting document and the
    selection is rerun-stable and seed-auditable. Sources missing from
    ``budgets`` contribute nothing.

    Scale: the cumulative sum needs a per-source ordered window —
    exactly the hot-host sort the salt tournament exists to avoid — so
    selection runs in two exact stages: :func:`per_key_cap` first
    prunes each source to its cheapest possible superset
    (``prune_cap`` docs in the same hash order; every doc carries >= 1
    token, so rank > budget can never be selected — the default cap is
    ``max(budgets)``), then the cumsum window runs over <= prune_cap
    rows per source. Returns the taken docs with ``n_doc_tokens`` and
    ``cum_before``."""
    if not budgets:
        raise ValueError("budgets must be a non-empty {source: n_tokens} map")
    for k, v in budgets.items():
        if v < 0:
            raise ValueError(f"budget for {k!r} must be >= 0, got {v}")
    from scraping_etl_spark.operators.textstats import tokens

    cap = prune_cap if prune_cap is not None else max(max(budgets.values()), 1)
    pairs: list[Column] = []
    for k, v in budgets.items():
        pairs += [F.lit(k), F.lit(v)]
    bmap = F.create_map(*pairs)
    # the md5(seed|id) order key must drive BOTH stages identically;
    # per_key_cap ranks ascending on a plain column when descending=False
    keyed = (
        df.filter(bmap[F.col("source")].isNotNull())
        .withColumn(
            "_ord",
            F.md5(F.concat(F.lit(seed), F.lit("|"), F.col("doc_id").cast("string"))),
        )
        .withColumn(
            "n_doc_tokens", F.size(tokens("text", lowercase=True)).cast("long")
        )
        .filter(F.col("n_doc_tokens") > 0)
    )
    pruned = per_key_cap(keyed, cap, order_col="_ord", descending=False)
    w = (
        Window.partitionBy("source")
        .orderBy("_ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = pruned.withColumn(
        "cum_before", F.coalesce(F.sum("n_doc_tokens").over(w), F.lit(0))
    )
    return (
        out.filter(F.col("cum_before") < bmap[F.col("source")])
        .drop("_ord", "cap_rank")
    )


def remove_duplicate_spans(df: DataFrame, k: int = 5, min_docs: int = 2) -> DataFrame:
    """Exact duplicated-SPAN removal — the actionable form of
    :func:`duplicate_passage_stats` (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", cut
    duplicated substrings instead of dropping whole documents; MinHash
    tiers drop DOCUMENTS, this drops the shared passages inside the
    survivors). A token is dropped when ANY cross-document-duplicated
    ``k``-gram covers it; what remains reassembles in order.

    Returns ``(id, n_tokens, n_dropped, text_kept)`` — short docs
    (< k tokens) pass through untouched.

    Plan: positional gram explode → distinct (gram, doc) partial agg →
    duplicated-gram mark join (``localCheckpoint``-ed gram table, the
    ``duplicate_passage_stats`` discipline) → coverage explode (k rows
    per duplicated position — bounded by k x dup volume, not corpus) →
    one distinct + left-anti at (doc, pos) grain → ordered reassembly
    in ONE token-cardinality groupBy. Every join is a hash equi-join;
    the per-doc reassembly sort is doc-length bounded.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    toks = df.select(
        F.col("doc_id").alias("_doc"),
        F.posexplode(tokens(F.col("text"), lowercase=True)).alias("_pos", "_tok"),
    )
    occ = df.select(
        F.col("doc_id").alias("_doc"),
        F.posexplode(word_grams(F.lower(F.col("text")), k)).alias("_gpos", "_g"),
    )
    dup_grams = (
        occ.groupBy("_g", "_doc")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n_docs"))
        .filter(F.col("_n_docs") >= min_docs)
        .select("_g")
        .localCheckpoint()
    )
    covered = (
        occ.join(dup_grams, "_g")
        .select(
            "_doc",
            F.explode(
                F.sequence(F.col("_gpos"), F.col("_gpos") + F.lit(k - 1))
            ).alias("_pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, ["_doc", "_pos"], "left_anti")
    re = kept.groupBy("_doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda x: x["_tok"],
            ),
            " ",
        ).alias("text_kept"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = toks.groupBy("_doc").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        df.select(F.col("doc_id"))
        .join(totals.withColumnRenamed("_doc", "doc_id"), "doc_id", "left")
        .join(re.withColumnRenamed("_doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            (
                F.coalesce("n_tokens", F.lit(0)) - F.coalesce("_n_kept", F.lit(0))
            ).cast("long").alias("n_dropped"),
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
        )
    )


def term_screen(df: DataFrame, terms: list[str], max_hits: int = 0) -> DataFrame:
    """Banned-term content screen — the lexical layer of the C4 /
    RefinedWeb filter stack (next to the domain blocklist in
    ``urls.blocklist_matches`` and the exact-content Bloom screen):
    WORD-BOUNDARY matching via tokenization, not substring scanning
    (the classic "Scunthorpe" false positive), lowercased. Returns
    per document the total hit count, distinct banned terms hit, and
    ``keep = hits <= max_hits``.

    Plan: explode tokens → broadcast banned-set join (the list is
    config-sized) → partial agg at doc grain. Only offending documents
    survive the inner join, so the aggregate touches the violation
    volume, not the corpus; clean docs rejoin with zero counts
    map-side. One bounded shuffle at any corpus size.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    if max_hits < 0:
        raise ValueError(f"max_hits must be >= 0, got {max_hits}")
    spark = df.sparkSession
    banned = spark.createDataFrame(
        [(t.lower(),) for t in sorted(set(terms))], "_tok STRING"
    )
    hits = (
        df.select(
            F.col("doc_id"),
            F.explode(tokens(F.col("text"), lowercase=True)).alias("_tok"),
        )
        .join(F.broadcast(banned), "_tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.count_distinct("_tok").alias("n_terms"),
        )
    )
    return (
        df.select(F.col("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("n_terms", F.lit(0)).cast("long").alias("n_terms"),
            (F.coalesce("n_hits", F.lit(0)) <= max_hits).alias("keep"),
        )
    )

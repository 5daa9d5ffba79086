"""Corpus-preparation operators for LLM training-data pipelines.

North-star extensions beyond the reference's cleaning surface
(reference stops at notebook-style column cleanup — ``ETL.ipynb``
fillna/replace cells): these are the document-level operators a
100 TB pretraining corpus needs between "scraped" and "tokenized":

- :func:`scrub_pii` — regex redaction of emails / phones / SSNs /
  IPs / card numbers, with per-category match counts. Pure
  ``regexp_replace`` chain: JVM-side, whole-stage-codegen'd, and the
  patterns are written in the Java∩RE2 common subset (no lookarounds,
  no backreferences) so a DuckDB oracle reproduces them bit-for-bit.
- :func:`with_repetition_stats` — Gopher-style repetition signals
  (Rae et al. 2021, arXiv:2112.11446 §A1.1): duplicate-token /
  duplicate-trigram fractions per row, top-bigram fraction via an
  explode + two-level partial aggregation (never a per-row O(n²)
  scan of the gram array).
- :func:`chunk_dedup_stats` — cross-document chunk-level dedup
  (CCNet-style line dedup, Wenzek et al. 2019, adapted to fixed
  token windows because the synthetic corpus is single-line): the
  fraction of a doc's 10-token chunks that also appear in other docs.
- :func:`decontaminate` — benchmark decontamination (GPT-3 paper
  §C, Brown et al. 2020): flag training docs sharing any word
  k-gram with a held-out benchmark set, via an equi-join on the
  gram — the benchmark side is small by construction and broadcast.
- :func:`domain_mix_sample` — deterministic stratified sampling to
  a target domain mix: a doc survives iff its md5-derived bucket
  falls under the stratum's rate. No RNG state, so reruns and the
  correctness oracle are exact; sampling is a map-side filter (zero
  shuffle) at any scale.
- :func:`pack_sequences` — concat-and-chunk sequence packing: docs
  are laid end-to-end per (stratum, md5-shard) in key order and cut
  every ``budget`` tokens (the standard pretraining packing). The
  window key includes a deterministic shard bucket so no window
  partition ever holds a whole stratum — a 100 TB corpus packs
  ~1/n_shards of a language per task; there is deliberately NO
  global-order window here.

Scale notes: every operator is one scan plus (where unavoidable)
hash-partitioned shuffles on high-cardinality keys (gram text, doc
id). Nothing collects to the driver; nothing cross-joins.
"""

from __future__ import annotations

from typing import Mapping, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scraping_etl_spark import materialize as M
from scraping_etl_spark.operators.dedup import _bind, word_shingles
from scraping_etl_spark.operators.textstats import tokens

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

#: (name, pattern, replacement) — applied IN ORDER (a card number must be
#: consumed before the phone pattern can bite a 3-3-4 suffix of it).
#: Patterns stay inside the Java∩RE2 regex subset: character classes,
#: bounded repetition, ``\b`` word boundaries; no lookarounds.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CARD>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_scrubbed",
    with_counts: bool = True,
) -> DataFrame:
    """Redact PII spans in ``text_col`` into ``out_col``; when
    ``with_counts``, add one ``n_<category>`` column per pattern
    (match counts against the ORIGINAL text, so categories are
    independent of the replacement order)."""
    scrubbed: Column = F.col(text_col)
    for _, pat, rep in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    out = df.withColumn(out_col, scrubbed)
    if with_counts:
        for name, pat, _ in PII_PATTERNS:
            out = out.withColumn(
                f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
            )
    return out


# ---------------------------------------------------------------------------
# Repetition (Gopher-style quality signals)
# ---------------------------------------------------------------------------

def word_grams(text_col: Column | str, k: int) -> Column:
    """ALL word k-grams of ``text_col`` in order, repeats kept (the
    multiset — unlike :func:`~scraping_etl_spark.operators.dedup.
    word_shingles`, which is the distinct set). Token array bound once
    (single-evaluation hazard, see dedup module docstring)."""

    def _grams(t: Column) -> Column:
        n = F.size(t)
        idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idx, lambda i: F.array_join(F.slice(t, i, k), " "))

    return _bind(tokens(text_col), _grams)


def with_repetition_stats(df: DataFrame) -> DataFrame:
    """Per-document repetition signals: ``dup_token_frac`` and
    ``dup_trigram_frac`` (1 − distinct/total, zero when total is 0)
    plus ``top_bigram_frac`` (occurrences of the modal bigram / total
    bigrams) — all computed per row with array built-ins, never a
    per-row quadratic pass and never a shuffle. ``repeated_flag`` trips
    at the Gopher-ish thresholds (top-bigram > 0.18 or dup-trigram
    > 0.30).

    The top-bigram clause only applies to docs with at least
    20 bigrams: with n bigrams the modal fraction is ≥ 1/n,
    so without the floor every ≤6-token doc would trip the 0.18
    threshold even with all-unique tokens. Gopher applies these
    fractional thresholds to long documents (Rae et al. 2021 §A1.1);
    short docs are judged by the dup-trigram clause alone (which needs
    actual repeats to fire). ``n_bigrams`` is emitted so downstream
    filters can apply their own floor.

    Scale note: every signal — including the modal-bigram count — is
    computed PER ROW with array built-ins (the modal count is the
    longest equal-run of the sorted gram array, one ``array_sort`` +
    one ``aggregate`` fold, JVM-side). The whole operator is a single
    zero-shuffle projection; an earlier formulation paid two
    partial-agg shuffles (explode → count(doc, gram) → max-per-doc)
    for exactly the same values — at 100 TB those shuffles are the
    operator's entire cost, and a ~100-element per-row sort is not."""

    def dup_frac(grams: Column) -> Column:
        return _bind(
            grams,
            lambda g: F.when(
                F.size(g) > 0,
                F.round(1.0 - F.size(F.array_distinct(g)) / F.size(g), 6),
            ).otherwise(F.lit(0.0)),
        )

    def modal_count(grams: Column) -> Column:
        # longest run of equal elements after sorting == multiplicity
        # of the modal gram. Fold state: (prev gram, current run, best)
        def _m(g: Column) -> Column:
            init = F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("best"),
            )

            def step(acc: Column, x: Column) -> Column:
                run = F.when(
                    acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1
                ).otherwise(F.lit(1).cast("long"))
                return F.struct(
                    x.alias("prev"),
                    run.alias("run"),
                    F.greatest(acc["best"], run).alias("best"),
                )

            return F.aggregate(F.array_sort(g), init, step, lambda a: a["best"])

        return _bind(grams, _m)

    bigrams = word_grams("text", 2)
    n_bigrams = _bind(bigrams, F.size).cast("long")
    top_frac = _bind(
        bigrams,
        lambda b: F.when(
            F.size(b) > 0, F.round(modal_count(b) / F.size(b), 6)
        ).otherwise(F.lit(0.0)),
    )
    return df.select(
        F.col("doc_id"),
        dup_frac(tokens("text")).alias("dup_token_frac"),
        dup_frac(word_grams("text", 3)).alias("dup_trigram_frac"),
        top_frac.alias("top_bigram_frac"),
        n_bigrams.alias("n_bigrams"),
    ).withColumn(
        "repeated_flag",
        ((F.col("top_bigram_frac") > 0.18) & (F.col("n_bigrams") >= 20))
        | (F.col("dup_trigram_frac") > 0.30),
    )


# ---------------------------------------------------------------------------
# Cross-document chunk dedup
# ---------------------------------------------------------------------------

def token_chunks(text_col: Column | str, chunk_len: int = 10) -> Column:
    """Non-overlapping ``chunk_len``-token windows (tail shorter than
    ``chunk_len`` kept) — the 'lines' of a single-line corpus."""

    def _chunks(t: Column) -> Column:
        n = F.size(t)
        starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(chunk_len))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(starts, lambda i: F.array_join(F.slice(t, i, chunk_len), " "))

    return _bind(tokens(text_col), _chunks)


def cdc_chunks(
    text_col: Column | str, window: int = 4, divisor: int = 8
) -> Column:
    """CONTENT-DEFINED chunk boundaries (the Rabin/FastCDC idea at the
    token level, Muthitacharoen et al. SOSP 2001 "LBFS"): cut after
    token ``i`` whenever the hash of the ``window``-token context
    ending at ``i`` is ≡ 0 (mod ``divisor``) — expected chunk length
    ``divisor`` tokens. Because a boundary depends only on its local
    window, inserting or deleting a token perturbs boundaries within
    ``window`` tokens of the edit and every other chunk survives
    verbatim — the property fixed-stride :func:`token_chunks` lacks
    (one inserted token shifts EVERY downstream window, zero chunks
    survive). That is what makes CDC the dedup primitive for corpora
    with boilerplate prefixes/suffixes or lightly edited mirrors.

    The window hash is the md5-hex-prefix 60-bit integer (the module's
    standard engine-mirrorable hash), so the DuckDB oracle reproduces
    boundaries bit-for-bit. Pure array expressions — per-document,
    zero shuffle; the boundary-position array is lambda-bound so the
    md5 filter evaluates once (single-evaluation hazard)."""
    if window < 1 or divisor < 1:
        raise ValueError(f"window/divisor must be >= 1, got {window}/{divisor}")

    def _cdc(t: Column) -> Column:
        n = F.size(t)

        def _h(i: Column) -> Column:
            win = F.array_join(F.slice(t, i - (window - 1), window), " ")
            return F.conv(F.substring(F.md5(win), 1, 15), 16, 10).cast("long")

        bpos = F.when(
            n - 1 >= window,
            F.filter(
                F.sequence(F.lit(window), n - 1),
                lambda i: _h(i) % divisor == 0,
            ),
        ).otherwise(F.array().cast("array<int>"))

        def _cut(b: Column) -> Column:
            starts = F.concat(
                F.array(F.lit(1)), F.transform(b, lambda p: p + 1)
            )
            ends = F.concat(b, F.array(n))
            return F.zip_with(
                starts, ends,
                lambda s, e: F.array_join(F.slice(t, s, e - s + 1), " "),
            )

        return F.when(n > 0, _bind(bpos, _cut)).otherwise(
            F.array().cast("array<string>")
        )

    return _bind(tokens(text_col), _cdc)


def prepare_cdc_ref(lake: DataFrame) -> DataFrame:
    """Materialize the lake's distinct CDC-chunk hash store — the
    prepared side input of :func:`cdc_seen_fraction` (the
    ``prepare_neardup_ref`` convention: a streaming gate screening
    every micro-batch against the lake must not re-chunk the lake per
    trigger). Chunk geometry is baked in at prepare time."""
    return (
        lake.select(
            F.explode(cdc_chunks("text")).alias("_c")
        )
        .select(F.md5("_c").alias("_h"))
        .distinct()
        .localCheckpoint()
    )


def cdc_seen_fraction(
    df: DataFrame,
    ref_prepared: DataFrame,
    window: int = 4,
    divisor: int = 8,
    ref_fits_broadcast: bool | None = None,
) -> DataFrame:
    """Per-document fraction of CDC chunks already present in a
    reference chunk store — the "have we ingested most of this
    already?" door (content-defined, so a boilerplate-prefixed or
    lightly edited mirror of lake content still reads as seen; the
    fixed-stride version would miss every shifted copy). Per-doc
    decision against a static side input, so batch-local equals
    global — the honest-twin property the streaming gate needs.

    Plan: per-doc chunking (zero shuffle) → distinct (doc, chunk-hash)
    partial agg → membership left join against ``ref_prepared``
    (broadcast only under :data:`materialize.BROADCAST_ROWS` hashes — a
    100 TB lake's chunk store is billions of rows; past the cap the
    join runs as a shuffle equi-join on the chunk hash) → per-doc
    partial-agg rollup.
    Returns ``(id, n_chunks, n_seen, seen_frac)``; chunkless docs
    (empty text) carry ``seen_frac`` 0.0.

    The probe is one driver action against ``ref_prepared``; a caller
    scoring MANY batches against ONE store (the streaming
    per-micro-batch shape) probes once at build time and passes the
    verdict via ``ref_fits_broadcast`` — same hoist as
    ``lang_id_ngram(trained_m=...)``."""
    chunks = (
        df.select(
            F.col("doc_id"),
            F.explode_outer(cdc_chunks("text", window, divisor)).alias("_c"),
        )
        .select("doc_id", F.md5("_c").alias("_h"))
        .distinct()
    )
    ref = ref_prepared.select("_h", F.lit(1).alias("_seen"))
    if ref_fits_broadcast is not None:
        fits = ref_fits_broadcast
    else:
        fits = M.fits(ref, M.BROADCAST_ROWS)
    return (
        chunks.join(F.broadcast(ref) if fits else ref, "_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("_h").alias("n_chunks"),
            F.sum(F.coalesce("_seen", F.lit(0))).cast("long").alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_seen",
            F.round(
                F.col("n_seen") / F.greatest(F.col("n_chunks"), F.lit(1)), 6
            ).alias("seen_frac"),
        )
    )


#: A chunk shared by more docs than this is "viral": its pair rows are
#: flagged via a broadcast join instead of riding the shuffle join. The
#: hot SET is small by definition (≤ total_pairs / threshold distinct
#: hashes), which is what makes it broadcastable.
HOT_CHUNK_DOCS = 100_000


def chunk_dedup_stats(
    df: DataFrame,
    chunk_len: int = 10,
    hot_threshold: int = HOT_CHUNK_DOCS,
    chunks: Column | None = None,
) -> DataFrame:
    """For every document: how many of its distinct chunks also occur
    in at least one OTHER document, and the shared fraction. Chunking
    defaults to fixed ``chunk_len``-token strides; pass ``chunks`` (an
    ``array<string>`` column, e.g. :func:`cdc_chunks`) to supply a
    different chunker — the stats plumbing is chunker-agnostic. The
    plan is explode → per-(doc, chunk) distinct → per-chunk distinct-doc
    count → flag each (doc, chunk) pair as shared → per-doc aggregate:
    all shuffles keyed on high-cardinality values (chunk md5, doc id).

    Skew: a boilerplate chunk shared by 10^8 docs would put 10^8 pair
    rows in ONE task of the pairs ⋈ docs_per_chunk join, and AQE's
    skew-join rewrite structurally cannot help — OptimizeSkewedJoin
    only matches a join whose children are bare shuffle stages (modulo
    Sort), and the build side's final HashAggregate sits between its
    shuffle and the join (verified empirically: no split even with
    forceOptimizeSkewedJoin). So the operator is skew-proof by
    construction instead: chunks shared by more than ``hot_threshold``
    docs (a small set by definition — ≤ pairs/threshold hashes) are
    flagged via a BROADCAST join, map-side, no hot partition anywhere;
    only the residual keys — none hotter than ``hot_threshold`` — take
    the shuffle join. ``docs_per_chunk`` itself is skew-immune (Spark's
    partial aggregation collapses the hot key to one row per map task
    before the shuffle).

    The ``pairs`` relation is consumed THREE times (docs-per-chunk agg,
    hot-flag join, cold left_anti), so it is ``localCheckpoint``-ed:
    without it every consumer re-runs the explode + distinct over the
    full corpus — at 100 TB that recompute, not the joins, is the
    operator's cost. Same pattern as ``dedup.dedup_clusters``; on a
    dynamic-allocation cluster swap for reliable ``checkpoint()``."""
    if hot_threshold < 1:
        raise ValueError(f"hot_threshold must be >= 1, got {hot_threshold}")
    chunk_expr = (
        chunks if chunks is not None else token_chunks("text", chunk_len)
    )
    pairs = (
        df.select(F.col("doc_id"), F.explode(chunk_expr).alias("_c"))
        .select("doc_id", F.md5("_c").alias("_h"))
        .distinct()
        .localCheckpoint()
    )
    docs_per_chunk = pairs.groupBy("_h").agg(F.count(F.lit(1)).alias("_docs"))
    hot = docs_per_chunk.filter(F.col("_docs") > hot_threshold).select("_h")
    # hot ⇒ _docs > hot_threshold ≥ 1 ⇒ shared, no lookup needed
    hot_flagged = pairs.join(F.broadcast(hot), "_h").select(
        "doc_id", F.lit(1).alias("_shared")
    )
    cold_flagged = (
        pairs.join(F.broadcast(hot), "_h", "left_anti")
        .join(docs_per_chunk, "_h")
        .select(
            "doc_id",
            F.when(F.col("_docs") > 1, 1).otherwise(0).alias("_shared"),
        )
    )
    return (
        hot_flagged.unionByName(cold_flagged)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("_shared").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_chunks"), 6).alias("shared_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def prepare_bench_grams(bench: DataFrame) -> DataFrame:
    """Precompute the deduped benchmark gram relation for
    :func:`decontaminate` — MATERIALIZED (``localCheckpoint``) with the
    measured broadcast decision already applied, so a caller screening
    many training sets (or a streaming gate screening every
    micro-batch) derives the grams and runs the cardinality probe
    ONCE. Pass the result as ``bench_prepared=``."""
    grams = (
        bench.select(F.explode(word_shingles(F.col("text"), 5)).alias("_g"))
        .distinct()
        .localCheckpoint()
    )
    return F.broadcast(grams) if M.fits(grams, M.BROADCAST_ROWS) else grams


def decontaminate(
    train: DataFrame,
    bench: DataFrame | None = None,
    k: int = 5,
    bench_prepared: DataFrame | None = None,
) -> DataFrame:
    """Flag training docs that share ≥1 word ``k``-gram with the
    benchmark corpus (GPT-3-style n-gram decontamination). Returns
    ``train`` ids + ``n_hits`` (distinct shared grams) +
    ``contaminated``.

    The benchmark gram set is deduped and — when it is small enough —
    broadcast, so the join never shuffles the training-side grams.
    "Small enough" is measured, not assumed: :func:`materialize.fits`
    (short-circuiting — never a full gram count) checks the deduped
    gram cardinality against :data:`materialize.BROADCAST_ROWS` (GPT-3's
    full decontamination list is orders of magnitude smaller); past
    the cap the hint is dropped and the same plan becomes a shuffle
    hash join on the gram, which scales to arbitrarily large benchmark
    sets instead of OOMing the broadcast build. The probe scans only
    the (small) benchmark side — the training corpus is untouched
    until the real join.

    Pass ``bench_prepared=`` (:func:`prepare_bench_grams`) to reuse a
    materialized gram relation across many calls (the streaming-gate
    shape); exactly one of ``bench`` / ``bench_prepared`` must be
    given. NOTE: the non-prepared path derives the grams lazily per
    call (no materialization) — single-shot callers pay no checkpoint
    they don't need."""
    if (bench is None) == (bench_prepared is None):
        raise ValueError(
            "decontaminate: pass exactly one of bench / bench_prepared"
        )
    if bench_prepared is not None:
        bench_side = bench_prepared
    else:
        bench_grams = bench.select(
            F.explode(word_shingles(F.col("text"), k)).alias("_g")
        ).distinct()
        bench_side = (
            F.broadcast(bench_grams)
            if M.fits(bench_grams, M.BROADCAST_ROWS)
            else bench_grams
        )
    train_grams = train.select(
        F.col("doc_id"), F.explode(word_shingles(F.col("text"), k)).alias("_g")
    )
    hits = (
        train_grams.join(bench_side, "_g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

#: A bigram occurring more often than this is "hot": its occurrences are
#: scored via a broadcast join (the hot set is ≤ total_occurrences /
#: threshold distinct grams — small by definition). Same decomposition
#: as :data:`HOT_CHUNK_DOCS` for :func:`chunk_dedup_stats`.
HOT_GRAM_OCCS = 1_000_000


#: Cap on the broadcast hot-gram set. The hot set is bounded by
#: construction at ≤ total_occurrences / hot_threshold distinct grams,
#: but at 10^13 bigram occurrences with the default threshold that is
#: still ~10^7 rows — past this cap only the HOTTEST ``n`` grams keep
#: the broadcast path and the overflow (still ``> hot_threshold`` but
#: not top-n) rides the cold shuffle join. Correctness never depends on
#: which side a gram scores on; the cap only bounds broadcast memory.
MAX_BROADCAST_HOT_GRAMS = 2_000_000


def _cap_hot(hot: DataFrame) -> DataFrame:
    """The broadcast side of the hot/cold split: ``hot`` itself when it
    fits under :data:`MAX_BROADCAST_HOT_GRAMS`, else only its hottest
    n grams; the overflow (cooler by construction) rides the cold
    shuffle join."""
    cap = MAX_BROADCAST_HOT_GRAMS
    if M.fits(hot, cap):
        return hot
    return hot.orderBy(F.col("_cbi").desc(), "_g").limit(cap)


class PreparedLM(NamedTuple):
    """Materialized reference-LM side inputs for
    :func:`with_lm_score` — build once with :func:`prepare_lm`, score
    many corpora (or micro-batches) against it."""

    bi_counts: DataFrame      #: (_g, _cbi) bigram counts, checkpointed
    uni_counts: DataFrame     #: (_w, _cw) unigram counts, checkpointed
    uni_broadcast_ok: bool    #: measured: uni table fits the broadcast
    vsize: DataFrame          #: 1-row (_v, _k) vocabulary size
    hot: DataFrame            #: capped hot grams (_g, _cbi, _cw, _v)


def prepare_lm(lm: DataFrame, hot_threshold: int = HOT_GRAM_OCCS) -> PreparedLM:
    """Train the reference bigram LM once: count tables are
    ``localCheckpoint``-ed, the vocabulary-broadcast and hot-set-cap
    probes run here (not per scoring call), and an empty LM fails
    loudly. This is the deployment shape for repeated scoring — the
    streaming fluency gate scores every micro-batch against ONE
    prepared model instead of re-counting the curated corpus per
    trigger."""
    if hot_threshold < 1:
        raise ValueError(f"hot_threshold must be >= 1, got {hot_threshold}")
    lowered = F.lower(F.col("text"))
    bi_counts = (
        lm.select(F.explode(word_grams(lowered, 2)).alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_cbi"))
        .localCheckpoint()
    )
    uni_counts = (
        lm.select(F.explode(tokens("text", lowercase=True)).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_cw"))
        .localCheckpoint()
    )
    n_vocab = M.bounded_count(uni_counts, M.BROADCAST_ROWS)
    if n_vocab == 0:
        # V = 0 would send every smoothed logp to ln(1/0) = +inf and
        # trivially pass any fluency gate — fail loudly instead.
        raise ValueError(
            "with_lm_score: reference LM corpus produced an empty "
            "unigram table (no tokens) — cannot smooth against V=0"
        )
    vsize = uni_counts.agg(F.count(F.lit(1)).alias("_v")).withColumn(
        "_k", F.pmod(F.xxhash64(F.col("_v")), F.lit(1))
    )
    stats = (
        bi_counts.withColumn("_w", F.split_part(F.col("_g"), F.lit(" "), F.lit(1)))
        .join(uni_counts, "_w")
        .withColumn("_k", F.pmod(F.xxhash64("_g"), F.lit(1)))
        .join(F.broadcast(vsize), "_k")
        .select("_g", "_cbi", "_cw", "_v")
        .localCheckpoint()
    )
    hot = _cap_hot(stats.filter(F.col("_cbi") > hot_threshold))
    return PreparedLM(
        bi_counts, uni_counts, n_vocab <= M.BROADCAST_ROWS, vsize, hot
    )


def lm_gram_pairs(df: DataFrame) -> DataFrame:
    """The per-(doc, bigram) occurrence relation :func:`with_lm_score`
    scores over — exposed so a caller scoring the SAME corpus under
    several models (the DSIR gate: target LM + raw LM) derives it
    once, ``localCheckpoint``s it, and passes it to every scoring call
    via ``pairs=`` instead of re-exploding the corpus per model
    (r16)."""
    lowered = F.lower(F.col("text"))
    return (
        df.select(F.col("doc_id"), F.explode(word_grams(lowered, 2)).alias("_g"))
        .groupBy("doc_id", "_g")
        .agg(F.count(F.lit(1)).alias("_n"))
    )


def with_lm_score(
    df: DataFrame,
    hot_threshold: int = HOT_GRAM_OCCS,
    lm: DataFrame | None = None,
    lm_prepared: PreparedLM | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document corpus-LM score — the real form of the quality
    filter :func:`with_oov_ratio` proxies (CCNet, Wenzek et al. 2019,
    scores documents with a language-model perplexity; GPT-3 appendix A
    filters on a similar classifier). Here the LM is the corpus's own
    add-one-smoothed bigram model: for each in-doc bigram
    ``P(w2|w1) = (C(w1 w2) + 1) / (C(w1) + V)`` over lowercased
    whitespace tokens, and the score is the mean natural log-prob.
    Returns ``n_bigrams`` and ``avg_logp`` (0.0 for docs with < 2
    tokens); LOW ``avg_logp`` = improbable-under-the-corpus text =
    likely noise.

    Plan: explode bigrams, two partial-agg count shuffles (bigram and
    unigram counts — skew-immune: map-side combine collapses hot grams
    before the shuffle), vocabulary size attached as a broadcast 1-row
    join, then the occurrence ⋈ counts join. That join is hot-key
    skewed in real text (Zipf: "of the" appears in every doc) and has
    the same AQE-can't-split shape as :func:`chunk_dedup_stats` (agg
    under join), so it reuses the hot/cold decomposition: grams with
    more than ``hot_threshold`` occurrences score through a broadcast
    join map-side; only sub-threshold grams ride the shuffle join. The
    hot set's broadcast is guarded by a MEASURED bounded probe
    (:func:`materialize.fits`, the :func:`decontaminate` pattern): past
    :data:`MAX_BROADCAST_HOT_GRAMS` distinct hot grams, only the top-n by
    occurrence count stay broadcast and the overflow spills to the
    cold shuffle join (where AQE's skew split still applies — the
    overflow keys are colder than the broadcast ones by construction).
    The stats ⋈ unigram join runs at DISTINCT-gram scale (one row per
    bigram type), where per-key fan-out is vocabulary branching, not
    corpus size.

    ``lm`` selects the TRAINING corpus: by default the model is the
    scored corpus's own counts (every doc bigram is seen); pass a
    separate curated corpus — the actual CCNet deployment, LM trained
    on Wikipedia-grade text, incoming docs scored against it — and
    unseen grams smooth to ``(0+1)/(C(w1)+V)`` (unseen ``w1`` → 1/V).
    In that mode the reference unigram table is vocabulary-scale, so it
    broadcasts under a measured-cardinality guard
    (:data:`materialize.BROADCAST_ROWS`, same bounded probe as
    :func:`decontaminate`). For REPEATED reference-mode scoring (the
    streaming fluency gate), pass ``lm_prepared=`` from
    :func:`prepare_lm` — the model trains once and every call skips
    the count jobs and probes entirely."""
    if lm is not None and lm_prepared is not None:
        raise ValueError("with_lm_score: pass at most one of lm / lm_prepared")
    if hot_threshold < 1:
        raise ValueError(f"hot_threshold must be >= 1, got {hot_threshold}")
    if lm is not None:
        lm_prepared = prepare_lm(lm, hot_threshold)
    # per-(doc, gram) occurrence counts FIRST: every downstream branch
    # (bigram totals, hot probe, cold probe) hangs off this one
    # exchange, so ReuseExchange runs the explode exactly once — the
    # hot/cold split costs reduce-side reads, not extra corpus scans.
    # The (doc, gram) key is skew-free by construction. A caller
    # scoring one corpus under several models passes the shared
    # relation via ``pairs=`` (:func:`lm_gram_pairs`).
    if pairs is None:
        pairs = lm_gram_pairs(df)
        if lm_prepared is None:
            # self-mode only: pairs feeds the EAGER stats checkpoint
            # below AND the final scoring plan — two separate jobs, so
            # ReuseExchange cannot span them and the corpus bigram
            # explode ran twice. Materialize once (r17). Reference
            # mode keeps the lazy relation: there pairs' consumers
            # share one plan and its exchange is reused.
            pairs = pairs.localCheckpoint()
    logp = F.log((F.col("_cbi") + 1.0) / (F.col("_cw") + F.col("_v")))
    scored_cols = [
        F.col("doc_id"),
        F.col("_n"),
        (F.col("_n") * logp).alias("_nlp"),
    ]
    if lm_prepared is None:
        # self-scoring: the model is the scored corpus's own counts.
        bi_counts = pairs.groupBy("_g").agg(F.sum("_n").alias("_cbi"))
        uni_counts = (
            df.select(F.explode(tokens("text", lowercase=True)).alias("_w"))
            .groupBy("_w")
            .agg(F.count(F.lit(1)).alias("_cw"))
        )
        # 1-row vocabulary size: joined on a NON-FOLDABLE always-zero
        # key on BOTH sides — with a literal key, FoldablePropagation
        # rewrites the equi-condition into a one-sided filter and the
        # join degrades to a BroadcastNestedLoopJoin;
        # pmod(<attribute-derived hash>, 1) is always 0 but opaque to
        # constant folding, so the planner keeps a BroadcastHashJoin
        # (same 1-row build, clean plan discipline).
        vsize = uni_counts.agg(F.count(F.lit(1)).alias("_v")).withColumn(
            "_k", F.pmod(F.xxhash64(F.col("_v")), F.lit(1))
        )
        stats = (
            bi_counts.withColumn(
                "_w", F.split_part(F.col("_g"), F.lit(" "), F.lit(1))
            )
            .join(uni_counts, "_w")
            .withColumn("_k", F.pmod(F.xxhash64("_g"), F.lit(1)))
            .join(F.broadcast(vsize), "_k")
            .select("_g", "_cbi", "_cw", "_v")
            # stats is consumed three ways (hot-set build, hot probe,
            # cold scored join) — checkpoint ONCE at distinct-gram
            # scale so every consumer reads materialized rows.
            .localCheckpoint()
        )
        hot = _cap_hot(stats.filter(F.col("_cbi") > hot_threshold))
        hot_scored = pairs.join(F.broadcast(hot), "_g").select(scored_cols)
        cold_base = pairs.join(F.broadcast(hot.select("_g")), "_g", "left_anti")
        # every doc bigram is in stats — inner join
        cold_scored = cold_base.join(stats, "_g").select(scored_cols)
    else:
        # reference-LM scoring: doc bigrams may be unseen — LEFT joins
        # with add-one floors. Counts, probes and the capped hot set
        # come from the prepared model (trained once).
        bi_counts, uni_counts, uni_ok, vsize, hot = lm_prepared
        hot_scored = pairs.join(F.broadcast(hot), "_g").select(scored_cols)
        cold_base = pairs.join(F.broadcast(hot.select("_g")), "_g", "left_anti")
        uni_side = F.broadcast(uni_counts) if uni_ok else uni_counts
        smoothed = F.log(
            (F.coalesce(F.col("_cbi"), F.lit(0)) + 1.0)
            / (F.coalesce(F.col("_cw"), F.lit(0)) + F.col("_v"))
        )
        cold_scored = (
            cold_base.withColumn(
                "_w", F.split_part(F.col("_g"), F.lit(" "), F.lit(1))
            )
            .join(bi_counts, "_g", "left")
            .join(uni_side, "_w", "left")
            .withColumn("_k", F.pmod(F.xxhash64("_g"), F.lit(1)))
            .join(F.broadcast(vsize), "_k")
            .select(
                F.col("doc_id"),
                F.col("_n"),
                (F.col("_n") * smoothed).alias("_nlp"),
            )
        )
    agg = (
        hot_scored.unionByName(cold_scored)
        .groupBy("doc_id")
        .agg(
            F.sum("_n").alias("n_bigrams"),
            F.round(F.sum("_nlp") / F.sum("_n"), 6).alias("avg_logp"),
        )
    )
    return (
        df.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("avg_logp", F.lit(0.0)).alias("avg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic domain-mix sampling
# ---------------------------------------------------------------------------

#: Resolution of the sampling rates (1/10000ths).
MIX_BUCKETS = 10_000


def md5_bucket(key: Column, n: int) -> Column:
    """Uniform bucket in [0, n) from the md5 of the key — 60 md5 bits
    via the base-16→10 conv trick, bit-identical in the DuckDB oracle
    (``('0x' || substr(md5(x), 1, 15))::BIGINT % n``)."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(n))


def mix_bucket(key: Column) -> Column:
    """Sampling bucket in [0, MIX_BUCKETS) — see :func:`md5_bucket`."""
    return md5_bucket(key, MIX_BUCKETS)


def domain_mix_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified downsampling to a target mix: a row
    survives iff ``mix_bucket(key) < rate(stratum) · MIX_BUCKETS``.
    Zero shuffle — the whole sampler is a map-side filter — and
    rerun-stable (no RNG state), which is what makes a 100 TB mix
    reproducible and its correctness oracle exact."""
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col("lang") == stratum, F.lit(float(r))).otherwise(rate)
    return df.filter(mix_bucket(F.col("doc_id")) < rate * MIX_BUCKETS)


def split_corpus(df: DataFrame, weights: Mapping[str, float]) -> DataFrame:
    """Deterministic train/val/test assignment: the md5 bucket of the
    key is mapped onto cumulative weight thresholds (insertion order of
    ``weights``), so every rerun — and every engine — assigns each row
    to the same split with zero RNG state and zero shuffle. Weights
    must sum to ≤ 1; any residual bucket mass falls into the LAST
    split (sum-to-1 exactly in practice).

    The map-side-only property is what matters at 100 TB: splitting is
    a projection, not a repartition, and downstream readers filter on
    ``split`` with ordinary predicate pushdown."""
    total = sum(weights.values())
    if not 0 < total <= 1.0 + 1e-9:
        raise ValueError(f"split weights must sum to (0, 1], got {total}")
    bucket = mix_bucket(F.col("doc_id"))
    expr: Column | None = None
    cum = 0.0
    names = list(weights)
    for name in names:
        cum += weights[name]
        # INTEGER thresholds, rounded once: float running sums differ by
        # ulps across engines (0.8 + 0.1 != 0.9 in IEEE), and a
        # threshold that lands a hair above an integer silently moves
        # the boundary bucket between splits. Integers are exact
        # everywhere, which is the operator's whole determinism claim.
        hi = F.lit(int(round(cum * MIX_BUCKETS)))
        cond = bucket < hi
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr.otherwise(F.lit(names[-1])))


def with_oov_ratio(df: DataFrame, vocab: DataFrame) -> DataFrame:
    """Out-of-vocabulary ratio per document against a reference vocab
    (e.g. the :func:`~scraping_etl_spark.operators.textstats.vocab_topk`
    output) — the cheap proxy for CCNet's LM-perplexity quality filter:
    documents whose tokens mostly fall outside the reference vocabulary
    are likely noise.

    Plan: explode lowercased tokens, LEFT join the vocab (broadcast —
    a vocab is 10^3..10^5 rows by construction), one partial-agg
    groupBy back to the doc. Returns ``n_tokens``, ``n_oov``,
    ``oov_ratio`` (0.0 for empty docs)."""
    toks = df.select(
        F.col("doc_id"), F.explode_outer(tokens("text", lowercase=True)).alias("_t")
    )
    v = vocab.select(F.col("token").alias("_t")).distinct().withColumn(
        "_known", F.lit(1)
    )
    return (
        toks.join(F.broadcast(v), "_t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("_t").alias("n_tokens"),
            F.sum(
                F.when(F.col("_t").isNotNull() & F.col("_known").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
            ).alias("oov_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic stratified bottom-N sampling (eval-set construction)
# ---------------------------------------------------------------------------

def stratified_sample_n(df: DataFrame, n: int, n_salts: int = 64) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, chosen as the N
    smallest ``(md5(key), key)`` — the deterministic analogue of a
    uniform without-replacement sample (bottom-N by hash), so reruns,
    engines, and the correctness oracle pick the SAME rows. The use
    case is eval/holdout-set construction where "random but
    reproducible" is a hard requirement.

    Scale: a single ``row_number`` window per stratum would sort whole
    strata in single tasks (the coarse-key trap ``pack_sequences``
    sharding avoids). Instead a two-stage tournament: stage 1 ranks
    within (stratum, salt) — ``n_salts`` deterministic md5 buckets —
    and keeps each bucket's bottom N; stage 2 ranks the ≤ n_salts·N
    survivors per stratum. Exactness is a tournament invariant (any
    global bottom-N row is necessarily in its own bucket's bottom N);
    stage-1 partitions are ~1/n_salts of a stratum, stage 2 sorts at
    most n_salts·N rows per stratum. Size ``n_salts`` so both stay
    task-sized at the target scale."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    h = F.md5(F.col("doc_id").cast("string"))
    # salt from the TRAILING 15 md5 hex chars — disjoint from the
    # leading 15 that dominate the ``_h`` sort order, so bucket
    # assignment and ranking order come from independent bits.
    # (Exactness never depends on this — any global bottom-N row wins
    # its own bucket regardless — it only evens out bucket sizes.)
    salt = F.pmod(
        F.conv(F.substring(F.col("_h"), 18, 15), 16, 10).cast("long"),
        F.lit(n_salts),
    )
    w1 = Window.partitionBy("lang", "_salt").orderBy("_h", "doc_id")
    w2 = Window.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        df.withColumn("_h", h)
        .withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= n)
        .withColumn("sample_rank", F.row_number().over(w2))
        .filter(F.col("sample_rank") <= n)
        .drop("_h", "_salt", "_r1")
    )


# ---------------------------------------------------------------------------
# Exact per-stratum quantiles via value-histogram CDF
# ---------------------------------------------------------------------------

def stratified_cutoffs(
    df: DataFrame,
    value_col: str,
    quantiles: tuple[float, ...],
) -> DataFrame:
    """Wide form of :func:`stratified_quantiles`: one row per stratum
    with columns ``_q0.._qk`` (the ``percentile_disc`` value per
    requested quantile) and ``_n`` (stratum row count). Same
    histogram-CDF construction and the same scale argument — the
    per-stratum window sorts DISTINCT-VALUE rows, bounded by the value
    domain, never the corpus. Callers that assign rows against the
    cutoffs (:func:`ccnet_buckets`) consume this form directly: the
    output is strata-count rows, broadcastable by construction."""
    for q in quantiles:
        if not 0 < q <= 1:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    hist = df.groupBy("lang", value_col).agg(
        F.count(F.lit(1)).alias("_f")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = hist.withColumn("_cum", F.sum("_f").over(w)).withColumn(
        "_n", F.sum("_f").over(Window.partitionBy("lang"))
    )
    picks = [
        F.min(
            F.when(
                F.col("_cum") >= F.ceil(F.lit(q) * F.col("_n")), F.col(value_col)
            )
        ).alias(f"_q{i}")
        for i, q in enumerate(quantiles)
    ]
    return cdf.groupBy("lang").agg(F.min("_n").alias("_n"), *picks)


def stratified_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """EXACT per-stratum discrete quantiles (SQL-standard
    ``percentile_disc``: the smallest value whose cumulative row count
    reaches ``ceil(q·n)``) — corpus length/quality profiling without
    the usual either/or of approx sketches vs whole-stratum sorts.

    Scale: the input first collapses to a value histogram
    (``groupBy(stratum, value)``, a skew-immune partial-agg shuffle);
    the CDF walk then runs over DISTINCT-VALUE rows per stratum —
    bounded by the value domain (e.g. token lengths: ~10^4 distinct),
    not the corpus — so the per-stratum window sort is always
    task-sized. ALL quantiles are then picked in ONE conditional
    aggregation over the CDF (``min(when(cum >= ceil(q·n), value))``
    per q) and unpivoted with ``stack`` — one window pass + one
    groupBy total, not a filtered window per quantile (an earlier
    formulation paid 4 extra exchanges at sf1 for exactly the same
    rows). One quantile row per (stratum, q). Exact, no interpolation
    (values keep their column type), deterministic, and the oracle
    reproduces the same histogram-CDF construction."""
    wide = stratified_cutoffs(df, value_col, quantiles)
    # unpivot (stratum, _q0.._qk, _n) → one row per (stratum, quantile)
    stack = ", ".join(
        f"CAST({q!r} AS DOUBLE), _q{i}" for i, q in enumerate(quantiles)
    )
    return wide.select(
        "lang",
        F.expr(
            f"stack({len(quantiles)}, {stack}) AS (quantile, value)"
        ),
        F.col("_n").alias("n_rows"),
    )


#: Fixed-point scale for LM scores in :func:`ccnet_buckets` —
#: ``avg_logp`` is already rounded to 6 decimals by
#: :func:`with_lm_score`, so ``round(avg_logp * 1e6)`` is an EXACT
#: integer image of the score (no further precision loss), and the
#: cutoff histogram runs over a value domain bounded by the score
#: range × 1e6, not by corpus size.
LM_SCORE_FX_SCALE = 1_000_000


def ccnet_buckets(df: DataFrame, lm: DataFrame | None = None) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019,
    arXiv:1911.00359 §4.3): per language, split the corpus into
    ``head`` / ``middle`` / ``tail`` thirds by language-model score —
    head = best-scoring (lowest perplexity ⇔ highest ``avg_logp``)
    third. CCNet keeps head+middle for pretraining and drops or
    down-weights tail; this operator labels, it does not drop, so the
    caller picks the policy.

    The LM is :func:`with_lm_score`'s add-one bigram model (self-score
    by default; pass ``lm=`` for the real CCNet
    deployment — a curated reference LM). Bucket boundaries are EXACT
    per-stratum ``percentile_disc`` cutoffs over the fixed-point score
    (:data:`LM_SCORE_FX_SCALE`), ties resolved downward (a doc ON the
    1/3 cutoff is ``tail``, on the 2/3 cutoff ``middle`` — the
    smallest-value-reaching-rank convention of
    :func:`stratified_quantiles`, so the split is deterministic and
    the oracle reproduces it bit-for-bit). Docs with < 2 tokens score
    0.0 (no bigrams) and land by that score like any other.

    Scale: scoring is the audited :func:`with_lm_score` plan; cutoffs
    add one partial-agg histogram shuffle at distinct-(stratum, fx)
    cardinality — bounded by the score range × scale (~10^7 rows
    worst-case, task-sized) — and the per-stratum cutoff table is
    strata-count rows, attached back as a broadcast hash join; bucket
    assignment is map-side. No corpus-scale sort anywhere.

    Returns one row per doc: ``(id, stratum, n_bigrams, avg_logp,
    bucket)``.
    """
    scored = with_lm_score(df, lm=lm)
    base = df.select("doc_id", "lang").join(scored, "doc_id")
    # two consumers (cutoff histogram, bucket assignment) hang off the
    # scored relation — checkpoint ONCE at doc cardinality (id,
    # stratum, two numbers) so the LM scoring plan runs once, not per
    # consumer (measured 11.9 s → ~6 s at sf0.1).
    sdf = base.withColumn(
        "_fx",
        F.round(F.col("avg_logp") * LM_SCORE_FX_SCALE).cast("long"),
    ).localCheckpoint()
    wide = stratified_cutoffs(sdf, "_fx", (1.0 / 3.0, 2.0 / 3.0))
    return (
        sdf.join(
            F.broadcast(wide.select("lang", "_q0", "_q1")), "lang"
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "avg_logp",
            F.when(F.col("_fx") <= F.col("_q0"), F.lit("tail"))
            .when(F.col("_fx") <= F.col("_q1"), F.lit("middle"))
            .otherwise(F.lit("head"))
            .alias("bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

def _check_pack_keys(
    n_shards: int, by: str, id_col: str,
    columns: list[str] | None = None,
) -> None:
    """Shared up-front validation for the packing faces: the output
    carries shard/seq_id/n_len columns ('_shard' while building); a
    same-named key would make the window key ambiguous. Since
    place_sequences passes EVERY input column through, the reserved
    set is checked against the whole schema (``columns``) when given —
    a payload column named ``shard`` would otherwise surface as a
    duplicate after the rename, and ``n_len``/``seq_id`` would be
    silently overwritten by withColumn."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    reserved = {"shard", "_shard", "seq_id", "n_len"}
    clash = sorted(reserved & set(columns if columns is not None
                                  else (by, id_col)))
    if clash:
        raise ValueError(
            f"input columns may not be named {sorted(reserved)}: the "
            f"packing output adds them (colliding: {clash})"
        )


def place_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    by: str = "lang",
    n_shards: int = 64,
    len_col: str | None = None,
) -> DataFrame:
    """Per-document sequence PLACEMENT — the doc → training-sequence
    assignment an export actually materializes shards from (the
    aggregated view is :func:`pack_sequences`). Within each (``by``
    stratum, shard), documents are laid end-to-end in ``id_col`` order
    and cut every ``budget`` tokens; a doc belongs to the sequence its
    first token lands in. Returns the input columns + ``n_len`` (the
    per-doc length used), ``shard`` and ``seq_id``.

    ``len_col`` selects a precomputed length column (e.g. ``n_ids``
    from :func:`bpe.encode_token_ids` — packing on REAL tokenizer ids,
    not whitespace words, is what a train-ready export wants); when
    None the length is the whitespace token count of ``text``.

    The window is partitioned by (stratum, shard) where ``shard`` is a
    deterministic md5 bucket of the id — NOT by the stratum alone: a
    coarse stratum key (e.g. 5 language values over a 100 TB corpus)
    would make each window partition an entire language sorted in one
    task. Sharding bounds every window partition to ~1/``n_shards`` of
    its stratum; packing never crosses a shard boundary, which is the
    standard accepted approximation in pretraining pipelines (each
    shard wastes at most one partial sequence). Size ``n_shards`` so a
    (stratum, shard) slice fits comfortably in one task — at 100 TB
    that is O(10^4-10^5), not the test-scale default.

    ``n_shards=1`` recovers the single-stream-per-stratum semantics
    (useful when ``by`` is already fine-grained). The md5-bucket shard
    term is the same base-16→10 trick as :func:`mix_bucket`, so the
    DuckDB oracle reproduces placement bit-for-bit.

    Scale note: every input column rides the window exchange — project
    df down to what the export needs BEFORE placing (the aggregated
    :func:`pack_sequences` does exactly that)."""
    _check_pack_keys(n_shards, by, id_col, columns=df.columns)
    shard = (
        md5_bucket(F.col(id_col), n_shards) if n_shards > 1
        else F.lit(0).cast("long")
    )
    n = (
        F.col(len_col).cast("long") if len_col is not None
        else F.size(tokens("text")).cast("long")
    )
    w = (
        Window.partitionBy(by, "_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        df.withColumn("_shard", shard)
        .withColumn("n_len", n)
        .withColumn(
            "seq_id",
            F.floor(F.coalesce(F.sum("n_len").over(w), F.lit(0)) / budget),
        )
    )
    return placed.withColumnRenamed("_shard", "shard")


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    by: str = "lang",
    n_shards: int = 64,
) -> DataFrame:
    """Concat-and-chunk packing: one row per (stratum, shard, seq_id)
    with doc count, token total and id span — the rollup view of
    :func:`place_sequences` (see there for the placement rule, the
    shard-bounded window and the 100 TB sizing note). The window input
    is projected to (stratum, id, length) first so the exchange never
    carries document text."""
    _check_pack_keys(n_shards, by, id_col)
    slim = df.select(
        F.col(by),
        F.col(id_col),
        F.size(tokens("text")).cast("long").alias("_plen"),
    )
    placed = place_sequences(
        slim, budget, id_col=id_col, by=by, n_shards=n_shards,
        len_col="_plen",
    )
    return placed.groupBy(by, "shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_len").alias("seq_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def temperature_mix_rates(
    df: DataFrame,
    alpha: float = 0.5,
    budget: float = 0.5,
) -> DataFrame:
    """Per-stratum sampling rates for a TEMPERATURE-scaled corpus mix
    (the mT5/PaLM alpha-smoothing knob): the target share of stratum
    ``s`` is ``count_s^alpha / sum_t count_t^alpha`` — alpha = 1 keeps
    the natural mix, alpha -> 0 flattens it, 0 < alpha < 1 upweights
    rare domains — and the total kept volume is ``budget`` of the
    corpus. Returns one small row per stratum: ``(stratum, n_docs,
    rate)`` with ``rate = min(1, budget·N·share_s / count_s)``.

    Determinism (the oracle contract): the denominator
    ``sum_t count_t^alpha`` is a SEQUENTIAL fold over the strata sorted
    by name (``sort_array(collect_list(struct(...)))`` + ``aggregate``)
    — never a parallel ``sum`` of doubles, whose combine order varies
    run to run — so every engine computes bit-identical rates. With the
    default ``alpha = 0.5`` the weight is ``sqrt`` (correctly rounded
    IEEE, exactly portable); other alphas use ``pow`` and inherit its
    libm portability.

    Scale: two jobs over a by-construction tiny relation (one partial-
    agg count per stratum — domains number 10^2..10^6, not 10^12), and
    the result broadcasts into :func:`temperature_mix_sample`'s
    map-side filter."""
    cnt = F.col("n_docs").cast("double")
    w = F.sqrt(cnt) if alpha == 0.5 else F.pow(cnt, F.lit(float(alpha)))
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    stats = counts.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("source").alias("s"), w.alias("w")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("_denom"),
        F.sum("n_docs").alias("_n_total"),
    )
    return counts.join(F.broadcast(stats)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            ((F.lit(float(budget)) * F.col("_n_total")) * w / F.col("_denom")) / cnt,
        ).alias("rate"),
    )


def temperature_mix_sample(df: DataFrame, rates: DataFrame | None = None) -> DataFrame:
    """Temperature-scaled deterministic downsampling: compute (or take
    precomputed) :func:`temperature_mix_rates`, broadcast-join them on
    the stratum and keep a row iff ``mix_bucket(key) < rate ·
    MIX_BUCKETS`` — the same rerun-stable md5 rule as
    :func:`domain_mix_sample`, but with the rates DERIVED from the
    corpus itself instead of hand-specified. One tiny agg + one
    map-side filtered scan; nothing shuffles at corpus cardinality."""
    if rates is None:
        rates = temperature_mix_rates(df)
    r = rates.select("source", "rate")
    return df.join(F.broadcast(r), "source").filter(
        mix_bucket(F.col("doc_id")) < F.col("rate") * MIX_BUCKETS
    )


def unimax_quotas(
    df: DataFrame,
    budget_tokens: float,
    epoch_cap: float = 4.0,
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al., ICLR 2023
    "UniMax: Fairer and more effective language sampling for
    large-scale multilingual pretraining"): distribute a total token
    budget across strata as UNIFORMLY as possible subject to a
    per-stratum repeat ceiling — no stratum is sampled past
    ``epoch_cap`` epochs of its own corpus. The fix for temperature
    mixing's failure mode: alpha-smoothing still over-repeats tail
    languages (they get a share their corpus cannot supply without
    many epochs); UniMax caps repetition explicitly and hands the
    freed budget to languages that can absorb it.

    The allocation is classic WATERFILLING in closed form: sort strata
    by supply cap ascending (``cap_s = epoch_cap · n_tokens_s``); a
    stratum is SATURATED (gets its full cap) iff its cap fits under
    the waterline, and every unsaturated stratum gets the common
    waterline ``t = (budget − Σ_{saturated} cap) / n_unsaturated``.
    The saturated set is the longest ascending prefix where
    ``cap_i ≤ (budget − P_i) / (L − i)`` (``P_i`` = inclusive cap
    prefix sum) — one window pass, no iteration.

    Returns one row per stratum: ``(stratum, n_tokens, cap_tokens,
    quota_tokens, epochs_used)``, quota/epochs rounded to 6. If the
    budget exceeds total supply, every stratum is capped and the
    leftover is simply unspent (the audit columns make that visible).

    Determinism: the prefix sum runs over the global (cap, stratum)
    sort order sequentially, so both engines fold identically; this
    puts the strata relation through one task — fine, strata are
    languages (10..10^4 rows), never documents. Scale: one partial-agg
    token count per stratum is the only corpus-scale job."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    if epoch_cap <= 0:
        raise ValueError(f"epoch_cap must be > 0, got {epoch_cap}")
    from scraping_etl_spark.operators.textstats import tokens

    counts = (
        df.select(F.col("lang").alias("_g"), tokens("text").alias("_t"))
        .groupBy("_g")
        .agg(F.sum(F.size("_t")).cast("long").alias("n_tokens"))
        .withColumn(
            "cap_tokens",
            F.col("n_tokens").cast("double") * F.lit(float(epoch_cap)),
        )
    )
    w = Window.orderBy("cap_tokens", "_g")
    b = F.lit(float(budget_tokens))
    ranked = counts.select(
        "_g", "n_tokens", "cap_tokens",
        F.row_number().over(w).alias("_i"),
        F.sum("cap_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_p"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_l"),
    )
    saturated = F.when(
        F.col("_i") == F.col("_l"), F.col("_p") <= b
    ).otherwise(
        F.col("cap_tokens")
        <= (b - F.col("_p")) / (F.col("_l") - F.col("_i"))
    )
    flagged = ranked.withColumn("_sat", saturated)
    krow = flagged.agg(
        F.max(F.when(F.col("_sat"), F.col("_i"))).alias("_k"),
        F.max(F.when(F.col("_sat"), F.col("_p"))).alias("_pk"),
        F.max("_l").alias("_lk"),
    ).select(
        F.coalesce("_k", F.lit(0)).alias("_k"),
        F.coalesce("_pk", F.lit(0.0)).alias("_pk"),
        "_lk",
    )
    t = F.when(
        F.col("_k") == F.col("_lk"), F.lit(None).cast("double")
    ).otherwise((b - F.col("_pk")) / (F.col("_lk") - F.col("_k")))
    quota = F.when(
        F.col("_i") <= F.col("_k"), F.col("cap_tokens")
    ).otherwise(t)
    return (
        flagged.crossJoin(F.broadcast(krow))
        .select(
            F.col("_g").alias("lang"),
            "n_tokens",
            "cap_tokens",
            F.round(quota, 6).alias("quota_tokens"),
            F.round(
                quota / F.col("n_tokens").cast("double"), 6
            ).alias("epochs_used"),
        )
    )


def token_divergence(a: DataFrame, b: DataFrame) -> DataFrame:
    """Jensen-Shannon divergence between the unigram distributions of
    two corpora, per stratum — the drift/mixture monitor a training
    pipeline runs between snapshots (did this month's crawl shift the
    token distribution?), between a split's halves (is the val split
    representative?), or between pool and target (the DSIR feature-space
    distance, aggregated).

    Both distributions are add-one smoothed over the UNION vocabulary of
    the stratum, so unseen-on-one-side tokens contribute finite mass.
    Output: ``(stratum, v, n_a, n_b, js_div)`` with vocab size, token
    totals and the divergence in nats (0 = identical, ln 2 = disjoint).

    Determinism at scale — the FIXED-POINT trick: a float sum over an
    unbounded vocab cannot be folded in a guaranteed order without
    serializing each stratum through one task, so each token's term is
    rounded to an integer grid (``round(term · 1e9)`` → BIGINT) and
    the integers are summed — integer addition is associative, so any
    partial-aggregation order gives the bit-same total on every engine.
    Resolution is 1e-9 nats per token, far below anything a drift
    monitor acts on; bigint overflow needs |term|·1e9·vocab > 2^63 ≈
    vocab beyond 10^9 — not a unigram vocab.

    Plan shape: one explode+agg per side at (stratum, token) grain, a
    full-outer equi-join of the two count relations, a tiny per-stratum
    totals agg broadcast back, then one partial-agg sum. No windows, no
    collects, nothing single-task."""
    def _counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(F.col("lang"), F.explode(tokens("text")).alias("token"))
            .groupBy("lang", "token")
            .agg(F.count(F.lit(1)).alias(out))
        )

    j = (
        _counts(a, "ca")
        .join(_counts(b, "cb"), ["lang", "token"], "full_outer")
        .select(
            "lang",
            "token",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    totals = j.groupBy("lang").agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.count(F.lit(1)).alias("v"),
    )
    t = j.join(F.broadcast(totals), "lang")
    p = (F.col("ca") + F.lit(1.0)) / (F.col("n_a") + F.col("v"))
    q = (F.col("cb") + F.lit(1.0)) / (F.col("n_b") + F.col("v"))
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * (p * F.log(p / m) + q * F.log(q / m))
    fx = F.round(term * F.lit(1e9), 0).cast("long")
    return (
        t.withColumn("_fx", fx)
        .groupBy("lang")
        .agg(
            F.max("v").cast("long").alias("v"),
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
            F.round(F.sum("_fx") / F.lit(1e9), 6).alias("js_div"),
        )
    )


def stratified_quantiles_sketch(
    df: DataFrame,
    value_col: str,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """The SKETCH tier of :func:`stratified_quantiles`: per-stratum
    quantiles from a Datasketches KLL sketch (``kll_sketch_agg_bigint``)
    — single-pass, MERGEABLE (partial sketches combine associatively
    across partitions/days/corpora), with a proven normalized-rank
    error bound (~1.65% at its k = 200). At 100 TB this is the
    profiling path: the exact tier's histogram shuffle moves every
    distinct value; the sketch moves ~k doubles per partition and can
    be rolled up incrementally — the same exact/sketch split as
    ``doc_corpus_profile`` vs its HLL twin.

    Returns one row per (stratum, quantile): ``(stratum, quantile,
    value, n_rows)`` with the sketch's value estimate. Estimates are
    engine-specific (sketch internals), so correctness gates compare
    the estimate's EXACT RANK against the bound instead of the value —
    see the ``doc_length_quantiles_kll`` gate."""
    for q in quantiles:
        if not 0 < q <= 1:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    sk = df.groupBy("lang").agg(
        F.kll_sketch_agg_bigint(F.col(value_col).cast("bigint"), 200).alias("_sk"),
        F.count(F.lit(1)).alias("_n"),
    )
    picks = [
        F.kll_sketch_get_quantile_bigint("_sk", F.lit(float(q))).alias(f"_q{i}")
        for i, q in enumerate(quantiles)
    ]
    wide = sk.select("lang", F.col("_n"), *picks)
    stack = ", ".join(
        f"CAST({q!r} AS DOUBLE), _q{i}" for i, q in enumerate(quantiles)
    )
    return wide.select(
        "lang",
        F.expr(f"stack({len(quantiles)}, {stack}) AS (quantile, value)"),
        F.col("_n").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Consecutive-repeat collapse (normalization counterpart of the Gopher
# repetition STATS above — with_repetition_stats measures, this repairs)
# ---------------------------------------------------------------------------


def collapse_repeat_tokens(df: DataFrame) -> DataFrame:
    """Collapse runs of consecutively repeated tokens to a single
    occurrence ("the the the cat" -> "the cat") and report how many
    tokens the collapse removed.

    Scraped text is full of stutter artifacts (menu items rendered
    twice, OCR line doubling, template echo); Gopher-style filters
    MEASURE the duplication (:func:`with_repetition_stats`) and drop
    the worst docs, but mid-range docs are worth keeping after
    normalization. This is the repair half.

    Scale: ZERO shuffle — a higher-order ``filter`` with the index
    lambda (keep token i iff it differs from token i-1) and an
    ``array_join``, all inside whole-stage codegen. No explode, no
    window, no Python; the doc never leaves its partition. The
    predecessor lookup uses 0-based ``get`` (null out-of-bounds, so
    the first token compares null-safely against NULL and is kept —
    no ANSI index error, unlike ``element_at(…, 0)``). The token
    array is MATERIALIZED into a column before the lambda touches it:
    an outer reference to the raw ``split`` EXPRESSION would be
    re-evaluated per element (O(tokens²) per doc — measured 14x
    slower at sf0.1); a bound attribute is evaluated once per row.
    The oracle mirrors the filter with DuckDB's index lambda
    (``list_filter((x, i) -> ...)``, 1-based i).
    """
    toks = F.col("_cr_toks")
    kept = F.filter(
        toks,
        lambda x, i: ~x.eqNullSafe(F.get(toks, i - F.lit(1))),
    )
    return (
        df.withColumn("_cr_toks", tokens("text"))
        .withColumn("text_collapsed", F.array_join(kept, " "))
        .withColumn(
            "n_collapsed", (F.size(toks) - F.size(kept)).cast("long")
        )
        .drop("_cr_toks")
    )


# ---------------------------------------------------------------------------
# Adaptive per-stratum quality gate (composition: quality score x exact
# stratified quantiles -> data-driven keep threshold)
# ---------------------------------------------------------------------------


def adaptive_quality_gate(df: DataFrame, keep_frac: float = 0.5) -> DataFrame:
    """Keep the top ``keep_frac`` of each stratum by ``quality_score``,
    with the cutoff LEARNED from the data instead of hand-tuned: the
    threshold is the exact per-stratum ``percentile_disc(1 -
    keep_frac)`` of the score (via :func:`stratified_quantiles`), and
    a doc survives iff ``score >= threshold``.

    Fixed global thresholds misbehave across strata — a cutoff tuned
    on English deletes most of a lower-scoring language wholesale
    (the known failure mode of quality filtering multilingual
    corpora). A per-stratum rank cutoff keeps the same FRACTION
    everywhere. Ties at the threshold are kept (>=), so the realized
    fraction is >= keep_frac by at most the tie mass — deterministic,
    not a coin flip.

    Scale: the quantile side collapses to a value histogram first
    (score is rounded to 6dp upstream, so the domain is bounded at
    10^6 regardless of corpus size); the threshold relation is one
    row per stratum and broadcast back; the gate itself is a map-side
    filter. No corpus-sized shuffle beyond the histogram partial agg.
    """
    if not 0 < keep_frac <= 1:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    q = 1.0 - keep_frac
    if q <= 0:
        # keep everything: threshold below any score
        return df.withColumn("threshold", F.lit(0.0))
    thr = (
        stratified_quantiles(df, "quality_score", (q,))
        .select("lang", F.col("value").alias("threshold"))
    )
    return df.join(F.broadcast(thr), "lang").filter(
        F.col("quality_score") >= F.col("threshold")
    )


# ---------------------------------------------------------------------------
# Overlapping sliding-window chunking (RAG / context-window preparation)
# ---------------------------------------------------------------------------


def sliding_chunks(df: DataFrame, size: int = 64, stride: int = 48) -> DataFrame:
    """Overlapping token-window chunks — the retrieval-pipeline
    counterpart of :func:`token_chunks` (which cuts NON-overlapping
    windows for dedup): each chunk starts ``stride`` tokens after the
    previous one and spans ``size`` tokens, so consecutive chunks
    share ``size - stride`` tokens of context (the standard RAG
    chunking shape; a sentence falling on a cut boundary appears whole
    in the next chunk). The final window is the last start position
    <= n - size + 1 plus one tail window when a remainder exists —
    every token appears in at least one chunk, no empty tail chunk.

    Scale: ZERO shuffle — per-row ``sequence`` of start positions +
    ``slice`` over the bound token array, then one explode. Chunk
    count per doc is ceil(max(n - size, 0) / stride) + 1; output
    volume is the deliberate ~size/stride x duplication every RAG
    index pays. Returns (id, chunk_idx, chunk_text, n_tokens).
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if stride < 1 or stride > size:
        raise ValueError(f"stride must be in [1, size], got {stride}")

    def _chunks(t: Column) -> Column:
        n = F.size(t)
        last = F.greatest(n - size + 1, F.lit(1))
        # stride grid, plus the right-aligned tail start when the grid
        # doesn't land on it ((n - size) % stride != 0) — array_distinct
        # keeps first-occurrence order, so the tail stays last
        starts = F.when(
            n > 0,
            F.array_distinct(
                F.concat(
                    F.sequence(F.lit(1), last, F.lit(stride)),
                    F.array(last),
                )
            ),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda s, i: F.struct(
                i.cast("long").alias("chunk_idx"),
                F.array_join(F.slice(t, s, size), " ").alias("chunk_text"),
                F.least(n - s + 1, F.lit(size)).cast("long").alias("n_tokens"),
            ),
        )

    bound = _bind(tokens("text"), _chunks)
    return df.select(
        F.col("doc_id"), F.explode(bound).alias("_c")
    ).select(
        "doc_id",
        F.col("_c.chunk_idx").alias("chunk_idx"),
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.n_tokens").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM score
# ---------------------------------------------------------------------------

#: Absolute discount of the interpolated Kneser-Ney model. 0.75 is the
#: classic fixed setting (Chen & Goodman 1999 report the count-of-counts
#: estimate n1/(n1+2*n2) lands near it on natural text).
KN_DISCOUNT = 0.75


def with_kn_score(df: DataFrame, hot_threshold: int = HOT_GRAM_OCCS) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document — the smoothing
    family KenLM ships and the CCNet perplexity filter actually runs
    (Kneser & Ney 1995; Chen & Goodman 1999; Wenzek et al. 2019 score
    with a KenLM 5-gram). :func:`with_lm_score` is the add-one tier;
    this tier replaces the crude +1 mass with absolute discounting plus
    a CONTINUATION back-off — ``P(w2|w1) = max(c(w1w2)-D, 0)/c(w1.)
    + D*N1+(w1,.)/c(w1.) * N1+(.,w2)/T`` — so common-but-restricted
    words ("Francisco": frequent, but only ever after "San") stop
    inflating unseen-context probability. Self-scored form: the model
    is the corpus's own counts, every doc bigram is seen.

    Plan (all model tables derive from ONE bigram-count aggregate — the
    corpus is scanned once for grams):

    - ``pairs`` (doc, gram, n): explode + partial-agg, skew-free key;
    - ``bc`` (gram, c): partial-agg of pairs, ``localCheckpoint``-ed —
      FOUR consumers (context table, continuation table, type total,
      stats join) read materialized rows, not four explode replays;
    - context ``c(w1.)``/``N1+(w1,.)`` and continuation ``N1+(.,w2)``
      are aggregates of ``bc`` at vocabulary cardinality; per-key
      fan-out in the joins back is vocabulary branching, not corpus
      size; the 1-row type total joins via the non-foldable always-zero
      key (the :func:`with_lm_score` BNLJ-avoidance trick);
    - the scored join ``pairs ⋈ stats`` reuses :func:`with_lm_score`'s
      hot/cold decomposition verbatim: Zipf-hot grams score through a
      MEASURED capped broadcast, cold grams ride the shuffle join where
      AQE skew-split applies.

    Determinism: every model quantity is an exact integer; the float
    chain is one fixed-shape expression + ``ln``, and the per-doc mean
    is rounded to 6 (the module's cross-engine convention).
    """
    if hot_threshold < 1:
        raise ValueError(f"hot_threshold must be >= 1, got {hot_threshold}")
    lowered = F.lower(F.col("text"))
    pairs = (
        df.select(F.col("doc_id"), F.explode(word_grams(lowered, 2)).alias("_g"))
        .groupBy("doc_id", "_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        # pairs feeds the EAGER bc checkpoint below AND the final
        # hot/cold scoring plan — two separate jobs, so ReuseExchange
        # cannot span them and the corpus bigram explode ran twice;
        # materialize once (r17, the with_lm_score self-mode fix)
        .localCheckpoint()
    )
    bc = (
        pairs.groupBy("_g")
        .agg(F.sum("_n").alias("_cbi"))
        .withColumn("_w1", F.split_part(F.col("_g"), F.lit(" "), F.lit(1)))
        .withColumn("_w2", F.split_part(F.col("_g"), F.lit(" "), F.lit(2)))
        .localCheckpoint()
    )
    ctx = bc.groupBy("_w1").agg(
        F.sum("_cbi").alias("_cw1"), F.count(F.lit(1)).alias("_nf")
    )
    cont = bc.groupBy("_w2").agg(F.count(F.lit(1)).alias("_np"))
    tt = bc.agg(F.count(F.lit(1)).cast("double").alias("_t")).withColumn(
        "_k", F.pmod(F.xxhash64(F.col("_t")), F.lit(1))
    )
    logp = F.log(
        (
            F.greatest(F.col("_cbi") - F.lit(KN_DISCOUNT), F.lit(0.0))
            + F.lit(KN_DISCOUNT) * F.col("_nf") * F.col("_np") / F.col("_t")
        )
        / F.col("_cw1")
    )
    stats = (
        bc.join(ctx, "_w1")
        .join(cont, "_w2")
        .withColumn("_k", F.pmod(F.xxhash64("_g"), F.lit(1)))
        .join(F.broadcast(tt), "_k")
        .select("_g", "_cbi", logp.alias("_logp"))
        # consumed three ways (hot-set build, hot probe, cold join)
        .localCheckpoint()
    )
    scored_cols = [
        F.col("doc_id"),
        F.col("_n"),
        (F.col("_n") * F.col("_logp")).alias("_nlp"),
    ]
    hot = _cap_hot(stats.filter(F.col("_cbi") > hot_threshold))
    hot_scored = pairs.join(F.broadcast(hot), "_g").select(scored_cols)
    cold_base = pairs.join(F.broadcast(hot.select("_g")), "_g", "left_anti")
    cold_scored = cold_base.join(stats, "_g").select(scored_cols)
    agg = (
        hot_scored.unionByName(cold_scored)
        .groupBy("doc_id")
        .agg(
            F.sum("_n").alias("n_bigrams"),
            F.round(F.sum("_nlp") / F.sum("_n"), 6).alias("avg_logp_kn"),
        )
    )
    return (
        df.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("avg_logp_kn", F.lit(0.0)).alias("avg_logp_kn"),
        )
    )

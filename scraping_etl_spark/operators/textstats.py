"""Text-analysis operators for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` compositions — no Python UDFs — so the
whole stage codegens and the operators cost one scan at 100 TB. Each has
an exact ANSI-SQL mirror (see plans/registry.py) for the DuckDB oracle.

Capabilities (north-star extension over the reference's text handling,
which stops at regex scrubbing — DB/ETL.ipynb cell 25, raw 846-868):

- :func:`tokens` — whitespace tokenization.
- :func:`with_text_stats` — token/char counts, distinct-token ratio,
  mean token length (quality-scoring signals).
- :func:`stopword_ratio` — per-language stopword hit ratio (a
  classifier feature); :func:`lang_segments` votes with the same
  stopword hit counts per token window.
- :func:`char_ngram_profiles` / :func:`lang_id_ngram` — the canonical
  N-GRAM language ID (Cavnar & Trenkle 1994 rank profiles +
  out-of-place measure), the trainable tier above the stopword
  heuristic.
- :func:`with_fingerprint` — order-insensitive bag-of-words document
  fingerprint (md5 of the sorted distinct token set).
- :func:`with_quality_score` — composite [0,1] quality heuristic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Small per-language stopword marker sets for the heuristic language ID.
#: Deliberately tiny + fixed: the classifier must be deterministic and
#: SQL-mirrorable, not state-of-the-art.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "pas", "pour", "que", "dans"),
}


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once and pass it to ``fn`` as a lambda-bound
    variable (the single-evaluation hazard — same helper as
    ``dedup._bind``, local copy because dedup imports this module)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def tokens(text: Column | str, lowercase: bool = False) -> Column:
    """Whitespace tokens with empties removed (split on runs of space)."""
    c = F.col(text) if isinstance(text, str) else text
    if lowercase:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


def with_text_stats(df: DataFrame) -> DataFrame:
    """Token count, char count, distinct-token ratio, mean token length."""
    toks = tokens("text")
    n_tokens = F.size(toks)
    return (
        df.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("n_chars_actual", F.length(F.col("text")).cast("long"))
        .withColumn(
            "distinct_ratio",
            F.round(F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1)), 6),
        )
        .withColumn(
            "mean_token_len",
            F.round(
                F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
                / F.greatest(n_tokens, F.lit(1)),
                6,
            ),
        )
    )


def _stopword_member(stopwords: tuple[str, ...]):
    """Closure factory producing a *unary* lambda for ``F.filter``.

    PySpark's higher-order-function machinery inspects the lambda's arity;
    a default-argument trick (``lambda x, s=...:``) makes it binary and
    PySpark passes the element *index* Column as ``s``, which then raises
    NOT_ITERABLE on ``x.isin(*s)``. Binding via a closure keeps it unary.
    """
    return lambda x: x.isin(*stopwords)


def stopword_ratio(text_col: str) -> Column:
    """Fraction of tokens that are English stopwords (lowercased)."""
    toks = tokens(text_col, lowercase=True)
    hits = F.size(F.filter(toks, _stopword_member(STOPWORDS["en"])))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 6)


def type_profile(df: DataFrame) -> DataFrame:
    """Per-column runtime type-frequency profile (SURVEY A4).

    The reference profiles column types driver-side with pandas
    ``df[col].apply(type).value_counts()`` (DB/ETL.ipynb cell 8, raw
    166-170) to find mixed-type columns before schema coercion. The
    distributed form reads the table ONCE: each row projects to an
    array of (column, typeof, is_null) structs — one element per
    column — which explodes and feeds a single partial-agg groupBy.
    A union-of-per-column-scans shape would cost C full scans of a
    C-column table; this is one scan regardless of width (the explode
    fans out C× in-memory, which partial aggregation collapses before
    the shuffle). With explicit schemas the sql_type is constant per
    column — the null split is the remaining useful signal."""
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.typeof(F.col(c)).alias("sql_type"),
                F.col(c).isNull().alias("is_null"),
            )
            for c in df.columns
        ]
    )
    return (
        df.select(F.explode(entries).alias("_e"))
        .select("_e.column", "_e.sql_type", "_e.is_null")
        .groupBy("column", "sql_type", "is_null")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def char_ngrams(c: Column, n: int = 3) -> Column:
    """Character ``n``-grams of a string column (every offset, length
    ``n``); empty array below ``n`` chars. Guarded explicitly because
    Spark's ``sequence(1, 0)`` yields the DESCENDING ``[1, 0]`` rather
    than an empty range (DuckDB's ``generate_series(1, 0)`` is empty —
    the oracle mirror relies on the guard making both sides agree)."""
    spans = F.sequence(F.lit(1), F.length(c) - (n - 1))
    return F.when(
        F.length(c) >= n,
        F.transform(spans, lambda i: c.substr(i, F.lit(n))),
    ).otherwise(F.array().cast("array<string>"))


def _ct_norm(text_col: str) -> Column:
    """Cavnar-Trenkle text normalization: lowercase, whitespace runs
    collapsed to one space (so n-grams spanning word boundaries carry
    exactly one separator — mirrored verbatim in the oracle)."""
    return F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")


def _gram_runs_sorted(grams: Column) -> Column:
    """Per-row run-length-encoded gram profile ``(_nc = −count, gram)``
    structs, ordered (count desc, gram asc) — the FULL per-document
    gram histogram WITHOUT a (doc, gram) shuffle: sort the gram array,
    run-length encode with expressions (run starts = positions whose
    gram differs from the previous; run length = next start − start),
    sort the run structs. Per-row cost is O(len·log len) in the doc's
    own gram count. Every array is lambda-bound (single-evaluation
    hazard)."""
    empty = F.array().cast("array<struct<_nc:bigint,gram:string>>")

    def _runs(s: Column) -> Column:
        starts = F.filter(
            F.sequence(F.lit(1), F.size(s)),
            lambda i: (i == 1)
            | (F.element_at(s, i - 1) != F.element_at(s, i)),
        )

        def _structs(st: Column) -> Column:
            nxt = F.concat(
                F.slice(st, 2, F.size(st) - 1), F.array(F.size(s) + 1)
            )
            return F.zip_with(
                st,
                nxt,
                lambda a, b: F.struct(
                    (a - b).cast("long").alias("_nc"),
                    F.element_at(s, a).alias("gram"),
                ),
            )

        return _bind(starts, _structs)

    return _bind(
        grams,
        lambda g: F.when(
            F.size(g) > 0,
            F.sort_array(_bind(F.array_sort(g), _runs)),
        ).otherwise(empty),
    )


def _gram_top(grams: Column, doc_m: int) -> Column:
    """Top-``doc_m`` slice of :func:`_gram_runs_sorted` — the document
    rank profile used by the Cavnar-Trenkle distance (at corpus scale
    this per-row form replaces what was a corpus-wide (doc, gram)
    exploded aggregation — the hottest shuffle in the lang-ID plan,
    measured 6.6 s of an 8.5 s gate at sf0.1)."""
    return F.slice(_gram_runs_sorted(grams), 1, doc_m)


def char_ngram_profiles(df: DataFrame, n: int = 3, top_m: int = 80) -> DataFrame:
    """Per-language character-n-gram RANK profiles (Cavnar & Trenkle
    1994, "N-gram-based text categorization"): the ``top_m`` most
    frequent char ``n``-grams of each language's text, ranked 1-based
    by (count desc, gram asc — deterministic ties). Returns
    ``(lang, gram, rank int)`` — a model of L·top_m rows, broadcast
    material for :func:`lang_id_ngram`.

    Plan: one per-row RLE pass (each doc's gram histogram built
    array-side, :func:`_gram_runs_sorted`) + one (lang, gram)
    partial-agg shuffle over (doc, DISTINCT gram) rows — the
    occurrence-weighted sums of run lengths are integer-identical to
    counting exploded occurrences, but the explode fans out one row
    per distinct gram per doc instead of one per occurrence (guide
    §2.3 — aggregate before you shuffle; r16 optimization round). The
    rank window partitions per LANGUAGE over its n-gram vocabulary —
    bounded by the char-n-gram space (≲ a few 100k types for n=3),
    model-scale, never corpus-scale."""
    normed = df.select(
        F.col("lang"), _ct_norm("text").alias("_txt")
    )
    counts = (
        normed.select(
            "lang",
            F.explode(
                _gram_runs_sorted(char_ngrams(F.col("_txt"), n))
            ).alias("_e"),
        )
        .select("lang", F.col("_e.gram").alias("gram"),
                (-F.col("_e._nc")).alias("_n1"))
        .groupBy("lang", "gram")
        .agg(F.sum("_n1").alias("_c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("_c"), F.asc("gram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_m)
        .select("lang", "gram", F.col("rank").cast("int").alias("rank"))
    )


def lang_id_ngram(
    df: DataFrame,
    n: int = 3,
    top_m: int = 80,
    doc_m: int = 40,
    profiles: DataFrame | None = None,
    trained_m: int | None = None,
    carry_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """N-gram language ID (Cavnar & Trenkle 1994): rank the document's
    own top ``doc_m`` char n-grams, compare against each language's
    rank profile with the out-of-place measure — matched grams cost
    ``|doc_rank − lang_rank|``, unmatched ones
    ``max(profile_depth, doc_m)`` (profile depth = ``top_m`` when
    self-training, the model's own ``max(rank)`` with pretrained
    ``profiles``; the ``doc_m`` arm keeps matched ≤ unmatched even
    when the document profile is DEEPER than the model — a matched
    gram's cost is at most ``max(doc_m, depth) − 1``) —
    and predict the argmin language (ties: language name asc; a
    gramless doc is equidistant from every language and gets the
    alphabetically first). All-integer arithmetic, so the gate hash is
    exact. Pass ``profiles`` to score against a separately trained
    model (the deployment shape); default trains on ``df`` itself via
    its ``lang`` labels. Returns ``(doc_id, pred_lang, dist long)``.

    ``carry_cols`` threads doc-grained columns (e.g. the TRUE label)
    through the checkpointed doc-profile side and out beside the
    prediction — functionally dependent on the id, so the argmin
    groups are unchanged and the values identical; it exists so a
    caller wanting ``(truth, prediction)`` rows needn't join the
    corpus back in (one fewer corpus scan + shuffle per branch in
    the ``doc_lang_id_ngram`` gate, hash-identical output).

    Plan: the doc profile is built ENTIRELY array-side per row
    (:func:`_gram_top`: sort the doc's own gram array, run-length
    encode with expressions, sort the run structs, slice doc_m) — no
    (doc, gram) exploded aggregation anywhere, which was the plan's
    hottest shuffle AND its largest materialization (measured 6.6 s of
    an 8.5 s gate at sf0.1; also nothing serializes when AQE coalesces
    test-scale shuffles to few partitions). Self-training adds the one
    remaining explode: corpus grams straight into a (lang, gram)
    partial-agg rollup — vocabulary-bounded after map-side combine,
    far smaller than the old (doc, lang, gram) key. The profile join
    broadcasts L·top_m rows; the language axis is attached through a
    broadcast hash join on a non-foldable always-zero key (the
    :func:`~scraping_etl_spark.operators.corpus_prep.with_lm_score`
    trick — a literal key would fold into a BroadcastNestedLoopJoin);
    the argmin is ``min(struct(dist, lang))`` per doc — a partial agg,
    not a window. Nothing corpus-quadratic, no skewed keys (every
    wide key is doc- or (doc, lang)-grained; the training rollup is
    char-n-gram-vocabulary-bounded)."""
    dist = _ct_dist_relation(
        df, n, top_m, doc_m, profiles, trained_m, carry_cols
    )
    cc = [f"_cc{i}" for i in range(len(carry_cols))]
    best = dist.groupBy("_id", *cc).agg(
        F.min(F.struct("dist", "lang")).alias("_b")
    )
    return best.select(
        F.col("_id").alias("doc_id"),
        *[F.col(c).alias(orig) for c, orig in zip(cc, carry_cols)],
        F.col("_b.lang").alias("pred_lang"),
        F.col("_b.dist").alias("dist"),
    )


def _ct_dist_relation(
    df: DataFrame,
    n: int,
    top_m: int,
    doc_m: int,
    profiles: DataFrame | None,
    trained_m: int | None,
    carry_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """The Cavnar-Trenkle out-of-place DISTANCE relation ``(_id,
    [carries], lang, dist long)`` — one row per (doc, candidate
    language) — shared by :func:`lang_id_ngram` (argmin) and
    :func:`lang_id_ngram_margin` (top-2 + abstain). ``carry_cols``
    ride the checkpointed doc side as ``_cc<i>`` (renamed to dodge
    the candidate ``lang`` column). Plan documented on
    :func:`lang_id_ngram`."""
    cc = [f"_cc{i}" for i in range(len(carry_cols))]
    carries = [F.col(c).alias(a) for c, a in zip(carry_cols, cc)]
    if profiles is None:
        # Self-training: profiles, label space AND the per-doc rank
        # profiles all derive from ONE checkpointed per-row RLE pass
        # (r16 optimization round). The (lang, gram) training counts
        # are the occurrence-weighted sums of each doc's run lengths —
        # integer-identical to the old per-occurrence explode
        # (count(*) over exploded grams ≡ sum of per-doc run lengths),
        # but the corpus is scanned ONCE instead of twice, and the
        # rollup's map side sees one row per (doc, distinct gram)
        # instead of one per gram occurrence (guide §2.3 — aggregate
        # before you shuffle). The LABEL SPACE is the label column's
        # distinct values, not just labels that yielded grams: a
        # language whose training text is all sub-n-gram stays a
        # candidate (its empty profile scores everything out-of-place —
        # the property fuzz pinned this edge: an all-gramless corpus
        # must still emit one prediction per doc, not zero rows).
        dp_rle = (
            df.select(
                F.col("doc_id").alias("_id"), *carries,
                F.col("lang").alias("_lang"),
                _ct_norm("text").alias("_txt"),
            )
            .select(
                "_id", *cc, "_lang",
                _gram_runs_sorted(char_ngrams(F.col("_txt"), n)).alias(
                    "_rle"
                ),
            )
            .localCheckpoint()
        )
        label_space = dp_rle.select(F.col("_lang").alias("lang")).distinct()
        counts = (
            dp_rle.select(
                F.col("_lang").alias("lang"), F.explode("_rle").alias("_e")
            )
            .select("lang", F.col("_e.gram").alias("gram"),
                    (-F.col("_e._nc")).alias("_n1"))
            .groupBy("lang", "gram")
            .agg(F.sum("_n1").alias("_c"))
        )
        w = Window.partitionBy("lang").orderBy(F.desc("_c"), F.asc("gram"))
        profiles = (
            counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_m)
            .select("lang", "gram", F.col("rank").cast("int").alias("rank"))
        )
        dp_arr = dp_rle.select(
            "_id", *cc, F.slice("_rle", 1, doc_m).alias("_top")
        )
    else:
        # pretrained mode: the caller's model defines the label space
        # AND the unmatched-gram penalty. Cavnar-Trenkle's out-of-place
        # maximum is the model's profile depth, not this call's top_m —
        # if the profiles were trained with a larger top_m, a matched
        # low-rank gram must never cost more than an unmatched one, so
        # derive the penalty from max(rank) (one scalar off the
        # broadcast-sized model; empty model falls back to top_m). A
        # caller scoring MANY times against one model (the streaming
        # per-micro-batch shape) hoists the scalar once and passes
        # ``trained_m`` to skip the per-call driver action.
        if trained_m is None:
            # materialize the model ONCE (L·top_m rows — broadcast
            # material): the depth scalar below is an eager action and
            # the final plan consumes profiles twice more (label space
            # + the matched-join broadcast) — without the cut each
            # consumer re-ran the whole profile-training subtree (r17).
            # Callers that hoisted the scalar (``trained_m=`` — the
            # streaming per-micro-batch shape) manage their model's
            # lifecycle themselves and are untouched.
            profiles = profiles.localCheckpoint()
            trained_m = profiles.agg(F.max("rank")).first()[0]
        label_space = profiles.select("lang").distinct()
        top_m = int(trained_m) if trained_m is not None else top_m
        dp_arr = (
            df.select(
                F.col("doc_id").alias("_id"), *carries,
                _ct_norm("text").alias("_txt"),
            )
            .select(
                "_id", *cc,
                _gram_top(char_ngrams(F.col("_txt"), n), doc_m).alias("_top"),
            )
            # consumed by the profile explode AND the ng spine
            .localCheckpoint()
        )
    # out-of-place penalty: a matched gram costs |_dr − rank| ≤
    # max(doc_m, depth) − 1, so the unmatched penalty must take the
    # doc_m arm too or a deep doc profile against a shallow model
    # would price matches ABOVE misses (advice r12).
    penalty = max(top_m, doc_m)
    dprof = dp_arr.select(
        "_id", F.posexplode("_top").alias("_p", "_e")
    ).select("_id", F.col("_e.gram").alias("gram"), (F.col("_p") + 1).alias("_dr"))
    # non-foldable always-zero join keys: hashing an ATTRIBUTE (not a
    # literal — FoldablePropagation would constant-fold a literal key
    # and degrade the join to a BroadcastNestedLoopJoin). dp_arr has a
    # row for EVERY doc (gramless -> empty _top), so the spine reads
    # straight off it — no join back to df.
    ndocs = dp_arr.select(
        "_id", *cc, F.size("_top").alias("_ng")
    ).withColumn("_k", F.pmod(F.xxhash64(F.col("_ng")), F.lit(1)))
    langs = label_space.withColumn(
        "_k", F.pmod(F.xxhash64(F.col("lang")), F.lit(1))
    )
    matched = (
        dprof.join(F.broadcast(profiles), "gram")
        .groupBy("_id", "lang")
        .agg(
            F.sum(F.abs(F.col("_dr") - F.col("rank"))).alias("_s"),
            F.count(F.lit(1)).alias("_m"),
        )
    )
    return (
        ndocs.join(F.broadcast(langs), "_k")
        .join(matched, ["_id", "lang"], "left")
        .select(
            "_id",
            *cc,
            "lang",
            (
                F.coalesce(F.col("_s"), F.lit(0))
                + (F.col("_ng") - F.coalesce(F.col("_m"), F.lit(0)))
                * F.lit(penalty)
            ).cast("long").alias("dist"),
        )
    )


def lang_id_ngram_margin(
    df: DataFrame,
    n: int = 3,
    top_m: int = 80,
    doc_m: int = 40,
    min_margin: int = 1,
    carry_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """:func:`lang_id_ngram` with a CONFIDENCE MARGIN and abstention —
    the deployment-grade shape: a corpus screen that routes documents
    by language wants "don't know" on ambiguous text, not a coin-flip
    between two near-tied profiles (the CLD2/fastText `und` convention).

    Per doc, the two smallest out-of-place distances (tie order =
    (dist, lang) struct sort, same total order as the argmin);
    ``margin = dist₂ − dist₁``. The prediction abstains to ``'und'``
    when ``margin < min_margin``. A single-language label space has no
    second distance: ``margin`` is NULL and the prediction stands (no
    competitor to be confused with). Returns
    ``(id, pred_lang, dist, margin)``, all-integer so the gate hash is
    exact.

    Plan: the shared distance relation (see :func:`lang_id_ngram` —
    nothing corpus-quadratic), then ONE partial agg per doc:
    ``slice(sort_array(collect_list(struct(dist, lang))), 1, 2)`` —
    the collected list is L rows (the language axis, model-scale), so
    the agg state is bounded by the label space, never the corpus."""
    dist = _ct_dist_relation(df, n, top_m, doc_m, None, None, carry_cols)
    cc = [f"_cc{i}" for i in range(len(carry_cols))]
    top2 = dist.groupBy("_id", *cc).agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct("dist", "lang"))), 1, 2
        ).alias("_t")
    )
    first = F.element_at("_t", 1)
    second = F.element_at("_t", 2)  # NULL when only one language
    margin = (second["dist"] - first["dist"]).cast("long")
    return top2.select(
        F.col("_id").alias("doc_id"),
        *[F.col(c).alias(orig) for c, orig in zip(cc, carry_cols)],
        F.when(margin < min_margin, F.lit("und"))
        .otherwise(first["lang"])
        .alias("pred_lang"),
        first["dist"].cast("long").alias("dist"),
        margin.alias("margin"),
    )


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint: md5 over the sorted
    distinct token set. Identical-vocabulary documents collide by design
    (useful as a cheap near-dup blocking key); md5 keeps it mirrorable in
    any SQL engine."""
    toks = F.array_sort(F.array_distinct(tokens("text")))
    return df.withColumn("fingerprint", F.md5(F.concat_ws(" ", toks)))


def with_quality_score(df: DataFrame) -> DataFrame:
    """Composite quality heuristic in [0,1]:

    - length component: saturating token count (cap 200);
    - diversity component: distinct-token ratio;
    - stopword component: English stopword ratio clipped at 0.08
      (natural text has some stopwords; word soup may not).

    Weights fixed (0.4/0.4/0.2) and mirrored in the SQL oracle.
    """
    toks = tokens("text")
    n = F.size(toks)
    len_c = F.least(n / F.lit(200.0), F.lit(1.0))
    div_c = F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))
    sw = F.size(F.filter(tokens("text", lowercase=True), _stopword_member(STOPWORDS["en"])))
    sw_c = F.least((sw / F.greatest(n, F.lit(1))) / F.lit(0.08), F.lit(1.0))
    return df.withColumn(
        "quality_score", F.round(0.4 * len_c + 0.4 * div_c + 0.2 * sw_c, 6)
    )


#: GPT-2-style pre-tokenizer pattern, lookahead-free so both Java regex
#: (Spark) and RE2 (DuckDB) evaluate it identically: contraction
#: suffixes, space-prefixed letter runs, digit runs, punctuation runs,
#: whitespace runs.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_ish_tokens(text_col: Column | str) -> Column:
    """BPE-ish sub-word-ish tokenization (north-star token counting):
    the GPT-2 pre-tokenizer split as one ``regexp_extract_all`` — a
    JVM-side, codegen-friendly stand-in for a real BPE vocab merge (the
    merge table lookup would be the Pandas-UDF step; counting pre-tokens
    is the 100 TB-cheap proxy that tracks real token counts closely)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)
    # drop pure-whitespace matches: they pad the count, carry no signal
    return F.filter(toks, lambda x: x.rlike(r"\S"))


#: Rolling-hash parameters: polynomial base and the 2^61-1 Mersenne
#: prime. base*h + t stays < 2^63 only if h < 2^55 — so we reduce mod a
#: 31-bit prime instead, keeping every intermediate in int64 range for
#: ANSI-safe arithmetic in both engines.
ROLLING_BASE = 1_000_003
ROLLING_PRIME = 2_147_483_647


def rolling_fingerprint(text_col: Column | str) -> Column:
    """Order-SENSITIVE document fingerprint: Rabin-Karp polynomial
    rolling hash over the token sequence — ``h = (h·B + t_i) mod p``
    with each token's 28-bit md5-prefix hash as ``t_i``. The complement
    of :func:`with_fingerprint`'s order-insensitive bag hash: documents
    with the same vocabulary in a different order get different rolling
    fingerprints. One sequential fold per row, JVM-side, engine-portable
    (same arithmetic in the DuckDB oracle)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    hashed = F.transform(
        toks, lambda x: F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("long")
    )
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(ROLLING_BASE) + t) % F.lit(ROLLING_PRIME),
    )


def vocab_topk(df: DataFrame, k: int = 1000) -> DataFrame:
    """Tokenizer-style vocabulary build: the top-``k`` lowercased
    whitespace tokens by corpus frequency, with document frequency and
    a deterministic rank (ties broken by token text — the same total
    order a reproducible tokenizer build needs).

    Plan shape for 100 TB: explode → partial-aggregated groupBy(token)
    → ``TakeOrderedAndProject`` for the top-k (each partition keeps
    only k candidates; no global sort materializes). Only the k
    SURVIVORS pass through the single-partition rank window — k is a
    vocab size (10^3..10^5), driver-safe by construction."""
    counts = (
        df.select(F.explode(tokens("text", lowercase=True)).alias("token"),
                  F.col("doc_id"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    top = counts.orderBy(F.desc("n_occ"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n_occ"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w))


def pmi_collocations(df: DataFrame, k: int = 50, min_count: int = 5) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information
    (Church & Hanks 1990, "Word association norms, mutual information,
    and lexicography") — the classic corpus-analysis signal for
    multi-word expressions, which a tokenizer/vocab build wants (merge
    candidates) and a quality pipeline reads as phrase-level fluency:

        pmi(a, b) = ln( N · c(a,b) / (c(a) · c(b)) )

    over adjacent lowercased token pairs within each document
    (bigrams never cross document boundaries). ``min_count`` floors
    the bigram support — the standard guard against PMI's
    rare-pair explosion (a 1-occurrence pair of two hapaxes maxes the
    statistic; Church & Hanks use the same cutoff).

    Plan shape for 100 TB: bigram and unigram counts are two
    partial-aggregated groupBys over one tokenized scan each; the
    unigram relation joins back VOCABULARY-scale (un-hinted — AQE
    broadcasts when it fits, a web vocabulary may not); the bigram
    total is a 1-row scalar attached via the always-0-key BHJ (the
    ``heavy_hitters`` convention). Only ``min_count`` survivors pay
    the join; the top-k is ``TakeOrderedAndProject`` (no global
    sort). PMI is rounded to 6 decimals so the deterministic
    (pmi DESC, w1, w2) order — and the DuckDB oracle's replay of
    it — is exact."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = df.select(tokens("text", lowercase=True).alias("_t"))
    n = F.size("_t")
    pairs = toks.select(
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice("_t", F.lit(1), n - 1),
                    F.slice("_t", F.lit(2), n - 1),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        df.select(F.explode(tokens("text", lowercase=True)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    total = (
        big.agg(F.sum("c_ab").alias("n_big"))
        .withColumn("_k", F.pmod(F.xxhash64("n_big"), F.lit(1)))
    )
    scored = (
        big.filter(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b")), "w2")
        .withColumn("_k", F.pmod(F.xxhash64(F.lit(0)), F.lit(1)))
        .join(F.broadcast(total), "_k")
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.col("n_big").cast("double")
                    * F.col("c_ab")
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                6,
            ),
        )
    )
    top = scored.orderBy(F.desc("pmi"), "w1", "w2").limit(k)
    w = Window.orderBy(F.desc("pmi"), "w1", "w2")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "w1", "w2", "c_ab", "c_a", "c_b", "pmi"
    )


#: Fixed entropy alphabet: the 26 ASCII letters; everything else folds
#: into one "other" bucket. Bounded by construction, so the operator is
#: a zero-shuffle expression chain (27 counted classes), not an
#: explode at character cardinality.
ENTROPY_ALPHABET: tuple[str, ...] = tuple("abcdefghijklmnopqrstuvwxyz")


def with_char_entropy(df: DataFrame) -> DataFrame:
    """Character-class Shannon entropy + letter fraction — the gibberish
    / repeated-character / encoding-junk signal quality pipelines pair
    with token-level stats (RedPajama-v2 ships similar entropy-family
    signals; low entropy = stutter or padding, very high = random
    bytes).

    Per document over the lowercased text: the distribution over a
    FIXED 27-symbol alphabet (a-z + other) and its natural-log entropy
    ``-sum(p ln p)``. Fixing the alphabet is what keeps this a pure
    map-side expression at 100 TB: 26 ``replace``-count scans + one
    fold, no explode to character rows, no shuffle, whole-stage
    codegen. Empty documents score 0.

    Float discipline: class counts are exact integers, the fold order
    (a..z, then other) is identical in the DuckDB oracle, and the only
    libm op is ``ln``, rounded to 6 — the :func:`~scraping_etl_spark.
    operators.corpus_prep.with_lm_score` convention.
    """
    s = F.lower(F.col("text"))
    out = df.withColumn("_s", s).withColumn(
        "_L", F.length(F.col("_s")).cast("double")
    )
    counts = F.array(
        *[
            (
                F.length(F.col("_s"))
                - F.length(F.replace(F.col("_s"), F.lit(ch), F.lit("")))
            ).cast("double")
            for ch in ENTROPY_ALPHABET
        ]
    )
    out = out.withColumn("_counts", counts)
    alpha = F.aggregate(
        F.col("_counts"), F.lit(0.0), lambda acc, x: acc + x
    )
    out = out.withColumn("_alpha", alpha)
    all_counts = F.concat(
        F.col("_counts"), F.array(F.col("_L") - F.col("_alpha"))
    )
    term = lambda acc, x: acc + F.when(  # noqa: E731 — fold step
        x > 0, (x / F.col("_L")) * F.log(x / F.col("_L"))
    ).otherwise(F.lit(0.0))
    ent = F.when(
        F.col("_L") > 0,
        F.round(-F.aggregate(all_counts, F.lit(0.0), term), 6),
    ).otherwise(F.lit(0.0))
    frac = F.when(
        F.col("_L") > 0, F.round(F.col("_alpha") / F.col("_L"), 6)
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("char_entropy", ent)
        .withColumn("alpha_frac", frac)
        .drop("_s", "_L", "_counts", "_alpha")
    )


def keyword_extract(df: DataFrame, top_k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF keywords over the EXACT vocabulary —
    the classic keyword-extraction / document-tagging primitive (the
    hashed sibling is :func:`~scraping_etl_spark.operators.classifier.
    hashing_tfidf`; this tier keeps real tokens because the output IS
    the tokens). idf follows the same smoothed convention,
    ``ln((N+1)/(df+1)) + 1``.

    Returns ``(id, rank, token, tfidf)`` with ``rank`` 1..k by
    ``(tfidf desc, token)`` — the rank key uses the ROUNDED score, so
    ordering is reproducible cross-engine.

    Plan: one explode + (doc, token) partial agg; df is an aggregate
    of that relation (vocabulary cardinality); the score join runs at
    (doc, token) grain keyed by token — a hash equi-join whose hot
    keys ("the") are exactly the lm_score Zipf shape: AQE skew-split
    applies, and the hot/cold capped-broadcast decomposition
    (``corpus_prep.with_lm_score``) is the documented escalation if a
    deployment needs it. The top-k window partitions by document —
    per-partition work is doc vocabulary, never corpus-wide. The
    corpus size for idf costs one count job (the ``hashing_tfidf``
    convention).
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    tf = (
        df.select(
            F.col("doc_id"), F.explode(tokens("text", lowercase=True)).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_docs = df.select("doc_id").distinct().count()
    idf = tf.groupBy("token").agg(
        (
            F.log(
                F.lit(float(n_docs + 1))
                / (F.count_distinct(F.col("doc_id")).cast("double") + F.lit(1.0))
            )
            + F.lit(1.0)
        ).alias("_idf")
    )
    scored = tf.join(idf, "token").select(
        F.col("doc_id"),
        "token",
        F.round(F.col("tf") * F.col("_idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", F.col("rank").cast("long").alias("rank"), "token", "tfidf")
    )


def zipf_fit(df: DataFrame, top_r: int = 200) -> DataFrame:
    """Per-stratum Zipf's-law fit — the corpus-health law a datasheet
    reports (Zipf 1949; natural-language corpora fit ln(freq) ≈ a +
    b·ln(rank) with b ≈ −1 over the head of the vocabulary; spam,
    boilerplate floods, template expansions and encoding junk all bend
    the slope or kill the linear fit, so (slope, r²) is a cheap
    corpus-drift alarm per language slice).

    Plan: one (stratum, word) partial-agg shuffle, a per-stratum
    row_number over (count DESC, word) — vocabulary-scale, the
    deterministic total order every rank gate here uses — then the
    least-squares closed form over the top ``top_r`` ranks as plain
    aggregate arithmetic (no MLlib, no collect). Type/token counts
    come from the same word-count relation before the rank cut.

    Returns ``(stratum, n_tokens, n_types, zipf_slope, zipf_intercept,
    zipf_r2)`` with the fit columns rounded to 6 (the oracle-hash
    convention). Degeneracy: the fit's x values are ln(rank) — always
    distinct — so ``dxx`` only collapses for a single head row
    (one-type stratum), which reports nulls; r² additionally nulls
    when every head FREQUENCY ties (``dyy = 0``, a flat line with no
    variance to explain).
    """
    if top_r < 2:
        raise ValueError(f"top_r must be >= 2, got {top_r}")
    wc = (
        df.select(
            F.col("lang").alias("_g"),
            F.explode(tokens("text", lowercase=True)).alias("_w"),
        )
        .groupBy("_g", "_w")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    return zipf_fit_from_counts(wc, top_r=top_r)


def zipf_fit_from_counts(
    wc: DataFrame,
    strata_col: str = "lang",
    top_r: int = 200,
) -> DataFrame:
    """:func:`zipf_fit` from an already-aggregated ``(_g, _w, _c)``
    word-count relation — the entry point MERGEABLE state uses: per-
    batch word counts sum across micro-batches (the streaming drift
    monitor's lake), then this fit runs over the cumulative counts.
    Identical arithmetic to :func:`zipf_fit` (which delegates here)."""
    totals = wc.groupBy("_g").agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    w = Window.partitionBy("_g").orderBy(F.col("_c").desc(), F.col("_w"))
    head = (
        wc.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top_r)
        .select(
            "_g",
            F.log(F.col("_r").cast("double")).alias("_x"),
            F.log(F.col("_c").cast("double")).alias("_y"),
        )
    )
    n = F.count(F.lit(1)).cast("double")
    fit = head.groupBy("_g").agg(
        n.alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    slope, intercept, r2 = _ls_fit(
        F.col("_n"), F.col("_sx"), F.col("_sy"),
        F.col("_sxx"), F.col("_syy"), F.col("_sxy"),
    )
    return (
        totals.join(fit, "_g")
        .select(
            F.col("_g").alias(strata_col),
            "n_tokens",
            "n_types",
            F.round(slope, 6).alias("zipf_slope"),
            F.round(intercept, 6).alias("zipf_intercept"),
            F.round(r2, 6).alias("zipf_r2"),
        )
    )


def _ls_fit(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
            sxy: Column) -> tuple[Column, Column, Column]:
    """Closed-form least-squares (slope, intercept, r²) from the five
    moment sums — shared by the corpus-law fits (:func:`zipf_fit`,
    :func:`heaps_fit`); degenerate spreads (all x equal) yield nulls
    via ``nullif``."""
    dxx = n * sxx - sx * sx
    dyy = n * syy - sy * sy
    dxy = n * sxy - sx * sy
    slope = dxy / F.nullif(dxx, F.lit(0.0))
    intercept = (sy - slope * sx) / n
    r2 = (dxy * dxy) / F.nullif(dxx * dyy, F.lit(0.0))
    return slope, intercept, r2


def heaps_fit(df: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Per-stratum Heaps'-law fit — the other corpus growth law a
    datasheet carries (Heaps 1978: vocabulary grows as V ≈ K·N^β with
    β ≈ 0.4-0.6 for natural text; template floods and boilerplate
    clones push β toward 0, OCR noise and encoding junk toward 1, so
    the exponent is a second cheap corpus-drift alarm alongside
    :func:`zipf_fit`'s slope).

    Measuring V(N) needs nested corpus prefixes. A global document
    sort is a single-partition window — wrong at scale — so prefixes
    come from the md5-bucket trick instead (:func:`corpus_prep.
    md5_bucket`, the ``split_corpus`` convention): every document maps
    to one of ``n_buckets`` deterministic buckets, prefix k = buckets
    0..k. The hash order is also exactly the random document order
    Heaps measurement wants (a crawl-date order would confound the law
    with topic drift). The plan is then all partial-agg shuffles: per
    (stratum, word) min-bucket (a word first enters the vocabulary at
    its smallest bucket), per (stratum, bucket) token counts, a
    constant-width cumulative window (``n_buckets`` rows per stratum),
    and the shared closed-form fit over the ln-ln points.

    Returns one row per (stratum, bucket): the cumulative corpus point
    ``(n_tokens_cum, n_types_cum)`` plus the per-stratum fit
    ``(heaps_beta, heaps_logk, heaps_r2)`` repeated on each row (fit
    columns rounded to 6, the oracle-hash convention). Buckets whose
    cumulative prefix is still empty carry zeros and are excluded from
    the fit.
    """
    from scraping_etl_spark.operators.corpus_prep import md5_bucket

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    toks = df.select(
        F.col("lang").alias("_g"),
        md5_bucket(F.col("doc_id"), n_buckets).alias("_b"),
        F.explode(tokens("text", lowercase=True)).alias("_w"),
    )
    first_seen = (
        toks.groupBy("_g", "_w")
        .agg(F.min("_b").alias("_b"))
        .groupBy("_g", "_b")
        .agg(F.count(F.lit(1)).alias("_new_types"))
    )
    tok_counts = toks.groupBy("_g", "_b").agg(
        F.count(F.lit(1)).alias("_n_tokens")
    )
    grid = (
        df.select(F.col("lang").alias("_g"))
        .distinct()
        .select("_g", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("_b"))
    )
    w = (
        Window.partitionBy("_g")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pts = (
        grid.join(first_seen, ["_g", "_b"], "left")
        .join(tok_counts, ["_g", "_b"], "left")
        .select(
            "_g", "_b",
            F.sum(F.coalesce("_n_tokens", F.lit(0))).over(w)
            .cast("long").alias("n_tokens_cum"),
            F.sum(F.coalesce("_new_types", F.lit(0))).over(w)
            .cast("long").alias("n_types_cum"),
        )
    )
    xy = pts.filter(F.col("n_tokens_cum") > 0).select(
        "_g",
        F.log(F.col("n_tokens_cum").cast("double")).alias("_x"),
        F.log(F.col("n_types_cum").cast("double")).alias("_y"),
    )
    fit = xy.groupBy("_g").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    slope, intercept, r2 = _ls_fit(
        F.col("_n"), F.col("_sx"), F.col("_sy"),
        F.col("_sxx"), F.col("_syy"), F.col("_sxy"),
    )
    return pts.join(fit, "_g").select(
        F.col("_g").alias("lang"),
        F.col("_b").alias("bucket"),
        "n_tokens_cum",
        "n_types_cum",
        F.round(slope, 6).alias("heaps_beta"),
        F.round(intercept, 6).alias("heaps_logk"),
        F.round(r2, 6).alias("heaps_r2"),
    )


def lang_segments(
    df: DataFrame,
    langs: tuple[str, ...] = ("en", "de", "es", "fr"),
    chunk_tokens: int = 16,
) -> DataFrame:
    """Within-document language segmentation — the code-switching
    detector a multilingual corpus needs (CCNet splits crawl documents
    before per-language filtering because one page often carries an
    English boilerplate frame around native content; a doc-level label
    mislabels every such page and a doc-level filter throws away the
    good half). Fixed windows of ``chunk_tokens`` tokens get the
    stopword-hit language vote (argmax of per-language hit counts,
    ties to the earlier language in ``langs``, 'unknown' when nothing
    hits), and consecutive same-label windows collapse into segments.

    Plan: per-row token posexplode → one (doc, chunk) partial-agg
    shuffle carrying a hit-count column per language (plan constants,
    no joins) → the lag/running-sum segment collapse over a per-doc
    window (rows per doc = its chunk count — bounded by doc length,
    never corpus-wide). Everything is integer/string arithmetic an
    exact SQL mirror reproduces.

    Returns one row per segment: ``(doc_id, seg_idx, lang,
    start_chunk, end_chunk, n_tokens)`` with ``seg_idx`` 0-based in
    chunk order. Docs with no tokens yield no rows.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    toks = df.select(
        F.col("doc_id"),
        F.posexplode(tokens("text", lowercase=True)).alias("_pos", "_tok"),
    ).select(
        "doc_id",
        F.floor(F.col("_pos") / chunk_tokens).cast("long").alias("_chunk"),
        "_tok",
    )
    hits = toks.groupBy("doc_id", "_chunk").agg(
        F.count(F.lit(1)).cast("long").alias("_n_tokens"),
        *[
            F.sum(
                F.when(F.col("_tok").isin(*STOPWORDS[lang]), 1).otherwise(0)
            ).cast("long").alias(f"_h_{lang}")
            for lang in langs
        ],
    )
    best = F.lit("unknown")
    best_score = F.lit(0).cast("long")
    for lang in reversed(langs):
        s = F.col(f"_h_{lang}")
        take = (s > 0) & (s >= best_score)
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    labeled = hits.select(
        "doc_id", "_chunk", "_n_tokens", best.alias("_lang")
    )
    w = Window.partitionBy("doc_id").orderBy("_chunk")
    segs = (
        labeled.withColumn(
            "_new",
            F.when(
                F.lag("_lang").over(w).isNull()
                | (F.lag("_lang").over(w) != F.col("_lang")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_seg",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - 1,
        )
    )
    return segs.groupBy("doc_id", "_seg").agg(
        # _lang is constant within a segment by construction; min() is
        # the determinism-safe way to say "the" value
        F.min("_lang").alias("lang"),
        F.min("_chunk").alias("start_chunk"),
        F.max("_chunk").alias("end_chunk"),
        F.sum("_n_tokens").cast("long").alias("n_tokens"),
    ).select(
        "doc_id",
        F.col("_seg").cast("long").alias("seg_idx"),
        "lang",
        "start_chunk",
        "end_chunk",
        "n_tokens",
    )

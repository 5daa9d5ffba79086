"""Driver-gate faces for the corpus-preparation operators.

Each query here is the registry face of an operator in
``operators/corpus_prep.py`` (PII scrub, repetition stats, chunk
dedup, decontamination, domain-mix sampling, sequence packing),
``operators/interval.py`` (bucketed point-in-interval join) or
``operators/textstats.py`` (``vocab_topk``), paired with an exact
DuckDB oracle. The operators were written oracle-portable on purpose
(regexes in the Java∩RE2 common subset, md5-bucket arithmetic,
window sums — see the corpus_prep module docstring); these gates
cash that in.

Corpus-construction notes, same convention as ``plans/ml_ops.py``:
the synthetic ``documents`` table contains neither PII nor duplicate
texts, so the PII query appends deterministic PII spans (mirrored in
the oracle) and the chunk-dedup query unions a re-keyed copy of the
first 50 docs — the operator then has real work to do while staying
hash-comparable.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_etl_spark.operators import bpe as BPE
from scraping_etl_spark.operators import corpus_prep as CP
from scraping_etl_spark.operators.interval import interval_join
from scraping_etl_spark.operators.textstats import tokens, vocab_topk
from scraping_etl_spark.sources.readers import load_table

_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
_LTOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"

#: SQL mirror of :func:`_with_injected_pii` — ONE copy shared by every
#: oracle that injects (the Spark injector + this fragment are the only
#: two places the injection rule lives).
_INJECT_PII_SQL = """
  SELECT doc_id, lang,
         text || CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN ' reach user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or 555-867-5309'
           WHEN 1 THEN ' ssn 123-45-6789 card 4111-1111-1111-1111'
           WHEN 2 THEN ' server 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
           ELSE '' END AS text
  FROM documents
"""


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

def _with_injected_pii(d: DataFrame) -> DataFrame:
    """Append deterministic PII spans (the synthetic corpus has none):
    emails + a phone on doc_id ≡ 0 (mod 4), an SSN + a dashed card on
    ≡ 1, an IP on ≡ 2, nothing on ≡ 3 — so every pattern fires, the
    card-before-phone ordering is exercised (the dashed card contains a
    3-3-4 digit suffix), and a quarter of the corpus is a no-op."""
    mod = F.col("doc_id") % 4
    suffix = (
        F.when(
            mod == 0,
            F.concat(
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-867-5309"),
            ),
        )
        .when(mod == 1, F.lit(" ssn 123-45-6789 card 4111-1111-1111-1111"))
        .when(
            mod == 2,
            F.concat(F.lit(" server 10.0.0."), (F.col("doc_id") % 250).cast("string")),
        )
        .otherwise(F.lit(""))
    )
    return d.withColumn("text", F.concat(F.col("text"), suffix))


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction gate: inject deterministic PII, scrub with the
    ordered ``regexp_replace`` chain, emit the md5 of the scrubbed text
    (proves the replacement bytes, not just the counts) plus the
    per-category match counts against the original text."""
    d = load_table(spark, sf_dir, "documents")
    out = CP.scrub_pii(_with_injected_pii(d))
    return out.select(
        "doc_id",
        F.md5("text_scrubbed").alias("scrub_md5"),
        "n_email", "n_ssn", "n_card", "n_phone", "n_ipv4",
    )


def _pii_oracle() -> str:
    scrub = "text"
    for _, pat, rep in CP.PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{rep}', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in CP.PII_PATTERNS
    )
    return f"""
WITH injected AS (
{_INJECT_PII_SQL}
)
SELECT doc_id,
       md5({scrub}) AS scrub_md5,
       {counts}
FROM injected
"""


ORACLE_DOC_PII_SCRUB = _pii_oracle()


# ---------------------------------------------------------------------------
# Repetition stats
# ---------------------------------------------------------------------------

def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals over the documents table; the
    synthetic corpus has a ~30-word vocabulary, so the dup fractions
    are high and the thresholds genuinely split the rows."""
    d = load_table(spark, sf_dir, "documents")
    return CP.with_repetition_stats(d).select(
        "doc_id", "dup_token_frac", "dup_trigram_frac",
        "top_bigram_frac", "n_bigrams", "repeated_flag",
    )


ORACLE_DOC_REPETITION_STATS = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, t,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [] END AS tri,
         CASE WHEN len(t) >= 2
              THEN list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1])
              ELSE [] END AS bi
  FROM tok
),
per_row AS (
  SELECT doc_id,
         CASE WHEN len(t) > 0
              THEN round(1.0 - len(list_distinct(t)) / len(t), 6)
              ELSE 0.0 END AS dup_token_frac,
         CASE WHEN len(tri) > 0
              THEN round(1.0 - len(list_distinct(tri)) / len(tri), 6)
              ELSE 0.0 END AS dup_trigram_frac
  FROM grams
),
bg AS (
  SELECT doc_id, g, count(*) AS n
  FROM (SELECT doc_id, unnest(bi) AS g FROM grams)
  GROUP BY 1, 2
),
top AS (
  SELECT doc_id,
         round(max(n) / sum(n), 6) AS top_bigram_frac,
         CAST(sum(n) AS BIGINT) AS n_bigrams
  FROM bg GROUP BY 1
)
SELECT p.doc_id,
       dup_token_frac,
       dup_trigram_frac,
       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       ((coalesce(top_bigram_frac, 0.0) > 0.18
         AND coalesce(n_bigrams, 0) >= 20)
        OR dup_trigram_frac > 0.30) AS repeated_flag
FROM per_row p LEFT JOIN top USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Chunk dedup
# ---------------------------------------------------------------------------

def q_doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk sharing over documents ∪ a re-keyed copy of
    the first 50 docs (the corpus has no natural duplicates) — the
    copied docs and their originals share every chunk."""
    d = load_table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return CP.chunk_dedup_stats(d.unionByName(dup)).select(
        "doc_id", "n_chunks", "n_shared", "shared_frac"
    )


ORACLE_DOC_CHUNK_DEDUP = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
),
tok AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
chunks AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(t, i, i + 9), ' ')) AS h
  FROM (
    SELECT doc_id, t,
           unnest(CASE WHEN len(t) > 0
                       THEN generate_series(1, len(t), 10)
                       ELSE [] END) AS i
    FROM tok
  )
),
dpc AS (SELECT h, count(*) AS docs FROM chunks GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) / count(*), 6)
         AS shared_frac
FROM chunks JOIN dpc USING (h)
GROUP BY 1
"""


_CDC_W, _CDC_D = 4, 8


def q_doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup gate: documents ∪ an EDITED copy
    of the doc_id ≡ 0 (mod 3) slice (three boilerplate tokens
    prepended, re-keyed +1e6). Fixed-stride chunking shares ~zero
    chunks across such a shifted pair; CDC boundaries re-synchronize
    within one window of the edit, so the copies share most chunks —
    the property the hash pins (corpus_prep.cdc_chunks +
    chunk_dedup_stats with a custom chunker)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edited = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.lit("mirror site boilerplate "), F.col("text")).alias("text"),
    )
    return CP.chunk_dedup_stats(
        d.unionByName(edited),
        chunks=CP.cdc_chunks("text", window=_CDC_W, divisor=_CDC_D),
    ).select("doc_id", "n_chunks", "n_shared", "shared_frac")


ORACLE_DOC_CDC_CHUNKS = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, 'mirror site boilerplate ' || text
  FROM documents WHERE doc_id % 3 = 0
),
tok AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
geo AS (
  SELECT doc_id, t, len(t) AS n,
         list_filter(
           generate_series({_CDC_W}, len(t) - 1),
           i -> (('0x' || substr(md5(array_to_string(
                   list_slice(t, i - {_CDC_W - 1}, i), ' ')), 1, 15)
                )::BIGINT % {_CDC_D}) = 0
         ) AS bpos
  FROM tok WHERE len(t) > 0
),
cuts AS (
  SELECT doc_id, t,
         [1] || list_transform(bpos, p -> p + 1) AS starts,
         bpos || [n] AS ends
  FROM geo
),
chunks AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(starts)),
           j -> md5(array_to_string(list_slice(t, starts[j], ends[j]), ' '))
         )) AS h
  FROM cuts
),
dpc AS (SELECT h, count(*) AS docs FROM chunks GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) / count(*), 6)
         AS shared_frac
FROM chunks JOIN dpc USING (h)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------

def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination gate: the 'benchmark' is the doc_id ≡ 0
    (mod 97) slice of the corpus itself (deterministic, non-empty at
    every sf); with a ~30-word vocabulary many training docs share a
    5-gram with it, so both flag values occur."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return CP.decontaminate(d, bench, k=5).select(
        "doc_id", "n_hits", "contaminated"
    )


ORACLE_DOC_DECONTAMINATE = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(
                     generate_series(1, len(t) - 4),
                     i -> array_to_string(list_slice(t, i, i + 4), ' ')))
              ELSE [] END AS s
  FROM tok
),
bgrams AS (
  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0
),
tgrams AS (SELECT doc_id, unnest(s) AS g FROM sh),
hits AS (
  SELECT doc_id, count(*) AS n
  FROM tgrams JOIN bgrams USING (g)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
       coalesce(n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Domain-mix sampling
# ---------------------------------------------------------------------------

#: lang → survival rate for the gate (fr/es fall to the 0.0 default).
_MIX_RATES = {"de": 1.0, "en": 0.5, "zh": 0.25}


def q_doc_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling gate: keep all de, half of en,
    a quarter of zh, none of fr/es — the md5-bucket rule is
    bit-portable, so the oracle reproduces the exact surviving set."""
    d = load_table(spark, sf_dir, "documents")
    return CP.domain_mix_sample(d, _MIX_RATES).select("doc_id", "lang")


def _mix_oracle() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {int(rate * CP.MIX_BUCKETS)}"
        for lang, rate in sorted(_MIX_RATES.items())
    )
    return f"""
SELECT doc_id, lang
FROM documents
WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        % {CP.MIX_BUCKETS})
      < CASE lang {cases} ELSE 0 END
"""


ORACLE_DOC_DOMAIN_MIX = _mix_oracle()


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256

#: Shard count for the packing gates — small enough that each
#: (lang, shard) slice at sf0.01 still packs multi-doc sequences,
#: large enough that the sharded window key is genuinely exercised.
_PACK_SHARDS = 8

#: SQL mirror of :func:`corpus_prep.md5_bucket` over the doc id —
#: the shard term of the packing window, shared by both packing oracles.
_PACK_SHARD_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    f" % {_PACK_SHARDS})"
)


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing gate: 256-token sequences per
    (language, md5-shard) window partition (docs are ≤99 tokens, so
    sequences hold ~2-5 docs and some docs straddle a boundary — the
    first-token placement rule is exercised; the shard term in the
    window key is the 100 TB guard: no partition ever sorts a whole
    language)."""
    d = load_table(spark, sf_dir, "documents")
    return CP.pack_sequences(
        d, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    ).select(
        "lang", "shard", "seq_id", "n_docs", "seq_tokens", "first_doc", "last_doc"
    )


ORACLE_DOC_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT lang, doc_id,
         {_PACK_SHARD_SQL} AS shard,
         CAST(len({_TOKS}) AS BIGINT) AS n
  FROM documents
),
placed AS (
  SELECT lang, shard, doc_id, n,
         CAST(floor(coalesce(
           sum(n) OVER (PARTITION BY lang, shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) / {_PACK_BUDGET}) AS BIGINT) AS seq_id
  FROM toks
)
SELECT lang, shard, seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS seq_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM placed
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Bucketed interval join (operators/interval.py gate)
# ---------------------------------------------------------------------------

#: One day in microseconds — events span ~30 days, so per-(user, type)
#: intervals explode into ≤31 buckets each.
_IV_BUCKET_US = 86_400_000_000


def q_event_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval gate: intervals are each user's [min ts,
    max ts] activity span per event type; points are all of the user's
    events. The bucketed join is a plain hash equi-join on
    (user_id, day-bucket) — the plan-shape test asserts no
    BroadcastNestedLoopJoin/CartesianProduct appears."""
    e = load_table(spark, sf_dir, "events")
    points = e.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    intervals = e.groupBy("user_id", "event_type").agg(
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
    )
    joined = interval_join(
        points, intervals, "ts_us", "start_us", "end_us",
        by="user_id", bucket_width=_IV_BUCKET_US,
    )
    return joined.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("event_id").alias("first_event"),
    )


ORACLE_EVENT_INTERVAL_JOIN = """
WITH pts AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
),
iv AS (
  SELECT user_id, event_type,
         min(epoch_us(ts)) AS start_us,
         max(epoch_us(ts)) AS end_us
  FROM events GROUP BY 1, 2
)
SELECT iv.user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_points,
       min(event_id) AS first_event
FROM pts JOIN iv
  ON pts.user_id = iv.user_id
 AND ts_us BETWEEN start_us AND end_us
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Tokenizer vocabulary (textstats.vocab_topk gate)
# ---------------------------------------------------------------------------

#: The synthetic vocabulary is ~31 tokens — k=20 makes the top-k cut
#: real (TakeOrderedAndProject actually drops rows).
_VOCAB_K = 20


def q_doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocab build gate: top-20 lowercased tokens by corpus
    frequency with doc frequency and a deterministic tie-broken rank."""
    d = load_table(spark, sf_dir, "documents")
    return vocab_topk(d, k=_VOCAB_K).select("token", "n_occ", "n_docs", "rank")


# ---------------------------------------------------------------------------
# Full corpus-prep pipeline composition
# ---------------------------------------------------------------------------

def q_doc_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole prep pipeline as ONE query — the composition a
    training-data team actually runs, end-to-end on this engine:

    inject (test PII) → scrub → repetition + decontamination quality
    gates on the SCRUBBED text → deterministic domain-mix sample →
    per-stratum sequence packing → per-(lang, seq) rollup.

    Plan shape: scrub and the repetition signals are zero-shuffle
    projections; decontamination is one broadcast gram join; the mix
    sample is a map-side filter; packing is one per-stratum window.
    Total: two narrow shuffles (decon groupBy, packing window) over the
    whole pipeline."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = CP.scrub_pii(_with_injected_pii(d), with_counts=False).select(
        "doc_id", F.col("text_scrubbed").alias("text"), "lang"
    ).localCheckpoint()
    # ^ the scrub regex chain feeds FOUR branches (repetition stats,
    # decon corpus side, decon reference side, the keep join-back) —
    # without the cut the final plan re-scans the parquet and re-runs
    # the inject+scrub projection per branch (measured r17: 10 parquet
    # scans -> 0, ~25% off the row, output identical)
    rep = CP.with_repetition_stats(scrubbed).select("doc_id", "repeated_flag")
    decon = CP.decontaminate(
        scrubbed, scrubbed.filter(F.col("doc_id") % 97 == 0), k=5
    ).select("doc_id", "contaminated")
    keep = (
        scrubbed.join(rep, "doc_id")
        .join(decon, "doc_id")
        .filter(~F.col("repeated_flag") & ~F.col("contaminated"))
    )
    mixed = CP.domain_mix_sample(keep, _MIX_RATES)
    return CP.pack_sequences(
        mixed, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    ).select(
        "lang", "shard", "seq_id", "n_docs", "seq_tokens", "first_doc", "last_doc"
    )


def _pipeline_oracle() -> str:
    scrub = "text"
    for _, pat, rep in CP.PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{rep}', 'g')"
    mix_cases = " ".join(
        f"WHEN '{lang}' THEN {int(rate * CP.MIX_BUCKETS)}"
        for lang, rate in sorted(_MIX_RATES.items())
    )
    return f"""
WITH injected AS (
{_INJECT_PII_SQL}
),
scrubbed AS (
  SELECT doc_id, lang, {scrub} AS text FROM injected
),
tok AS (SELECT doc_id, lang, {_TOKS} AS t FROM scrubbed),
grams AS (
  SELECT doc_id, t,
         CASE WHEN len(t) >= 3
              THEN list_transform(generate_series(1, len(t) - 2),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [] END AS tri,
         CASE WHEN len(t) >= 2
              THEN list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1])
              ELSE [] END AS bi
  FROM tok
),
bg AS (
  SELECT doc_id, g, count(*) AS n
  FROM (SELECT doc_id, unnest(bi) AS g FROM grams) GROUP BY 1, 2
),
top AS (
  SELECT doc_id, max(n) / sum(n) AS top_frac, CAST(sum(n) AS BIGINT) AS nbi
  FROM bg GROUP BY 1
),
rep AS (
  SELECT g.doc_id,
         ((coalesce(round(top_frac, 6), 0.0) > 0.18 AND coalesce(nbi, 0) >= 20)
          OR (CASE WHEN len(tri) > 0
                   THEN round(1.0 - len(list_distinct(tri)) / len(tri), 6)
                   ELSE 0.0 END) > 0.30) AS repeated_flag
  FROM grams g LEFT JOIN top ON g.doc_id = top.doc_id
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN list_distinct(list_transform(
                     generate_series(1, len(t) - 4),
                     i -> array_to_string(list_slice(t, i, i + 4), ' ')))
              ELSE [] END AS s
  FROM tok
),
bgrams AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
hits AS (
  SELECT doc_id, count(*) AS n
  FROM (SELECT doc_id, unnest(s) AS g FROM sh) tg JOIN bgrams USING (g)
  GROUP BY 1
),
keep AS (
  SELECT s.doc_id, s.lang, s.text
  FROM scrubbed s
  JOIN rep USING (doc_id)
  LEFT JOIN hits USING (doc_id)
  WHERE NOT repeated_flag AND coalesce(n, 0) = 0
),
mixed AS (
  SELECT doc_id, lang, text FROM keep
  WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % {CP.MIX_BUCKETS})
        < CASE lang {mix_cases} ELSE 0 END
),
toks2 AS (
  SELECT lang, doc_id,
         {_PACK_SHARD_SQL} AS shard,
         CAST(len({_TOKS}) AS BIGINT) AS n
  FROM mixed
),
placed AS (
  SELECT lang, shard, doc_id, n,
         CAST(floor(coalesce(
           sum(n) OVER (PARTITION BY lang, shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) / {_PACK_BUDGET}) AS BIGINT) AS seq_id
  FROM toks2
)
SELECT lang, shard, seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS seq_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM placed
GROUP BY 1, 2, 3
"""


ORACLE_DOC_CORPUS_PIPELINE = _pipeline_oracle()


ORACLE_DOC_VOCAB_TOPK = f"""
WITH tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS token FROM documents
),
counts AS (
  SELECT token,
         CAST(count(*) AS BIGINT) AS n_occ,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM tok GROUP BY 1
),
top AS (
  SELECT * FROM counts ORDER BY n_occ DESC, token LIMIT {_VOCAB_K}
)
SELECT token, n_occ, n_docs,
       CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INTEGER) AS rank
FROM top
"""


# ---------------------------------------------------------------------------
# Train/val/test split (corpus_prep.split_corpus gate)
# ---------------------------------------------------------------------------

#: Insertion order matters — cumulative thresholds follow dict order.
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_doc_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment gate: the md5 bucket of
    the doc id against integer cumulative-weight thresholds — a
    zero-shuffle projection whose exact surviving assignment the
    oracle reproduces (no RNG state anywhere)."""
    d = load_table(spark, sf_dir, "documents")
    return CP.split_corpus(d, _SPLIT_WEIGHTS).select("doc_id", "lang", "split")


def _split_oracle() -> str:
    clauses, cum = [], 0.0
    names = list(_SPLIT_WEIGHTS)
    for name in names:
        cum += _SPLIT_WEIGHTS[name]
        clauses.append(f"WHEN b < {int(round(cum * CP.MIX_BUCKETS))} THEN '{name}'")
    return f"""
SELECT doc_id, lang,
       CASE {' '.join(clauses)} ELSE '{names[-1]}' END AS split
FROM (
  SELECT doc_id, lang,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {CP.MIX_BUCKETS}) AS b
  FROM documents
)
"""


ORACLE_DOC_SPLIT_CORPUS = _split_oracle()


# ---------------------------------------------------------------------------
# OOV ratio (corpus_prep.with_oov_ratio gate)
# ---------------------------------------------------------------------------

#: Vocab size for the OOV gate — the synthetic vocabulary is ~31
#: tokens, so a top-10 vocab leaves most token mass in-vocab while
#: every doc still carries real OOV tokens (both counters exercised).
_OOV_VOCAB_K = 10


def q_doc_oov_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV-ratio gate: build the top-10 corpus vocab with
    :func:`~scraping_etl_spark.operators.textstats.vocab_topk`, then
    score every document's out-of-vocabulary token ratio against it —
    explode + broadcast vocab join + one partial-agg groupBy."""
    d = load_table(spark, sf_dir, "documents")
    vocab = vocab_topk(d, k=_OOV_VOCAB_K)
    return CP.with_oov_ratio(d, vocab).select(
        "doc_id", "n_tokens", "n_oov", "oov_ratio"
    )


ORACLE_DOC_OOV_RATIO = f"""
WITH tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS t FROM documents
),
vocab AS (
  SELECT t AS token FROM tok GROUP BY t
  ORDER BY count(*) DESC, t LIMIT {_OOV_VOCAB_K}
),
agg AS (
  SELECT tok.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM tok LEFT JOIN vocab v ON tok.t = v.token
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
       round(coalesce(n_oov, 0) / greatest(coalesce(n_tokens, 0), 1), 6)
         AS oov_ratio
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Bigram-LM score (corpus_prep.with_lm_score gate)
# ---------------------------------------------------------------------------

def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM quality score per document: add-one-smoothed
    ``P(w2|w1)`` from the corpus's own counts, mean natural log-prob —
    deterministic arithmetic end to end (the only float op chain is
    ln + avg, rounded to 6). ``tools/dump_plans.py`` dumps this plan;
    the registered ``doc_lm_score_ref`` gate checks the scorer against
    a reference LM."""
    d = load_table(spark, sf_dir, "documents")
    return CP.with_lm_score(d).select("doc_id", "n_bigrams", "avg_logp")


# ---------------------------------------------------------------------------
# Reference-LM score (corpus_prep.with_lm_score(lm=...) gate)
# ---------------------------------------------------------------------------

#: SQL fragments shared by the reference-LM oracles: the curated LM
#: corpus is the doc_id ≡ 0 (mod 7) slice of ``documents`` and the
#: scored/incoming set is everything else — deterministic, non-empty,
#: and guaranteed to leave some incoming bigrams unseen by the LM (the
#: smoothing-floor branch is the thing under test).
_LM_REF_FILTER = "doc_id % 7 = 0"
_LM_INC_FILTER = "doc_id % 7 <> 0"

#: Bigram expansion over a token-array column ``t`` (DuckDB lambda).
_BI_SQL = (
    "CASE WHEN len(t) >= 2 "
    "THEN list_transform(generate_series(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1]) ELSE [] END"
)

#: The reference-LM count tables + smoothed per-occurrence log-prob,
#: shared by ORACLE_DOC_LM_SCORE_REF and ORACLE_DOC_STREAM_GATES.
_LM_REF_CTES = f"""
lmtok AS (SELECT {_LTOKS} AS t FROM documents WHERE {_LM_REF_FILTER}),
bc AS (
  SELECT g, count(*) AS cbi
  FROM (SELECT unnest({_BI_SQL}) AS g FROM lmtok) GROUP BY 1
),
uc AS (
  SELECT w, count(*) AS cw
  FROM (SELECT unnest(t) AS w FROM lmtok) GROUP BY 1
),
v AS (SELECT count(*) AS v FROM uc),
inc AS (SELECT doc_id, {_LTOKS} AS t FROM documents WHERE {_LM_INC_FILTER}),
bi AS (SELECT doc_id, unnest({_BI_SQL}) AS g FROM inc),
lm_agg AS (
  SELECT bi.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(ln((coalesce(bc.cbi, 0) + 1.0)
                      / (coalesce(uc.cw, 0) + v.v))), 6) AS avg_logp
  FROM bi
  LEFT JOIN bc USING (g)
  LEFT JOIN uc ON uc.w = split_part(bi.g, ' ', 1)
  CROSS JOIN v
  GROUP BY 1
)
"""


def q_doc_lm_score_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-LM scoring gate — the actual CCNet deployment shape:
    the bigram LM trains on a CURATED corpus (the deterministic
    doc_id ≡ 0 mod 7 slice) and every other document is scored against
    it, so incoming bigrams can be UNSEEN and the add-one smoothing
    floors ``(0+1)/(C(w1)+V)`` / unseen-``w1`` → ``1/V`` fire (the
    branch the self-scoring ``doc_lm_score`` gate cannot reach: LEFT
    joins + coalesce floors + the measured vocab-broadcast guard,
    corpus_prep.py ``with_lm_score(lm=...)``)."""
    d = load_table(spark, sf_dir, "documents")
    lm = d.filter(F.col("doc_id") % 7 == 0)
    scored = d.filter(F.col("doc_id") % 7 != 0)
    return CP.with_lm_score(scored, lm=lm).select(
        "doc_id", "n_bigrams", "avg_logp"
    )


ORACLE_DOC_LM_SCORE_REF = f"""
WITH {_LM_REF_CTES}
SELECT d.doc_id,
       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       coalesce(avg_logp, 0.0) AS avg_logp
FROM (SELECT doc_id FROM documents WHERE {_LM_INC_FILTER}) d
LEFT JOIN lm_agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Streaming ingest-gate chain, batch twin (streaming/pipeline.py
# corpus_prep_stream's OOV + static-LM fluency gates)
# ---------------------------------------------------------------------------

#: Thresholds sized from the sf0.01 distributions so BOTH gates
#: genuinely drop and keep documents (median oov_ratio ≈ 0.67 against
#: the top-10 reference vocab; avg_logp p25 ≈ −3.55 under the
#: reference LM).
_STREAM_MAX_OOV = 0.67
_STREAM_MIN_LOGP = -3.55
_STREAM_VOCAB_K = 10


def q_doc_stream_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``corpus_prep_stream``'s reference-vocabulary OOV
    gate + static-LM fluency gate (streaming/pipeline.py): the STATIC
    reference corpus is the doc_id ≡ 0 (mod 7) lake slice, incoming
    docs are everything else, and a doc lands iff its OOV ratio against
    the lake's top-10 vocab stays ≤ 0.67 AND its mean bigram log-prob
    under the lake-trained LM reaches −3.55 (or it has no bigrams —
    the streaming gate's pass-through rule). Both gate signals are
    emitted for the survivors. Because every gate is per-document
    against static side inputs, this batch computation IS the
    micro-batch computation — which is exactly the twin claim the
    streaming tests assert."""
    d = load_table(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 7 == 0)
    inc = d.filter(F.col("doc_id") % 7 != 0)
    vocab = vocab_topk(ref, k=_STREAM_VOCAB_K)
    oov = CP.with_oov_ratio(inc, vocab).filter(
        F.col("oov_ratio") <= _STREAM_MAX_OOV
    )
    fluent = CP.with_lm_score(inc, lm=ref).filter(
        (F.col("n_bigrams") == 0) | (F.col("avg_logp") >= _STREAM_MIN_LOGP)
    )
    return (
        inc.select("doc_id", "lang")
        .join(oov.select("doc_id", "oov_ratio"), "doc_id")
        .join(fluent.select("doc_id", "avg_logp"), "doc_id")
    )


ORACLE_DOC_STREAM_GATES = f"""
WITH {_LM_REF_CTES},
reftok AS (
  SELECT doc_id, unnest({_LTOKS}) AS w FROM documents WHERE {_LM_REF_FILTER}
),
vocab AS (
  SELECT w AS token FROM reftok GROUP BY w
  ORDER BY count(*) DESC, w LIMIT {_STREAM_VOCAB_K}
),
inctok AS (SELECT doc_id, unnest(t) AS w FROM inc),
oov AS (
  SELECT inctok.doc_id,
         round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
               / greatest(count(*), 1), 6) AS oov_ratio
  FROM inctok LEFT JOIN vocab v ON inctok.w = v.token
  GROUP BY 1
)
SELECT d.doc_id, d.lang,
       coalesce(oov.oov_ratio, 0.0) AS oov_ratio,
       coalesce(lm_agg.avg_logp, 0.0) AS avg_logp
FROM documents d
LEFT JOIN oov ON d.doc_id = oov.doc_id
LEFT JOIN lm_agg ON d.doc_id = lm_agg.doc_id
WHERE {_LM_INC_FILTER.replace('doc_id', 'd.doc_id')}
  AND coalesce(oov.oov_ratio, 0.0) <= {_STREAM_MAX_OOV}
  AND (coalesce(lm_agg.n_bigrams, 0) = 0
       OR coalesce(lm_agg.avg_logp, 0.0) >= {_STREAM_MIN_LOGP})
"""


# ---------------------------------------------------------------------------
# BPE tokenizer (operators/bpe.py gate)
# ---------------------------------------------------------------------------

#: Merge budget for the gate — the synthetic ~31-word vocabulary
#: saturates fast; 16 merges leave a real mix of multi-symbol and
#: fully-merged words, so subword counts genuinely vary per doc.
_BPE_MERGES = 16


@functools.lru_cache(maxsize=4)
def _bpe_trained(sf_dir: str) -> tuple:
    """Train-once shared BPE state per scale dir: the ordered merge
    table plus the word→symbols segmentation :func:`bpe.bpe_train`
    returns with it (the table ``word_segment_table`` + collect would
    rebuild with a second vocabulary pass; identity pytest-pinned).
    Both artifact builders derive from this one training."""
    from scraping_etl_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark()
    d = load_table(spark, sf_dir, "documents")
    merges, seg_tbl = BPE.bpe_train(d, n_merges=_BPE_MERGES)
    return tuple(merges), tuple(seg_tbl)


@functools.lru_cache(maxsize=4)
def _bpe_artifacts(sf_dir: str) -> tuple:
    """Train-once BPE artifacts per scale dir: the ordered merge table
    AND the word→n_sub segmentation (vocabulary-scale — ~31 rows on
    the synthetic corpus — a table of the model, not the data; the
    train-once plan-constants convention)."""
    merges, seg_tbl = _bpe_trained(sf_dir)
    return merges, tuple((w, len(sym)) for w, sym in seg_tbl)


def q_doc_cdc_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingest-screen gate (corpus_prep.prepare_cdc_ref +
    cdc_seen_fraction — the batch face of the streaming
    ``cdc_chunk_screen_stream``): the 'lake' is the doc_id ≡ 0 (mod 4)
    slice; incoming = the rest ∪ boilerplate-prefixed mirrors of lake
    docs (re-keyed +3e6), which must read as mostly-seen DESPITE the
    shift — the content-defined property under one exact oracle."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake = d.filter(F.col("doc_id") % 4 == 0)
    incoming = d.filter(F.col("doc_id") % 4 != 0).unionByName(
        lake.select(
            (F.col("doc_id") + F.lit(3000000)).alias("doc_id"),
            F.concat(F.lit("shifted mirror "), F.col("text")).alias("text"),
        )
    )
    ref = CP.prepare_cdc_ref(lake)
    return CP.cdc_seen_fraction(incoming, ref)


ORACLE_DOC_CDC_SCREEN = f"""
WITH lake AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
incoming AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
  UNION ALL
  SELECT doc_id + 3000000, 'shifted mirror ' || text FROM lake
),
ltok AS (SELECT doc_id, {_TOKS} AS t FROM lake),
itok AS (SELECT doc_id, {_TOKS} AS t FROM incoming),
lgeo AS (
  SELECT doc_id, t, len(t) AS n,
         list_filter(
           generate_series({_CDC_W}, len(t) - 1),
           i -> (('0x' || substr(md5(array_to_string(
                   list_slice(t, i - {_CDC_W - 1}, i), ' ')), 1, 15)
                )::BIGINT % {_CDC_D}) = 0
         ) AS bpos
  FROM ltok WHERE len(t) > 0
),
igeo AS (
  SELECT doc_id, t, len(t) AS n,
         list_filter(
           generate_series({_CDC_W}, len(t) - 1),
           i -> (('0x' || substr(md5(array_to_string(
                   list_slice(t, i - {_CDC_W - 1}, i), ' ')), 1, 15)
                )::BIGINT % {_CDC_D}) = 0
         ) AS bpos
  FROM itok WHERE len(t) > 0
),
ref AS (
  SELECT DISTINCT
         unnest(list_transform(
           generate_series(1, len(bpos) + 1),
           j -> md5(array_to_string(list_slice(t,
                  ([1] || list_transform(bpos, p -> p + 1))[j],
                  (bpos || [n])[j]), ' '))
         )) AS h
  FROM lgeo
),
ich AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(bpos) + 1),
           j -> md5(array_to_string(list_slice(t,
                  ([1] || list_transform(bpos, p -> p + 1))[j],
                  (bpos || [n])[j]), ' '))
         )) AS h
  FROM igeo
),
agg AS (
  SELECT i.doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_seen
  FROM ich i LEFT JOIN ref r ON i.h = r.h
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(a.n_seen, 0) AS BIGINT) AS n_seen,
       round(coalesce(a.n_seen, 0) / greatest(coalesce(a.n_chunks, 0), 1), 6)
         AS seen_frac
FROM incoming d LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece) tokenizer (operators/unigram.py gate)
# ---------------------------------------------------------------------------

#: Gate-scale unigram model: the synthetic ~31-word vocabulary plus
#: language markers; 48 pieces with a 6-char cap leave real multi-piece
#: segmentations (words longer than 6 chars can never be one piece).
_UNI_VOCAB, _UNI_SEED, _UNI_ITERS, _UNI_MAXLEN = 48, 300, 2, 6


@functools.lru_cache(maxsize=4)
def _uni_artifacts(sf_dir: str) -> tuple:
    """Train-once unigram artifacts per scale dir: the piece-count
    model and the word→n_sub segmentation :func:`unigram.train_unigram`
    returns with it (both model-scale; the train-once plan-constants
    convention)."""
    from scraping_etl_spark.operators import unigram as UNI
    from scraping_etl_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark()
    d = load_table(spark, sf_dir, "documents")
    model, seg_tbl = UNI.train_unigram(
        d, vocab_size=_UNI_VOCAB, seed_size=_UNI_SEED,
        n_iters=_UNI_ITERS, max_piece_len=_UNI_MAXLEN,
    )
    return model, tuple((w, len(sym)) for w, sym in seg_tbl)


def q_doc_unigram_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained unigram-LM tokenization gate (operators/unigram.py —
    the SentencePiece-style counterpart of the BPE trainer): learn
    the piece vocabulary by Viterbi-EM over the corpus (once per
    sf_dir, cached), Viterbi-segment the distinct-word vocabulary,
    then tokenize every document through the same broadcast
    word→segmentation join the BPE gate uses
    (:func:`bpe.bpe_token_counts` — the segmentation-cache contract is
    the interface, the trainer is pluggable)."""
    model, table = _uni_artifacts(sf_dir)
    from scraping_etl_spark.operators import unigram as UNI

    d = load_table(spark, sf_dir, "documents")
    seg = UNI.word_segment_unigram(d, model, max_piece_len=_UNI_MAXLEN)
    return BPE.bpe_token_counts(d, seg, seg_rows=len(table)).select(
        "doc_id", "n_tokens",
        F.col("n_bpe_tokens").alias("n_uni_tokens"),
    )


def oracle_doc_unigram_tokens(sf_dir: str) -> str:
    """Lazy DuckDB twin of :func:`q_doc_unigram_tokens`: the learned
    word→piece-count table rides in as VALUES plan constants (training is
    deterministic — integer counts, total-order tie-breaks — so both
    engines share one model); tokenization is the exact relational
    mirror."""
    _, table = _uni_artifacts(sf_dir)
    values = ",\n    ".join(
        "('{}', {})".format(w.replace("'", "''"), n) for w, n in table
    )
    return f"""
WITH seg(word, n_sub) AS (VALUES
    {values}
),
tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS w FROM documents
),
agg AS (
  SELECT tok.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(seg.n_sub, len(tok.w))) AS BIGINT) AS n_uni_tokens
  FROM tok LEFT JOIN seg ON tok.w = seg.word
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(n_uni_tokens, 0) AS BIGINT) AS n_uni_tokens
FROM documents d LEFT JOIN agg USING (doc_id)
"""


def q_doc_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-family fertility comparison (bpe.tokenizer_fertility
    over BOTH trained vocabularies): per-language subwords-per-word of
    the BPE merges vs the unigram-LM pieces, side by side — the report
    a multilingual vocabulary decision actually reads (which trainer
    serves which language slice better, Ács 2019). Same train-once
    artifacts as ``doc_bpe_fertility`` / ``doc_unigram_tokens``; the
    corpus collapses to (lang, word) counts once per branch and both
    rollups are language-count rows, so the join is trivially
    broadcast-able."""
    from scraping_etl_spark.operators import unigram as UNI

    merges, table_b = _bpe_artifacts(sf_dir)
    model, table_u = _uni_artifacts(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    seg_b = BPE.word_segment_table(d, list(merges))
    seg_u = UNI.word_segment_unigram(d, model, max_piece_len=_UNI_MAXLEN)
    fb = BPE.tokenizer_fertility(d, seg_b, seg_rows=len(table_b)).select(
        "lang", "n_words", "n_chars",
        F.col("fertility").alias("bpe_fertility"),
    )
    fu = BPE.tokenizer_fertility(d, seg_u, seg_rows=len(table_u)).select(
        "lang", F.col("fertility").alias("uni_fertility")
    )
    return fb.join(fu, "lang").select(
        "lang", "n_words", "n_chars", "bpe_fertility", "uni_fertility",
        F.round(F.col("uni_fertility") / F.col("bpe_fertility"), 6).alias(
            "uni_over_bpe"
        ),
    )


def oracle_doc_unigram_fertility(sf_dir: str) -> str:
    """Lazy DuckDB twin of :func:`q_doc_unigram_fertility`: both
    learned word→n_sub tables ride in as VALUES plan constants (the
    ``oracle_doc_bpe_fertility`` convention) and
    the two per-language rollups are exact relational mirrors. The
    ratio divides the ROUNDED fertilities, exactly as the Spark side
    does, so it hashes."""
    _, table_b = _bpe_artifacts(sf_dir)
    _, table_u = _uni_artifacts(sf_dir)
    vb = ",\n    ".join(
        "('{}', {})".format(w.replace("'", "''"), n) for w, n in table_b
    )
    vu = ",\n    ".join(
        "('{}', {})".format(w.replace("'", "''"), n) for w, n in table_u
    )
    return f"""
WITH segb(word, n_sub) AS (VALUES
    {vb}
),
segu(word, n_sub) AS (VALUES
    {vu}
),
tok AS (
  SELECT lang, unnest({_LTOKS}) AS w FROM documents
),
wc AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2),
fb AS (
  SELECT wc.lang,
         CAST(sum(c) AS BIGINT) AS n_words,
         CAST(sum(c * len(wc.w)) AS BIGINT) AS n_chars,
         round(sum(c * coalesce(segb.n_sub, len(wc.w))) / sum(c), 6)
           AS bpe_fertility
  FROM wc LEFT JOIN segb ON wc.w = segb.word
  GROUP BY 1
),
fu AS (
  SELECT wc.lang,
         round(sum(c * coalesce(segu.n_sub, len(wc.w))) / sum(c), 6)
           AS uni_fertility
  FROM wc LEFT JOIN segu ON wc.w = segu.word
  GROUP BY 1
)
SELECT fb.lang, fb.n_words, fb.n_chars, fb.bpe_fertility, fu.uni_fertility,
       round(fu.uni_fertility / fb.bpe_fertility, 6) AS uni_over_bpe
FROM fb JOIN fu USING (lang)
"""


# ---------------------------------------------------------------------------
# WordPiece tokenizer (operators/wordpiece.py gate)
# ---------------------------------------------------------------------------

#: Gate-scale WordPiece model: enough merges that multi-char pieces
#: dominate real words while the expression budget stays test-sized.
_WP_MERGES = 24


@functools.lru_cache(maxsize=4)
def _wp_artifacts(sf_dir: str) -> tuple:
    """Train-once WordPiece artifacts per scale dir: the merge list,
    the encoder vocabulary, and the word→n_sub segmentation, all three
    returned by :func:`wordpiece.wordpiece_train` (model-scale; the
    train-once plan-constants convention)."""
    from scraping_etl_spark.operators import wordpiece as WP
    from scraping_etl_spark.session import get_spark

    spark = SparkSession.getActiveSession() or get_spark()
    d = load_table(spark, sf_dir, "documents")
    merges, vocab, seg_tbl = WP.wordpiece_train(d, n_merges=_WP_MERGES)
    return merges, vocab, tuple((w, len(sym)) for w, sym in seg_tbl)


def q_doc_wordpiece_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained WordPiece tokenization gate (operators/wordpiece.py —
    the BERT-style counterpart of the BPE trainer and
    ``doc_unigram_tokens``, completing the tokenizer family): learn
    the merge list by LIKELIHOOD score (count(ab)/(count(a)·count(b)),
    once per sf_dir, cached), greedy-longest-match-segment the
    distinct-word vocabulary against the position-aware piece vocab,
    then tokenize every document through the same broadcast
    word→segmentation join all three tokenizers share
    (:func:`bpe.bpe_token_counts`)."""
    _, vocab, table = _wp_artifacts(sf_dir)
    from scraping_etl_spark.operators import wordpiece as WP

    d = load_table(spark, sf_dir, "documents")
    seg = WP.word_segment_wordpiece(d, vocab)
    return BPE.bpe_token_counts(d, seg, seg_rows=len(table)).select(
        "doc_id", "n_tokens",
        F.col("n_bpe_tokens").alias("n_wp_tokens"),
    )


def oracle_doc_wordpiece_tokens(sf_dir: str) -> str:
    """Lazy DuckDB twin of :func:`q_doc_wordpiece_tokens` — identical
    shape to :func:`oracle_doc_unigram_tokens`: the learned word→
    piece-count table rides in as VALUES plan constants (training is
    deterministic — integer counts with exact-fraction argmax ties
    broken lexicographically, greedy matching is a pure function of
    the vocab); tokenization is the exact relational mirror."""
    _, _, table = _wp_artifacts(sf_dir)
    values = ",\n    ".join(
        "('{}', {})".format(w.replace("'", "''"), n) for w, n in table
    )
    return f"""
WITH seg(word, n_sub) AS (VALUES
    {values}
),
tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS w FROM documents
),
agg AS (
  SELECT tok.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(seg.n_sub, len(tok.w))) AS BIGINT) AS n_wp_tokens
  FROM tok LEFT JOIN seg ON tok.w = seg.word
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(n_wp_tokens, 0) AS BIGINT) AS n_wp_tokens
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Zipf's-law corpus profile (textstats.zipf_fit gate)
# ---------------------------------------------------------------------------

_ZIPF_R = 200
_HEAPS_B = 10  # Heaps'-law buckets (ORACLE_DOC_HEAPS_FIT below)


def q_doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus-law profile: Zipf head fit
    (textstats.zipf_fit — least-squares ln(freq) ~ ln(rank) over the
    top-200 vocabulary head plus type/token counts, the corpus-drift
    alarm a datasheet carries) JOINED with its companion ln-ln fit
    (both routed through ``textstats._ls_fit``), the bucketed Heaps'
    vocabulary-growth curve (cumulative tokens/types over md5-bucket
    corpus prefixes + the closed-form fit). One row per (lang,
    bucket); both fits are aggregate arithmetic, exactly mirrored."""
    from scraping_etl_spark.operators.textstats import heaps_fit, zipf_fit

    d = load_table(spark, sf_dir, "documents")
    # both outputs are fit-scale (|langs| and |langs|×buckets rows) —
    # the join is broadcast-trivial; each fit keeps its single
    # aggregation pipeline over the token explode
    return zipf_fit(d, top_r=_ZIPF_R).join(
        heaps_fit(d, n_buckets=_HEAPS_B), "lang"
    )


_ZIPF_FIT_SQL = f"""
WITH tok AS (
  SELECT lang, unnest({_LTOKS}) AS w FROM documents
),
wc AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2),
totals AS (
  SELECT lang,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types
  FROM wc GROUP BY 1
),
head AS (
  SELECT lang, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM (
    SELECT lang, c,
           row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS r
    FROM wc
  ) WHERE r <= {_ZIPF_R}
),
fit AS (
  SELECT lang,
         CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM head GROUP BY 1
)
SELECT t.lang, t.n_tokens, t.n_types,
       round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0), 6)
         AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) * sx)
             / n, 6) AS zipf_intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0), 6)
         AS zipf_r2
FROM totals t JOIN fit USING (lang)
"""

#: Both companion ln-ln fits joined per language, one row per (lang,
#: bucket); each component SQL is embedded verbatim. The final
#: ORACLE_DOC_ZIPF_FIT is composed below ORACLE_DOC_HEAPS_FIT.
_CORPUS_LAWS_TEMPLATE = """
WITH zipf AS ({zipf}),
heaps AS ({heaps})
SELECT zipf.*, bucket, n_tokens_cum, n_types_cum,
       heaps_beta, heaps_logk, heaps_r2
FROM zipf JOIN heaps USING (lang)
"""


# ---------------------------------------------------------------------------
# Heaps'-law corpus profile (textstats.heaps_fit, the doc_zipf_fit
# component). _HEAPS_B is defined next to _ZIPF_R above.
# ---------------------------------------------------------------------------

ORACLE_DOC_HEAPS_FIT = f"""
WITH tok AS (
  SELECT lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {_HEAPS_B} AS b,
         unnest({_LTOKS}) AS w
  FROM documents
),
first_seen AS (
  SELECT lang, b, count(*) AS new_types
  FROM (SELECT lang, w, min(b) AS b FROM tok GROUP BY 1, 2)
  GROUP BY 1, 2
),
tok_counts AS (
  SELECT lang, b, count(*) AS n_tokens FROM tok GROUP BY 1, 2
),
grid AS (
  SELECT lang, b
  FROM (SELECT DISTINCT lang FROM documents)
  CROSS JOIN (SELECT unnest(generate_series(0, {_HEAPS_B} - 1)) AS b)
),
pts AS (
  SELECT g.lang, g.b,
         CAST(sum(coalesce(t.n_tokens, 0)) OVER
              (PARTITION BY g.lang ORDER BY g.b) AS BIGINT) AS n_tokens_cum,
         CAST(sum(coalesce(f.new_types, 0)) OVER
              (PARTITION BY g.lang ORDER BY g.b) AS BIGINT) AS n_types_cum
  FROM grid g
  LEFT JOIN first_seen f ON f.lang = g.lang AND f.b = g.b
  LEFT JOIN tok_counts t ON t.lang = g.lang AND t.b = g.b
),
xy AS (
  SELECT lang, ln(CAST(n_tokens_cum AS DOUBLE)) AS x,
         ln(CAST(n_types_cum AS DOUBLE)) AS y
  FROM pts WHERE n_tokens_cum > 0
),
fit AS (
  SELECT lang,
         CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy GROUP BY 1
)
SELECT p.lang, p.b AS bucket, p.n_tokens_cum, p.n_types_cum,
       round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0), 6)
         AS heaps_beta,
       round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0) * sx)
             / n, 6) AS heaps_logk,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0), 6)
         AS heaps_r2
FROM pts p JOIN fit USING (lang)
"""

ORACLE_DOC_ZIPF_FIT = _CORPUS_LAWS_TEMPLATE.format(
    zipf=_ZIPF_FIT_SQL, heaps=ORACLE_DOC_HEAPS_FIT
)


# ---------------------------------------------------------------------------
# Stratified bottom-N sample (corpus_prep.stratified_sample_n gate)
# ---------------------------------------------------------------------------

_SAMPLE_N = 20


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language eval sample: the N smallest
    (md5(doc_id), doc_id) per stratum via the two-stage salt
    tournament — the oracle reproduces the selection with a single
    row_number (exactness of the tournament IS the tested claim).
    ``doc_gumbel_sample`` serves it as its ``method='stratified'``
    slice."""
    d = load_table(spark, sf_dir, "documents")
    return CP.stratified_sample_n(d, _SAMPLE_N).select(
        "doc_id", "lang", "sample_rank"
    )


ORACLE_DOC_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INTEGER) AS sample_rank
  FROM documents
) WHERE sample_rank <= {_SAMPLE_N}
"""


# ---------------------------------------------------------------------------
# Per-stratum token-length quantiles (corpus_prep.stratified_quantiles gate)
# ---------------------------------------------------------------------------

_QUANTILES = (0.25, 0.5, 0.75, 0.95)


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-count quantiles via the value-histogram
    CDF — discrete percentile_disc semantics, no interpolation, so the
    values hash-compare exactly."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens("text"))
    )
    return CP.stratified_quantiles(d, "n_tokens", _QUANTILES).select(
        "lang",
        F.col("quantile").cast("double").alias("quantile"),
        F.col("value").cast("long").alias("value"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


ORACLE_DOC_LENGTH_QUANTILES = f"""
WITH t AS (
  SELECT lang, len({_TOKS}) AS v FROM documents
),
hist AS (SELECT lang, v, count(*) AS f FROM t GROUP BY 1, 2),
cdf AS (
  SELECT lang, v,
         sum(f) OVER (PARTITION BY lang ORDER BY v) AS cum,
         sum(f) OVER (PARTITION BY lang) AS n
  FROM hist
),
qs(q) AS (VALUES {", ".join(f"({q})" for q in _QUANTILES)})
SELECT cdf.lang,
       CAST(qs.q AS DOUBLE) AS quantile,
       CAST(min(cdf.v) AS BIGINT) AS value,
       CAST(min(cdf.n) AS BIGINT) AS n_rows
-- q cast to DOUBLE in the JOIN too: Spark computes ceil(double(q)·n),
-- and DuckDB DECIMAL literals would otherwise use exact arithmetic —
-- an arbitrary caller q could cross an integer boundary differently.
FROM cdf JOIN qs ON cdf.cum >= ceil(CAST(qs.q AS DOUBLE) * cdf.n)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Temperature-scaled corpus mix
# ---------------------------------------------------------------------------

#: Gate knobs: alpha = 0.5 (sqrt weighting — correctly-rounded IEEE,
#: exactly portable to the oracle) at a 50% volume budget over the
#: 20-source documents table.
_TEMP_ALPHA = 0.5
_TEMP_BUDGET = 0.5


def q_doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mix gate (corpus_prep.temperature_mix_rates/_sample):
    alpha-smoothed per-source sampling to half the corpus volume. The
    output is the per-source audit a mixture run actually reports —
    input count, derived rate, surviving count — and every number is
    deterministic: the rate denominator is a sorted sequential fold,
    the keep rule is the md5-bucket threshold."""
    d = load_table(spark, sf_dir, "documents")
    rates = CP.temperature_mix_rates(d, _TEMP_ALPHA, _TEMP_BUDGET)
    kept = (
        CP.temperature_mix_sample(d, rates=rates)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("rate", 6).alias("rate"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


ORACLE_DOC_TEMPERATURE_MIX = f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), stats AS (
  -- sequential fold over strata sorted by name — mirrors Spark's
  -- sort_array(collect_list(struct)) + aggregate bit-for-bit
  SELECT list_reduce(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source),
                     (x, y) -> x + y) AS denom,
         sum(n_docs) AS n_total
  FROM counts
), rates AS (
  SELECT c.source, c.n_docs,
         least(1.0,
               (({_TEMP_BUDGET} * CAST(s.n_total AS DOUBLE))
                * sqrt(CAST(c.n_docs AS DOUBLE)) / s.denom)
               / CAST(c.n_docs AS DOUBLE)) AS rate
  FROM counts c, stats s
), kept AS (
  SELECT d.source, count(*) AS n_kept
  FROM documents d JOIN rates r USING (source)
  WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          % {CP.MIX_BUCKETS})
        < r.rate * {CP.MIX_BUCKETS}
  GROUP BY d.source
)
SELECT r.source,
       CAST(r.n_docs AS BIGINT) AS n_docs,
       round(r.rate, 6) AS rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept k USING (source)
"""


# ---------------------------------------------------------------------------
# UniMax language-budget allocation (corpus_prep.unimax_quotas)
# ---------------------------------------------------------------------------

#: Gate knobs: 2-epoch repeat ceiling at a budget of 120% of the
#: corpus. The testdata's language mix is too BALANCED for a
#: waterline to bite (every share ≈ 12%+), so the gate corpus keeps
#: all English but only every 10th non-English doc — tail languages
#: at ~3% token share whose caps sit under the waterline (saturated
#: at exactly 2.0 epochs) while English shares the waterline (~1.1
#: epochs): both allocation outcomes planted at every sf.
_UMX_EPOCHS = 2.0
_UMX_BUDGET_FRAC = 1.2


def q_doc_unimax_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget-allocation gate (corpus_prep.unimax_quotas —
    Chung et al. ICLR 2023): per-language token quotas under a 2-epoch
    repeat ceiling with a budget of 1.2x the gate corpus's total
    tokens. The hash pins the closed-form waterfilling: the
    saturated-prefix predicate, the waterline arithmetic and the cap
    prefix sum all reproduce exactly in the oracle's window functions
    (caps are integer-valued at epoch_cap=2.0, so the prefix sums are
    order-exact doubles on both engines)."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") | (F.col("doc_id") % 10 == 0)
    )
    total = (
        d.select(F.sum(F.size(tokens("text"))).alias("_n")).first()["_n"]
    )
    return CP.unimax_quotas(
        d, budget_tokens=float(total) * _UMX_BUDGET_FRAC,
        epoch_cap=_UMX_EPOCHS,
    )


ORACLE_DOC_UNIMAX_QUOTAS = f"""
WITH corpus AS (
  SELECT * FROM documents WHERE lang = 'en' OR doc_id % 10 = 0
),
counts AS (
  SELECT lang AS _g,
         CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens,
         sum(len({_TOKS})) * {_UMX_EPOCHS} AS cap_tokens
  FROM corpus GROUP BY 1
),
budget AS (
  SELECT sum(len({_TOKS})) * {_UMX_BUDGET_FRAC} AS b FROM corpus
),
ranked AS (
  SELECT _g, n_tokens, cap_tokens,
         row_number() OVER (ORDER BY cap_tokens, _g) AS i,
         sum(cap_tokens) OVER (
           ORDER BY cap_tokens, _g
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         count(*) OVER () AS l
  FROM counts
),
flagged AS (
  SELECT r.*, b.b,
         CASE WHEN i = l THEN p <= b
              ELSE cap_tokens <= (b - p) / (l - i) END AS sat
  FROM ranked r CROSS JOIN budget b
),
krow AS (
  SELECT coalesce(max(CASE WHEN sat THEN i END), 0) AS k,
         coalesce(max(CASE WHEN sat THEN p END), 0.0) AS pk,
         max(l) AS lk, max(b) AS b
  FROM flagged
)
SELECT f._g AS lang, f.n_tokens, f.cap_tokens,
       round(CASE WHEN f.i <= krow.k THEN f.cap_tokens
                  ELSE (krow.b - krow.pk) / (krow.lk - krow.k) END,
             6) AS quota_tokens,
       round(CASE WHEN f.i <= krow.k THEN f.cap_tokens
                  ELSE (krow.b - krow.pk) / (krow.lk - krow.k) END
             / f.n_tokens, 6) AS epochs_used
FROM flagged f CROSS JOIN krow
"""


# ---------------------------------------------------------------------------
# Token-distribution divergence (drift monitor)
# ---------------------------------------------------------------------------

def q_doc_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS-divergence gate (corpus_prep.token_divergence): the corpus is
    md5-split 50/50 (the same rule as corpus_prep.split_corpus) and the
    halves' per-language unigram distributions are compared — the "is
    the split representative?" check. Fixed-point integer summation
    keeps the float total order-free and engine-portable."""
    d = load_table(spark, sf_dir, "documents")
    s = CP.split_corpus(d, {"a": 0.5, "b": 0.5})
    return CP.token_divergence(
        s.filter(F.col("split") == "a"), s.filter(F.col("split") == "b")
    )


_DIV_BUCKET = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    f" % {CP.MIX_BUCKETS})"
)

ORACLE_DOC_TOKEN_DIVERGENCE = f"""
WITH ta AS (
  SELECT lang, unnest({_TOKS}) AS token FROM documents
  WHERE {_DIV_BUCKET} < {CP.MIX_BUCKETS // 2}
), tb AS (
  SELECT lang, unnest({_TOKS}) AS token FROM documents
  WHERE {_DIV_BUCKET} >= {CP.MIX_BUCKETS // 2}
), ca AS (
  SELECT lang, token, count(*) AS ca FROM ta GROUP BY 1, 2
), cb AS (
  SELECT lang, token, count(*) AS cb FROM tb GROUP BY 1, 2
), j AS (
  SELECT coalesce(ca.lang, cb.lang) AS lang,
         coalesce(ca.token, cb.token) AS token,
         coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
  FROM ca FULL JOIN cb ON ca.lang = cb.lang AND ca.token = cb.token
), tot AS (
  SELECT lang, sum(ca) AS n_a, sum(cb) AS n_b, count(*) AS v
  FROM j GROUP BY 1
), pq AS (
  SELECT j.lang, t.v, t.n_a, t.n_b,
         (j.ca + 1.0) / (t.n_a + t.v) AS p,
         (j.cb + 1.0) / (t.n_b + t.v) AS q
  FROM j JOIN tot t ON j.lang = t.lang
), terms AS (
  SELECT lang, v, n_a, n_b,
         CAST(round((0.5 * (p * ln(p / ((p + q) / 2.0))
                            + q * ln(q / ((p + q) / 2.0)))) * 1e9)
              AS BIGINT) AS fx
  FROM pq
)
SELECT lang, CAST(v AS BIGINT) AS v, CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(sum(fx) / 1e9, 6) AS js_div
FROM terms GROUP BY lang, v, n_a, n_b
"""


#: Rank-error budget for the KLL tier's tolerance gate: ~3x the
#: documented normalized rank error of a k=200 KLL sketch (~1.65%).
_KLL_EPS = 0.05


def q_doc_length_quantiles_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-sketch tier of the length-quantile profile as a BOUNDED-
    TOLERANCE gate (same construction as ``doc_corpus_profile_hll``):
    sketch internals are engine-specific, so instead of comparing the
    estimates the query emits the EXACT quantiles (hash-checked, the
    verification harness) plus a verdict that each sketch estimate's
    exact rank lands within the sketch's error budget —
    ``count(x <= v)/n >= q - eps`` and ``count(x < v)/n <= q + eps``.
    The oracle asserts the exact values AND all-true verdicts, making
    this a full value-checked row at every scale. (The production
    query is the sketch-only projection —
    corpus_prep.stratified_quantiles_sketch.)"""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens("text"))
    )
    est = CP.stratified_quantiles_sketch(d, "n_tokens", _QUANTILES).select(
        "lang", "quantile", F.col("value").alias("_v"),
    )
    lens = d.select("lang", F.col("n_tokens").cast("long").alias("_x"))
    ranks = (
        lens.join(F.broadcast(est), "lang")
        .groupBy("lang", "quantile", "_v")
        .agg(
            F.sum(F.when(F.col("_x") <= F.col("_v"), 1).otherwise(0)).alias("_le"),
            F.sum(F.when(F.col("_x") < F.col("_v"), 1).otherwise(0)).alias("_lt"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "lang",
            "quantile",
            (
                ((F.col("_le") / F.col("_n")) >= F.col("quantile") - _KLL_EPS)
                & ((F.col("_lt") / F.col("_n")) <= F.col("quantile") + _KLL_EPS)
            ).alias("sketch_within_tol"),
        )
    )
    exact = q_doc_length_quantiles(spark, sf_dir)
    return exact.join(ranks, ["lang", "quantile"]).select(
        "lang", "quantile", "value", "n_rows", "sketch_within_tol"
    )


ORACLE_DOC_LENGTH_QUANTILES_KLL = ORACLE_DOC_LENGTH_QUANTILES.replace(
    "CAST(min(cdf.n) AS BIGINT) AS n_rows",
    "CAST(min(cdf.n) AS BIGINT) AS n_rows,\n       true AS sketch_within_tol",
)


# ---------------------------------------------------------------------------
# Consecutive-repeat collapse (corpus_prep.collapse_repeat_tokens gate)
# ---------------------------------------------------------------------------

def q_doc_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stutter-repair gate: collapse runs of consecutively repeated
    tokens and report the collapsed text plus how many tokens were
    removed. Zero-shuffle (HOF index-lambda filter + array_join);
    hash-checked against DuckDB's 1-based index lambda."""
    d = load_table(spark, sf_dir, "documents")
    return CP.collapse_repeat_tokens(d).select(
        "doc_id", "text_collapsed", "n_collapsed"
    )


#: keep iff first occurrence in its run — DuckDB lambda is 1-based.
_COLLAPSED = f"list_filter({_TOKS}, (x, i) -> i = 1 OR ({_TOKS})[i - 1] <> x)"

ORACLE_DOC_COLLAPSE_REPEATS = f"""
SELECT doc_id,
       array_to_string({_COLLAPSED}, ' ') AS text_collapsed,
       CAST(len({_TOKS}) - len({_COLLAPSED}) AS BIGINT) AS n_collapsed
FROM documents
"""


# ---------------------------------------------------------------------------
# Adaptive per-language quality gate (corpus_prep.adaptive_quality_gate)
# ---------------------------------------------------------------------------

#: Gate knob: keep the top half of every language.
_AQ_KEEP = 0.5


def q_doc_adaptive_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gate: per-language percentile-disc(0.5) cutoff
    learned from the data (exact histogram-CDF quantile), docs kept iff
    score >= their language's threshold. Output is every surviving doc
    with its score and the threshold that admitted it."""
    from scraping_etl_spark.operators.textstats import with_quality_score

    d = load_table(spark, sf_dir, "documents")
    return CP.adaptive_quality_gate(
        with_quality_score(d), keep_frac=_AQ_KEEP
    ).select("doc_id", "lang", "quality_score", "threshold")


ORACLE_DOC_ADAPTIVE_QUALITY = f"""
WITH scored AS (
  SELECT doc_id, lang,
         round(0.4 * least(len({_TOKS}) / 200.0, 1.0)
             + 0.4 * (len(list_distinct({_TOKS}))
                      / greatest(len({_TOKS}), 1))
             + 0.2 * least((len(list_filter({_LTOKS},
                                 x -> x IN ('the','a','of','and','to',
                                            'in','is','for','on','with')))
                            / greatest(len({_TOKS}), 1)) / 0.08, 1.0),
               6) AS quality_score
  FROM documents
),
hist AS (
  SELECT lang, quality_score AS v, count(*) AS f FROM scored GROUP BY 1, 2
),
cdf AS (
  SELECT lang, v,
         sum(f) OVER (PARTITION BY lang ORDER BY v) AS cum,
         sum(f) OVER (PARTITION BY lang) AS n
  FROM hist
),
thr AS (
  SELECT lang, min(v) AS threshold
  FROM cdf
  WHERE cum >= ceil(CAST({1.0 - _AQ_KEEP} AS DOUBLE) * n)
  GROUP BY lang
)
SELECT s.doc_id, s.lang, s.quality_score, t.threshold
FROM scored s JOIN thr t ON s.lang = t.lang
WHERE s.quality_score >= t.threshold
"""


# ---------------------------------------------------------------------------
# Count-min heavy hitters (operators/sketches.py gate)
# ---------------------------------------------------------------------------

_HH_K = 20


def q_doc_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch tier of the token-frequency profile as a
    BOUNDED-TOLERANCE gate (same construction as
    ``doc_length_quantiles_kll`` / ``doc_corpus_profile_hll``): sketch
    internals are engine-specific (xxhash64 counters), so the query
    emits the EXACT top-k counts (hash-checked) plus verdicts that
    every CMS point estimate obeys the sketch's two-sided contract —
    never an undercount, and overcount <= ceil(eps*N) with
    eps = e/width (Cormode & Muthukrishnan 2005, Thm 1). N is read
    off the sketch itself (sum of one hash row) and joined via the
    non-foldable 1-row key that keeps the join a BHJ. The production
    query is the sketch pair (sketches.cms_build / cms_estimate)."""
    import math

    from scraping_etl_spark.operators import sketches as SK

    d = load_table(spark, sf_dir, "documents")
    exact = vocab_topk(d, k=_HH_K)
    sketch = SK.cms_build(d).localCheckpoint()
    est = SK.cms_estimate(exact, sketch)
    n_total = (
        sketch.filter(F.col("seed") == 0)
        .agg(F.sum("cnt").alias("_n"))
        .withColumn("_k", F.pmod(F.xxhash64(F.col("_n")), F.lit(1)))
    )
    eps = math.e / SK.CMS_WIDTH
    return (
        est.withColumn("_k", F.pmod(F.xxhash64("token"), F.lit(1)))
        .join(F.broadcast(n_total), "_k")
        .select(
            "token",
            "n_occ",
            "n_docs",
            "rank",
            (F.col("cms_est") >= F.col("n_occ")).alias("cms_ge_exact"),
            # NOTE: cms_within_tol asserts the PROBABILISTIC CMS bound
            # (holds with prob 1 - e^-depth per query; a-priori ~13%
            # chance SOME of the candidates exceeds it under fresh
            # data). Deterministic and green on the fixed gate corpus;
            # a future red here after a scale/seed/data change is a
            # data-dependent tolerance trip, NOT an operator
            # regression — triage like the HLL/KLL tolerance gates.
            (
                F.col("cms_est")
                <= F.col("n_occ") + F.ceil(F.lit(eps) * F.col("_n"))
            ).alias("cms_within_tol"),
        )
    )


ORACLE_DOC_HEAVY_HITTERS = ORACLE_DOC_VOCAB_TOPK.replace(
    f"LIMIT {_VOCAB_K}", f"LIMIT {_HH_K}"
).replace(
    "AS INTEGER) AS rank",
    "AS INTEGER) AS rank,\n       true AS cms_ge_exact,\n"
    "       true AS cms_within_tol",
)


# ---------------------------------------------------------------------------
# RAG sliding-window chunking (corpus_prep.sliding_chunks gate)
# ---------------------------------------------------------------------------

_RAG_SIZE, _RAG_STRIDE = 16, 12


def q_doc_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval chunking gate: overlapping 16-token windows at stride
    12 (4-token context overlap) with a right-aligned tail window, so
    every token is covered. Zero-shuffle per-row sequence + slice; the
    oracle reproduces the start grid explicitly (DuckDB's
    list_distinct is unordered, so the tail-append is spelled out as a
    CASE on the remainder instead)."""
    d = load_table(spark, sf_dir, "documents")
    return CP.sliding_chunks(d, size=_RAG_SIZE, stride=_RAG_STRIDE)


ORACLE_DOC_RAG_CHUNKS = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents)
SELECT doc_id, unnest(list_transform(
  CASE WHEN len(t) = 0 THEN CAST([] AS BIGINT[])
       WHEN len(t) <= {_RAG_SIZE} THEN [CAST(1 AS BIGINT)]
       WHEN (len(t) - {_RAG_SIZE}) % {_RAG_STRIDE} = 0
         THEN list_transform(
                generate_series(1, len(t) - {_RAG_SIZE} + 1, {_RAG_STRIDE}),
                s -> CAST(s AS BIGINT))
       ELSE list_append(
         list_transform(
           generate_series(1, len(t) - {_RAG_SIZE} + 1, {_RAG_STRIDE}),
           s -> CAST(s AS BIGINT)),
         CAST(len(t) - {_RAG_SIZE} + 1 AS BIGINT)) END,
  (s, i) -> {{'chunk_idx': CAST(i - 1 AS BIGINT),
             'chunk_text': array_to_string(
                 list_slice(t, s, s + {_RAG_SIZE} - 1), ' '),
             'n_tokens': CAST(least(len(t) - s + 1, {_RAG_SIZE}) AS BIGINT)}}),
  recursive := true)
FROM tok
"""


# ---------------------------------------------------------------------------
# Heavy-hitter candidate generation (sketches.heavy_hitter_candidates)
# ---------------------------------------------------------------------------

_HHC_M, _HHC_BUCKETS = 20, 16


def q_doc_hh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation gate: the global top-20 tokens RE-RANKED
    from the salt-bucketed candidate pool (per-bucket top-20 over 16
    token-derived buckets). By the containment guarantee
    (sketches.heavy_hitter_candidates: a token's bucket count is its
    global count), the candidate path must reproduce the exact global
    top-20 — which is precisely what the oracle asserts."""
    from pyspark.sql.window import Window

    from scraping_etl_spark.operators import sketches as SK

    d = load_table(spark, sf_dir, "documents")
    cand = SK.heavy_hitter_candidates(d, m=_HHC_M, n_buckets=_HHC_BUCKETS)
    w = Window.orderBy(F.desc("n_occ"), F.asc("token"))
    return (
        cand.orderBy(F.desc("n_occ"), F.asc("token")).limit(_HHC_M)
        .withColumn("rank", F.row_number().over(w))
        .select("token", "n_occ", "rank")
    )


ORACLE_DOC_HH_CANDIDATES = f"""
WITH tok AS (
  SELECT doc_id, unnest({_LTOKS}) AS token FROM documents
),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_occ FROM tok GROUP BY 1
),
top AS (
  SELECT * FROM counts ORDER BY n_occ DESC, token LIMIT {_HHC_M}
)
SELECT token, n_occ,
       CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INTEGER) AS rank
FROM top
"""


# ---------------------------------------------------------------------------
# Ordered token-id encoding (bpe.encode_token_ids gate — r10 queue)
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=4)
def _bpe_encode_artifacts(sf_dir: str) -> tuple:
    """Train-once encode artifacts per scale dir: the word→subwords
    segmentation (subwords space-joined) and the lexicographic dense-id
    vocabulary — both model-scale collects under the train-once
    plan-constants convention, and the vocabulary derivation (sorted distinct
    subwords) is exactly :func:`bpe.bpe_vocab`'s rank."""
    _, seg_tbl = _bpe_trained(sf_dir)
    seg_rows = tuple((w, " ".join(sym)) for w, sym in seg_tbl)
    subwords = sorted({s for _, syms in seg_rows for s in syms.split(" ")})
    vocab_rows = tuple((s, i) for i, s in enumerate(subwords))
    return seg_rows, vocab_rows


def q_doc_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM input prep end-to-end: train BPE → segment the vocabulary →
    encode every document to its ORDERED subword-id sequence
    (bpe.encode_token_ids — the one token-cardinality shuffle with a
    (pos, subpos)-sorted reassembly). Emits the id count and the
    space-joined id string so the order itself is hash-gated."""
    merges, table = _bpe_artifacts(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    seg = BPE.word_segment_table(d, list(merges))
    vocab = BPE.bpe_vocab(seg)
    enc = BPE.encode_token_ids(d, seg, vocab, seg_rows=len(table))
    return enc.select(
        "doc_id",
        "n_ids",
        F.array_join(
            F.transform("token_ids", lambda x: x.cast("string")), " "
        ).alias("ids_csv"),
    )


def oracle_doc_token_ids(sf_dir: str) -> str:
    """Lazy DuckDB twin: segmentation + vocabulary embedded as plan
    constants; the ordered encode is an exact relational mirror
    (unnest-with-subscripts twice, id join, ORDER BY (pos, spos)
    string_agg)."""
    seg_rows, vocab_rows = _bpe_encode_artifacts(sf_dir)
    seg_values = ",\n    ".join(
        "('{}', '{}')".format(w.replace("'", "''"), s.replace("'", "''"))
        for w, s in seg_rows
    )
    vocab_values = ",\n    ".join(
        "('{}', {})".format(s.replace("'", "''"), i) for s, i in vocab_rows
    )
    return f"""
WITH seg(word, syms) AS (VALUES
    {seg_values}
),
vocab(subword, token_id) AS (VALUES
    {vocab_values}
),
tok AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w
  FROM (SELECT doc_id, {_LTOKS} AS t FROM documents)
),
segged AS (
  SELECT tok.doc_id, tok.pos,
         CASE WHEN seg.syms IS NOT NULL THEN string_split(seg.syms, ' ')
              ELSE list_transform(generate_series(1, len(tok.w)),
                                  i -> substr(tok.w, i, 1))
         END AS sl
  FROM tok LEFT JOIN seg ON tok.w = seg.word
),
subs AS (
  SELECT doc_id, pos, generate_subscripts(sl, 1) AS spos, unnest(sl) AS subword
  FROM segged
),
ids AS (
  SELECT s.doc_id, s.pos, s.spos,
         COALESCE(v.token_id, -1) AS tid
  FROM subs s LEFT JOIN vocab v ON s.subword = v.subword
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_ids,
         string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos, spos) AS ids_csv
  FROM ids GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(agg.n_ids, 0) AS n_ids,
       COALESCE(agg.ids_csv, '') AS ids_csv
FROM documents d LEFT JOIN agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Train-ready export pipeline (the tokenize-side composition gate)
# ---------------------------------------------------------------------------

#: Re-key offset for the planted duplicate copies (the synthetic
#: corpus has no duplicate texts — same convention as chunk dedup).
_TE_DUP_OFFSET = 1_000_000
_TE_BUDGET = 512        # token IDS per training sequence
_TE_PACK_SHARDS = 8     # window-bounding shards for the packer
_TE_OUT_SHARDS = 8      # shuffled output shards
_TE_SEED = "epoch0"


def _te_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a re-keyed copy of every 5th doc, so the dedup
    stage has real work (the synthetic corpus is duplicate-free)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    dups = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_TE_DUP_OFFSET)
    )
    return d.unionByName(dups)


def q_train_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole TOKENIZE-side export path as ONE query — what a
    training-data team runs between "curated" and "bytes on disk",
    end-to-end on this engine (the tokenize analog of
    ``curation_pipeline``; reference anchor: the notebook's final
    export cells, ``DB/ETL.ipynb`` raw 1457-1510):

    exact dedup (min-id survivor per content hash, over a corpus with
    planted re-keyed copies) → BPE-encode every survivor to its
    ordered token-id sequence (``bpe.encode_token_ids``) → pack the
    ID sequences into ``_TE_BUDGET``-id training sequences
    (``corpus_prep.place_sequences`` on ``n_ids`` — REAL tokenizer
    lengths, not whitespace words) → deterministic shuffled-shards
    layout over the sequences (``curation.shuffle_to_shards``).

    Every stage is an already-gated operator; this row gates their
    COMPOSITION: packing boundaries depend on the trained merges,
    shard layout depends on the packing, and the per-sequence id
    checksum (``ids_sum``) rides all four stages. Plan: dedup is one
    partial-agg shuffle + a semi join; encode is the audited
    token-cardinality reassembly; packing is one shard-bounded window
    over (doc_id, n_ids, ids_sum) slim rows; the shuffle is one
    hash exchange + per-shard task-sized sorts."""
    from scraping_etl_spark.operators.curation import shuffle_to_shards

    merges, table = _bpe_artifacts(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    corpus = _te_corpus(spark, sf_dir)
    # 1. curate: exact dedup, min-id survivor per content hash
    surv = corpus.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # slim spine through the rest of the pipeline; checkpoint once so
    # the dedup lineage doesn't recompute under encode's two consumers
    kept = (
        corpus.join(surv.select("doc_id"), "doc_id", "left_semi")
        .localCheckpoint()
    )
    # 2. encode: ordered subword ids (vocab trained on the raw corpus,
    #    as _bpe_encode_artifacts embeds for the oracle)
    seg = BPE.word_segment_table(d, list(merges))
    vocab = BPE.bpe_vocab(seg)
    enc = BPE.encode_token_ids(
        kept, seg, vocab, seg_rows=len(table)
    ).withColumn(
        "ids_sum",
        F.aggregate("token_ids", F.lit(0).cast("long"), lambda a, x: a + x),
    )
    enc = enc.join(kept.select("doc_id", "lang"), "doc_id")
    # 3. pack: id-budget sequences, shard-bounded window
    placed = CP.place_sequences(
        enc.select("lang", "doc_id", "n_ids", "ids_sum"),
        budget=_TE_BUDGET, len_col="n_ids", n_shards=_TE_PACK_SHARDS,
    )
    seqs = (
        placed.groupBy("lang", "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_ids").cast("long").alias("seq_ids"),
            F.sum("ids_sum").cast("long").alias("ids_sum"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .withColumnRenamed("shard", "pack_shard")
        .withColumn(
            "seq_key", F.concat_ws("|", "lang", "pack_shard", "seq_id")
        )
    )
    # 4. shuffled-shards layout over the packed sequences
    out = shuffle_to_shards(
        seqs, n_shards=_TE_OUT_SHARDS, seed=_TE_SEED, key_col="seq_key"
    )
    return out.select(
        "shard", "shard_pos", "seq_key", "lang", "n_docs", "seq_ids",
        "ids_sum", "first_doc", "last_doc",
    ).orderBy("shard", "shard_pos")


def oracle_train_export_pipeline(sf_dir: str) -> str:
    """Lazy DuckDB twin of the export composition: the trained
    segmentation + vocabulary embedded as plan constants (shared
    ``_bpe_encode_artifacts`` — same artifacts the encode gate uses),
    then dedup → per-doc (n_ids, ids_sum) → md5-shard window packing →
    md5-perm shard ranking, each an exact relational mirror."""
    seg_rows, vocab_rows = _bpe_encode_artifacts(sf_dir)
    seg_values = ",\n    ".join(
        "('{}', '{}')".format(w.replace("'", "''"), s.replace("'", "''"))
        for w, s in seg_rows
    )
    vocab_values = ",\n    ".join(
        "('{}', {})".format(s.replace("'", "''"), i) for s, i in vocab_rows
    )
    return f"""
WITH seg(word, syms) AS (VALUES
    {seg_values}
),
vocab(subword, token_id) AS (VALUES
    {vocab_values}
),
corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + {_TE_DUP_OFFSET} AS doc_id, lang, text
  FROM documents WHERE doc_id % 5 = 0
),
surv AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
kept AS (SELECT c.* FROM corpus c SEMI JOIN surv USING (doc_id)),
tok AS (
  SELECT doc_id, unnest(t) AS w
  FROM (SELECT doc_id, {_LTOKS} AS t FROM kept)
),
segged AS (
  SELECT tok.doc_id,
         CASE WHEN seg.syms IS NOT NULL THEN string_split(seg.syms, ' ')
              ELSE list_transform(generate_series(1, len(tok.w)),
                                  i -> substr(tok.w, i, 1))
         END AS sl
  FROM tok LEFT JOIN seg ON tok.w = seg.word
),
subs AS (SELECT doc_id, unnest(sl) AS subword FROM segged),
perdoc AS (
  SELECT s.doc_id,
         CAST(count(*) AS BIGINT) AS n_ids,
         CAST(sum(COALESCE(v.token_id, -1)) AS BIGINT) AS ids_sum
  FROM subs s LEFT JOIN vocab v ON s.subword = v.subword
  GROUP BY 1
),
encd AS (
  SELECT k.doc_id, k.lang,
         COALESCE(p.n_ids, 0) AS n_ids,
         COALESCE(p.ids_sum, 0) AS ids_sum
  FROM kept k LEFT JOIN perdoc p USING (doc_id)
),
sharded AS (
  SELECT lang, doc_id, n_ids, ids_sum,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          % {_TE_PACK_SHARDS}) AS pack_shard
  FROM encd
),
placed AS (
  SELECT lang, pack_shard, doc_id, n_ids, ids_sum,
         CAST(floor(coalesce(
           sum(n_ids) OVER (PARTITION BY lang, pack_shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING),
           0) / {_TE_BUDGET}) AS BIGINT) AS seq_id
  FROM sharded
),
seqs AS (
  SELECT lang, pack_shard, seq_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_ids) AS BIGINT) AS seq_ids,
         CAST(sum(ids_sum) AS BIGINT) AS ids_sum,
         min(doc_id) AS first_doc,
         max(doc_id) AS last_doc
  FROM placed
  GROUP BY 1, 2, 3
),
keyed AS (
  SELECT *,
         lang || '|' || CAST(pack_shard AS VARCHAR)
              || '|' || CAST(seq_id AS VARCHAR) AS seq_key
  FROM seqs
),
permed AS (
  SELECT *, md5('{_TE_SEED}' || '|' || seq_key) AS perm FROM keyed
),
laid AS (
  SELECT *,
         CAST((('0x' || substr(perm, 1, 15))::BIGINT % {_TE_OUT_SHARDS})
              AS INTEGER) AS shard
  FROM permed
)
SELECT shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY perm, seq_key) - 1
            AS BIGINT) AS shard_pos,
       seq_key, lang, n_docs, seq_ids, ids_sum, first_doc, last_doc
FROM laid
ORDER BY shard, shard_pos
"""


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (corpus_prep.ccnet_buckets gate)
# ---------------------------------------------------------------------------

def q_doc_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail LM-score thirds (CCNet, Wenzek et
    al. 2019) over the documents table — self-scored bigram LM, exact
    per-language ``percentile_disc`` cutoffs on the fixed-point score,
    ties downward. Per-doc output so the hash gates BOTH the score
    reproduction and the cutoff arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    return CP.ccnet_buckets(d).select(
        "doc_id", "lang", "n_bigrams", "avg_logp", "bucket"
    )


ORACLE_DOC_CCNET_BUCKETS = f"""
WITH tok AS (
  SELECT doc_id, {_LTOKS} AS t FROM documents
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
  SELECT d.doc_id, d.lang,
         CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
         coalesce(avg_logp, 0.0) AS avg_logp,
         CAST(round(coalesce(avg_logp, 0.0) * 1000000) AS BIGINT) AS fxv
  FROM documents d LEFT JOIN agg USING (doc_id)
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
         min(CASE WHEN cum >= ceil(0.3333333333333333 * n) THEN fxv END) AS q0,
         min(CASE WHEN cum >= ceil(0.6666666666666666 * n) THEN fxv END) AS q1
  FROM cdf GROUP BY 1
)
SELECT s.doc_id, s.lang, s.n_bigrams, s.avg_logp,
       CASE WHEN s.fxv <= c.q0 THEN 'tail'
            WHEN s.fxv <= c.q1 THEN 'middle'
            ELSE 'head' END AS bucket
FROM scored s JOIN cutw c USING (lang)
"""


# ---------------------------------------------------------------------------
# Tokenizer fertility report (bpe.tokenizer_fertility gate)
# ---------------------------------------------------------------------------

def q_doc_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility/compression of the trained BPE
    vocabulary (bpe.tokenizer_fertility), from the train-once BPE
    artifacts."""
    merges, table = _bpe_artifacts(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    seg = BPE.word_segment_table(d, list(merges))
    return BPE.tokenizer_fertility(d, seg, seg_rows=len(table))


def oracle_doc_bpe_fertility(sf_dir: str) -> str:
    """Lazy DuckDB twin: the learned word→n_sub table rides in as
    VALUES plan constants (training is deterministic, so both engines
    share one model); the report is then an exact relational mirror."""
    _, table = _bpe_artifacts(sf_dir)
    values = ",\n    ".join(
        "('{}', {})".format(w.replace("'", "''"), n) for w, n in table
    )
    return f"""
WITH seg(word, n_sub) AS (VALUES
    {values}
),
tok AS (
  SELECT lang, unnest({_LTOKS}) AS w FROM documents
),
wc AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2),
j AS (
  SELECT wc.lang, wc.c,
         coalesce(seg.n_sub, len(wc.w)) AS ns,
         len(wc.w) AS ln
  FROM wc LEFT JOIN seg ON wc.w = seg.word
)
SELECT lang,
       CAST(sum(c) AS BIGINT) AS n_words,
       CAST(sum(c * ns) AS BIGINT) AS n_subwords,
       CAST(sum(c * ln) AS BIGINT) AS n_chars,
       round(sum(c * ns) / sum(c), 6) AS fertility,
       round(sum(c * ln) / sum(c * ns), 6) AS chars_per_subword
FROM j GROUP BY 1
"""


def q_doc_kn_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score (corpus_prep.with_kn_score):
    absolute discounting + continuation back-off — the KenLM/CCNet
    smoothing family, vs the add-one tier of ``doc_lm_score``."""
    d = load_table(spark, sf_dir, "documents")
    return CP.with_kn_score(d).select("doc_id", "n_bigrams", "avg_logp_kn")


ORACLE_DOC_KN_LM = f"""
WITH tok AS (
  SELECT doc_id, {{_LTOKS}} AS t FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
                     THEN list_transform(generate_series(1, len(t) - 1),
                                         i -> t[i] || ' ' || t[i+1])
                     ELSE [] END) AS g
  FROM tok
),
pg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS n FROM bi GROUP BY 1, 2),
bc AS (
  SELECT g, split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
         CAST(sum(n) AS BIGINT) AS cbi
  FROM pg GROUP BY 1, 2, 3
),
ctx AS (SELECT w1, CAST(sum(cbi) AS BIGINT) AS cw1, count(*) AS nf
        FROM bc GROUP BY 1),
cont AS (SELECT w2, count(*) AS np FROM bc GROUP BY 1),
tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bc),
stats AS (
  SELECT g, ln((greatest(cbi - 0.75, 0.0) + 0.75 * nf * np / t) / cw1) AS logp
  FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tt
),
agg AS (
  SELECT pg.doc_id,
         CAST(sum(n) AS BIGINT) AS n_bigrams,
         round(sum(n * logp) / sum(n), 6) AS avg_logp_kn
  FROM pg JOIN stats USING (g)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       coalesce(agg.avg_logp_kn, 0.0) AS avg_logp_kn
FROM documents d LEFT JOIN agg USING (doc_id)
"""
ORACLE_DOC_KN_LM = ORACLE_DOC_KN_LM.replace("{_LTOKS}", _LTOKS)


def q_doc_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer round trip: train BPE → encode with end-of-word
    sentinels → DECODE back to text (bpe.decode_token_ids). The
    oracle is the raw lowercased-token join — it knows nothing about
    BPE — so the hash gate certifies that the entire
    train→segment→encode→decode composition is lossless on the corpus
    it was trained on."""
    merges, table = _bpe_artifacts(sf_dir)
    d = load_table(spark, sf_dir, "documents")
    seg = BPE.word_segment_table(d, list(merges))
    vocab = BPE.bpe_vocab(seg)
    enc = BPE.encode_token_ids(
        d, seg, vocab, append_eow=True, seg_rows=len(table)
    )
    return BPE.decode_token_ids(enc, vocab)


ORACLE_DOC_BPE_ROUNDTRIP = f"""
SELECT doc_id, array_to_string({{_LTOKS}}, ' ') AS text_rt FROM documents
"""
ORACLE_DOC_BPE_ROUNDTRIP = ORACLE_DOC_BPE_ROUNDTRIP.replace("{_LTOKS}", _LTOKS)

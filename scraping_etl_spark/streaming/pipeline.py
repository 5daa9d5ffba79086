"""Structured Streaming twins of the batch pipeline (SURVEY §2.8).

The reference has no true streaming, but its incremental
append-per-article sink (ScienceDirect/ScienceDirect.py:457-488
``save_to_json`` — an O(n²) whole-file rewrite per record) is
stream-shaped; SURVEY §1.1 maps it to Structured Streaming. Each stream
here is the incremental form of a batch operator or of the warehouse
build (:func:`incremental_star_stream` runs ``build_star`` per
micro-batch), and all of them share three guarantees:

- **Replay-safe batch partitions.** A micro-batch lands each output as
  its own ``batch_id=N`` partition with dynamic partition overwrite
  (:func:`_write_batch_partition`), so a checkpoint replay rewrites
  exactly that partition instead of appending duplicates. Lake-state
  screens read only ``batch_id < N`` partitions, so a replay never
  screens against its own earlier output.
- **Rename-aside swap for merged sinks.** A sink that is rewritten as a
  whole per batch (keyed upserts, merged dims, SCD2 history) is written
  to a sibling temp dir and swapped in by two renames, with a
  crash-recovery prologue (:func:`_merge_into_sink`).
- **One read and one start.** Every file-source stream reads through
  :func:`_read_files` (explicit schema, ``maxFilesPerTrigger`` bounds a
  micro-batch), and every stream starts through :func:`_start`
  (checkpoint location, plus the ``availableNow`` trigger that drains
  the source and stops).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from scraping_etl_spark import materialize as M
from scraping_etl_spark import schemas


def _read_files(
    spark: SparkSession,
    schema: T.StructType,
    source: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """The file-stream reader every stream shares: parquet files under
    ``source`` read with an explicit schema; ``max_files_per_trigger``
    (when set) bounds how many new files one micro-batch takes."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source)


def _write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Land ``df`` as the ``batch_id=<batch_id>`` partition of ``path``
    with dynamic partition overwrite: a replayed micro-batch rewrites
    exactly its own partition and leaves every other batch's alone.

    The guarantee assumes batch boundaries reproduce, which holds for
    replays under one checkpoint. A checkpoint reset with a different
    slicing (another ``maxFilesPerTrigger``) can leave stale partitions
    behind, so the output dir and the checkpoint are one unit of state."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _earlier_batches(
    spark: SparkSession,
    path: str | None,
    batch_id: int,
    merge_schema: bool = False,
) -> DataFrame | None:
    """The ``batch_id`` partitions of ``path`` landed before ``batch_id``
    (the lake a micro-batch screens against), or None while none has
    landed. ``merge_schema`` reads partitions whose columns differ (a
    column that later batches added)."""
    import os

    if path is None or not os.path.isdir(path) or not any(
        e.startswith("batch_id=") for e in os.listdir(path)
    ):
        return None
    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    return reader.parquet(path).filter(F.col("batch_id") < batch_id)


def _start(
    writer: DataStreamWriter, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """Start every stream the same way: ``writer`` carries the sink
    (``foreachBatch`` or a file sink) and its output mode; the query
    checkpoints under ``checkpoint_dir`` and, with ``available_now``,
    drains what the source holds now and stops."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _merge_into_sink(
    batch_df: DataFrame,
    out_dir: str,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """Fold ``batch_df`` into a plain-parquet sink that is rewritten as
    a whole: ``merge(current, batch)`` gives the new contents (the first
    batch is written as is), which go to a sibling temp dir and are
    swapped in via rename-aside.

    This is the portable MERGE for parquet-on-a-filesystem: the merged
    plan never reads files that the write is concurrently deleting
    (the temp dir breaks the self-read cycle). The swap is two renames
    with a crash-recoverable intermediate — delete-then-rename would
    leave *no* sink if the process died between the steps, and on
    checkpoint replay that reads as "first batch", silently discarding
    every previously merged key. Here every crash window leaves either
    ``out_dir`` or ``out_dir.old`` intact, and the prologue restores a
    consistent sink before merging (the replayed batch then re-merges
    idempotently). Genuine read errors on an existing sink (corrupt
    footer, permissions) propagate and fail the micro-batch instead of
    being mistaken for the first batch.

    On an object store / real cluster this becomes a Delta or Iceberg
    MERGE INTO — the batch-side plan is identical. Cost is one scan of
    the sink per micro-batch, which is the price of exact keyed upserts
    on a format with no row-level ops; keep it for dims and per-key
    totals (small relative to facts), never for fact appends.
    """
    sink_exists = _restore_consistent_sink(out_dir)
    if sink_exists:
        current = batch_df.sparkSession.read.parquet(out_dir)
        merged = merge(current, batch_df)
    else:  # first batch — sink doesn't exist yet
        merged = batch_df
    _swap_write(merged, out_dir, sink_exists)


def _merge_overwrite_by_key(batch_df: DataFrame, out_dir: str, keys: list[str]) -> None:
    """Keyed upsert through :func:`_merge_into_sink`: keep every
    existing row whose key is absent from the batch, union the batch
    (batch wins)."""
    _merge_into_sink(
        batch_df,
        out_dir,
        lambda current, batch: current.join(
            batch.select(*keys).distinct(), keys, "left_anti"
        ).unionByName(batch),
    )


def _restore_consistent_sink(out_dir: str) -> bool:
    """Crash recovery prologue for the rename-aside swap: roll a
    half-finished previous swap back (or forward) so the sink is
    consistent before this batch merges. Returns whether a sink exists."""
    import os
    import shutil

    tmp = out_dir.rstrip("/") + ".tmp"
    old = out_dir.rstrip("/") + ".old"
    if os.path.exists(old):
        if os.path.exists(out_dir):
            shutil.rmtree(old)  # crash after swap, before cleanup
        else:
            os.rename(old, out_dir)  # crash mid-swap: restore pre-batch sink
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # incomplete previous write
    return os.path.exists(out_dir)


def _swap_write(merged: DataFrame, out_dir: str, sink_exists: bool) -> None:
    """Write ``merged`` to a sibling temp dir and swap it in via the
    crash-recoverable rename-aside (see :func:`_merge_into_sink` for
    why delete-then-rename is not safe)."""
    import os
    import shutil

    tmp = out_dir.rstrip("/") + ".tmp"
    old = out_dir.rstrip("/") + ".old"
    merged.write.mode("overwrite").parquet(tmp)
    if sink_exists:
        os.rename(out_dir, old)
    os.rename(tmp, out_dir)
    if os.path.exists(old):
        shutil.rmtree(old)


def incremental_append_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.EVENTS,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """S11 streaming twin: watch ``source_dir`` for new parquet files,
    append them to ``out_dir`` exactly once (checkpointed)."""
    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)
    return _start(
        stream.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
        available_now,
    )


def hourly_rollup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.EVENTS,
    watermark: str = "2 hours",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming hourly event rollup, upserted to parquet.

    Mirrors the batch ``q_hourly_event_rollup`` semantics: per
    (hour-window, event_type) counts and value sums. ``update`` output
    mode + ``foreachBatch`` upsert keeps windows correct under late
    data within the watermark.

    The sink is partitioned by BOTH aggregation keys (hour bucket AND
    event_type) so dynamic-overwrite granularity matches the update
    granularity: an update-mode micro-batch carries only the
    (window, event_type) groups that changed in that trigger, and each
    such group rewrites exactly its own partition. Partitioning by
    hour alone would let a batch touching one event_type in an hour
    silently delete the other event_types' rows for that hour.
    """
    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # dynamic partition overwrite at (hour_key, event_type)
        # granularity — exactly the aggregation key, so each changed
        # group rewrites only itself; untouched groups from earlier
        # batches survive. Idempotent under replay (the streaming agg
        # re-emits the same cumulative values).
        (
            batch_df.withColumn("hour_key", F.date_format("hour_start", "yyyyMMddHH"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("hour_key", "event_type")
            .parquet(out_dir)
        )

    return _start(
        agg.writeStream.outputMode("update").foreachBatch(upsert),
        checkpoint_dir,
        available_now,
    )


SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
    schema: T.StructType = schemas.EVENTS,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    streaming twin of the batch ``q_sessionize`` (plans/relational.py):
    per-user session counting where a gap > ``gap_seconds`` opens a new
    session.

    State design (the part ``session_window`` can't express when the
    output must be *running per-user totals* rather than per-session
    rows): one fixed-size state row per user — (last event time,
    session count, event count). Each micro-batch sorts its per-user
    rows by time, folds them into the state, and emits the updated
    totals. State is O(|users|), not O(events); a production deployment
    adds state TTL via ``GroupStateTimeout.ProcessingTimeTimeout``.

    Within-batch rows arrive sorted here, but events that arrive in a
    LATER batch with an earlier timestamp are folded in arrival order —
    the documented at-scale trade-off of per-key running state (exactly
    what a watermark + drop-late policy would formalize).
    """
    import pandas as pd

    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state):
        (user_id,) = key
        if state.exists:
            last_ts, n_sess, n_ev = state.get
        else:
            last_ts, n_sess, n_ev = None, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts in pdf["ts"]:
                ts_us = int(ts.value // 1000) if hasattr(ts, "value") else int(ts)
                if last_ts is None or ts_us - last_ts > gap_us:
                    n_sess += 1
                last_ts = ts_us
                n_ev += 1
        state.update((last_ts, n_sess, n_ev))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [n_sess], "n_events": [n_ev]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)
    sessions = (
        stream.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # keyed merge: an update batch carries only the users whose
        # state changed this trigger; merging against the sink (batch
        # wins on user_id) keeps every other user's latest totals.
        # A bucket-partitioned dynamic overwrite would delete the other
        # users sharing a bucket — silent data loss across batches.
        _merge_overwrite_by_key(batch_df, out_dir, ["user_id"])

    return _start(
        sessions.writeStream.outputMode("update").foreachBatch(upsert),
        checkpoint_dir,
        available_now,
    )


def dedup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.DOCUMENTS,
    key_cols: tuple[str, ...] = ("text",),
    event_time_col: str | None = None,
    watermark: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming exact dedup — duplicate suppression at ingest, the
    streaming twin of ``operators/dedup.exact_dup_groups`` and the op a
    training-data pipeline runs BEFORE documents ever land in the lake
    (dedup-on-write beats dedup-as-a-batch-job: the corpus is never
    dirty, and every downstream consumer shares one pass).

    The dedup key is ``md5`` of the key columns joined with a unit
    separator (nulls mapped to a NUL sentinel, so reordered/null-shifted
    keys cannot collide); a single non-null key column degenerates to
    ``md5(value)`` — the batch operator's convention, so batch and
    stream agree on what "duplicate" means. State holds one entry per
    distinct key:

    - default (no watermark): ``dropDuplicates`` with unbounded state —
      exact global dedup; state size is O(|distinct keys|), the honest
      cost of exactly-once global dedup (RocksDB state store at
      production scale).
    - with ``event_time_col`` + ``watermark``:
      ``dropDuplicatesWithinWatermark`` — state is bounded by the
      watermark horizon; duplicates arriving later than the horizon
      pass through. That is the standard at-scale trade (dedup windows
      in CCNet-style pipelines) and the caller opts into it explicitly.
    """
    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)
    # unit separator + NUL null-sentinel keep multi-column keys
    # unambiguous: ("ab","c") vs ("a","bc") and ("a",NULL) vs (NULL,"a")
    # must not hash alike (concat_ws alone both joins and SKIPS nulls).
    # A single non-null key column degenerates to md5(value) — the same
    # content-hash convention as the batch exact_dup_groups operator.
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols
    ]
    hashed = stream.withColumn(
        "content_hash", F.md5(F.concat_ws("\x1f", *parts))
    )
    if watermark is not None:
        if event_time_col is None:
            raise ValueError("watermark requires event_time_col")
        deduped = hashed.withWatermark(
            event_time_col, watermark
        ).dropDuplicatesWithinWatermark(["content_hash"])
    else:
        deduped = hashed.dropDuplicates(["content_hash"])
    return _start(
        deduped.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
        available_now,
    )


def corpus_prep_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.DOCUMENTS,
    bench: DataFrame | None = None,
    vocab: DataFrame | None = None,
    max_oov_ratio: float = 0.5,
    dedup_ref: DataFrame | None = None,
    dedup_threshold: float = 0.8,
    lm_ref: DataFrame | None = None,
    min_avg_logp: float = -10.0,
    clf_weights: list[float] | None = None,
    min_quality_prob: float = 0.5,
    lang_profiles: DataFrame | None = None,
    allowed_langs: tuple[str, ...] = (),
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Corpus-prep gates at ingest — the streaming twin of
    ``doc_corpus_pipeline``'s gate stage (plans/corpus_ops.py): each
    micro-batch runs the BATCH operators inside ``foreachBatch`` —
    :func:`~scraping_etl_spark.operators.corpus_prep.scrub_pii` →
    :func:`~...corpus_prep.with_repetition_stats` → (when ``bench`` is
    given) :func:`~...corpus_prep.decontaminate` against the STATIC
    benchmark corpus → (when ``vocab`` is given)
    :func:`~...corpus_prep.with_oov_ratio` against the STATIC reference
    vocabulary, dropping docs above ``max_oov_ratio`` → (when
    ``dedup_ref`` is given)
    :func:`~scraping_etl_spark.operators.dedup.cross_corpus_neardup_pairs`
    against the STATIC reference corpus, dropping incoming docs whose
    shingle Jaccard against any lake document reaches
    ``dedup_threshold`` ("have we seen this before?" at the door) →
    (when ``lm_ref`` is given)
    :func:`~...corpus_prep.with_lm_score` against the STATIC curated
    LM corpus, dropping docs whose mean bigram log-prob falls below
    ``min_avg_logp`` (the CCNet perplexity filter at ingest) → (when
    ``clf_weights`` is given) the trained logistic quality classifier
    (:mod:`~scraping_etl_spark.operators.classifier`), dropping docs
    scoring under ``min_quality_prob`` → (when ``lang_profiles`` is
    given) the Cavnar-Trenkle n-gram language screen
    (:func:`~scraping_etl_spark.operators.textstats.lang_id_ngram`
    against STATIC profiles trained offline via
    :func:`~scraping_etl_spark.operators.textstats.char_ngram_profiles`
    over the lake), keeping only docs whose predicted language is in
    ``allowed_langs`` (the CCNet/C4 "keep these languages" door) —
    and lands only the documents that pass every gate, with the
    scrubbed text and the quality signals.

    Semantics: every gate is per-document (scrub and repetition are
    row-local projections; contamination and OOV test each doc against
    static side inputs), so batch-local evaluation equals global — any
    micro-batch partitioning of the corpus lands exactly the documents
    the batch pipeline keeps. That is what makes the twin honest rather
    than approximate. The one deliberately-static piece is ``vocab``:
    a corpus-global top-k vocabulary cannot be computed inside a
    micro-batch, so the caller supplies it (typically
    ``textstats.vocab_topk`` over the existing lake) — the standard
    side-input pattern for stream-vs-corpus statistics.

    Idempotency: each micro-batch dynamic-overwrites its own
    ``batch_id`` partition (the fact-path convention of
    :func:`incremental_star_stream`), so checkpoint replays rewrite
    their partitions instead of appending duplicates — PROVIDED the
    replay keeps the same trigger/slicing config: replaying with a
    different ``maxFilesPerTrigger`` re-buckets rows into different
    batch_ids, and a replayed batch that now gates down to zero rows
    leaves the earlier run's partition in place. When resetting a
    checkpoint, either keep the slicing identical or clear ``out_dir``
    with it. At 100 TB this is the dedup-on-write shape: the corpus
    lake only ever contains already-scrubbed, already-gated documents,
    and every downstream consumer shares one prep pass.

    Static side inputs are prepared ONCE here, not per micro-batch:
    the benchmark gram set + its broadcast probe
    (:func:`~scraping_etl_spark.operators.corpus_prep.prepare_bench_grams`),
    the reference LM's count tables + probes
    (:func:`~scraping_etl_spark.operators.corpus_prep.prepare_lm`),
    the lake's banded MinHash signatures
    (:func:`~scraping_etl_spark.operators.dedup.prepare_neardup_ref`)
    and the materialized vocabulary — per-trigger cost is the batch's
    own work plus joins against materialized side inputs, no repeated
    side-input jobs."""
    from scraping_etl_spark.operators import classifier as CLF
    from scraping_etl_spark.operators import corpus_prep as CP
    from scraping_etl_spark.operators.dedup import (
        cross_corpus_neardup_pairs,
        prepare_neardup_ref,
    )

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    bench_prepared = (
        CP.prepare_bench_grams(bench) if bench is not None else None
    )
    vocab_static = vocab.localCheckpoint() if vocab is not None else None
    ref_prepared = (
        prepare_neardup_ref(dedup_ref) if dedup_ref is not None else None
    )
    lm_prepared = CP.prepare_lm(lm_ref) if lm_ref is not None else None
    lang_static = (
        lang_profiles.localCheckpoint() if lang_profiles is not None else None
    )

    gate = build_corpus_gate(
        out_dir,
        bench_prepared=bench_prepared,
        vocab_static=vocab_static,
        ref_prepared=ref_prepared,
        lm_prepared=lm_prepared,
        clf_weights=clf_weights,
        max_oov_ratio=max_oov_ratio,
        dedup_threshold=dedup_threshold,
        min_avg_logp=min_avg_logp,
        min_quality_prob=min_quality_prob,
        lang_profiles=lang_static,
        allowed_langs=allowed_langs,
    )

    return _start(
        stream.writeStream.foreachBatch(gate), checkpoint_dir, available_now
    )


def build_corpus_gate(
    out_dir: str,
    bench_prepared: DataFrame | None = None,
    vocab_static: DataFrame | None = None,
    ref_prepared: DataFrame | None = None,
    lm_prepared=None,
    clf_weights: list[float] | None = None,
    max_oov_ratio: float = 0.5,
    dedup_threshold: float = 0.8,
    min_avg_logp: float = -10.0,
    min_quality_prob: float = 0.5,
    lang_profiles: DataFrame | None = None,
    allowed_langs: tuple[str, ...] = (),
):
    """The ``foreachBatch`` gate of :func:`corpus_prep_stream`, built
    from ALREADY-PREPARED side inputs (module-level so tests can drive
    it synchronously and pin the per-micro-batch Spark-job count —
    every prepare probe runs before this, never inside). Returns the
    ``(batch_df, batch_id) -> None`` callable."""
    if lang_profiles is not None and not allowed_langs:
        # fail at build time, not inside the Nth micro-batch: a
        # language screen with an empty allow-list would drop the
        # whole stream (and isin() with zero args errors at plan time)
        raise ValueError(
            "lang_profiles given but allowed_langs is empty — pass the "
            "languages the screen should keep"
        )
    from scraping_etl_spark.operators import classifier as CLF
    from scraping_etl_spark.operators import corpus_prep as CP
    from scraping_etl_spark.operators.dedup import cross_corpus_neardup_pairs

    # hoist the model's unmatched-gram penalty (its max rank) ONCE at
    # gate build — scoring inside the per-micro-batch closure would
    # re-run the model scan every trigger
    lang_trained_m = (
        lang_profiles.agg(F.max("rank")).first()[0]
        if lang_profiles is not None else None
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        keep_cols = [c for c in batch_df.columns if c != "text"]
        scrubbed = CP.scrub_pii(batch_df, with_counts=False).select(
            *keep_cols, F.col("text_scrubbed").alias("text")
        )
        rep = CP.with_repetition_stats(scrubbed).select(
            "doc_id", "dup_trigram_frac", "top_bigram_frac", "repeated_flag"
        )
        kept = scrubbed.join(rep, "doc_id").filter(~F.col("repeated_flag"))
        if bench_prepared is not None:
            clean = CP.decontaminate(
                kept, bench_prepared=bench_prepared
            ).filter(~F.col("contaminated")).select("doc_id")
            kept = kept.join(clean, "doc_id", "left_semi")
        if vocab_static is not None:
            in_vocab = CP.with_oov_ratio(kept, vocab_static).filter(
                F.col("oov_ratio") <= max_oov_ratio
            ).select("doc_id")
            kept = kept.join(in_vocab, "doc_id", "left_semi")
        if ref_prepared is not None:
            seen = (
                cross_corpus_neardup_pairs(
                    kept, ref_prepared=ref_prepared, threshold=dedup_threshold
                )
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            kept = kept.join(seen, "doc_id", "left_anti")
        if lm_prepared is not None:
            fluent = (
                CP.with_lm_score(kept, lm_prepared=lm_prepared)
                .filter(
                    (F.col("n_bigrams") == 0)
                    | (F.col("avg_logp") >= min_avg_logp)
                )
                .select("doc_id")
            )
            kept = kept.join(fluent, "doc_id", "left_semi")
        if clf_weights is not None:
            # trained-classifier quality gate (weights are plan
            # constants — pure map-side scoring, zero side-input jobs
            # per trigger; the model trains once, offline, via
            # classifier.train_logreg)
            good = (
                CLF.score_logreg(CLF.quality_features(kept), clf_weights)
                .filter(F.col("quality_prob") >= min_quality_prob)
                .select("doc_id")
            )
            kept = kept.join(good, "doc_id", "left_semi")
        if lang_profiles is not None:
            # n-gram language screen against STATIC offline-trained
            # profiles (textstats.char_ngram_profiles over the lake):
            # per-doc scoring, so batch-local == global — the honest-
            # twin property every other stage of this gate keeps
            from scraping_etl_spark.operators.textstats import lang_id_ngram

            right_lang = (
                lang_id_ngram(
                    kept, profiles=lang_profiles, trained_m=lang_trained_m
                )
                .filter(F.col("pred_lang").isin(*allowed_langs))
                .select("doc_id")
            )
            kept = kept.join(right_lang, "doc_id", "left_semi")
        _write_batch_partition(kept, batch_id, out_dir)

    return gate


def incremental_star_stream(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental warehouse load: ``etl.star_schema.build_star`` per
    micro-batch, folded into the eight star tables under
    ``out_dir/<name>`` — the pipeline-level form of the reference's
    per-article sink (ScienceDirect.py:457-488 rewrote a whole JSON
    array per article).

    Input contract: ``stream`` carries enriched
    :data:`~scraping_etl_spark.schemas.RAW_ARTICLES` rows, i.e. with the
    ``publisher`` struct attached. A stream of pre-enrichment rows
    composes :func:`~scraping_etl_spark.etl.enrichment.enrich` upstream
    (``enrich(stream, quartiles)`` is a stream-static broadcast join).
    Only the fixed semantics are built: parity mode stays batch-only,
    because its date filter is a ``subtract`` over the whole input.

    Per batch, fixed-mode ``build_star`` is row-local up to its dims
    (cleaning filters, in-place ``xxhash64`` keys), so:

    - ``articles`` and both bridges land as the batch's own
      ``batch_id`` partition (:func:`_write_batch_partition`);
    - the five dims merge as ``distinct(existing ∪ batch)`` through the
      rename-aside swap (:func:`_merge_into_sink`); ``publishers`` then
      re-applies ``build_publishers``' per-ISSN pick, a minimum, so the
      merged pick is the pick over everything loaded.

    After the last trigger every table equals ``build_star`` over all
    the input, keys included (fact and bridges as multisets ignoring
    ``batch_id``, dims as sets), and a replayed batch changes nothing."""
    import os

    from scraping_etl_spark.etl.star_schema import build_star, one_publisher_per_issn

    def union(current: DataFrame, batch: DataFrame) -> DataFrame:
        return current.unionByName(batch).distinct()

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        star = build_star(batch_df)
        for name in ("articles", "author_article_map", "keyword_article_map"):
            _write_batch_partition(star[name], batch_id, os.path.join(out_dir, name))
        for name in ("topics", "dates", "keywords", "authors"):
            _merge_into_sink(star[name], os.path.join(out_dir, name), union)
        _merge_into_sink(
            star["publishers"],
            os.path.join(out_dir, "publishers"),
            lambda current, batch: one_publisher_per_issn(union(current, batch)),
        )

    return _start(
        stream.writeStream.foreachBatch(upsert), checkpoint_dir, available_now
    )


def scd2_dim_stream(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str,
    compare_cols: list[str],
    date_col: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming SCD2 dimension maintenance — the history-keeping twin
    of :func:`incremental_star_stream`'s latest-state dim merges: each
    micro-batch of attribute updates is folded into a VERSIONED
    dimension with :func:`~scraping_etl_spark.etl.scd.scd2_merge`
    (closed versions keep their history; changes close-and-append).

    Per batch (``foreachBatch``):
    - the batch collapses to its LATEST row per key (``row_number``
      over ``date_col`` desc, ties to the lexicographically larger
      compare tuple for determinism) — micro-batch granularity is the
      versioning granularity, the same collapse every CDC consumer
      applies per transaction batch;
    - the effective date is the batch's ``max(date_col)`` — derived
      from DATA, never wall clock, so a checkpoint replay of the same
      batch produces the byte-same dim;
    - merge + crash-recoverable rename-aside swap
      (:func:`_merge_into_sink`).

    Replays CONVERGE: re-delivering an already-merged batch finds every
    key's current version equal to the update and no-ops —
    ``scd2_merge``'s identical-re-delivery contract. Dims are orders
    smaller than facts, so the full-history rewrite per micro-batch is
    the same cost class as the latest-state merge; on Delta/Iceberg it
    becomes a MERGE over the ``is_current`` slice only."""
    from pyspark.sql.window import Window

    from scraping_etl_spark.etl.scd import scd2_merge

    attr_cols = [key_col] + [c for c in compare_cols if c != key_col]

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        order = [F.desc(date_col)] + [F.desc(c) for c in compare_cols]
        w = Window.partitionBy(key_col).orderBy(*order)
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*attr_cols)
        )
        eff = batch_df.agg(F.max(date_col)).collect()[0][0]
        # first batch: every key inserts as a fresh open version
        first = latest.select(
            *attr_cols,
            F.lit(eff).cast("date").alias("effective_from"),
            F.lit(None).cast("date").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
        _merge_into_sink(
            first,
            out_dir,
            lambda dim, _: scd2_merge(
                dim, latest, key_col=key_col, compare_cols=compare_cols,
                effective_date=eff,
            ),
        )

    return _start(
        stream.writeStream.foreachBatch(upsert), checkpoint_dir, available_now
    )


def frontier_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.FRONTIER,
    url_col: str = "url",
    event_time_col: str | None = None,
    watermark: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming crawl-frontier dedup — the streaming twin of
    ``operators/urls.url_dedup`` and the online form of the reference
    scraper's visited-set check (ScienceDirect.py visited URLs;
    re-expressed at sources/extraction.py:287). Each micro-batch of
    discovered URLs is canonicalized
    (:func:`~scraping_etl_spark.operators.urls.canonical_url` — case,
    default ports, fragments, slash runs, tracking params) and deduped
    against ALL previously emitted canonical forms, so an aliased
    re-discovery (``?utm_source=...``, trailing ``#fragment``, ``:443``
    on https) never re-enters the crawl queue.

    The emitted row keeps the FIRST-arrival original URL alongside its
    ``canonical_url`` — crawlers fetch the concrete URL they saw, the
    canonical form is only the identity key. State is one entry per
    distinct canonical URL: unbounded by default (exact frontier — the
    visited set a crawler genuinely needs), or watermark-bounded via
    ``event_time_col`` + ``watermark`` when re-crawling after a horizon
    is acceptable (periodic refresh crawls WANT expiry: a URL older
    than the horizon becomes eligible again by construction).
    """
    from scraping_etl_spark.operators.urls import canonical_url

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)
    canon = stream.withColumn("canonical_url", canonical_url(url_col))
    if watermark is not None:
        if event_time_col is None:
            raise ValueError("watermark requires event_time_col")
        deduped = canon.withWatermark(
            event_time_col, watermark
        ).dropDuplicatesWithinWatermark(["canonical_url"])
    else:
        deduped = canon.dropDuplicates(["canonical_url"])
    return _start(
        deduped.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
        available_now,
    )


def heavy_hitters_stream(
    spark: SparkSession,
    source_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.DOCUMENTS,
    text_col: str = "text",
    width: int | None = None,
    depth: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming token-frequency monitor — the streaming twin of the
    count-min tier (``operators/sketches.py``), exploiting the CMS's
    defining algebraic property: sketches over disjoint corpora MERGE
    by cell-wise addition, exactly (no approximation is introduced by
    the split — Cormode & Muthukrishnan 2005 §4.1). That makes the
    sketch the right frequency state for an unbounded stream: the
    exact running token counts would grow with the vocabulary, the
    sketch stays depth x width forever.

    Each micro-batch builds its own sketch (one bounded groupBy over
    the batch) and lands it under a ``batch_id=N`` partition with
    dynamic partition overwrite — the fact-path replay convention
    (:func:`corpus_prep_stream`): a replayed batch overwrites its own
    partition with identical cells, so failure/replay never double
    counts. The replay guarantee assumes BATCH BOUNDARIES REPRODUCE —
    true for replays under one checkpoint (Structured Streaming
    replays the same file slices per batch_id). It does NOT survive
    wiping the checkpoint while keeping the sketch dir: a fresh run
    with different trigger config (e.g. no ``maxFilesPerTrigger``) can
    produce FEWER batches, leaving stale higher-``batch_id``
    partitions that inflate the merged counts. A checkpoint reset
    therefore requires clearing the sketch dir too — the two
    directories are one unit of state. The merged view is
    :func:`read_cms_sketch`, a sum over cells at read time — bounded
    by depth x width x n_batches rows in, depth x width out. (A
    compaction job can fold old partitions into one at any time;
    addition is associative.)

    Because the per-batch hashes are plan constants, per-batch build +
    cell addition equals the batch operator over the union corpus
    BIT-FOR-BIT — the equivalence the twin test asserts.
    """
    from scraping_etl_spark.operators import sketches as SK

    w = width if width is not None else SK.CMS_WIDTH
    d = depth if depth is not None else SK.CMS_DEPTH

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        sk = SK.cms_build(batch_df, text_col=text_col, width=w, depth=d)
        _write_batch_partition(sk, batch_id, sketch_dir)

    return _start(
        stream.writeStream.foreachBatch(fold), checkpoint_dir, available_now
    )


def read_cms_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Merge the per-batch CMS partitions into the current sketch —
    cell-wise addition over (seed, bucket)."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def bloom_screen_stream(
    spark: SparkSession,
    source_dir: str,
    bits_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.DOCUMENTS,
    key_expr: str = "md5(text)",
    m_bits: int | None = None,
    k_hashes: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming Bloom-filter maintenance — the streaming twin of
    ``operators/bloom.py``, exploiting the Bloom filter's merge
    algebra: filters over disjoint corpora combine by BITWISE OR,
    exactly (the relation form: union + distinct of the set-bit rows).
    A growing blocklist / visited-key set thus maintains itself at
    ingest: each micro-batch contributes its keys' bits under a
    ``batch_id=N`` partition (the replay-safe dynamic-overwrite
    convention of :func:`heavy_hitters_stream`, including its
    checkpoint-reset caveat — the bits dir and the checkpoint are one
    unit of state), and :func:`read_bloom_bits` folds the partitions
    into the current filter at read time, bounded by ``m_bits`` rows
    out. Downstream screens (``bloom.bloom_screen``) then run against
    a filter that is BIT-FOR-BIT the batch build over everything
    ingested so far — the equivalence the twin test asserts.

    ``key_expr`` is a SQL expression evaluated against the batch (the
    default screens content hashes; pass e.g. ``canonical_url`` for a
    frontier twin)."""
    from scraping_etl_spark.operators import bloom as BL

    m = m_bits if m_bits is not None else BL.BLOOM_BITS
    k = k_hashes if k_hashes is not None else BL.BLOOM_HASHES

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        keys = batch_df.select(F.expr(key_expr).alias("_k"))
        bits = BL.bloom_build(keys, key_col="_k", m_bits=m, k_hashes=k)
        _write_batch_partition(bits, batch_id, bits_dir)

    return _start(
        stream.writeStream.foreachBatch(fold), checkpoint_dir, available_now
    )


def read_bloom_bits(spark: SparkSession, bits_dir: str) -> DataFrame:
    """Fold the per-batch bit partitions into the current filter —
    bitwise OR in relation form (distinct over set bits), at most
    ``m_bits`` rows out."""
    return spark.read.parquet(bits_dir).select("bit").distinct()


def line_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    seen_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.DOCUMENTS,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming twin of ``lines.dedup_lines`` — C4-style boilerplate
    removal AT INGEST, with the seen-line state kept as a parquet lake
    of line hashes rather than in-executor streaming state (32 bytes
    per distinct line ever seen; state a stream engine could not hold
    per-key at corpus scale, but a lake holds trivially and EXACTLY —
    no Bloom approximation, no watermark eviction).

    Per micro-batch: lines from STRICTLY EARLIER batches are read from
    ``seen_dir`` with a ``batch_id < N`` partition-pruned filter —
    which is also what makes replay idempotent: a replayed batch never
    sees its own previous output as "seen", so it rewrites exactly the
    same kept lines into its own ``batch_id=N`` partitions (both dirs
    follow the dynamic-overwrite convention and share the
    checkpoint-reset caveat of :func:`heavy_hitters_stream`). Within
    the batch, the batch operator's own first-occurrence window
    (``lines._first_occurrences``) applies, and documents reassemble
    through its ``lines._reassemble``. Semantics: first occurrence in
    ARRIVAL ORDER wins — batches ingested in doc-id order reproduce the
    batch operator over the union bit-for-bit (the twin test's
    setting); out-of-order ingest keeps the earlier-ARRIVED copy, the
    only coherent choice on an unbounded stream."""
    from scraping_etl_spark.operators.lines import _first_occurrences, _reassemble

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        firsts = _first_occurrences(batch_df, id_col, text_col, sep)
        seen = _earlier_batches(spark, seen_dir, batch_id)
        if seen is not None:
            kept = firsts.join(seen.select("_h"), "_h", "left_anti")
        else:
            kept = firsts
        kept = kept.localCheckpoint()  # one compute, three consumers
        _write_batch_partition(kept.select("_h").distinct(), batch_id, seen_dir)
        out = _reassemble(batch_df, kept, id_col, text_col, sep)
        _write_batch_partition(out, batch_id, out_dir)

    return _start(
        stream.writeStream.foreachBatch(fold), checkpoint_dir, available_now
    )


def neardup_screen_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    bands_dir: str,
    docs_dir: str,
    checkpoint_dir: str,
    schema: T.StructType = schemas.DOCUMENTS,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming twin of ``dedup.cross_corpus_neardup_pairs`` — "have
    we seen something like this before?" AT INGEST. The lake state is
    two parquet relations partitioned by ``batch_id``: the banded
    signatures (``bands_dir``: id, band_idx, band_hash — |corpus|·bands
    rows) and the shingle sets (``docs_dir``: id, shingle array — what
    the exact-Jaccard verify needs). Like :func:`line_dedup_stream`,
    lake-as-state holds what executor streaming state could not, and
    holds it EXACTLY — the screen is the batch operator's own kernel
    (``dedup._neardup_screen``: band equi-join + exact verify) with the
    lake relations as its ref side, not an approximation of it.

    Per micro-batch: the batch bands once (``minhash_banded``, same
    fixed-seed arithmetic as the lake's signatures — band params are
    baked into the lake, so pass the prepare-time values); candidates
    come from the batch×lake band equi-join against STRICTLY EARLIER
    partitions (``batch_id < N`` — partition-pruned, and what makes
    replay idempotent: a replayed batch never screens against its own
    previous signatures); exact shingle Jaccard ≥ ``threshold``
    verifies; pairs land in ``out_dir`` and the batch's signatures
    append to both lakes under ``batch_id=N`` (dynamic partition
    overwrite throughout — same checkpoint-reset caveat as
    :func:`heavy_hitters_stream`). Within-batch pairs are deliberately
    NOT emitted (the batch operator's in-corpus pairing is
    ``minhash_lsh_pairs``; this stream is the cross-corpus screen), so
    shard-ordered ingest reproduces the batch screen of each shard
    against the union of its predecessors bit-for-bit — the twin
    test's pinned setting."""
    from scraping_etl_spark.operators.dedup import _neardup_screen, minhash_banded

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        new_docs, new_banded = minhash_banded(
            batch_df, id_col, text_col, k, num_hashes, bands
        )
        new_docs = new_docs.localCheckpoint()      # lake write + verify
        new_banded = new_banded.localCheckpoint()  # lake write + screen
        ref_banded = _earlier_batches(spark, bands_dir, batch_id)
        if ref_banded is not None:
            ref_docs = _earlier_batches(spark, docs_dir, batch_id)
            pairs = _neardup_screen(
                new_docs, new_banded, ref_docs, ref_banded, threshold
            )
        else:
            pairs = spark.createDataFrame(
                [], "new_id long, ref_id long, jaccard double"
            )
        _write_batch_partition(pairs, batch_id, out_dir)
        _write_batch_partition(new_banded, batch_id, bands_dir)
        _write_batch_partition(new_docs, batch_id, docs_dir)

    return _start(
        stream.writeStream.foreachBatch(fold), checkpoint_dir, available_now
    )


def term_screen_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    terms: list[str],
    schema: T.StructType = schemas.DOCUMENTS,
    max_hits: int = 0,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Banned-term screen at ingest — the streaming twin of
    :func:`~scraping_etl_spark.operators.curation.term_screen`. The
    gate is per-document against a STATIC config-sized list, so
    batch-local evaluation equals global (the :func:`corpus_prep_stream`
    honesty argument) and any micro-batch slicing lands exactly the
    documents the batch operator keeps; hit counts ride along for
    audit. Idempotent replay via the batch_id partition-overwrite
    convention."""
    from scraping_etl_spark.operators.curation import term_screen

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = term_screen(batch_df, terms, max_hits=max_hits)
        kept = batch_df.join(verdicts.filter("keep"), "doc_id").drop("keep")
        _write_batch_partition(kept, batch_id, out_dir)

    return _start(
        stream.writeStream.foreachBatch(gate), checkpoint_dir, available_now
    )


def cdc_chunk_screen_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ref_prepared: DataFrame | None = None,
    schema: T.StructType = schemas.DOCUMENTS,
    max_seen_frac: float = 0.5,
    window: int = 4,
    divisor: int = 8,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    seen_dir: str | None = None,
) -> StreamingQuery:
    """Content-defined-chunk ingest screen — the streaming face of
    :func:`~scraping_etl_spark.operators.corpus_prep.cdc_seen_fraction`:
    each micro-batch is CDC-chunked and tested against the lake chunk
    store; a document lands only when at most ``max_seen_frac`` of its
    chunks are already in the lake. Because the boundaries are
    content-defined, a boilerplate-prefixed or lightly edited mirror of
    already-ingested content still reads as seen — the door the
    fixed-stride or whole-hash screens
    (:func:`incremental_append_stream`, :func:`bloom_screen_stream`)
    structurally miss on shifted copies.

    The lake store has two tiers, either or both:

    - ``ref_prepared`` — a STATIC store
      (:func:`~...corpus_prep.prepare_cdc_ref` — prepared ONCE at
      build, never per trigger) for content ingested before the stream
      started. Its broadcast-cardinality probe is hoisted to build
      time too — one driver action per gate, not per trigger (the
      ``lang_id_ngram(trained_m=...)`` hoist; r12 advice).
    - ``seen_dir`` — a GROWING parquet lake of landed-chunk hashes, the
      :func:`line_dedup_stream` state convention: each batch screens
      against STRICTLY EARLIER partitions (``batch_id < N``,
      partition-pruned) plus the static tier, and the chunk hashes of
      the docs it LANDS append under ``batch_id=N``. That closes the
      intra-stream door the static tier alone leaves open — a doc in
      batch 1 and its shifted mirror in batch 5 (neither in the static
      store): the mirror is now refused. Without ``seen_dir`` both
      land (per-doc decision against a fixed side input ⇒ batch-local
      equals global — the honest but weaker static contract). The
      probe on the combined relation re-runs per trigger only while it
      still fits — lake growth is monotone, so the first over-cap
      verdict is pinned False for the stream's life.

    Semantics with ``seen_dir``: arrival order wins (earlier-landed
    content screens later arrivals); within one micro-batch, mirrors
    are NOT screened against each other (the
    :func:`neardup_screen_stream` convention — the batch operator's
    in-corpus pairing is a different tool), so shard-ordered ingest
    reproduces the batch twin folded over its predecessors. Replay is
    idempotent: a replayed batch reads only ``batch_id < N`` lake
    partitions — never its own previous output — and dynamic-overwrites
    exactly its own ``batch_id=N`` partitions in both dirs. Landed rows
    carry the seen stats. The chunk geometry must match the geometry
    ``ref_prepared`` was built with — it is baked into the store."""
    from scraping_etl_spark.operators import corpus_prep as CP

    if ref_prepared is None and seen_dir is None:
        raise ValueError(
            "cdc_chunk_screen_stream needs a lake: pass ref_prepared "
            "(static store), seen_dir (growing store), or both"
        )
    ref_static = (
        ref_prepared.localCheckpoint() if ref_prepared is not None else None
    )
    static_fits = ref_static is not None and M.fits(
        ref_static, M.BROADCAST_ROWS
    )
    # growing mode: the combined relation only ever grows, so one
    # over-cap probe verdict holds forever
    state = {"fits": True}

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        refs = []
        if ref_static is not None:
            refs.append(ref_static.select("_h"))
        seen = _earlier_batches(spark, seen_dir, batch_id)
        if seen is not None:
            refs.append(seen.select("_h"))
        if len(refs) == 2:
            ref = refs[0].unionByName(refs[1])
        elif refs:
            ref = refs[0]
        else:
            ref = spark.createDataFrame([], "_h string")
        if seen_dir is None:
            fits = static_fits  # hoisted: static store never changes
        else:
            if state["fits"]:
                state["fits"] = M.fits(ref, M.BROADCAST_ROWS)
            fits = state["fits"]
        stats = CP.cdc_seen_fraction(
            batch_df, ref, window=window, divisor=divisor,
            ref_fits_broadcast=fits,
        )
        kept = batch_df.join(
            stats.filter(F.col("seen_frac") <= max_seen_frac), "doc_id"
        )
        if seen_dir is not None:
            kept = kept.localCheckpoint()  # out write + lake append
        _write_batch_partition(kept, batch_id, out_dir)
        if seen_dir is not None:
            hashes = (
                kept.select(
                    F.explode_outer(
                        CP.cdc_chunks("text", window, divisor)
                    ).alias("_c")
                )
                .filter(F.col("_c").isNotNull())
                .select(F.md5("_c").alias("_h"))
                .distinct()
            )
            _write_batch_partition(hashes, batch_id, seen_dir)

    return _start(
        stream.writeStream.foreachBatch(gate), checkpoint_dir, available_now
    )


def edit_screen_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    strings_dir: str,
    grams_dir: str,
    checkpoint_dir: str,
    k: int = 2,
    q: int = 3,
    schema: T.StructType = schemas.DOCUMENTS,
    id_col: str = "doc_id",
    string_col: str = "text",
    string_len: int = 40,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming twin of ``dedup.edit_screen_pairs`` — "is this
    record within ``k`` edits of one we already hold?" AT INGEST (the
    record-linkage screen a catalog/author/title feed needs). Lake
    state is two parquet relations partitioned by ``batch_id``: the
    raw strings (``strings_dir``: what the levenshtein verify reads)
    and each string's Ed-Join PREFIX grams (``grams_dir``: k·q+1
    positional occurrences per string, fixed at insertion time).

    Per micro-batch: the batch keeps ALL its positional grams (it is
    the small side) and joins them against the lake's PREFIX grams
    from STRICTLY EARLIER partitions (``batch_id < N`` —
    partition-pruned; replay-idempotent). One-sided prefixing is
    provably complete — any k·q+1 occurrences of a lake string include
    at least one with a match partner when ed ≤ k (pigeonhole; see
    ``dedup.ed_gram_prefix``) and that partner is in the batch's FULL
    gram list by construction — so the lake prefix never needs
    recomputing as the global df order drifts, which is what makes
    lake-as-state exact here, not approximate. The join and the
    banded-DP ``levenshtein(new, ref, k)`` verify are the batch
    operator's kernel (``dedup._edit_screen``) with the lake relations
    as its ref side; matches land in ``out_dir`` and the batch's
    strings + prefix grams append to the lakes under ``batch_id=N``
    (dynamic partition overwrite throughout). Strings are truncated to ``string_len`` and rows
    shorter than ``q·(k+1)`` (the completeness floor) are dropped on
    BOTH sides — the batch operator's documented precondition, applied
    symmetrically so the stream equals the batch screen of each shard
    against the union of its predecessors (the twin test's pinned
    setting). Within-batch pairs are deliberately NOT emitted (that is
    the batch operator's job at rest)."""
    from scraping_etl_spark.operators.dedup import (
        _edit_screen,
        ed_gram_occurrences,
        ed_gram_prefix,
    )

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)
    floor = q * (k + 1)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        s = (
            batch_df.select(
                F.col(id_col).alias("_id"),
                F.substring(string_col, 1, string_len).alias("_s"),
            )
            .withColumn("_len", F.length("_s").cast("int"))
            .filter(F.col("_len") >= floor)
            .localCheckpoint()
        )
        ref_pre = _earlier_batches(spark, grams_dir, batch_id)
        if ref_pre is not None:
            pairs = _edit_screen(
                s, ref_pre, _earlier_batches(spark, strings_dir, batch_id), k, q
            )
        else:
            # id type derived from the incoming stream (r13 ADVICE):
            # a hardcoded long would write a first-batch partition
            # that conflicts with later string-id partitions
            idt = s.schema["_id"].dataType
            pairs = spark.createDataFrame(
                [],
                T.StructType([
                    T.StructField("new_id", idt),
                    T.StructField("ref_id", idt),
                    T.StructField("dist", T.IntegerType()),
                ]),
            )
        _write_batch_partition(pairs, batch_id, out_dir)
        _write_batch_partition(
            ed_gram_prefix(ed_gram_occurrences(s, q), k, q), batch_id, grams_dir
        )
        _write_batch_partition(s, batch_id, strings_dir)

    return _start(
        stream.writeStream.foreachBatch(fold), checkpoint_dir, available_now
    )


def emb_screen_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    lake_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    schema: T.StructType = schemas.EMBEDDINGS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    ivf_centroids: "list[list[float]] | None" = None,
    ivf_probe: int = 4,
) -> StreamingQuery:
    """Streaming SEMANTIC ingest screen — "is this embedding within
    cosine ``threshold`` of content we already hold?" at ingest: the
    embedding-space member of the screen family
    (:func:`bloom_screen_stream` exact, :func:`cdc_chunk_screen_stream`
    shifted-content, :func:`edit_screen_stream` bounded-edit — this one
    catches paraphrases and re-encodes that share no bytes, the
    ``similarity.embedding_decontaminate`` deployment shape folded over
    a stream).

    Lake state is one parquet relation of LANDED vectors partitioned by
    ``batch_id``. Per micro-batch: screen the batch against STRICTLY
    EARLIER lake partitions (``batch_id < N`` — partition-pruned,
    replay-idempotent) via :func:`~...similarity.embedding_decontaminate`
    (threshold on the ROUNDED cosine, the engine-parity convention);
    refused rows land in ``out_dir`` tagged with their closest lake
    neighbor and hit count, surviving rows land too (``refused``
    false, null neighbor) AND append their vectors to the lake under
    ``batch_id=N``. Arrival order wins; within-batch mirrors are NOT
    screened against each other (the :func:`neardup_screen_stream`
    convention — in-corpus pairing at rest is ``semantic_dedup_pairs``'
    job), so shard-ordered ingest reproduces the batch screen of each
    shard against the union of its predecessors — the twin test's
    pinned setting. A record RE-DELIVERED under its original id in a
    later batch IS screened against its own lake copy (the screen
    passes ``exclude_same_id=False`` — lake and batch are distinct
    relations, so id equality never marks a self-pair here) and is
    refused as the exact duplicate it is, instead of landing twice.

    Scale: the decontaminate screen broadcasts the lake side only
    while it fits (its bounded count probe runs against the pruned
    lake each trigger); past the cap, pass trained ``ivf_centroids``
    (+ ``ivf_probe``) and the screen serves through
    :func:`~...similarity.embedding_decontaminate_ivf` — the lake
    lives in nearest-centroid inverted lists and each batch vector
    probes only its nearest cells, a hash equi-join on cell id
    instead of the all-pairs fallback. Exact re-delivered/mirrored
    duplicates are caught at ANY probe depth (an identical vector
    shares its copy's nearest cell); sub-threshold-near paraphrases
    follow the standard IVF recall trade, and at
    ``ivf_probe = len(ivf_centroids)`` the tier equals the expression
    screen exactly (pinned by the unit suite). In IVF mode each
    surviving vector's cell id is assigned ONCE at land time and
    stored with the lake row (``ivf_cell``); the per-trigger screen
    joins on the stored cell, so trigger cost is proportional to the
    batch, never O(|lake| x |centroids|) — partitions landed before
    IVF mode was enabled are read under mergeSchema and fall back to
    on-the-fly assignment for their (null-cell) rows only."""
    from scraping_etl_spark.operators.similarity import (
        embedding_decontaminate,
        embedding_decontaminate_ivf,
        nearest_centroids,
    )

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    def screen(batch_df: DataFrame, batch_id: int) -> None:
        # mergeSchema picks up ivf_cell even when early partitions
        # landed without it (pre-IVF lake); nulls fall back below
        lake_all = _earlier_batches(
            spark, lake_dir, batch_id, merge_schema=ivf_centroids is not None
        )
        b = batch_df.select(id_col, vec_col).localCheckpoint()
        if lake_all is not None:
            lake_cols = [F.col(id_col).alias("_lid"),
                         F.col(vec_col).alias("_lvec")]
            has_cells = (
                ivf_centroids is not None and "ivf_cell" in lake_all.columns
            )
            if has_cells:
                lake_cols.append(F.col("ivf_cell").alias("_lcell"))
            lake = lake_all.select(*lake_cols)
            # lake and batch are distinct relations: a record
            # re-delivered under its ORIGINAL id in a later batch
            # must still be screened against its own lake copy, so
            # the batch-decontaminate self-pair exclusion is wrong
            # here (r14 ADVICE) — both tiers pass exclude_same_id=False
            if ivf_centroids is not None:
                raw = embedding_decontaminate_ivf(
                    b, lake, ivf_centroids, threshold=threshold,
                    n_probe=ivf_probe,
                    id_col=id_col, vec_col=vec_col,
                    bench_id_col="_lid", bench_vec_col="_lvec",
                    exclude_same_id=False,
                    bench_cell_col="_lcell" if has_cells else None,
                )
            else:
                raw = embedding_decontaminate(
                    b, lake, threshold=threshold,
                    id_col=id_col, vec_col=vec_col,
                    bench_id_col="_lid", bench_vec_col="_lvec",
                    exclude_same_id=False,
                )
            flags = raw.select(
                id_col,
                F.col("bench_id").alias("lake_id"),
                "cos_sim",
                F.col("n_bench_hits").alias("n_lake_hits"),
            )
        else:
            idt = b.schema[id_col].dataType
            flags = spark.createDataFrame(
                [],
                T.StructType([
                    T.StructField(id_col, idt),
                    T.StructField("lake_id", idt),
                    T.StructField("cos_sim", T.DoubleType()),
                    T.StructField("n_lake_hits", T.LongType()),
                ]),
            )
        landed = (
            b.join(flags, id_col, "left")
            .select(
                id_col,
                F.col("lake_id").isNotNull().alias("refused"),
                "lake_id", "cos_sim", "n_lake_hits",
            )
            .localCheckpoint()  # out write + lake append
        )
        _write_batch_partition(landed, batch_id, out_dir)
        survivors = b.join(
            landed.filter(~F.col("refused")).select(id_col), id_col
        )
        if ivf_centroids is not None:
            # assign the inverted-list cell ONCE at land time so the
            # IVF screen never recomputes the whole lake's
            # nearest-centroid fold per trigger (r15 ADVICE)
            survivors = survivors.withColumn(
                "ivf_cell",
                F.element_at(
                    nearest_centroids(F.col(vec_col), ivf_centroids, 1), 1
                ),
            )
        _write_batch_partition(survivors, batch_id, lake_dir)

    return _start(
        stream.writeStream.foreachBatch(screen), checkpoint_dir, available_now
    )


def corpus_law_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    counts_dir: str,
    checkpoint_dir: str,
    top_r: int = 200,
    schema: T.StructType = schemas.DOCUMENTS,
    strata_col: str = "lang",
    text_col: str = "text",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming corpus-law DRIFT MONITOR — the observability twin of
    ``doc_zipf_fit``: after every ingested micro-batch, re-fit Zipf's
    law (slope, r², type/token counts per language) over the
    cumulative corpus TO DATE and land one row per (batch, language).
    A pipeline alarms on the trajectory in EITHER direction: a
    repeated-template flood concentrates mass in its few pasted words
    and STEEPENS the slope (measured in the twin test: −0.208 → −0.224
    the batch the flood lands), a diverse-junk flood flattens it, and
    r² collapsing means the frequency law itself broke (encoding junk,
    wrong-language shard) — caught at the batch that caused it, not in
    a post-hoc audit.

    Lake-as-state, MERGEABLE: ``counts_dir`` holds per-batch (lang,
    word, count) partial aggregates partitioned by ``batch_id`` — word
    counts sum across batches, so the cumulative relation is one
    partial-agg groupBy over ALL partitions ``<= N`` (including the
    current batch: the monitor reports the corpus as of now;
    re-aggregating its own replayed partition is idempotent because
    partition overwrite replaced it, not appended). The fit itself is
    :func:`textstats.zipf_fit_from_counts` — the SAME arithmetic the
    batch gate hashes, so the batch-twin test compares against
    ``zipf_fit`` over the union of shards exactly. State is
    vocabulary-scale per language, not corpus-scale.
    """
    import os

    from scraping_etl_spark.operators.textstats import (
        tokens,
        zipf_fit_from_counts,
    )

    stream = _read_files(spark, schema, source_dir, max_files_per_trigger)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        wc = (
            batch_df.select(
                F.col(strata_col).alias("_g"),
                F.explode(tokens(text_col, lowercase=True)).alias("_w"),
            )
            .groupBy("_g", "_w")
            .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        )
        _write_batch_partition(wc, batch_id, counts_dir)
        cum = (
            spark.read.parquet(counts_dir)
            .filter(F.col("batch_id") <= batch_id)
            .groupBy("_g", "_w")
            .agg(F.sum("_c").cast("long").alias("_c"))
        )
        fit = zipf_fit_from_counts(cum, strata_col=strata_col, top_r=top_r)
        _write_batch_partition(fit, batch_id, out_dir)

    return _start(
        stream.writeStream.foreachBatch(fold), checkpoint_dir, available_now
    )

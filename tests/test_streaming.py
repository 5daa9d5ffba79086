"""Structured Streaming twins: availableNow end-to-end over temp dirs,
result compared against the equivalent batch aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark.sources.readers import load_table
from scraping_etl_spark.streaming.pipeline import (
    hourly_rollup_stream,
    incremental_append_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # stage a small event set as the streaming source directory, in two
    # files so the file source sees multiple input splits
    d = tmp_path_factory.mktemp("events_src")
    ev = load_table(spark, SF, "events").limit(2000)
    ev.repartition(2).write.mode("overwrite").parquet(str(d))
    return str(d)


def test_incremental_append_stream(spark, events_dir, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = incremental_append_stream(spark, events_dir, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out).count()
    want = spark.read.parquet(events_dir).count()
    assert got == want


def test_hourly_rollup_stream_matches_batch(spark, events_dir, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = hourly_rollup_stream(spark, events_dir, out, ckpt)
    q.awaitTermination(180)

    src = spark.read.parquet(events_dir)
    batch = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events")
    )
    stream_out = spark.read.parquet(out).select(
        "hour_start", "event_type", "n_events"
    )
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_sessionize_stream_matches_batch(spark, events_dir, tmp_path):
    """applyInPandasWithState sessionizer: final per-user totals equal
    the batch lag+running-sum sessionization over the same events."""
    from pyspark.sql import Window

    from scraping_etl_spark.streaming.pipeline import sessionize_stream

    out, ckpt = str(tmp_path / "sess_out"), str(tmp_path / "sess_ckpt")
    q = sessionize_stream(spark, events_dir, out, ckpt)
    q.awaitTermination(120)

    got = {
        (r.user_id): (r.n_sessions, r.n_events)
        for r in spark.read.parquet(out).collect()
    }

    ev = spark.read.parquet(events_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev)) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    exp = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in ev.withColumn("new", is_new)
        .groupBy("user_id")
        .agg(F.sum("new").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == exp


@pytest.mark.slow
def test_hourly_rollup_stream_multi_batch(spark, events_dir, tmp_path):
    """Two triggers (maxFilesPerTrigger=1): groups written by batch 1
    but untouched by batch 2 must survive — the partition-overwrite
    granularity has to match the aggregation key, not just the hour."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = hourly_rollup_stream(spark, events_dir, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(180)
    assert q.lastProgress is not None

    src = spark.read.parquet(events_dir)
    batch = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events")
    )
    stream_out = spark.read.parquet(out).select("hour_start", "event_type", "n_events")
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_sessionize_stream_multi_batch(spark, events_dir, tmp_path):
    """Two triggers: users updated only in batch 1 must keep their
    totals after batch 2's upsert (keyed merge, not bucket overwrite).
    n_events per user is order-independent, so it must match the batch
    count exactly even though cross-batch timestamps interleave."""
    from scraping_etl_spark.streaming.pipeline import sessionize_stream

    out, ckpt = str(tmp_path / "sess_out"), str(tmp_path / "sess_ckpt")
    q = sessionize_stream(spark, events_dir, out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(180)

    got = {r.user_id: r.n_events for r in spark.read.parquet(out).collect()}
    want = {
        r.user_id: r.n
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


STAR_FACTS = ("articles", "author_article_map", "keyword_article_map")
STAR_DIMS = ("publishers", "topics", "dates", "keywords", "authors")


def _write_batches(src, batches):
    """One JSON-lines file per batch, with increasing modification
    times: a ``maxFilesPerTrigger=1`` file stream takes them in order."""
    import json
    import os

    os.makedirs(src)
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"part-{i}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _star_stream_equals_batch(spark, tmp_path, batches, schema, quartiles=None):
    """Stream ``batches`` through ``incremental_star_stream`` one file
    per trigger and check every table against ``build_star`` over all
    the files: fact and bridges as multisets ignoring ``batch_id``, dims
    as sets (with no duplicate rows), keys included. Then delete the
    last commit and re-run: the replayed batch must change nothing.
    Returns the sink dir."""
    import os
    from collections import Counter

    from scraping_etl_spark.etl.enrichment import enrich
    from scraping_etl_spark.etl.star_schema import build_star
    from scraping_etl_spark.streaming.pipeline import incremental_star_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "star", "ckpt"))
    _write_batches(src, batches)

    def enriched(df):
        return df if quartiles is None else enrich(df, quartiles)

    want_star = build_star(enriched(spark.read.schema(schema).json(src)))
    want = {
        name: Counter(tuple(r) for r in want_star[name].collect())
        for name in STAR_FACTS + STAR_DIMS
    }

    def run():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        q = incremental_star_stream(spark, enriched(stream.json(src)), out, ckpt)
        q.awaitTermination(600)
        return q

    def check():
        for name in STAR_FACTS + STAR_DIMS:
            got = spark.read.parquet(f"{out}/{name}")
            cols = want_star[name].columns
            assert set(got.columns) - set(cols) <= {"batch_id"}, name
            rows = Counter(tuple(r) for r in got.select(*cols).collect())
            assert rows == want[name], name

    run()
    commits = os.path.join(ckpt, "commits")
    done = {f for f in os.listdir(commits) if not f.startswith(".")}
    assert done == {str(i) for i in range(len(batches))}
    check()

    last = str(len(batches) - 1)
    os.remove(os.path.join(commits, last))
    os.remove(os.path.join(commits, f".{last}.crc"))
    q = run()
    replayed = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
    assert replayed == [len(batches) - 1]
    check()
    return out


def test_incremental_star_stream_equals_build_star(spark, tmp_path):
    """The article fixture in 3 file batches, each with surviving
    articles and rows the cleaning drops: after the last trigger all
    8 tables equal the batch ``build_star`` over the whole fixture, keys
    included, and a forced replay of the last batch changes nothing.
    The ``"Year not found"`` row is dropped from the fact as in batch,
    and every bridge edge joins its dim and the fact."""
    import json
    import os

    from scraping_etl_spark import schemas

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "articles.json")
    with open(fixture, encoding="utf-8") as fh:
        rows = json.load(fh)
    by_doi = {r["doi"].rsplit("/", 1)[1]: r for r in rows}
    assert by_doi["d7"]["Year"] == "Year not found"
    batches = [
        [by_doi[d] for d in ("d1", "d3", "d4", "d5", "d11")],
        [by_doi[d] for d in ("d2", "d12", "d6", "d7")],
        [by_doi[d] for d in ("d13", "d8", "d9", "d10")],
    ]
    out = _star_stream_equals_batch(spark, tmp_path, batches, schemas.RAW_ARTICLES)

    # the cleaning scrubs DOIs ("10.1/d7" -> "101d7")
    fact = spark.read.parquet(f"{out}/articles")
    dois = sorted(r.DOI for r in fact.collect())
    assert dois == ["101d1", "101d12", "101d13", "101d2"]
    for bridge, dim, key in (
        ("author_article_map", "authors", "AuthorID"),
        ("keyword_article_map", "keywords", "KeywordID"),
    ):
        edges = spark.read.parquet(f"{out}/{bridge}")
        assert edges.count() > 0
        keys = spark.read.parquet(f"{out}/{dim}")
        assert edges.join(keys, key, "left_anti").count() == 0
        assert edges.join(fact, "DOI", "left_anti").count() == 0


@pytest.mark.slow
def test_incremental_star_stream_equals_build_star_perfbench(spark, tmp_path):
    """The perfbench ``warehouse_build`` seed-1 input (5,000 articles),
    enriched on the stream, in 3 file batches, plus one planted ISSN
    whose (Name, Quartile) differs between the first and the last batch.
    The merged publishers dim keeps the batch build's per-ISSN pick (min
    Name), not the last batch's row."""
    import json

    import numpy as np
    from pyspark.sql import types as T

    from perfbench import gen
    from scraping_etl_spark import schemas

    rng = np.random.default_rng(1)  # the workload's draw order: articles first
    articles, quartiles = str(tmp_path / "articles.jsonl"), str(tmp_path / "q.jsonl")
    gen.write_articles(rng, articles, 5_000)
    gen.write_quartiles(rng, quartiles)
    planted = [("Planted Journal A", "Q3"), ("Planted Journal Z", "Q1")]
    with open(quartiles, "a", encoding="utf-8") as fh:
        for name, q in planted:
            fh.write(json.dumps(
                {"journal": name, "year": 2019, "quartile": q, "issn": "99999999"}
            ) + "\n")
    with open(articles, encoding="utf-8") as fh:
        rows = [json.loads(line) for line in fh]

    def plant(i, journal):
        aff = {"author": "Author P", "university": "University P",
               "country": "USA", "location": "City P"}
        return {
            "title": "Planted", "abstract": "planted", "doi": f"planted/{i}",
            "authors": ["Author P"], "authors_with_affiliations": [aff],
            "universities": ["University P"], "countries": ["USA"],
            "locations": ["University P, USA"], "Date": "1 May 2020",
            "Day": "1", "Month": "May", "Year": "2020", "citations": 1,
            "type": "RESEARCH-ARTICLE", "keywords": ["kw0"], "topic": "AI",
            "website": "IEEE Xplore", "journal_name": journal,
        }

    third = len(rows) // 3
    batches = [
        rows[:third] + [plant(0, planted[0][0])],
        rows[third:2 * third],
        rows[2 * third:] + [plant(1, planted[1][0])],
    ]
    schema = T.StructType(
        [f for f in schemas.RAW_ARTICLES.fields if f.name != "publisher"]
        + [T.StructField("journal_name", T.StringType())]
    )
    q_df = spark.read.schema(
        "journal string, year int, quartile string, issn string"
    ).json(quartiles)
    out = _star_stream_equals_batch(spark, tmp_path, batches, schema, q_df)

    pubs = spark.read.parquet(f"{out}/publishers").filter("ISSN = '99999999'")
    assert [tuple(r) for r in pubs.select("Name", "Quartile").collect()] == [
        planted[0]
    ]


def test_streams_share_one_read_write_and_start():
    """Every stream reads, lands its batch partitions, finds its earlier
    batches and starts through one helper each, and the star stream
    builds through ``build_star``: no second copy of the write
    discipline and no surrogate keys of its own in the streaming
    module."""
    import os

    import scraping_etl_spark.streaming.pipeline as P

    with open(P.__file__, encoding="utf-8") as fh:
        src = fh.read()
    assert src.count('.partitionBy("batch_id")') == 1
    assert src.count("availableNow=True") == 1
    assert src.count('option("maxFilesPerTrigger"') == 1
    assert src.count('startswith("batch_id=")') == 1
    streaming = os.path.dirname(P.__file__)
    for fname in os.listdir(streaming):
        if fname.endswith(".py"):
            with open(os.path.join(streaming, fname), encoding="utf-8") as fh:
                assert "surrogate_key" not in fh.read(), fname


def test_merge_overwrite_by_key_crash_recovery(spark, tmp_path):
    """The keyed-upsert swap must survive a crash at any window: a sink
    renamed aside but never replaced (mid-swap) is rolled back before
    merging — previously merged keys survive instead of being silently
    discarded as a fake 'first batch'; stale .old/.tmp leftovers from a
    completed swap are cleaned up."""
    import os
    import shutil

    from scraping_etl_spark.streaming.pipeline import _merge_overwrite_by_key

    out = str(tmp_path / "sink")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    _merge_overwrite_by_key(b1, out, ["k"])

    # crash window: out_dir was renamed aside, replacement never landed
    os.rename(out, out + ".old")
    b2 = spark.createDataFrame([(2, "b2"), (3, "c")], ["k", "v"])
    _merge_overwrite_by_key(b2, out, ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}  # key 1 recovered
    assert not os.path.exists(out + ".old") and not os.path.exists(out + ".tmp")

    # crash window: swap completed but cleanup didn't — stale .old and
    # a half-written .tmp must both be discarded, sink wins
    shutil.copytree(out, out + ".old")
    os.makedirs(out + ".tmp")
    b3 = spark.createDataFrame([(4, "d")], ["k", "v"])
    _merge_overwrite_by_key(b3, out, ["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c"), (4, "d")}
    assert not os.path.exists(out + ".old") and not os.path.exists(out + ".tmp")


def test_merge_overwrite_by_key_read_error_propagates(spark, tmp_path):
    """A corrupt existing sink must fail the micro-batch, not be
    mistaken for the first batch (which would reset the sink to just
    the current batch's keys)."""
    import os

    import pytest

    from scraping_etl_spark.streaming.pipeline import _merge_overwrite_by_key

    out = str(tmp_path / "sink")
    os.makedirs(out)
    with open(os.path.join(out, "part-00000.parquet"), "w") as f:
        f.write("not parquet at all")
    batch = spark.createDataFrame([(1, "a")], ["k", "v"])
    with pytest.raises(Exception):
        _merge_overwrite_by_key(batch, out, ["k"])
    # the corrupt sink was not clobbered by the failed merge
    assert os.path.exists(os.path.join(out, "part-00000.parquet"))


def test_dedup_stream_suppresses_duplicates_across_batches(spark, tmp_path):
    """Streaming exact dedup (dedup-on-ingest): duplicates within a
    batch AND across checkpointed restarts are suppressed by the
    content-hash state; distinct docs all pass."""
    from scraping_etl_spark.streaming.pipeline import dedup_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    import os

    os.makedirs(src)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    # file 1: docs 0-19; file 2 (later batch): 10 dupes + 10 fresh re-keyed
    docs.write.parquet(f"{src}/f1")

    def run_once():
        q = dedup_stream(spark, f"{src}/*", out, ckpt)
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out)
    assert first.count() == first.select("content_hash").distinct().count() == 20

    from pyspark.sql import functions as F

    half = docs.limit(10)
    fresh = half.withColumn("doc_id", F.col("doc_id") + 1000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" fresh tail"))
    )
    half.unionByName(fresh).write.parquet(f"{src}/f2")
    run_once()
    final = spark.read.parquet(out)
    # 20 originals + 10 fresh; the 10 replayed duplicates are suppressed
    assert final.count() == 30
    assert final.select("content_hash").distinct().count() == 30


def test_dedup_stream_watermark_bounded_mode(spark, events_dir, tmp_path):
    """The bounded-state variant: dropDuplicatesWithinWatermark keyed on
    (user_id, event_type) over event time. Within one availableNow run
    every in-horizon duplicate is suppressed; distinct keys all pass."""
    from scraping_etl_spark import schemas
    from scraping_etl_spark.streaming.pipeline import dedup_stream

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = dedup_stream(
        spark, events_dir, out, ckpt,
        schema=schemas.EVENTS,
        key_cols=("user_id", "event_type"),
        event_time_col="ts", watermark="10 minutes",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    keys = got.select("user_id", "event_type")
    assert keys.count() == keys.distinct().count() > 0

    # misuse guard
    import pytest

    with pytest.raises(ValueError, match="event_time_col"):
        dedup_stream(spark, events_dir, out, ckpt, watermark="10 minutes")


def test_corpus_prep_ops_compose_with_streams(spark, tmp_path):
    """scrub_pii and with_repetition_stats are single-projection
    operators (no shuffle, no state) — so they apply to a STREAMING
    DataFrame as-is, in append mode. That is a direct payoff of the
    zero-shuffle repetition rework: the groupBy+join formulation could
    not run on an append stream at all. Prep-at-ingest: scrub + quality
    signals land with the documents."""
    import os

    from scraping_etl_spark import schemas
    from scraping_etl_spark.operators.corpus_prep import (
        scrub_pii,
        with_repetition_stats,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        30
    ).write.parquet(f"{src}/f1")

    stream = spark.readStream.schema(schemas.DOCUMENTS).parquet(f"{src}/*")
    scrubbed = scrub_pii(stream, with_counts=True)
    q = (
        with_repetition_stats(scrubbed)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 30
    assert set(got.columns) >= {"doc_id", "dup_token_frac", "top_bigram_frac",
                                "n_bigrams", "repeated_flag"}


def test_dedup_stream_multi_column_keys_unambiguous(spark, tmp_path):
    """("ab","c") vs ("a","bc") and ("a",NULL) vs (NULL,"a") are four
    DISTINCT keys — the separator + null sentinel must keep them from
    hashing alike (plain concat would collapse all four)."""
    import os

    from pyspark.sql import types as T

    from scraping_etl_spark.streaming.pipeline import dedup_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    schema = T.StructType(
        [T.StructField("a", T.StringType()), T.StructField("b", T.StringType())]
    )
    spark.createDataFrame(
        [("ab", "c"), ("a", "bc"), ("a", None), (None, "a")], schema
    ).write.parquet(f"{src}/f1")
    q = dedup_stream(spark, f"{src}/*", out, ckpt, schema=schema,
                     key_cols=("a", "b"))
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 4
    assert got.select("content_hash").distinct().count() == 4


def test_corpus_prep_stream_matches_batch_and_replays_stable(spark, tmp_path):
    """foreachBatch gate twin of doc_corpus_pipeline's prep stage: the
    streamed sink holds exactly the docs the batch operators keep (same
    scrub, same repetition gate, same decontamination vs the static
    bench), regardless of micro-batch slicing; a forced full replay
    (checkpoint wiped, sink kept) converges to the same rows — each
    batch overwrites its own batch_id partition, no dupes."""
    import os
    import shutil

    from scraping_etl_spark.operators.corpus_prep import (
        decontaminate,
        scrub_pii,
        with_repetition_stats,
    )
    from scraping_etl_spark.streaming.pipeline import corpus_prep_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    # two source files -> two micro-batches with maxFilesPerTrigger=1
    docs.filter("doc_id % 2 = 0").write.parquet(f"{src}/f1")
    docs.filter("doc_id % 2 = 1").write.parquet(f"{src}/f2")
    # static benchmark: every ~7th doc's text, so decontamination
    # genuinely removes rows
    bench = docs.filter("doc_id % 7 = 0").select("doc_id", "text")

    def run_once():
        q = corpus_prep_stream(
            spark, f"{src}/*", out, ckpt, bench=bench, max_files_per_trigger=1
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert got.select("batch_id").distinct().count() == 2

    # batch-side expectation with the same operators
    keep_cols = [c for c in docs.columns if c != "text"]
    scrubbed = scrub_pii(docs, with_counts=False).select(
        *keep_cols, F.col("text_scrubbed").alias("text")
    )
    rep = with_repetition_stats(scrubbed).select("doc_id", "repeated_flag")
    kept = scrubbed.join(rep, "doc_id").filter(~F.col("repeated_flag"))
    clean = decontaminate(kept, bench).filter("NOT contaminated").select("doc_id")
    want_ids = {r.doc_id for r in kept.join(clean, "doc_id", "left_semi").collect()}
    got_ids = {r.doc_id for r in got.collect()}
    assert got_ids == want_ids
    # decontamination actually bit (bench docs are their own 5-gram hits)
    assert len(want_ids) < kept.count()
    # scrubbed text + signals landed with the docs
    assert {"text", "dup_trigram_frac", "top_bigram_frac"} <= set(got.columns)

    before = {tuple(r) for r in got.drop("batch_id").collect()}
    shutil.rmtree(ckpt)
    run_once()  # full replay: same batches rewrite their own partitions
    after_df = spark.read.parquet(out)
    after = {tuple(r) for r in after_df.drop("batch_id").collect()}
    assert after == before
    assert after_df.count() == len(want_ids)  # no duplicate rows


def test_corpus_prep_stream_oov_gate_drops_high_oov_docs(spark, tmp_path):
    """The static-vocab OOV gate: docs mostly outside the reference
    vocabulary are dropped at ingest; in-vocab docs land."""
    import os

    from scraping_etl_spark.streaming.pipeline import corpus_prep_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    rows = [
        (1, "alpha beta alpha beta gamma", "en"),   # fully in-vocab
        (2, "zork quux blarg frotz nix grue", "en"),  # fully OOV
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(f"{src}/f1")
    vocab = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], "token string"
    )
    import pyspark.sql.types as T2
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
        T2.StructField("lang", T2.StringType()),
    ])
    q = corpus_prep_stream(
        spark, f"{src}/*", out, ckpt, schema=schema,
        vocab=vocab, max_oov_ratio=0.2,
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1}


def test_corpus_prep_stream_neardup_screen_drops_seen_docs(spark, tmp_path):
    """Dedup-at-the-door: an incoming doc that is a near-dup of a lake
    document is dropped by the cross-corpus LSH screen; novel docs
    land."""
    import os

    from scraping_etl_spark.streaming.pipeline import corpus_prep_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    lake = spark.createDataFrame([(1, base)], "doc_id long, text string")
    rows = [
        (101, base + " tail", "en"),  # near-dup of the lake doc
        (102, "totally different incoming document with novel words here", "en"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(f"{src}/f1")
    import pyspark.sql.types as T2
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
        T2.StructField("lang", T2.StringType()),
    ])
    q = corpus_prep_stream(
        spark, f"{src}/*", out, ckpt, schema=schema,
        dedup_ref=lake, dedup_threshold=0.5,
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {102}


def test_corpus_prep_stream_lm_gate_drops_improbable_docs(spark, tmp_path):
    """The static-LM fluency gate: a doc made of grams the curated LM
    has never seen scores at the smoothing floor ln(1/V) ≈ -1.61,
    below an in-distribution doc's ≈ -0.95, and is dropped at
    ingest."""
    import os

    from scraping_etl_spark.streaming.pipeline import corpus_prep_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    lm = spark.createDataFrame(
        [(100, "the cat sat on the mat the cat sat on the mat")],
        "doc_id long, text string",
    )
    rows = [
        (1, "the cat sat on the mat", "en"),          # in-distribution
        (2, "zorp glarb fnord wibble quux blat", "en"),  # all-unseen grams
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(f"{src}/f1")
    import pyspark.sql.types as T2
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
        T2.StructField("lang", T2.StringType()),
    ])
    q = corpus_prep_stream(
        spark, f"{src}/*", out, ckpt, schema=schema,
        lm_ref=lm, min_avg_logp=-1.3,
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1}


def test_corpus_prep_stream_oov_lm_chain_matches_batch_twin(spark, tmp_path):
    """The OOV + static-LM gate CHAIN (both side inputs at once, the
    shape the registry's ``doc_stream_gates`` batch twin mirrors):
    streaming over two micro-batches lands exactly the docs the batch
    composition keeps — scrub → repetition gate → OOV vs the static
    lake vocab → fluency vs the lake-trained LM."""
    import os

    from scraping_etl_spark.operators.corpus_prep import (
        scrub_pii,
        with_lm_score,
        with_oov_ratio,
        with_repetition_stats,
    )
    from scraping_etl_spark.operators.textstats import vocab_topk
    from scraping_etl_spark.streaming.pipeline import corpus_prep_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = docs.filter("doc_id % 7 = 0")
    inc = docs.filter("doc_id % 7 <> 0")
    # two source files -> two micro-batches
    inc.filter("doc_id % 2 = 0").write.parquet(f"{src}/f1")
    inc.filter("doc_id % 2 = 1").write.parquet(f"{src}/f2")
    vocab = vocab_topk(ref, k=10)
    max_oov, min_logp = 0.67, -3.55

    q = corpus_prep_stream(
        spark, f"{src}/*", out, ckpt,
        vocab=vocab, max_oov_ratio=max_oov,
        lm_ref=ref, min_avg_logp=min_logp,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    got_ids = {r.doc_id for r in spark.read.parquet(out).collect()}

    # batch composition with the same operators and side inputs
    keep_cols = [c for c in inc.columns if c != "text"]
    scrubbed = scrub_pii(inc, with_counts=False).select(
        *keep_cols, F.col("text_scrubbed").alias("text")
    )
    rep = with_repetition_stats(scrubbed).select("doc_id", "repeated_flag")
    kept = scrubbed.join(rep, "doc_id").filter(~F.col("repeated_flag"))
    oov_ok = with_oov_ratio(kept, vocab).filter(
        F.col("oov_ratio") <= max_oov
    ).select("doc_id")
    kept = kept.join(oov_ok, "doc_id", "left_semi")
    lm_ok = with_lm_score(kept, lm=ref).filter(
        (F.col("n_bigrams") == 0) | (F.col("avg_logp") >= min_logp)
    ).select("doc_id")
    want_ids = {r.doc_id for r in kept.join(lm_ok, "doc_id", "left_semi").collect()}

    assert got_ids == want_ids
    # both gates genuinely bit, and survivors exist
    assert 0 < len(want_ids) < inc.count()


@pytest.mark.slow
def test_scd2_dim_stream_versions_match_sequential_batch_merges(spark, tmp_path):
    """Two micro-batches of attribute updates -> the streamed dim must
    equal applying scd2_merge sequentially in batch; a checkpoint-reset
    replay over the same files converges to the same bytes."""
    import datetime

    from scraping_etl_spark.etl.scd import scd2_merge
    from scraping_etl_spark.streaming.pipeline import scd2_dim_stream

    src = tmp_path / "updates"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, "a", datetime.date(2000, 1, 1)), (2, "b", datetime.date(2000, 1, 2))],
        "k long, attr string, upd date",
    )
    b2 = spark.createDataFrame(
        [(1, "a2", datetime.date(2000, 2, 1)),   # change
         (2, "b", datetime.date(2000, 2, 1)),    # identical re-delivery
         (3, "c", datetime.date(2000, 2, 2))],   # new key
        "k long, attr string, upd date",
    )
    b1.coalesce(1).write.parquet(str(src / "f1.parquet"))
    b2.coalesce(1).write.parquet(str(src / "f2.parquet"))

    out, ckpt = str(tmp_path / "dim"), str(tmp_path / "ckpt")

    def run(out_dir, ckpt_dir):
        stream = (
            spark.readStream.schema("k long, attr string, upd date")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = scd2_dim_stream(
            spark, stream, out_dir, ckpt_dir,
            key_col="k", compare_cols=["attr"], date_col="upd",
        )
        q.awaitTermination(120)

    run(out, ckpt)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))

    # batch reference: initial dim from batch1, then merge batch2
    dim1 = b1.select(
        "k", "attr",
        F.lit("2000-01-02").cast("date").alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    ref = scd2_merge(
        dim1, b2.select("k", "attr"), key_col="k",
        compare_cols=["attr"], effective_date="2000-02-02",
    )
    assert got == sorted(map(tuple, ref.collect()))
    # the changed key carries two versions, the no-op key one
    by_k = {}
    for r in spark.read.parquet(out).collect():
        by_k.setdefault(r.k, []).append(r)
    assert len(by_k[1]) == 2 and len(by_k[2]) == 1 and len(by_k[3]) == 1
    assert {r.attr for r in by_k[1] if r.is_current} == {"a2"}

    # fresh-checkpoint replay over the same source converges bit-same
    out2, ckpt2 = str(tmp_path / "dim2"), str(tmp_path / "ckpt2")
    run(out2, ckpt2)
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == got


def test_scd2_dim_stream_intrabatch_collapse_keeps_latest(spark, tmp_path):
    """Two updates to one key inside a single micro-batch: only the
    latest (by date, then compare-tuple desc) versions."""
    import datetime

    from scraping_etl_spark.streaming.pipeline import scd2_dim_stream

    src = tmp_path / "u"
    src.mkdir()
    spark.createDataFrame(
        [(1, "old", datetime.date(2000, 1, 1)),
         (1, "new", datetime.date(2000, 1, 5))],
        "k long, attr string, upd date",
    ).coalesce(1).write.parquet(str(src / "f1.parquet"))

    out, ckpt = str(tmp_path / "dim"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("k long, attr string, upd date")
        .parquet(str(src) + "/*")
    )
    q = scd2_dim_stream(spark, stream, out, ckpt,
                        key_col="k", compare_cols=["attr"], date_col="upd")
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0].attr == "new" and rows[0].is_current
    assert rows[0].effective_from == datetime.date(2000, 1, 5)


def test_frontier_stream_dedups_url_aliases_across_batches(spark, tmp_path):
    """Streaming crawl-frontier dedup: aliased re-discoveries (tracking
    params, fragments, default ports, case-shifted hosts) are
    suppressed across micro-batches by the canonical-URL state; genuine
    new URLs pass; the emitted row keeps the first-arrival original."""
    import datetime
    import os

    from scraping_etl_spark.operators.urls import url_dedup
    from scraping_etl_spark.streaming.pipeline import frontier_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def rows(spec):
        return spark.createDataFrame(
            [
                (i, u, t0 + datetime.timedelta(minutes=i), 0)
                for i, u in spec
            ],
            "url_id long, url string, discovered_at timestamp, depth int",
        )

    batch1 = [
        (1, "HTTP://Example.com:80/a//b/?utm_source=x&q=1#frag"),
        (2, "https://example.com/landing"),
    ]
    rows(batch1).write.parquet(f"{src}/f1")

    def run_once():
        q = frontier_stream(spark, f"{src}/*", out, ckpt)
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out)
    assert first.count() == 2
    canon = {r.url_id: r.canonical_url for r in first.collect()}
    assert canon[1] == "http://example.com/a/b?q=1"
    assert canon[2] == "https://example.com/landing"

    # later batch: two aliases of url 1, one alias of url 2, one fresh
    batch2 = [
        (3, "http://example.com/a/b?q=1"),
        (4, "http://EXAMPLE.com/a/b?q=1&gclid=zzz"),
        (5, "https://example.com:443/landing#top"),
        (6, "https://example.com/fresh?b=2&a=1"),
    ]
    rows(batch2).write.parquet(f"{src}/f2")
    run_once()
    final = spark.read.parquet(out)
    assert final.count() == 3  # aliases 3/4/5 suppressed, 6 passes
    got_ids = sorted(r.url_id for r in final.collect())
    assert got_ids == [1, 2, 6]
    # sorted-params canonical form for the fresh URL
    fresh = final.filter(F.col("url_id") == 6).collect()[0]
    assert fresh.canonical_url == "https://example.com/fresh?a=1&b=2"

    # batch twin agrees on the GROUPS: one survivor per canonical url,
    # and streaming's first-arrival survivor == batch min-id survivor
    # (ids are assigned in arrival order above)
    all_urls = rows(batch1).unionByName(rows(batch2))
    twin = url_dedup(all_urls, url_col="url", id_col="url_id")
    twin_map = {r.canonical_url: r.survivor_id for r in twin.collect()}
    assert len(twin_map) == 3
    for r in final.collect():
        assert twin_map[r.canonical_url] == r.url_id


def test_heavy_hitters_stream_merges_to_batch_sketch(spark, tmp_path):
    """CMS mergeability twin: per-micro-batch sketches summed at read
    time equal the batch operator's sketch over the union corpus
    BIT-FOR-BIT (plan-constant hashes), and a forced full replay
    (checkpoint wiped, sketch dir kept) converges to the same cells —
    each batch overwrites its own batch_id partition, never double
    counting."""
    import os
    import shutil

    from scraping_etl_spark.operators import sketches as SK
    from scraping_etl_spark.streaming.pipeline import (
        heavy_hitters_stream,
        read_cms_sketch,
    )

    src, skdir, ckpt = (str(tmp_path / d) for d in ("src", "sk", "ckpt"))
    os.makedirs(src)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    docs.filter("doc_id % 2 = 0").write.parquet(f"{src}/f1")
    docs.filter("doc_id % 2 = 1").write.parquet(f"{src}/f2")

    def run_once():
        q = heavy_hitters_stream(
            spark, f"{src}/*", skdir, ckpt,
            width=64, depth=3, max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run_once()
    # two micro-batches landed as separate partitions
    batches = {
        r.batch_id
        for r in spark.read.parquet(skdir).select("batch_id").distinct().collect()
    }
    assert len(batches) == 2

    merged = {
        (r.seed, r.bucket): r.cnt
        for r in read_cms_sketch(spark, skdir).collect()
    }
    batch = {
        (r.seed, r.bucket): r.cnt
        for r in SK.cms_build(docs, width=64, depth=3).collect()
    }
    assert merged == batch

    # replay: wipe the checkpoint, keep the sketch dir -> same cells
    shutil.rmtree(ckpt)
    run_once()
    replayed = {
        (r.seed, r.bucket): r.cnt
        for r in read_cms_sketch(spark, skdir).collect()
    }
    assert replayed == batch


@pytest.mark.slow
def test_corpus_gate_job_count_constant_per_batch(spark, tmp_path):
    """r8 brief #7: side-input prepare probes must run ONCE, never per
    micro-batch. Drives the extracted foreachBatch gate synchronously
    over three same-shaped batches with EVERY prepared side input wired
    (bench grams, vocab, near-dup lake, reference LM, classifier
    weights) and pins the per-call Spark-job count: if any prepare
    probe leaked into the gate, the count per batch would grow by the
    probe's jobs and the equality would break."""
    import os

    from scraping_etl_spark.operators.corpus_prep import (
        prepare_bench_grams,
        prepare_lm,
    )
    from scraping_etl_spark.operators.dedup import prepare_neardup_ref
    from scraping_etl_spark.operators.textstats import vocab_topk
    from scraping_etl_spark.streaming.pipeline import build_corpus_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(90)
    bench = docs.filter("doc_id % 13 = 0").select("doc_id", "text")
    lake = docs.filter("doc_id % 11 = 0").select("doc_id", "text")
    out = str(tmp_path / "gated")

    gate = build_corpus_gate(
        out,
        bench_prepared=prepare_bench_grams(bench),
        vocab_static=vocab_topk(docs, k=200).localCheckpoint(),
        ref_prepared=prepare_neardup_ref(lake),
        lm_prepared=prepare_lm(bench),
        clf_weights=[0.1, 0.2, -0.3, 0.05, 0.0],
        min_avg_logp=-50.0,
        min_quality_prob=0.0,
    )
    batches = [
        docs.filter(f"doc_id % 3 = {i}").localCheckpoint() for i in range(3)
    ]
    tracker = spark.sparkContext.statusTracker()

    def last_job_id() -> int:
        # job ids are monotonically increasing; the max-id delta counts
        # submitted jobs even when the status store has evicted old
        # entries (len() of the retained window shrinks mid-suite)
        ids = tracker.getJobIdsForGroup(None) or []
        return max(ids) if ids else -1

    counts = []
    for i, b in enumerate(batches):
        before = last_job_id()
        gate(b, i)
        counts.append(last_job_id() - before)
    # same-shaped batches, fully prepared side inputs -> identical
    # per-batch job counts (prepare probes would add jobs per call)
    assert counts[0] == counts[1] == counts[2], counts
    assert os.path.isdir(out)


def test_bloom_stream_merges_to_batch_filter_and_screens(spark, tmp_path):
    """Bloom OR-mergeability twin: per-micro-batch bit partitions
    folded at read time equal the batch build over the union corpus
    BIT-FOR-BIT (plan-constant hashes); a screen against the folded
    filter never rejects an ingested key; replay (checkpoint wiped,
    bits dir kept) converges to the same bits."""
    import os
    import shutil

    from scraping_etl_spark.operators import bloom as BL
    from scraping_etl_spark.streaming.pipeline import (
        bloom_screen_stream,
        read_bloom_bits,
    )

    src, bdir, ckpt = (str(tmp_path / d) for d in ("src", "bits", "ckpt"))
    os.makedirs(src)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    docs.filter("doc_id % 2 = 0").write.parquet(f"{src}/f1")
    docs.filter("doc_id % 2 = 1").write.parquet(f"{src}/f2")

    def run_once():
        q = bloom_screen_stream(
            spark, f"{src}/*", bdir, ckpt,
            m_bits=1 << 12, k_hashes=3, max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run_once()
    assert (
        spark.read.parquet(bdir).select("batch_id").distinct().count() == 2
    )
    folded = sorted(r.bit for r in read_bloom_bits(spark, bdir).collect())
    batch = sorted(
        r.bit
        for r in BL.bloom_build(
            docs.selectExpr("md5(text) AS k"), key_col="k",
            m_bits=1 << 12, k_hashes=3,
        ).collect()
    )
    assert folded == batch

    # every ingested key passes the screen against the folded filter
    screened = BL.bloom_screen(
        docs.selectExpr("doc_id", "md5(text) AS k"),
        read_bloom_bits(spark, bdir),
        key_col="k", m_bits=1 << 12, k_hashes=3,
    )
    assert screened.filter("NOT bloom_hit").count() == 0

    shutil.rmtree(ckpt)
    run_once()
    assert sorted(r.bit for r in read_bloom_bits(spark, bdir).collect()) == batch


def test_line_dedup_stream_matches_batch_and_replays(spark, tmp_path):
    """Exact-state streaming line dedup: with batches arriving in
    doc-id order, the streamed sink equals the batch operator over the
    union corpus; a replay (checkpoint wiped, seen/out dirs kept)
    converges to the same rows because each batch's anti-join reads
    only STRICTLY earlier batch partitions."""
    import os
    import shutil

    from scraping_etl_spark.operators.lines import dedup_lines
    from scraping_etl_spark.streaming.pipeline import line_dedup_stream

    src, out, seen, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "seen", "ckpt")
    )
    os.makedirs(src)
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    docs = base.selectExpr(
        "doc_id",
        "concat_ws('\\n', 'shared header line', text, 'shared footer line') AS text",
        "lang", "source", "n_chars",
    ).localCheckpoint()
    # file-per-range so arrival order == doc_id order (file source
    # lists lexicographically: f1 < f2)
    docs.filter("doc_id < 20").coalesce(1).write.parquet(f"{src}/f1")
    docs.filter("doc_id >= 20").coalesce(1).write.parquet(f"{src}/f2")

    def run_once():
        q = line_dedup_stream(
            spark, f"{src}/*", out, seen, ckpt, max_files_per_trigger=1
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert got.select("batch_id").distinct().count() == 2
    want = {
        (r.doc_id, r.text, r.n_lines, r.n_kept)
        for r in dedup_lines(docs.select("doc_id", "text")).collect()
    }
    got_rows = {
        (r.doc_id, r.text, r.n_lines, r.n_kept)
        for r in got.select("doc_id", "text", "n_lines", "n_kept").collect()
    }
    assert got_rows == want
    # the boilerplate really is cross-batch deduped: only doc 0 keeps it
    kept_header = [
        r.doc_id for r in got.collect() if "shared header line" in r.text
    ]
    assert kept_header == [0]

    shutil.rmtree(ckpt)
    run_once()  # replay converges — no batch sees its own partitions
    again = {
        (r.doc_id, r.text, r.n_lines, r.n_kept)
        for r in spark.read.parquet(out)
        .select("doc_id", "text", "n_lines", "n_kept").collect()
    }
    assert again == want


def test_neardup_screen_stream_matches_batch_and_replays(spark, tmp_path):
    """Streaming cross-corpus near-dup screen: with shards arriving in
    doc-id order, the union of per-batch pair outputs equals the batch
    screen of each shard against the union of its predecessors; a
    replay (checkpoint wiped, lakes kept) converges because each batch
    screens only STRICTLY earlier lake partitions."""
    import os
    import shutil

    from scraping_etl_spark.operators.dedup import (
        cross_corpus_neardup_pairs, prepare_neardup_ref,
    )
    from scraping_etl_spark.streaming.pipeline import neardup_screen_stream

    src, out, bands_d, docs_d, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "bands", "docs", "ckpt")
    )
    os.makedirs(src)
    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(30)
        .localCheckpoint()
    )
    # shard 2 contains near-copies of shard-1 docs (id-shifted, one
    # word appended) -> guaranteed cross-batch hits
    copies = base.filter("doc_id < 8").selectExpr(
        "doc_id + 1000 AS doc_id",
        "concat(text, ' tail') AS text",
        "lang", "source", "n_chars",
    )
    s1 = base.localCheckpoint()
    s2 = copies.unionByName(
        base.filter("doc_id >= 20").selectExpr(
            "doc_id + 2000 AS doc_id", "text", "lang", "source", "n_chars"
        )
    ).localCheckpoint()
    s1.coalesce(1).write.parquet(f"{src}/f1")
    s2.coalesce(1).write.parquet(f"{src}/f2")

    def run_once():
        q = neardup_screen_stream(
            spark, f"{src}/*", out, bands_d, docs_d, ckpt,
            max_files_per_trigger=1, threshold=0.5,
        )
        q.awaitTermination(180)

    run_once()
    got = {
        (r.new_id, r.ref_id, r.jaccard)
        for r in spark.read.parquet(out).collect()
    }
    # batch reference: shard 1 screens against nothing, shard 2
    # against shard 1
    ref = prepare_neardup_ref(s1)
    want = {
        (r.new_id, r.ref_id, r.jaccard)
        for r in cross_corpus_neardup_pairs(
            s2, ref_prepared=ref, threshold=0.5
        ).collect()
    }
    assert got == want
    # the planted copies actually hit
    assert any(n == o + 1000 for (n, o, _) in got)

    shutil.rmtree(ckpt)
    run_once()
    again = {
        (r.new_id, r.ref_id, r.jaccard)
        for r in spark.read.parquet(out).collect()
    }
    assert again == want


def test_term_screen_stream_matches_batch_twin(spark, tmp_path):
    """Streaming banned-term screen lands exactly the docs the batch
    operator keeps, under any micro-batch slicing; hit counts ride
    along; replay converges (batch_id partition overwrite)."""
    import os
    import shutil

    from scraping_etl_spark.operators.curation import term_screen
    from scraping_etl_spark.streaming.pipeline import term_screen_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    docs.filter("doc_id % 2 = 0").write.parquet(f"{src}/f1")
    docs.filter("doc_id % 2 = 1").write.parquet(f"{src}/f2")
    terms = ["spark", "vector", "stream"]

    def run_once():
        q = term_screen_stream(
            spark, f"{src}/*", out, ckpt, terms,
            max_hits=2, max_files_per_trigger=1
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert got.select("batch_id").distinct().count() == 2
    want = term_screen(docs, terms, max_hits=2).filter("keep")
    want_ids = {r.doc_id for r in want.collect()}
    assert {r.doc_id for r in got.collect()} == want_ids
    assert 0 < len(want_ids) < docs.count()  # the screen genuinely bites
    assert {"n_hits", "n_terms"} <= set(got.columns)

    before = {tuple(r) for r in got.drop("batch_id").collect()}
    shutil.rmtree(ckpt)
    run_once()
    after = {tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()}
    assert after == before


def test_corpus_prep_stream_lang_screen_keeps_allowed_languages(spark, tmp_path):
    """The n-gram language screen at the door: profiles trained
    OFFLINE on a labeled lake (textstats.char_ngram_profiles), each
    incoming doc scored per micro-batch against the static side input
    and kept only when its predicted language is allowed — and the
    stream's verdict equals the batch twin's on the same rows."""
    import os

    import pyspark.sql.types as T2

    from scraping_etl_spark.operators.textstats import (
        char_ngram_profiles,
        lang_id_ngram,
    )
    from scraping_etl_spark.streaming.pipeline import corpus_prep_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    # labeled lake with clear per-language character signal
    lake_rows = []
    for i in range(6):
        lake_rows.append((i, "aa", "common words here " + "aardvark " * 5))
        lake_rows.append((10 + i, "bb", "common words here " + "bobolink " * 5))
    lake = spark.createDataFrame(
        lake_rows, "doc_id long, lang string, text string"
    )
    profiles = char_ngram_profiles(lake, top_m=60)

    incoming = [
        (101, "wholly novel aardvark aardvark aardvark content", "?"),
        (102, "wholly novel bobolink bobolink bobolink content", "?"),
    ]
    spark.createDataFrame(
        incoming, "doc_id long, text string, lang string"
    ).write.parquet(f"{src}/f1")
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
        T2.StructField("lang", T2.StringType()),
    ])
    q = corpus_prep_stream(
        spark, f"{src}/*", out, ckpt, schema=schema,
        lang_profiles=profiles, allowed_langs=("aa",),
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {101}
    # batch twin over the same incoming rows and the same profiles
    batch = spark.createDataFrame(
        incoming, "doc_id long, text string, lang string"
    )
    twin = {
        r.doc_id
        for r in lang_id_ngram(batch, profiles=profiles)
        .filter("pred_lang = 'aa'")
        .collect()
    }
    assert twin == got


@pytest.mark.slow
def test_corpus_prep_stream_lang_screen_replay_converges(spark, tmp_path):
    """The realistic deployment of the language screen (r11 verdict
    item 6): the model is trained OFFLINE on a labeled lake that is
    DISJOINT from the stream, broadcast as a static side input, and
    applied per micro-batch. Two micro-batches (one file each), then a
    checkpoint reset + replay with identical slicing must land the
    bit-identical relation (the batch_id partition-overwrite
    convention) — and the stream's verdict equals the batch twin's on
    the union of the incoming rows, micro-batch slicing invisible."""
    import os
    import shutil

    import pyspark.sql.types as T2

    from scraping_etl_spark.operators.textstats import (
        char_ngram_profiles,
        lang_id_ngram,
    )
    from scraping_etl_spark.streaming.pipeline import corpus_prep_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    lake_rows = []
    for i in range(6):
        lake_rows.append((i, "aa", "common words here " + "aardvark " * 5))
        lake_rows.append((10 + i, "bb", "common words here " + "bobolink " * 5))
    lake = spark.createDataFrame(
        lake_rows, "doc_id long, lang string, text string"
    )
    # trained at depth 60, scored by the gate at its default top_m —
    # the penalty must come from the MODEL (max rank), pinned by the
    # twin equality below
    profiles = char_ngram_profiles(lake, top_m=60)

    b1 = [
        (101, "novel aardvark aardvark aardvark report", "?"),
        (102, "novel bobolink bobolink bobolink report", "?"),
    ]
    b2 = [
        (103, "more aardvark aardvark aardvark text", "?"),
        (104, "more bobolink bobolink bobolink text", "?"),
    ]
    schema_str = "doc_id long, text string, lang string"
    spark.createDataFrame(b1, schema_str).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(b2, schema_str).coalesce(1).write.parquet(f"{src}/f2")
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
        T2.StructField("lang", T2.StringType()),
    ])

    def run_once():
        q = corpus_prep_stream(
            spark, f"{src}/*", out, ckpt, schema=schema,
            lang_profiles=profiles, allowed_langs=("aa",),
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert got.select("batch_id").distinct().count() == 2
    before = {tuple(r) for r in got.drop("batch_id").collect()}
    assert {r.doc_id for r in got.collect()} == {101, 103}

    # batch twin over the union, same pretrained model
    batch = spark.createDataFrame(b1 + b2, schema_str)
    twin = {
        r.doc_id
        for r in lang_id_ngram(batch, profiles=profiles)
        .filter("pred_lang = 'aa'")
        .collect()
    }
    assert twin == {r[0] for r in before}

    shutil.rmtree(ckpt)
    run_once()
    after = {
        tuple(r)
        for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    assert after == before


def test_cdc_chunk_screen_stream_matches_batch_twin_and_replays(spark, tmp_path):
    """The CDC ingest screen: the lake's chunk store is prepared once
    offline; each micro-batch lands only docs with at most
    max_seen_frac of their content-defined chunks already in the lake
    — so a boilerplate-prefixed mirror of lake content is refused at
    the door while novel docs pass. Two micro-batches, batch-twin
    equality on the union, checkpoint-reset replay converges."""
    import os
    import shutil

    import pyspark.sql.types as T2

    from scraping_etl_spark.operators import corpus_prep as CP
    from scraping_etl_spark.streaming.pipeline import cdc_chunk_screen_stream

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    lake_text = " ".join(f"w{i}" for i in range(150))
    lake = spark.createDataFrame([(1, lake_text)], "doc_id long, text string")
    ref = CP.prepare_cdc_ref(lake)

    b1 = [(101, "mirror prefix " + lake_text),          # shifted lake copy
          (102, " ".join(f"fresh{i}" for i in range(80)))]
    b2 = [(103, lake_text + " tiny tail"),              # suffixed lake copy
          (104, " ".join(f"new{i}" for i in range(80)))]
    schema_str = "doc_id long, text string"
    spark.createDataFrame(b1, schema_str).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(b2, schema_str).coalesce(1).write.parquet(f"{src}/f2")
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
    ])

    def run_once():
        q = cdc_chunk_screen_stream(
            spark, f"{src}/*", out, ckpt, ref_prepared=ref, schema=schema,
            max_seen_frac=0.5, max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert got.select("batch_id").distinct().count() == 2
    landed = {r.doc_id for r in got.collect()}
    # batch twin over the union
    union = spark.createDataFrame(b1 + b2, schema_str)
    twin = {
        r.doc_id
        for r in CP.cdc_seen_fraction(union, ref)
        .filter("seen_frac <= 0.5")
        .collect()
    }
    assert landed == twin
    assert {102, 104} <= landed          # novel docs pass
    assert {101, 103}.isdisjoint(landed)  # shifted lake copies refused
    assert {"n_chunks", "n_seen", "seen_frac"} <= set(got.columns)

    before = {tuple(r) for r in got.drop("batch_id").collect()}
    shutil.rmtree(ckpt)
    run_once()
    after = {
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    assert after == before


@pytest.mark.slow
def test_cdc_chunk_screen_stream_growing_lake_refuses_intra_stream_mirror(
    spark, tmp_path
):
    """The growing-lake tier (seen_dir): a doc lands in batch 1 and its
    boilerplate-prefixed mirror arrives in batch 2 — NEITHER is in any
    static store, so the static contract would land both; the growing
    lake refuses the mirror because batch 1's landed chunks screen
    batch 2. Equals the batch twin folded over predecessors; replay
    from a wiped checkpoint converges (a replayed batch never screens
    against its own previous lake partition)."""
    import os
    import shutil

    import pyspark.sql.types as T2

    from scraping_etl_spark.operators import corpus_prep as CP
    from scraping_etl_spark.streaming.pipeline import cdc_chunk_screen_stream

    src, out, ckpt, seen = (
        str(tmp_path / d) for d in ("src", "out", "ckpt", "seen")
    )
    os.makedirs(src)
    body = " ".join(f"w{i}" for i in range(150))
    b1 = [(1, body), (2, " ".join(f"a{i}" for i in range(80)))]
    b2 = [(3, "mirror prefix " + body),                 # shifted b1 copy
          (4, " ".join(f"b{i}" for i in range(80)))]
    schema_str = "doc_id long, text string"
    spark.createDataFrame(b1, schema_str).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(b2, schema_str).coalesce(1).write.parquet(f"{src}/f2")
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
    ])

    def run_once():
        q = cdc_chunk_screen_stream(
            spark, f"{src}/*", out, ckpt, schema=schema,
            max_seen_frac=0.5, max_files_per_trigger=1, seen_dir=seen,
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    landed = {r.doc_id for r in got.collect()}
    assert {1, 2, 4} <= landed
    assert 3 not in landed  # intra-stream shifted mirror refused
    # batch-twin fold: batch 2 against a ref prepared from batch 1's
    # SURVIVORS must give exactly batch 2's landed set
    survivors_b1 = spark.createDataFrame(
        [r for r in b1], schema_str
    )  # batch 1 has no predecessors; everything lands
    ref = CP.prepare_cdc_ref(survivors_b1)
    twin_b2 = {
        r.doc_id
        for r in CP.cdc_seen_fraction(
            spark.createDataFrame(b2, schema_str), ref
        )
        .filter("seen_frac <= 0.5")
        .collect()
    }
    assert twin_b2 == landed & {3, 4}
    # the lake grew: one partition per batch, chunk hashes only
    lake = spark.read.parquet(seen)
    assert set(lake.columns) == {"_h", "batch_id"}
    assert lake.select("batch_id").distinct().count() == 2

    before = {tuple(r) for r in got.drop("batch_id").collect()}
    shutil.rmtree(ckpt)
    run_once()
    after = {
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    }
    assert after == before


def test_cdc_chunk_screen_stream_requires_a_lake(spark, tmp_path):
    """No static store and no growing lake is a configuration error —
    the gate would screen against nothing and land everything."""
    import pytest as _pt

    from scraping_etl_spark.streaming.pipeline import cdc_chunk_screen_stream

    with _pt.raises(ValueError, match="lake"):
        cdc_chunk_screen_stream(
            spark, str(tmp_path / "src"), str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )


def test_corpus_gate_rejects_lang_screen_without_allowlist(spark):
    """A language screen with an empty allow-list would silently drop
    the whole stream — rejected at gate-build time."""
    import pytest as _pt

    from scraping_etl_spark.streaming.pipeline import build_corpus_gate

    profiles = spark.createDataFrame(
        [("aa", "aar", 1)], "lang string, gram string, rank int"
    )
    with _pt.raises(ValueError, match="allowed_langs"):
        build_corpus_gate("/tmp/x", lang_profiles=profiles)


def test_edit_screen_stream_matches_batch_twin_and_replays(spark, tmp_path):
    """Streaming edit-distance screen: with shards arriving in order,
    the union of per-batch outputs equals, per shard, the cross-side
    restriction of the batch edit_distance_pairs over (shard ∪ its
    predecessors) and edit_screen_pairs(shard, its predecessors);
    planted 1-edit mirrors across batches hit; a replay
    (checkpoint wiped, lakes kept) converges because each batch
    screens only STRICTLY earlier lake partitions."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from scraping_etl_spark.operators.dedup import (
        edit_distance_pairs,
        edit_screen_pairs,
    )
    from scraping_etl_spark.streaming.pipeline import edit_screen_stream

    src, out, strs, grams, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "strs", "grams", "ckpt")
    )
    os.makedirs(src)
    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("text").rlike("^[ -~]{12,}"))
        .limit(24)
        .localCheckpoint()
    )
    # shard 2: 1-substitution mirrors of shard-1 docs (id-shifted) plus
    # fresh docs; shard 3: mirrors of shard-2's fresh docs -> hits must
    # reference BATCH-2 lake rows, proving the lake grows per batch
    s1 = base.filter("doc_id % 3 = 0")
    fresh2 = base.filter("doc_id % 3 = 1").selectExpr(
        "doc_id + 500 AS doc_id", "text", "lang", "source", "n_chars"
    )
    mir2 = s1.selectExpr(
        "doc_id + 1000 AS doc_id",
        "concat('~', substr(substr(text, 1, 40), 2)) AS text",
        "lang", "source", "n_chars",
    )
    s2 = fresh2.unionByName(mir2)
    mir3 = fresh2.selectExpr(
        "doc_id + 2000 AS doc_id",
        "concat('~', substr(substr(text, 1, 40), 2)) AS text",
        "lang", "source", "n_chars",
    )
    for i, sh in enumerate((s1, s2, mir3)):
        sh.coalesce(1).write.parquet(f"{src}/f{i + 1}")

    def run_once():
        q = edit_screen_stream(
            spark, f"{src}/*", out, strs, grams, ckpt,
            k=2, q=3, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    run_once()
    got = {
        (r.new_id, r.ref_id, r.dist)
        for r in spark.read.parquet(out).collect()
    }

    # batch reference: union every prefix, run the batch operator with
    # the same truncation/floor, keep cross pairs (new side = the later
    # shard). Shard ids are disjoint ranges so "later" = larger id.
    def prep(df):
        return df.select(
            "doc_id", F.substring("text", 1, 40).alias("s")
        ).withColumn("_l", F.length("s")).filter("_l >= 9").drop("_l")

    want = set()
    screened = set()
    seen = None
    for sh in (s1, s2, mir3):
        cur = prep(sh).localCheckpoint()
        if seen is not None:
            screened |= {
                (r.new_id, r.ref_id, r.dist)
                for r in edit_screen_pairs(cur, seen, 2, "doc_id", "s", q=3)
                .collect()
            }
            both = seen.unionByName(cur)
            pairs = edit_distance_pairs(both, 2, "doc_id", "s", q=3)
            cur_ids = {r.doc_id for r in cur.collect()}
            seen_ids = {r.doc_id for r in seen.collect()}
            for r in pairs.collect():
                a, b = r.id_a, r.id_b
                if a in seen_ids and b in cur_ids:
                    want.add((b, a, r.dist))
                elif b in seen_ids and a in cur_ids:
                    want.add((a, b, r.dist))
            seen = both.localCheckpoint()
        else:
            seen = cur
    assert got == want
    # the batch face whose screen kernel the stream calls gives the
    # same pairs, shard by shard against the union of its predecessors
    assert got == screened
    # the planted cross-batch mirrors actually hit, including one whose
    # lake side entered at batch 2 (the growing-lake proof)
    assert any(n == r + 1000 for (n, r, _) in got)
    assert any(n == r + 2000 for (n, r, _) in got)

    shutil.rmtree(ckpt)
    run_once()
    again = {
        (r.new_id, r.ref_id, r.dist)
        for r in spark.read.parquet(out).collect()
    }
    assert again == want


def test_screen_streams_keep_no_copy_of_a_batch_kernel():
    """The screen streams call their batch operators' kernels: the
    stream module itself calls no Jaccard or Levenshtein verify and no
    ``collect_list`` reassembly (Spark-free AST scan)."""
    import ast
    import inspect

    from scraping_etl_spark.streaming import pipeline

    tree = ast.parse(inspect.getsource(pipeline))
    called = {
        node.func.id if isinstance(node.func, ast.Name) else node.func.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, (ast.Name, ast.Attribute))
    }
    assert called & {"jaccard", "levenshtein", "collect_list"} == set()


def test_corpus_law_stream_matches_batch_fit_and_replays(spark, tmp_path):
    """Corpus-law drift monitor: after each micro-batch, the landed
    (batch, lang) Zipf rows equal the batch zipf_fit over the union of
    shards so far — the same hashed arithmetic as doc_zipf_fit; the
    trajectory reflects a planted batch-2 template flood (slope moves
    toward 0 for the flooded language); replay converges."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from scraping_etl_spark.operators.textstats import zipf_fit
    from scraping_etl_spark.streaming.pipeline import corpus_law_stream

    src, out, counts, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "counts", "ckpt")
    )
    os.makedirs(src)
    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .localCheckpoint()
    )
    s1 = base.filter("doc_id % 2 = 0")
    # batch 2: a template flood in one language — one sentence pasted
    # over and over, the drift the monitor exists to catch
    flood = spark.range(30).select(
        (F.col("id") + 5000).alias("doc_id"),
        F.lit("buy now click here limited offer " * 8).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("flood").alias("source"),
        F.lit(256).alias("n_chars"),
    )
    s2 = base.filter("doc_id % 2 = 1").unionByName(
        flood.select(*base.columns)
    )
    s1.coalesce(1).write.parquet(f"{src}/f1")
    s2.coalesce(1).write.parquet(f"{src}/f2")

    def run_once():
        q = corpus_law_stream(
            spark, f"{src}/*", out, counts, ckpt,
            top_r=50, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    run_once()
    got = {
        (r.batch_id, r.lang): (r.n_tokens, r.n_types, r.zipf_slope,
                               r.zipf_intercept, r.zipf_r2)
        for r in spark.read.parquet(out).collect()
    }
    # batch twin per prefix
    want = {}
    seen = None
    for i, sh in enumerate((s1, s2)):
        seen = sh if seen is None else seen.unionByName(sh)
        for r in zipf_fit(seen, top_r=50).collect():
            want[(i, r.lang)] = (r.n_tokens, r.n_types, r.zipf_slope,
                                 r.zipf_intercept, r.zipf_r2)
    assert got == want
    # the template flood CONCENTRATES mass in its few pasted words, so
    # the English head gets steeper: |slope| strictly increases (a
    # diverse-junk flood would flatten it instead — either direction
    # of drift is the alarm; the monitor reports the trajectory)
    assert abs(got[(1, "en")][2]) > abs(got[(0, "en")][2])

    shutil.rmtree(ckpt)
    run_once()
    again = {
        (r.batch_id, r.lang): (r.n_tokens, r.n_types, r.zipf_slope,
                               r.zipf_intercept, r.zipf_r2)
        for r in spark.read.parquet(out).collect()
    }
    assert again == want


def test_emb_screen_stream_matches_batch_twin_and_replays(spark, tmp_path):
    """Streaming semantic ingest screen: with shards arriving in
    order, each shard's refusals equal the batch
    embedding_decontaminate of the shard against the union of its
    PREDECESSORS' survivors; exact-copy mirrors across batches are
    refused (including one whose lake side entered at batch 2 — the
    growing-lake proof); a replay (checkpoint wiped, lake kept)
    converges to the same output."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from scraping_etl_spark.operators.similarity import (
        embedding_decontaminate,
    )
    from scraping_etl_spark.streaming.pipeline import emb_screen_stream

    src, out, lake, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "lake", "ckpt")
    )
    os.makedirs(src)
    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(30)
        .localCheckpoint()
    )
    s1 = base.filter("vec_id % 3 = 0")
    fresh2 = base.filter("vec_id % 3 = 1").selectExpr(
        "vec_id + 500 AS vec_id", "embedding", "label"
    )
    mir2 = s1.selectExpr("vec_id + 1000 AS vec_id", "embedding", "label")
    s2 = fresh2.unionByName(mir2)
    mir3 = fresh2.selectExpr("vec_id + 2000 AS vec_id", "embedding", "label")
    for i, sh in enumerate((s1, s2, mir3)):
        sh.coalesce(1).write.parquet(f"{src}/f{i + 1}")

    def run_once():
        q = emb_screen_stream(
            spark, f"{src}/*", out, lake, ckpt,
            threshold=0.95, max_files_per_trigger=1,
        )
        q.awaitTermination(180)

    run_once()
    rows = spark.read.parquet(out).collect()
    got = {
        r.vec_id: (r.refused, r.lake_id, r.cos_sim, r.n_lake_hits)
        for r in rows
    }

    # batch twin: fold each shard against the union of its
    # predecessors' SURVIVORS
    want = {}
    seen = None
    for sh in (s1, s2, mir3):
        cur = sh.select("vec_id", "embedding").localCheckpoint()
        if seen is None:
            flags = {}
        else:
            flags = {
                r.vec_id: (r.bench_id, r.cos_sim, r.n_bench_hits)
                for r in embedding_decontaminate(
                    cur, seen, threshold=0.95,
                    bench_id_col="vec_id", bench_vec_col="embedding",
                    exclude_same_id=False,  # the screen's setting
                ).collect()
            }
        survivors = []
        for r in cur.collect():
            if r.vec_id in flags:
                bid, cos, nh = flags[r.vec_id]
                want[r.vec_id] = (True, bid, cos, nh)
            else:
                want[r.vec_id] = (False, None, None, None)
                survivors.append(r.vec_id)
        surv = cur.filter(F.col("vec_id").isin(survivors))
        seen = surv if seen is None else seen.unionByName(surv)
        seen = seen.localCheckpoint()
    assert got == want
    # every planted cross-batch mirror refused; batch-3 mirrors hit
    # batch-2 lake rows (the lake grew)
    mir2_ids = {r.vec_id for r in mir2.collect()}
    mir3_ids = {r.vec_id for r in mir3.collect()}
    assert all(got[v][0] for v in mir2_ids)
    assert all(got[v][0] for v in mir3_ids)
    assert all(got[v][1] == v - 2000 for v in mir3_ids)
    # fresh rows landed
    assert all(not got[r.vec_id][0] for r in fresh2.collect())

    shutil.rmtree(ckpt)
    run_once()
    again = {
        r.vec_id: (r.refused, r.lake_id, r.cos_sim, r.n_lake_hits)
        for r in spark.read.parquet(out).collect()
    }
    assert again == want


def test_emb_screen_stream_refuses_redelivered_ids(spark, tmp_path):
    """r14 ADVICE regression: a record RE-DELIVERED under its original
    vec_id in a later batch is screened against its own lake copy
    (exclude_same_id=False inside the screen) and refused — it must
    NOT land in the lake a second time under a new batch_id."""
    import os

    from scraping_etl_spark.streaming.pipeline import emb_screen_stream

    src, out, lake, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "lake", "ckpt")
    )
    os.makedirs(src)
    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(5)
        .localCheckpoint()
    )
    base.coalesce(1).write.parquet(f"{src}/f1")
    base.coalesce(1).write.parquet(f"{src}/f2")  # verbatim re-delivery

    q = emb_screen_stream(
        spark, f"{src}/*", out, lake, ckpt,
        threshold=0.95, max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    res = spark.read.parquet(out).collect()
    first = {r.vec_id: r for r in res if r.batch_id == 0}
    second = {r.vec_id: r for r in res if r.batch_id == 1}
    assert set(first) == set(second) == {r.vec_id for r in base.collect()}
    assert all(not r.refused for r in first.values())
    # every re-delivered row refused against ITS OWN lake copy
    assert all(
        r.refused and r.lake_id == v and r.cos_sim == 1.0
        for v, r in second.items()
    )
    # and the lake holds each vector exactly once (batch 0 only)
    lake_rows = spark.read.parquet(lake).collect()
    assert sorted(r.vec_id for r in lake_rows) == sorted(first)
    assert all(r.batch_id == 0 for r in lake_rows)


def test_emb_screen_stream_ivf_tier_refuses_exact_dups(spark, tmp_path):
    """The IVF escalation path (ivf_centroids passed — the
    lake-outgrew-the-broadcast-cap deployment shape): exact
    re-deliveries and mirrors are refused even at n_probe=1, because
    an identical vector shares its copy's nearest cell."""
    import os

    from scraping_etl_spark.operators.similarity import (
        INDEX_ITERS,
        kmeans_train_fx,
    )
    from scraping_etl_spark.streaming.pipeline import emb_screen_stream

    src, out, lake, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "lake", "ckpt")
    )
    os.makedirs(src)
    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(12)
        .localCheckpoint()
    )
    cents = kmeans_train_fx(base, n_clusters=4, iters=INDEX_ITERS)
    mirrors = base.selectExpr("vec_id + 1000 AS vec_id", "embedding", "label")
    base.coalesce(1).write.parquet(f"{src}/f1")
    mirrors.coalesce(1).write.parquet(f"{src}/f2")

    q = emb_screen_stream(
        spark, f"{src}/*", out, lake, ckpt,
        threshold=0.95, max_files_per_trigger=1,
        ivf_centroids=cents, ivf_probe=1,
    )
    q.awaitTermination(180)

    res = {r.vec_id: r for r in spark.read.parquet(out).collect()}
    for r in base.collect():
        assert not res[r.vec_id].refused
        m = res[r.vec_id + 1000]
        assert m.refused and m.lake_id == r.vec_id and m.cos_sim == 1.0
    lake_ids = sorted(r.vec_id for r in spark.read.parquet(lake).collect())
    assert lake_ids == sorted(r.vec_id for r in base.collect())


def test_emb_screen_stream_ivf_lake_stores_cells_and_mixed_lake(spark, tmp_path):
    """IVF mode assigns each survivor's inverted-list cell ONCE at land
    time (r15 ADVICE): lake rows must carry ivf_cell equal to the
    nearest-centroid assignment, and a lake whose OLDEST partitions
    landed before IVF mode was enabled (no ivf_cell column) must still
    refuse re-deliveries via the null-cell fallback."""
    import os

    from scraping_etl_spark.operators.similarity import (
        INDEX_ITERS,
        kmeans_train_fx,
        nearest_centroids,
    )
    from scraping_etl_spark.streaming.pipeline import emb_screen_stream

    src, out, lake, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "lake", "ckpt")
    )
    os.makedirs(src)
    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(10)
        .localCheckpoint()
    )
    cents = kmeans_train_fx(base, n_clusters=3, iters=INDEX_ITERS)

    # phase 1: land WITHOUT IVF mode — lake partitions have no ivf_cell
    base.coalesce(1).write.parquet(f"{src}/f1")
    q = emb_screen_stream(
        spark, f"{src}/*", out, lake, ckpt, threshold=0.95,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert "ivf_cell" not in spark.read.parquet(lake).columns

    # phase 2: restart in IVF mode; mirrors must be refused against the
    # cell-less lake (mergeSchema + per-row fallback), and the NEW
    # survivors (none here) / any landed rows carry stored cells
    mirrors = base.selectExpr("vec_id + 1000 AS vec_id", "embedding", "label")
    fresh = base.selectExpr(
        "vec_id + 2000 AS vec_id",
        "transform(embedding, x -> x * -1.0F) AS embedding",
        "label",
    )
    mirrors.unionByName(fresh).coalesce(1).write.parquet(f"{src}/f2")
    q = emb_screen_stream(
        spark, f"{src}/*", out, lake, ckpt, threshold=0.95,
        max_files_per_trigger=1, ivf_centroids=cents, ivf_probe=1,
    )
    q.awaitTermination(180)

    res = {r.vec_id: r for r in spark.read.parquet(out).collect()}
    for r in base.collect():
        m = res[r.vec_id + 1000]
        assert m.refused and m.lake_id == r.vec_id and m.cos_sim == 1.0

    lake_df = spark.read.option("mergeSchema", "true").parquet(lake)
    assert "ivf_cell" in lake_df.columns
    newly = lake_df.filter(F.col("vec_id") >= 2000)
    # every IVF-mode survivor stores exactly its nearest-centroid cell
    bad = newly.filter(
        F.col("ivf_cell")
        != F.element_at(nearest_centroids(F.col("embedding"), cents, 1), 1)
    ).count()
    assert newly.count() > 0 and bad == 0
    # pre-IVF partitions read as null cells (the fallback path's input)
    assert lake_df.filter(F.col("vec_id") < 1000)
    assert (
        lake_df.filter(F.col("vec_id") < 1000)
        .filter(F.col("ivf_cell").isNull()).count()
        == base.count()
    )

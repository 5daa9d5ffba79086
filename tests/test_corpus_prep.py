"""Edge-case units for the corpus-prep layer (operators/corpus_prep.py,
operators/interval.py, textstats.vocab_topk) — the cases the DuckDB
hash gates can't distinguish: pattern ordering, threshold floors,
budget boundaries, rate extremes, and plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark import materialize as M
from scraping_etl_spark.operators import corpus_prep as CP
from scraping_etl_spark.operators.interval import interval_join
from scraping_etl_spark.operators.textstats import vocab_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------

def test_pii_card_consumed_before_phone(spark):
    """Ordering contract: a dashed card number contains a 3-3-4 digit
    suffix the phone pattern would bite — the card pattern must run
    first, so the scrubbed text contains <CARD> and no <PHONE>."""
    df = _docs(spark, [(1, "pay 4111-1111-1111-1111 today")])
    row = CP.scrub_pii(df).collect()[0]
    assert row.text_scrubbed == "pay <CARD> today"
    assert "<PHONE>" not in row.text_scrubbed
    assert row.n_card == 1


def test_pii_counts_against_original_text(spark):
    """Counts are per-category against the ORIGINAL text, independent
    of replacement order: one of each category in one doc."""
    df = _docs(spark, [(1, "a@b.io 111-22-3333 4111 1111 1111 1111 "
                           "555-867-5309 10.0.0.1 end")])
    row = CP.scrub_pii(df).collect()[0]
    assert (row.n_email, row.n_ssn, row.n_card, row.n_phone, row.n_ipv4) == (
        1, 1, 1, 1, 1
    )
    assert row.text_scrubbed == "<EMAIL> <SSN> <CARD> <PHONE> <IP> end"


def test_pii_clean_text_untouched(spark):
    df = _docs(spark, [(1, "no pii here at all")])
    row = CP.scrub_pii(df).collect()[0]
    assert row.text_scrubbed == "no pii here at all"
    assert row.n_email == row.n_ssn == row.n_card == row.n_phone == row.n_ipv4 == 0


# ---------------------------------------------------------------------------
# Repetition stats
# ---------------------------------------------------------------------------

def test_repetition_short_unique_doc_not_flagged(spark):
    """ADVICE r4 repro: with n bigrams the modal fraction is ≥ 1/n, so
    a ≤6-token all-unique doc trips the 0.18 top-bigram threshold
    unless the clause is floored on a minimum gram count."""
    df = _docs(spark, [(1, "unique words only here today friends")])
    row = CP.with_repetition_stats(df).collect()[0]
    assert row.dup_token_frac == 0.0
    assert row.n_bigrams == 5
    assert row.repeated_flag is False


def test_repetition_long_repeated_doc_flagged(spark):
    # 30 bigrams (>= min_grams), all the same -> top_bigram_frac = 1.0
    df = _docs(spark, [(1, " ".join(["spam"] * 31))])
    row = CP.with_repetition_stats(df).collect()[0]
    assert row.top_bigram_frac == 1.0
    assert row.dup_trigram_frac > 0.30
    assert row.repeated_flag is True


def test_repetition_long_unique_doc_not_flagged(spark):
    # 40 distinct tokens: plenty of bigrams, no repeats anywhere
    df = _docs(spark, [(1, " ".join(f"w{i}" for i in range(40)))])
    row = CP.with_repetition_stats(df).collect()[0]
    assert row.dup_token_frac == 0.0
    assert row.dup_trigram_frac == 0.0
    assert row.repeated_flag is False


def test_repetition_empty_doc(spark):
    df = _docs(spark, [(1, "")])
    row = CP.with_repetition_stats(df).collect()[0]
    assert (row.dup_token_frac, row.dup_trigram_frac, row.top_bigram_frac) == (
        0.0, 0.0, 0.0
    )
    assert row.n_bigrams == 0 and row.repeated_flag is False


# ---------------------------------------------------------------------------
# Chunk dedup
# ---------------------------------------------------------------------------

def test_chunk_dedup_single_chunk_docs(spark):
    """Docs shorter than chunk_len have exactly one chunk; sharing is
    whole-text equality for them."""
    df = _docs(spark, [(1, "tiny doc"), (2, "tiny doc"), (3, "другой text")])
    got = {r.doc_id: r for r in CP.chunk_dedup_stats(df).collect()}
    assert got[1].n_chunks == 1 and got[1].n_shared == 1
    assert got[1].shared_frac == 1.0
    assert got[3].n_shared == 0 and got[3].shared_frac == 0.0


def test_chunk_dedup_partial_overlap(spark):
    """Two docs sharing their first 10-token chunk but not the rest."""
    head = " ".join(f"t{i}" for i in range(10))
    df = _docs(spark, [(1, head + " alpha beta"), (2, head + " gamma delta")])
    got = {r.doc_id: r for r in CP.chunk_dedup_stats(df).collect()}
    assert got[1].n_chunks == 2 and got[1].n_shared == 1
    assert got[1].shared_frac == 0.5


def test_cdc_chunks_boundaries_are_content_defined(spark):
    """The same text yields the same chunks wherever it appears, and
    chunk concatenation reconstructs the token stream (a partition,
    not a sample)."""
    text = " ".join(f"w{i * 7 % 23}" for i in range(60))
    df = _docs(spark, [(1, text), (2, text)])
    rows = df.select(
        "doc_id", CP.cdc_chunks("text").alias("c")
    ).collect()
    by_id = {r.doc_id: r.c for r in rows}
    assert by_id[1] == by_id[2]
    assert " ".join(by_id[1]).split() == text.split()
    assert len(by_id[1]) > 1  # the divisor actually cuts this text


def test_cdc_chunks_survive_a_prefix_edit_where_fixed_stride_does_not(spark):
    """THE CDC property: prepend one boilerplate token and the chunk
    boundaries re-synchronize within one window — most chunks are
    shared with the original. Fixed-stride chunking shifts every
    window and shares nothing."""
    text = " ".join(f"w{i}" for i in range(120))  # position-unique tokens
    df = _docs(spark, [(1, text), (2, "inserted " + text)])
    cdc = {
        r.doc_id: r
        for r in CP.chunk_dedup_stats(
            df, chunks=CP.cdc_chunks("text")
        ).collect()
    }
    fixed = {r.doc_id: r for r in CP.chunk_dedup_stats(df).collect()}
    assert cdc[1].shared_frac >= 0.5, cdc[1]
    assert fixed[1].n_shared == 0, fixed[1]


def test_cdc_chunks_edge_inputs(spark):
    """Empty text -> no chunks; text shorter than the hash window ->
    one whole-document chunk."""
    df = _docs(spark, [(1, ""), (2, "a b"), (3, "   ")])
    got = {r.doc_id: r.c for r in df.select(
        "doc_id", CP.cdc_chunks("text").alias("c")
    ).collect()}
    assert got[1] == [] and got[3] == []
    assert got[2] == ["a b"]


def test_cdc_seen_fraction_catches_shifted_lake_copy(spark):
    """An incoming doc that is lake content behind a boilerplate
    prefix still reads as mostly-seen (the content-defined property);
    a novel doc reads 0; an empty doc is chunkless with frac 0."""
    lake_text = " ".join(f"w{i}" for i in range(120))
    lake = _docs(spark, [(1, lake_text)])
    ref = CP.prepare_cdc_ref(lake)
    incoming = _docs(spark, [
        (10, "mirror prefix " + lake_text),
        (11, " ".join(f"novel{i}" for i in range(60))),
        (12, ""),
    ])
    got = {r.doc_id: r for r in CP.cdc_seen_fraction(incoming, ref).collect()}
    assert got[10].seen_frac >= 0.5, got[10]
    assert got[11].n_seen == 0 and got[11].seen_frac == 0.0
    assert got[12].n_chunks == 0 and got[12].seen_frac == 0.0


def test_cdc_seen_fraction_shuffle_join_equals_broadcast(spark, monkeypatch):
    """Forcing the over-cap shuffle path (BROADCAST_ROWS = 0)
    must not change a single row — the guard is a strategy choice,
    never a semantics choice."""
    lake = _docs(spark, [(1, " ".join(f"w{i}" for i in range(80)))])
    ref = CP.prepare_cdc_ref(lake)
    inc = _docs(spark, [(10, " ".join(f"w{i}" for i in range(40))),
                        (11, "unrelated words only here")])
    a = {tuple(r) for r in CP.cdc_seen_fraction(inc, ref).collect()}
    monkeypatch.setattr(M, "BROADCAST_ROWS", 0)
    b = {tuple(r) for r in CP.cdc_seen_fraction(inc, ref).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------

def test_decontaminate_flags_only_gram_sharers(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps over lazy dogs")])
    train = _docs(spark, [
        (1, "prefix the quick brown fox jumps suffix"),  # shares a 5-gram
        (2, "completely different words in this doc here"),
        (3, "quick brown fox jumps over"),               # exactly one 5-gram
    ])
    got = {r.doc_id: r for r in CP.decontaminate(train, bench, k=5).collect()}
    assert got[1].contaminated is True and got[1].n_hits >= 1
    assert got[2].contaminated is False and got[2].n_hits == 0
    assert got[3].contaminated is True and got[3].n_hits == 1


def test_decontaminate_size_guard_falls_back_to_shuffle_join(
    spark, monkeypatch
):
    """The broadcast hint is conditional on measured bench-gram
    cardinality: with BROADCAST_ROWS = 0 (bench 'outgrows' any
    broadcast) the gram join must plan as a shuffle join — no
    BroadcastExchange anywhere once auto-broadcast is disabled — and
    the flags must match the broadcast path exactly."""
    bench = _docs(spark, [(100, "the quick brown fox jumps over lazy dogs")])
    train = _docs(spark, [
        (1, "prefix the quick brown fox jumps suffix"),
        (2, "completely different words in this doc here"),
    ])
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with monkeypatch.context() as m:
            m.setattr(M, "BROADCAST_ROWS", 0)
            out = CP.decontaminate(train, bench, k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        got = {r.doc_id: (r.n_hits, r.contaminated) for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    ref = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in CP.decontaminate(train, bench, k=5).collect()
    }
    assert got == ref == {1: (1, True), 2: (0, False)}


def test_decontaminate_probe_keeps_broadcast_below_threshold(
    spark, monkeypatch
):
    """A bench whose gram set fits under the threshold keeps the
    broadcast hint (the probe measures, it doesn't pessimize)."""
    bench = _docs(spark, [(100, "the quick brown fox jumps over lazy dogs")])
    train = _docs(spark, [(1, "prefix the quick brown fox jumps suffix")])
    monkeypatch.setattr(M, "BROADCAST_ROWS", 1000)
    out = CP.decontaminate(train, bench, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Domain-mix sampling
# ---------------------------------------------------------------------------

def test_domain_mix_rate_extremes(spark):
    rows = [(i, f"doc {i}", "en" if i % 2 else "fr") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = CP.domain_mix_sample(df, {"en": 1.0, "fr": 0.0}).collect()
    assert {r.lang for r in kept} == {"en"}
    assert len(kept) == 100  # rate 1.0 keeps every row of the stratum

    # default_rate applies to strata absent from the mapping
    none_kept = CP.domain_mix_sample(df, {}, default_rate=0.0).count()
    all_kept = CP.domain_mix_sample(df, {}, default_rate=1.0).count()
    assert (none_kept, all_kept) == (0, 200)


def test_domain_mix_deterministic_and_proportional(spark):
    rows = [(i, f"doc {i}", "en") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a = sorted(r.doc_id for r in CP.domain_mix_sample(df, {"en": 0.25}).collect())
    b = sorted(r.doc_id for r in CP.domain_mix_sample(df, {"en": 0.25}).collect())
    assert a == b  # rerun-stable, no RNG state
    assert 0.20 < len(a) / 2000 < 0.30  # md5 buckets ~uniform


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

def test_pack_sequences_doc_exceeding_budget(spark):
    """A doc longer than the budget: it lands in the sequence its FIRST
    token falls in (the documented placement rule), and the running sum
    pushes later docs past the oversized one."""
    rows = [
        (1, " ".join(["a"] * 5), "en"),    # tokens 0-4   -> seq 0
        (2, " ".join(["b"] * 25), "en"),   # starts at 5  -> seq 0 (oversized)
        (3, " ".join(["c"] * 5), "en"),    # starts at 30 -> seq 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.seq_id: r
        for r in CP.pack_sequences(df, budget=10, n_shards=1).collect()
    }
    assert got[0].n_docs == 2 and got[0].seq_tokens == 30
    assert got[0].first_doc == 1 and got[0].last_doc == 2
    assert got[3].n_docs == 1 and got[3].first_doc == 3


def test_pack_sequences_exact_boundary(spark):
    """A doc whose predecessor sums to exactly the budget starts the
    next sequence (floor(budget/budget) = 1)."""
    rows = [(1, " ".join(["a"] * 10), "en"), (2, "b b", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    placed = {
        r.seq_id: r
        for r in CP.pack_sequences(df, budget=10, n_shards=1).collect()
    }
    assert placed[0].n_docs == 1 and placed[0].first_doc == 1
    assert placed[1].n_docs == 1 and placed[1].first_doc == 2


def test_place_sequences_len_col_and_passthrough(spark):
    """place_sequences on a precomputed length column: keeps the input
    columns (the export joins per-doc payloads to placements), emits
    n_len from len_col, and assigns the same seq ids the text path
    would for equivalent lengths."""
    rows = [(1, "x", 5, "en"), (2, "y", 25, "en"), (3, "z", 5, "en")]
    df = spark.createDataFrame(
        rows, "doc_id long, payload string, n_ids long, lang string"
    )
    placed = {
        r.doc_id: r
        for r in CP.place_sequences(
            df, budget=10, len_col="n_ids", n_shards=1
        ).collect()
    }
    assert set(placed[1].asDict()) == {
        "doc_id", "payload", "n_ids", "lang", "shard", "n_len", "seq_id"
    }
    assert placed[1].payload == "x" and placed[1].n_len == 5
    assert (placed[1].seq_id, placed[2].seq_id, placed[3].seq_id) == (0, 0, 3)


def test_pack_sequences_is_the_placement_rollup(spark):
    """pack_sequences == groupBy over place_sequences: same seq ids,
    doc counts and token sums under sharding (the refactor contract)."""
    rows = [
        (i, " ".join(["w"] * (3 + i % 7)), "en" if i % 2 else "fr")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from pyspark.sql import functions as F

    packed = {
        (r.lang, r.shard, r.seq_id): (r.n_docs, r.seq_tokens)
        for r in CP.pack_sequences(df, budget=16, n_shards=4).collect()
    }
    placed = CP.place_sequences(df, budget=16, n_shards=4)
    rolled = {
        (r.lang, r.shard, r.seq_id): (r.n_docs, r.seq_tokens)
        for r in placed.groupBy("lang", "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_len").alias("seq_tokens"),
        )
        .collect()
    }
    assert packed == rolled and packed


def test_pack_sequences_strata_independent(spark):
    """Each stratum packs from zero — no cross-stratum running sum."""
    rows = [(1, "a a a", "en"), (2, "b b b", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.lang, r.seq_id)
        for r in CP.pack_sequences(df, budget=10, n_shards=1).collect()
    }
    assert got == {("en", 0), ("fr", 0)}


def test_pack_sequences_sharded_window_bounds_partitions(spark):
    """With n_shards > 1 the window key is (stratum, md5-shard): docs
    spread across shards (no partition holds the whole stratum), every
    shard packs from seq 0 independently, and totals are conserved.
    Shard assignment must equal the oracle-portable md5-bucket rule."""
    n_shards = 4
    rows = [(i, " ".join(["w"] * 6), "en") for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = CP.pack_sequences(df, budget=10, n_shards=n_shards).collect()

    shards = {r.shard for r in out}
    assert shards == set(range(n_shards))  # 64 ids cover all 4 buckets
    assert sum(r.n_docs for r in out) == 64
    assert sum(r.seq_tokens for r in out) == 64 * 6
    for s in shards:
        assert min(r.seq_id for r in out if r.shard == s) == 0

    # shard term matches md5_bucket (the DuckDB-oracle arithmetic)
    import hashlib
    for r in out:
        for doc in (r.first_doc, r.last_doc):
            want = int(hashlib.md5(str(doc).encode()).hexdigest()[:15], 16) % n_shards
            assert want == r.shard


def test_pack_sequences_rejects_bad_shards(spark):
    df = spark.createDataFrame([(1, "a", "en")], "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="n_shards"):
        CP.pack_sequences(df, budget=10, n_shards=0)


# ---------------------------------------------------------------------------
# Interval join
# ---------------------------------------------------------------------------

def _iv_frames(spark):
    pts = spark.createDataFrame(
        [(1, "u", 0), (2, "u", 3_600_000_000), (3, "u", 7_199_999_999),
         (4, "u", 7_200_000_000), (5, "v", 100)],
        "event_id long, user_id string, ts_us long",
    )
    iv = spark.createDataFrame(
        [("u", "w1", 0, 7_199_999_999)],
        "user_id string, name string, start_us long, end_us long",
    )
    return pts, iv


def test_interval_join_matches_naive_and_bounds(spark):
    pts, iv = _iv_frames(spark)
    got = {r.event_id for r in interval_join(
        pts, iv, "ts_us", "start_us", "end_us", by="user_id"
    ).collect()}
    # 4 is past end, 5 is the wrong user
    assert got == {1, 2, 3}

    exclusive = {r.event_id for r in interval_join(
        pts, iv, "ts_us", "start_us", "end_us", by="user_id",
        start_inclusive=False, end_inclusive=False,
    ).collect()}
    assert exclusive == {2}  # 1 sits on start, 3 on end


def test_interval_join_multi_bucket_interval_no_dup(spark):
    """An interval spanning many buckets must not duplicate a matching
    point (a point lives in exactly one bucket)."""
    pts = spark.createDataFrame(
        [(1, 5_000_000_000)], "event_id long, ts_us long"
    )
    iv = spark.createDataFrame(
        [("w", 0, 50_000_000_000)], "name string, start_us long, end_us long"
    )
    rows = interval_join(pts, iv, "ts_us", "start_us", "end_us",
                         bucket_width=1_000_000_000).collect()
    assert len(rows) == 1


def test_interval_join_plan_has_no_nested_loop(spark):
    """The module's reason to exist: the plan is a hash/sort-merge
    equi-join on (key, bucket), never BroadcastNestedLoopJoin or
    CartesianProduct."""
    pts, iv = _iv_frames(spark)
    plan = interval_join(
        pts, iv, "ts_us", "start_us", "end_us", by="user_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# vocab_topk
# ---------------------------------------------------------------------------

def test_vocab_topk_rank_and_ties(spark):
    df = _docs(spark, [(1, "b a a C c"), (2, "a b")])
    got = vocab_topk(df, k=2).collect()
    # a: 3 occurrences in 2 docs; b and c tie at 2 -> 'b' wins the tie
    assert [(r.token, r.n_occ, r.n_docs, r.rank) for r in got] == [
        ("a", 3, 2, 1), ("b", 2, 2, 2),
    ]


def test_vocab_topk_plan_uses_take_ordered(spark):
    df = _docs(spark, [(1, "x y z")])
    plan = vocab_topk(df, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# dedup id contract (ADVICE r4: fractional ids)
# ---------------------------------------------------------------------------

def test_dedup_clusters_rejects_fractional_ids(spark):
    from scraping_etl_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1.5, 2.0)], "id_a double, id_b double")
    with pytest.raises(Exception, match="fractional"):
        dedup_clusters(pairs).collect()


def test_dedup_clusters_integral_doubles_ok(spark):
    from scraping_etl_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1.0, 2.0)], "id_a double, id_b double")
    got = {(r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1)}


# ---------------------------------------------------------------------------
# load_table timestamp normalization (NTZ parquet writers)
# ---------------------------------------------------------------------------

def test_load_table_normalizes_ntz_timestamps(spark, tmp_path):
    """DuckDB/pandas write micros parquet as TIMESTAMP_NTZ; load_table
    must hand every declared-timestamp column to queries as plain
    TimestampType so unix_micros/window math works on any writer's
    files (TIMESTAMP(NANOS) files get the long→micros repair, pinned by
    test_load_table.py::test_nanos_events_file_loads_as_micros)."""
    import duckdb
    import pyspark.sql.types as T

    sf = str(tmp_path)
    duckdb.connect().execute(
        f"""COPY (SELECT 1::BIGINT AS event_id,
                        TIMESTAMP '2024-01-01 00:00:01' AS ts,
                        7::BIGINT AS user_id, 'click' AS event_type,
                        1.5 AS value, '{{}}' AS props)
            TO '{sf}/events.parquet' (FORMAT PARQUET)"""
    )
    from scraping_etl_spark.sources.readers import load_table

    df = load_table(spark, sf, "events")
    [f] = [f for f in df.schema.fields if f.name == "ts"]
    assert isinstance(f.dataType, T.TimestampType)
    from pyspark.sql import functions as F

    assert df.select(F.unix_micros("ts")).collect()[0][0] is not None


def test_repetition_stats_zero_shuffle_plan(spark):
    """The operator's scale contract: one projection, NO shuffle — the
    modal-bigram count comes from a per-row sorted-run fold, not an
    explode + groupBy."""
    df = _docs(spark, [(1, "a b c a b"), (2, "x y")])
    plan = CP.with_repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_interval_join_descending_interval_matches_nothing(spark):
    """An inverted interval (end < start) contains no points — it must
    yield zero matches, not an error (F.sequence iterates backwards, so
    the exploded buckets exist but the range residual rejects all)."""
    pts = spark.createDataFrame([(1, 50)], "event_id long, ts_us long")
    iv = spark.createDataFrame([("w", 100, 0)], "name string, start_us long, end_us long")
    assert interval_join(pts, iv, "ts_us", "start_us", "end_us",
                         bucket_width=10).count() == 0


def test_vocab_topk_k_exceeding_vocab(spark):
    df = _docs(spark, [(1, "only three tokens")])
    got = vocab_topk(df, k=100).collect()
    assert [r.token for r in got] == ["only", "three", "tokens"]
    assert [r.rank for r in got] == [1, 2, 3]


def test_chunk_dedup_empty_doc_drops_out(spark):
    """A zero-token doc has no chunks; it is absent from the stats (the
    caller left-joins if it wants a row per doc)."""
    df = _docs(spark, [(1, ""), (2, "real text here")])
    assert {r.doc_id for r in CP.chunk_dedup_stats(df).collect()} == {2}


def test_scrub_pii_custom_columns_and_no_counts(spark):
    df = spark.createDataFrame([(1, "a@b.io")], "id long, body string")
    out = CP.scrub_pii(df, text_col="body", out_col="clean", with_counts=False)
    assert out.columns == ["id", "body", "clean"]
    assert out.collect()[0].clean == "<EMAIL>"


# ---------------------------------------------------------------------------
# split_corpus
# ---------------------------------------------------------------------------

def test_split_corpus_rejects_bad_weight_sums(spark):
    df = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError):
        CP.split_corpus(df, {"train": 0.9, "val": 0.2})  # sums to 1.1
    with pytest.raises(ValueError):
        CP.split_corpus(df, {"train": 0.0})  # sums to 0


def test_split_corpus_boundary_bucket_is_exclusive(spark):
    """The integer-threshold contract: bucket < round(0.8·MIX_BUCKETS)
    is train — a doc whose md5 bucket is EXACTLY the threshold falls
    into the next split. doc_id 7762 hashes to bucket 7999 (train's
    last bucket) and doc_id 1730 to bucket 8000 (val's first); both
    verified against hashlib.md5 in Python."""
    df = _docs(spark, [(7762, "x"), (1730, "y")])
    out = {
        r.doc_id: r.split
        for r in CP.split_corpus(
            df, {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert out == {7762: "train", 1730: "val"}


def test_split_corpus_partitions_every_row_and_is_rerun_stable(spark):
    """Every row gets exactly one split; residual bucket mass (weights
    summing to < 1) lands in the LAST split; a rerun assigns
    identically (no RNG state)."""
    df = _docs(spark, [(i, "t") for i in range(200)])
    w = {"train": 0.5, "val": 0.25}  # 25% residual -> "val"
    a = {r.doc_id: r.split for r in CP.split_corpus(df, w).collect()}
    b = {r.doc_id: r.split for r in CP.split_corpus(df, w).collect()}
    assert a == b
    assert set(a.values()) <= {"train", "val"}
    assert len(a) == 200


def test_split_corpus_zero_shuffle_plan(spark):
    """Scale contract: assignment is a map-side projection — NO
    Exchange anywhere in the executed plan (at 100 TB a split that
    repartitions would be the most expensive no-op in the pipeline)."""
    df = _docs(spark, [(1, "a"), (2, "b")])
    plan = (
        CP.split_corpus(df, {"train": 0.8, "val": 0.2})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# with_oov_ratio
# ---------------------------------------------------------------------------

def _vocab(spark, toks):
    return spark.createDataFrame([(t,) for t in toks], "token string")


def test_oov_ratio_counts_and_ratio(spark):
    """vocab {a,b}; 'a b c d' -> 4 tokens, 2 OOV, ratio 0.5; an
    all-in-vocab doc scores 0; tokens are lowercased before lookup."""
    df = _docs(spark, [(1, "a B c d"), (2, "a b a")])
    out = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_ratio)
        for r in CP.with_oov_ratio(df, _vocab(spark, ["a", "b"])).collect()
    }
    assert out[1] == (4, 2, 0.5)
    assert out[2] == (3, 0, 0.0)


def test_oov_ratio_empty_doc_is_zero_not_null(spark):
    """An empty/whitespace doc still gets a row: n_tokens 0, n_oov 0,
    ratio 0.0 (the greatest(n,1) guard, not NULL/NaN)."""
    df = _docs(spark, [(1, ""), (2, "   ")])
    rows = CP.with_oov_ratio(df, _vocab(spark, ["a"])).collect()
    assert len(rows) == 2
    for r in rows:
        assert (r.n_tokens, r.n_oov, r.oov_ratio) == (0, 0, 0.0)


def test_oov_ratio_vocab_join_broadcasts(spark):
    """Scale contract: the vocab side (10^3..10^5 rows) must broadcast
    — a shuffle join keyed on token would redistribute the whole
    exploded corpus."""
    df = _docs(spark, [(1, "a b c")])
    plan = (
        CP.with_oov_ratio(df, _vocab(spark, ["a", "b"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_rejects_shard_named_columns(spark):
    """The output carries a 'shard' column ('_shard' while building);
    a by/id_col with either name would make the window key ambiguous —
    rejected up front."""
    df = spark.createDataFrame([(1, "a", 0)], "doc_id long, text string, shard long")
    with pytest.raises(ValueError):
        CP.pack_sequences(df, budget=8, by="shard")
    with pytest.raises(ValueError):
        CP.pack_sequences(df, budget=8, id_col="_shard")


# ---------------------------------------------------------------------------
# with_lm_score
# ---------------------------------------------------------------------------

def test_lm_score_hand_computed(spark):
    """Tiny corpus, hand-computed add-one bigram model: unigrams
    a:2 b:2 c:1 d:1 x:1 (V=5); bigrams 'a b':2 'b a':1 'c d':1.
    doc1 = avg(2·ln(3/7), ln(2/7)); doc2 = ln(2/6); doc3 has no
    bigrams -> (0, 0.0)."""
    import math

    df = _docs(spark, [(1, "a B a b"), (2, "c d"), (3, "x")])
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in CP.with_lm_score(df).collect()
    }
    d1 = round((2 * math.log(3 / 7) + math.log(2 / 7)) / 3, 6)
    d2 = round(math.log(2 / 6), 6)
    assert got == {1: (3, d1), 2: (1, d2), 3: (0, 0.0)}


def test_lm_score_hot_path_matches_cold(spark):
    """hot_threshold=1 sends the repeated bigram through the broadcast
    flag join; scores must equal the pure-shuffle default path."""
    df = _docs(spark, [(1, "a b a b a b"), (2, "a b c"), (3, "q r")])
    out = CP.with_lm_score(df, hot_threshold=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {(r.doc_id, r.n_bigrams, r.avg_logp) for r in out.collect()}
    ref = {
        (r.doc_id, r.n_bigrams, r.avg_logp)
        for r in CP.with_lm_score(df).collect()
    }
    assert got == ref


def test_lm_score_rejects_bad_hot_threshold(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        CP.with_lm_score(df, hot_threshold=0)


# ---------------------------------------------------------------------------
# stratified_sample_n
# ---------------------------------------------------------------------------

def _lang_docs(spark, n):
    rows = [(i, f"text {i}", "en" if i % 3 else "fr") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_stratified_sample_tournament_is_exact(spark):
    """Tournament invariant: for any n_salts, the two-stage selection
    equals the single-window bottom-N-by-(md5, id) per stratum."""
    from pyspark.sql.window import Window as W

    df = _lang_docs(spark, 300)
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ref = {
        (r.doc_id, r.sample_rank)
        for r in df.withColumn("sample_rank", F.row_number().over(w))
        .filter("sample_rank <= 15")
        .collect()
    }
    for n_salts in (1, 4, 64):
        got = {
            (r.doc_id, r.sample_rank)
            for r in CP.stratified_sample_n(df, 15, n_salts=n_salts).collect()
        }
        assert got == ref, n_salts


def test_stratified_sample_small_stratum_keeps_all(spark):
    df = _lang_docs(spark, 12)  # fr stratum has 4 rows < n
    got = CP.stratified_sample_n(df, 10).groupBy("lang").count().collect()
    counts = {r.lang: r["count"] for r in got}
    assert counts == {"en": 8, "fr": 4}


def test_stratified_sample_validates_args(spark):
    df = _lang_docs(spark, 3)
    with pytest.raises(ValueError):
        CP.stratified_sample_n(df, 0)
    with pytest.raises(ValueError):
        CP.stratified_sample_n(df, 5, n_salts=0)


# ---------------------------------------------------------------------------
# stratified_quantiles
# ---------------------------------------------------------------------------

def test_stratified_quantiles_hand_computed(spark):
    """percentile_disc semantics: smallest value with cum >= ceil(q·n).
    en = [1,2,3,4]; fr = [1,1,1,9] (duplicates collapse in the
    histogram but weigh the CDF)."""
    rows = [(1, "en", 1), (2, "en", 2), (3, "en", 3), (4, "en", 4),
            (5, "fr", 1), (6, "fr", 1), (7, "fr", 1), (8, "fr", 9)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, v int")
    out = CP.stratified_quantiles(df, "v", (0.25, 0.5, 0.75, 0.95))
    got = {(r.lang, r.quantile): (r.value, r.n_rows) for r in out.collect()}
    assert got[("en", 0.25)] == (1, 4)
    assert got[("en", 0.5)] == (2, 4)
    assert got[("en", 0.75)] == (3, 4)
    assert got[("en", 0.95)] == (4, 4)   # ceil(3.8) = 4
    assert got[("fr", 0.75)] == (1, 4)   # cum(1) = 3 >= ceil(3)
    assert got[("fr", 0.95)] == (9, 4)


def test_stratified_quantiles_validates_range(spark):
    df = spark.createDataFrame([(1, "en", 1)], "doc_id long, lang string, v int")
    with pytest.raises(ValueError):
        CP.stratified_quantiles(df, "v", (0.0,))
    with pytest.raises(ValueError):
        CP.stratified_quantiles(df, "v", (1.5,))


def test_stratified_quantiles_histogram_before_window(spark):
    """Scale contract: the window walks the distinct-value histogram,
    not the raw rows — the plan aggregates on (stratum, value) BELOW
    the window sort."""
    df = spark.createDataFrame(
        [(i, "en", i % 5) for i in range(100)], "doc_id long, lang string, v int"
    )
    out = CP.stratified_quantiles(df, "v", (0.5,))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "HashAggregate" in plan
    assert out.count() == 1


def test_lm_score_against_reference_corpus(spark):
    """Reference-LM mode: counts train on `lm`, scored docs may carry
    unseen grams — smoothing floors apply. lm corpus: 'a b a b' →
    uni a:2 b:2 (V=2), bigrams 'a b':2 'b a':1. Scored doc 'a b c':
    'a b' seen → ln(3/4); 'b c' unseen, w1=b seen → ln(1/4).
    Doc 'x y': both words unseen → ln(1/2) (1/(0+V))."""
    import math

    lm = _docs(spark, [(100, "a b a b")])
    docs = _docs(spark, [(1, "a b c"), (2, "x y")])
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in CP.with_lm_score(docs, lm=lm).collect()
    }
    d1 = round((math.log(3 / 4) + math.log(1 / 4)) / 2, 6)
    d2 = round(math.log(1 / 2), 6)
    assert got == {1: (2, d1), 2: (1, d2)}


def test_lm_score_self_equals_lm_of_itself(spark):
    """Passing the corpus as its own reference LM must reproduce the
    self-scoring path exactly (the left joins all hit)."""
    docs = _docs(spark, [(1, "a b a b c"), (2, "c a b d"), (3, "q")])
    a = {(r.doc_id, r.n_bigrams, r.avg_logp)
         for r in CP.with_lm_score(docs).collect()}
    b = {(r.doc_id, r.n_bigrams, r.avg_logp)
         for r in CP.with_lm_score(docs, lm=docs).collect()}
    assert a == b


def test_lm_score_hot_cap_spills_overflow_to_cold(spark, monkeypatch):
    """Broadcast-hot guard: with hot_threshold=1 several grams qualify
    as hot, but a hot cap of 1 keeps only the hottest on the
    broadcast path — scores must be identical to the uncapped run
    (which side a gram scores on is a plan choice, not semantics)."""
    docs = _docs(
        spark, [(1, "a b a b a b c d c d"), (2, "a b c d e f"), (3, "q r")]
    )
    ref = {(r.doc_id, r.n_bigrams, r.avg_logp)
           for r in CP.with_lm_score(docs, hot_threshold=1).collect()}
    monkeypatch.setattr(CP, "MAX_BROADCAST_HOT_GRAMS", 1)
    capped = {(r.doc_id, r.n_bigrams, r.avg_logp)
              for r in CP.with_lm_score(docs, hot_threshold=1).collect()}
    assert capped == ref


def test_lm_score_zero_cap_forces_all_cold(spark, monkeypatch):
    """A hot cap of 0 empties the hot side through the ordinary cap
    path (every hot gram is overflow): all grams score on the cold
    shuffle join, with the same scores."""
    docs = _docs(spark, [(1, "a b a b a b"), (2, "a b c")])
    ref = {(r.doc_id, r.n_bigrams, r.avg_logp)
           for r in CP.with_lm_score(docs, hot_threshold=1).collect()}
    monkeypatch.setattr(CP, "MAX_BROADCAST_HOT_GRAMS", 0)
    cold = {(r.doc_id, r.n_bigrams, r.avg_logp)
            for r in CP.with_lm_score(docs, hot_threshold=1).collect()}
    assert cold == ref


def test_lm_score_prepared_model_matches_inline_lm(spark):
    """prepare_lm + lm_prepared= must score identically to lm= (the
    streaming gate's train-once path is pure reuse, not new math)."""
    lm = _docs(spark, [(100, "a b a b c d")])
    docs = _docs(spark, [(1, "a b c x"), (2, "q r")])
    inline = {(r.doc_id, r.n_bigrams, r.avg_logp)
              for r in CP.with_lm_score(docs, lm=lm).collect()}
    prepared = CP.prepare_lm(lm)
    reused = {(r.doc_id, r.n_bigrams, r.avg_logp)
              for r in CP.with_lm_score(docs, lm_prepared=prepared).collect()}
    assert reused == inline
    with pytest.raises(ValueError, match="at most one"):
        CP.with_lm_score(docs, lm=lm, lm_prepared=prepared)


def test_decontaminate_prepared_grams_match_inline_bench(spark):
    """prepare_bench_grams + bench_prepared= must flag identically to
    bench=; passing both (or neither) raises."""
    bench = _docs(spark, [(100, "one two three four five six")])
    docs = _docs(spark, [(1, "zero one two three four five end"), (2, "a b c d e f")])
    inline = {(r.doc_id, r.n_hits, r.contaminated)
              for r in CP.decontaminate(docs, bench).collect()}
    prepared = CP.prepare_bench_grams(bench)
    reused = {(r.doc_id, r.n_hits, r.contaminated)
              for r in CP.decontaminate(docs, bench_prepared=prepared).collect()}
    assert reused == inline and any(c for _, _, c in inline)
    with pytest.raises(ValueError, match="exactly one"):
        CP.decontaminate(docs, bench, bench_prepared=prepared)
    with pytest.raises(ValueError, match="exactly one"):
        CP.decontaminate(docs)


def test_lm_score_raises_on_empty_reference_lm(spark):
    """A degenerate reference LM (no tokens → V=0) must fail loudly:
    smoothing against V=0 would send every logp to +inf and trivially
    pass any fluency gate."""
    docs = _docs(spark, [(1, "a b c")])
    empty_lm = _docs(spark, [(100, "   ")])
    with pytest.raises(ValueError, match="empty unigram table"):
        CP.with_lm_score(docs, lm=empty_lm)


def test_chunk_dedup_pairs_materialized_once(spark):
    """The pairs relation feeds three consumers (docs-per-chunk agg,
    hot join, cold anti join) — it must be checkpointed so the
    explode+distinct runs once: the executed plan scans the
    materialized RDD instead of re-deriving from the parquet scan."""
    docs = _docs(spark, [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")])
    out = CP.chunk_dedup_stats(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    got = {(r.doc_id, r.n_shared) for r in out.collect()}
    assert got == {(1, 1), (2, 1)}


def test_stratified_quantiles_single_pass_no_union(spark):
    """Plan contract for the conditional-agg rewrite: all quantiles
    come out of ONE aggregation over the CDF — no per-quantile Union
    branches, and only the two CDF window specs."""
    df = spark.createDataFrame(
        [(i, "en", i % 7) for i in range(50)], "doc_id long, lang string, v int"
    )
    out = CP.stratified_quantiles(df, "v", (0.25, 0.5, 0.75, 0.95))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert plan.count("Window") <= 2
    assert out.count() == 4


# ---------------------------------------------------------------------------
# Temperature-scaled mix
# ---------------------------------------------------------------------------

def _src_docs(spark, counts):
    """counts: {source: n} -> documents with sequential global ids."""
    rows, i = [], 0
    for s in sorted(counts):
        for _ in range(counts[s]):
            rows.append((i, s))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_temperature_alpha1_keeps_natural_mix(spark):
    """alpha = 1: every stratum gets the same rate (= budget)."""
    df = _src_docs(spark, {"a": 400, "b": 100})
    rates = {r.source: r.rate for r in
             CP.temperature_mix_rates(df, alpha=1.0, budget=0.5).collect()}
    assert rates["a"] == pytest.approx(0.5)
    assert rates["b"] == pytest.approx(0.5)


def test_temperature_alpha_half_upweights_rare(spark):
    """alpha < 1 shifts mass toward rare strata: the rare stratum's
    rate exceeds the common one's, and expected volume == budget."""
    df = _src_docs(spark, {"a": 400, "b": 100})
    out = CP.temperature_mix_rates(df, alpha=0.5, budget=0.5).collect()
    rates = {r.source: r.rate for r in out}
    assert rates["b"] > rates["a"]
    # sqrt weights: shares 2/3 vs 1/3 -> rates (250*2/3)/400, (250/3)/100
    assert rates["a"] == pytest.approx(250 * (2 / 3) / 400)
    assert rates["b"] == pytest.approx(250 * (1 / 3) / 100)
    # expected kept volume = budget * N
    assert sum(rates[r.source] * r.n_docs for r in out) == pytest.approx(250)


def test_temperature_rate_caps_at_one(spark):
    """A tiny stratum whose alpha-share exceeds its size caps at rate 1
    (never oversamples); the cap costs volume, not correctness."""
    df = _src_docs(spark, {"big": 1000, "tiny": 4})
    rates = {r.source: r.rate for r in
             CP.temperature_mix_rates(df, alpha=0.1, budget=0.9).collect()}
    assert rates["tiny"] == 1.0
    assert 0 < rates["big"] < 1


def test_temperature_sample_is_subset_and_deterministic(spark):
    df = _src_docs(spark, {"a": 300, "b": 60})
    kept1 = sorted(r.doc_id for r in CP.temperature_mix_sample(df).collect())
    kept2 = sorted(r.doc_id for r in CP.temperature_mix_sample(df).collect())
    assert kept1 == kept2
    assert 0 < len(kept1) < 360


# ---------------------------------------------------------------------------
# Token-distribution divergence
# ---------------------------------------------------------------------------

def _div_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_divergence_identical_corpora_is_zero(spark):
    a = _div_docs(spark, [(1, "en", "x y z"), (2, "en", "x x y")])
    out = CP.token_divergence(a, a).collect()
    assert len(out) == 1
    assert out[0].js_div == 0.0
    assert out[0].v == 3 and out[0].n_a == 6 and out[0].n_b == 6


def test_divergence_is_symmetric(spark):
    a = _div_docs(spark, [(1, "en", "x y z z")])
    b = _div_docs(spark, [(2, "en", "x q q r")])
    ab = CP.token_divergence(a, b).collect()[0].js_div
    ba = CP.token_divergence(b, a).collect()[0].js_div
    assert ab == ba > 0


def test_divergence_bounded_by_ln2(spark):
    """Disjoint vocabularies approach (never exceed) ln 2 once counts
    dominate the add-one smoothing mass."""
    import math
    a = _div_docs(spark, [(1, "en", " ".join(f"a{i}" for i in range(50)) * 100)])
    b = _div_docs(spark, [(2, "en", " ".join(f"b{i}" for i in range(50)) * 100)])
    d = CP.token_divergence(a, b).collect()[0].js_div
    assert 0.5 < d < math.log(2.0)


def test_divergence_smoothing_shrinks_small_counts(spark):
    """Add-one smoothing pulls tiny corpora toward uniform: the same
    disjoint-vocab pair measures FAR lower divergence at count 1 than
    at count 100 — the Laplace-prior contract, asserted explicitly."""
    small_a = _div_docs(spark, [(1, "en", " ".join(f"a{i}" for i in range(50)))])
    small_b = _div_docs(spark, [(2, "en", " ".join(f"b{i}" for i in range(50)))])
    big_a = _div_docs(spark, [(1, "en", " ".join(f"a{i}" for i in range(50)) * 100)])
    big_b = _div_docs(spark, [(2, "en", " ".join(f"b{i}" for i in range(50)) * 100)])
    d_small = CP.token_divergence(small_a, small_b).collect()[0].js_div
    d_big = CP.token_divergence(big_a, big_b).collect()[0].js_div
    assert d_small < 0.1 < 0.5 < d_big


def test_divergence_strata_are_independent(spark):
    """A divergent 'de' stratum must not leak into the identical 'en'
    stratum."""
    a = _div_docs(spark, [(1, "en", "x y"), (2, "de", "p p q " * 100)])
    b = _div_docs(spark, [(3, "en", "x y"), (4, "de", "r r s " * 100)])
    out = {r.lang: r.js_div for r in CP.token_divergence(a, b).collect()}
    assert out["en"] == 0.0
    assert out["de"] > 0.3


# ---------------------------------------------------------------------------
# KLL sketch quantile tier
# ---------------------------------------------------------------------------

def test_sketch_quantiles_within_rank_bound_on_skewed_data(spark):
    """Adversarial shape (99% of mass on one value + a long tail,
    spread over many partitions so sketch merge order varies): every
    estimate's exact rank must sit within the documented bound."""
    rows = [(i, "s", 7) for i in range(990)] + [
        (1000 + i, "s", 100 + i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, lang string, v long").repartition(16)
    est = {(r.lang, r.quantile): r.value
           for r in CP.stratified_quantiles_sketch(df, "v").collect()}
    vals = sorted([7] * 990 + [100 + i for i in range(10)])
    n = len(vals)
    for (lang, q), v in est.items():
        le = sum(1 for x in vals if x <= v) / n
        lt = sum(1 for x in vals if x < v) / n
        assert le >= q - 0.05 and lt <= q + 0.05, (q, v, le, lt)


def test_sketch_quantiles_rejects_bad_quantile(spark):
    df = spark.createDataFrame([(1, "s", 1)], "id long, lang string, v long")
    with pytest.raises(ValueError, match="quantiles"):
        CP.stratified_quantiles_sketch(df, "v", quantiles=(0.0,))


def test_sketch_quantiles_schema_matches_exact_tier(spark):
    df = spark.createDataFrame(
        [(i, "s", i) for i in range(100)], "id long, lang string, v long"
    )
    exact = CP.stratified_quantiles(df, "v")
    sk = CP.stratified_quantiles_sketch(df, "v")
    assert exact.columns == sk.columns


# ---------------------------------------------------------------------------
# ccnet_buckets (CCNet perplexity thirds)
# ---------------------------------------------------------------------------

def _ccnet_corpus(spark, n=30):
    """Per-language corpora with three visible fluency grades: fluent
    docs repeat the language's common bigram, middling docs mix, and
    junk docs are unique-token noise (lowest LM score)."""
    rows = []
    did = 0
    for lang in ("aa", "bb"):
        for i in range(n):
            if i % 3 == 0:
                text = f"the{lang} cat{lang} " * 6
            elif i % 3 == 1:
                text = f"the{lang} cat{lang} odd{lang}{i} " * 3
            else:
                text = " ".join(f"junk{lang}{i}w{j}" for j in range(12))
            rows.append((did, text.strip(), lang))
            did += 1
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ccnet_buckets_are_thirds_per_language(spark):
    out = CP.ccnet_buckets(_ccnet_corpus(spark)).collect()
    from collections import Counter
    c = Counter((r.lang, r.bucket) for r in out)
    for lang in ("aa", "bb"):
        sizes = sorted(c[(lang, b)] for b in ("head", "middle", "tail"))
        assert sum(sizes) == 30
        # exact thirds (ties in the synthetic corpus fall inside a
        # grade, never across the cutoff)
        assert sizes == [10, 10, 10], (lang, sizes)


def test_ccnet_buckets_order_junk_in_tail(spark):
    out = CP.ccnet_buckets(_ccnet_corpus(spark)).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault((r.lang, r.bucket), []).append(r.avg_logp)
    for lang in ("aa", "bb"):
        assert min(by_bucket[(lang, "head")]) >= max(by_bucket[(lang, "middle")])
        assert min(by_bucket[(lang, "middle")]) >= max(by_bucket[(lang, "tail")])


def test_ccnet_buckets_deterministic_across_partitionings(spark):
    d = _ccnet_corpus(spark)
    a = {r.doc_id: r.bucket for r in CP.ccnet_buckets(d).collect()}
    b = {
        r.doc_id: r.bucket
        for r in CP.ccnet_buckets(d.repartition(13)).collect()
    }
    assert a == b


def test_ccnet_buckets_reference_lm_mode(spark):
    """Reference-LM mode (the real CCNet deployment): scoring against
    a prepared curated LM keeps the same bucket contract."""
    d = _ccnet_corpus(spark)
    lm = d.filter("doc_id % 2 = 0")
    out = CP.ccnet_buckets(d, lm=lm).collect()
    assert len(out) == 60
    assert {r.bucket for r in out} == {"head", "middle", "tail"}


# ---------------------------------------------------------------------------
# Kneser-Ney score
# ---------------------------------------------------------------------------

def test_kn_score_matches_hand_model(spark):
    """Two docs, tiny vocab: verify against a by-hand interpolated-KN
    computation (D = 0.75)."""
    import math

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id LONG, text STRING"
    )
    out = {r.doc_id: r for r in CP.with_kn_score(df).collect()}
    # bigrams: doc1: (a b) x2, (b a) x1 ; doc2: (a c) x1
    # bc: ab=2, ba=1, ac=1 ; ctx: a: cw1=3, nf=2 ; b: cw1=1, nf=1
    # cont: b: np=1 ; a: np=1 ; c: np=1 ; T=3
    def p(cbi, nf, np_, cw1):
        return (max(cbi - 0.75, 0.0) + 0.75 * nf * np_ / 3.0) / cw1

    lp_ab = math.log(p(2, 2, 1, 3))
    lp_ba = math.log(p(1, 1, 1, 1))
    lp_ac = math.log(p(1, 2, 1, 3))
    assert out[1].n_bigrams == 3
    assert out[1].avg_logp_kn == round((2 * lp_ab + lp_ba) / 3, 6)
    assert out[2].n_bigrams == 1
    assert out[2].avg_logp_kn == round(lp_ac, 6)


def test_kn_score_short_docs_zero(spark):
    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "a b")], "doc_id LONG, text STRING"
    )
    out = {r.doc_id: r for r in CP.with_kn_score(df).collect()}
    assert out[1].n_bigrams == 0 and out[1].avg_logp_kn == 0.0
    assert out[2].n_bigrams == 0
    assert out[3].n_bigrams == 1


def test_kn_score_validation(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id LONG, text STRING")
    import pytest as _pt

    with _pt.raises(ValueError):
        CP.with_kn_score(df, hot_threshold=0)


# ---------------------------------------------------------------------------
# unimax_quotas (UniMax waterfilling, Chung et al. 2023)
# ---------------------------------------------------------------------------

def _unimax_loop(caps: dict, budget: float) -> dict:
    """Reference waterfilling: iteratively saturate any stratum whose
    cap fits under the current even split of the remaining budget."""
    quotas = {}
    remaining = dict(caps)
    b = budget
    while remaining:
        t = b / len(remaining)
        sat = {g: c for g, c in remaining.items() if c <= t}
        if not sat:
            for g in remaining:
                quotas[g] = t
            return quotas
        for g, c in sat.items():
            quotas[g] = c
            b -= c
            del remaining[g]
    return quotas  # budget exceeded total supply: everyone capped


def _unimax_df(spark, tokens_per_lang: dict):
    rows = [
        (i, " ".join(["w"] * n), g)
        for i, (g, n) in enumerate(tokens_per_lang.items())
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")


def test_unimax_quotas_matches_loop_waterfilling(spark):
    import pytest as _pt

    from scraping_etl_spark.operators.corpus_prep import unimax_quotas

    sizes = {"aa": 10, "bb": 50, "cc": 100, "dd": 400, "ee": 401}
    for epochs, budget in ((2.0, 700.0), (1.0, 2000.0), (3.0, 50.0)):
        caps = {g: epochs * n for g, n in sizes.items()}
        want = _unimax_loop(caps, budget)
        got = {
            r.lang: r.quota_tokens
            for r in unimax_quotas(
                _unimax_df(spark, sizes), budget, epoch_cap=epochs
            ).collect()
        }
        assert set(got) == set(want)
        for g in want:
            assert got[g] == _pt.approx(want[g], abs=1e-5), (epochs, budget, g)


def test_unimax_quotas_budget_exceeds_supply(spark):
    """Budget above total supply: every stratum capped, leftover
    unspent, epochs_used == the cap."""
    from scraping_etl_spark.operators.corpus_prep import unimax_quotas

    sizes = {"aa": 10, "bb": 20}
    out = {r.lang: r for r in unimax_quotas(
        _unimax_df(spark, sizes), 1000.0, epoch_cap=2.0
    ).collect()}
    for g, n in sizes.items():
        assert out[g].quota_tokens == 2.0 * n
        assert out[g].epochs_used == 2.0


def test_unimax_quotas_validation(spark):
    import pytest as _pt

    from scraping_etl_spark.operators.corpus_prep import unimax_quotas

    df = _unimax_df(spark, {"aa": 3})
    with _pt.raises(ValueError, match="budget_tokens"):
        unimax_quotas(df, 0.0)
    with _pt.raises(ValueError, match="epoch_cap"):
        unimax_quotas(df, 10.0, epoch_cap=-1.0)


def test_unimax_gate_matches_oracle_staged_for_r15(spark):
    """The registered doc_unimax_quotas gate hashes against its DuckDB
    oracle end-to-end, and the planted skew produces BOTH allocation
    outcomes: tail languages saturated at the epoch cap, English on
    the shared waterline below it."""
    import duckdb

    from scraping_etl_spark.plans import corpus_ops as C

    sf = "/root/testdata/sf0.001"
    rows = C.q_doc_unimax_quotas(spark, sf).collect()
    got = {
        r.lang: (r.n_tokens, r.cap_tokens, r.quota_tokens, r.epochs_used)
        for r in rows
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(C.ORACLE_DOC_UNIMAX_QUOTAS).fetchall()
    }
    assert got == want
    assert any(e == C._UMX_EPOCHS for (_, _, _, e) in got.values())
    assert any(e < C._UMX_EPOCHS for (_, _, _, e) in got.values())

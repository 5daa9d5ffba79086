"""BPE tokenizer units (operators/bpe.py): the classic hand-computed
Sennrich corpus, merge-fold semantics, fallback, and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark import materialize as M
from scraping_etl_spark.operators import bpe


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def classic(spark):
    """The textbook BPE training corpus: low×5 lower×2 newest×6
    widest×3 (Sennrich et al. 2016's worked example, no ``</w>``
    marker)."""
    corpus = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    return _docs(spark, [(1, corpus)])


def test_bpe_train_matches_hand_computed_merges(classic):
    """Hand-derived merge sequence: (e,s) 9 > all; then (es,t) 9;
    then the (l,o)/(o,w) 7-tie breaks lexicographically to (l,o);
    then (lo,w) 7; then the 6-tie among (e,w)/(n,e)/(w,est) breaks
    to (e,w)."""
    merges, _ = bpe.bpe_train(classic, n_merges=5)
    assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w")]


def test_bpe_train_is_rerun_deterministic(classic):
    assert bpe.bpe_train(classic, n_merges=5) == bpe.bpe_train(classic, n_merges=5)


def test_bpe_train_stops_below_min_pair_count(spark):
    """Every pair unique → nothing reaches min_pair_count=2 → no
    merges, regardless of the merge budget."""
    merges, _ = bpe.bpe_train(_docs(spark, [(1, "abc def")]), n_merges=10)
    assert merges == []


def test_bpe_train_validates_args(spark):
    d = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        bpe.bpe_train(d, n_merges=-1)
    with pytest.raises(ValueError):
        bpe.bpe_train(d, min_pair_count=0)


def test_segment_unseen_word_with_learned_merges(spark, classic):
    """'lowest' is not in the training corpus, but the learned merges
    segment it to [low, est] — the canonical generalization check."""
    merges, _ = bpe.bpe_train(classic, n_merges=5)
    seg = bpe.word_segment_table(_docs(spark, [(2, "lowest")]), merges)
    row = seg.collect()[0]
    assert row.word == "lowest" and list(row.sym) == ["low", "est"]
    assert row.n_sub == 2


def test_apply_merge_is_left_to_right_single_pass(spark):
    """'a a a a' with merge (a,a) → [aa, aa] (greedy left-to-right);
    'a a a' → [aa, a] — a fresh merge never re-merges with the next
    symbol in the same pass."""
    df = spark.range(1).select(
        bpe.apply_merge(F.array(F.lit("a"), F.lit("a"), F.lit("a"), F.lit("a")), "a", "a", "aa").alias("x4"),
        bpe.apply_merge(F.array(F.lit("a"), F.lit("a"), F.lit("a")), "a", "a", "aa").alias("x3"),
    )
    row = df.collect()[0]
    assert list(row.x4) == ["aa", "aa"]
    assert list(row.x3) == ["aa", "a"]


def test_token_counts_fallback_chars_for_unseen_words(spark, classic):
    """Words outside the segmentation table count their characters
    (the untrained floor); empty docs are (0, 0) not null."""
    merges, _ = bpe.bpe_train(classic, n_merges=5)
    seg = bpe.word_segment_table(classic, merges)
    docs = _docs(spark, [(9, "lowest zzz"), (10, "   ")])
    got = {r.doc_id: (r.n_tokens, r.n_bpe_tokens)
           for r in bpe.bpe_token_counts(docs, seg).collect()}
    # 'lowest' unseen in seg (trained on classic's 4 words) → 6 chars;
    # 'zzz' unseen → 3 chars
    assert got == {9: (2, 9), 10: (0, 0)}


def test_token_counts_uses_broadcast_join_no_shuffle_of_seg(spark, classic):
    """Plan contract: the word→segmentation join is a BroadcastHashJoin
    (the table is vocabulary-scale by construction)."""
    merges, _ = bpe.bpe_train(classic, n_merges=3)
    seg = bpe.word_segment_table(classic, merges)
    out = bpe.bpe_token_counts(classic, seg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_counts_shuffle_fallback_past_broadcast_cap(
    spark, classic, monkeypatch
):
    """The measured probe: a cap smaller than the vocabulary must
    drop the broadcast hint (un-hinted equi-join — no driver-side
    vocabulary materialization), with identical counts."""
    merges, _ = bpe.bpe_train(classic, n_merges=3)
    seg = bpe.word_segment_table(classic, merges).localCheckpoint()
    hinted = bpe.bpe_token_counts(classic, seg)
    monkeypatch.setattr(M, "BROADCAST_ROWS", 2)
    capped = bpe.bpe_token_counts(classic, seg)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert sorted(map(tuple, hinted.collect())) == sorted(
        map(tuple, capped.collect())
    )


def test_word_segment_arrow_identical_to_expression_tier(spark, classic):
    """The Arrow min-rank encoder and the fold-expression chain must
    produce the SAME segmentation table on a trained (self-consistent)
    merge list — including on words the training never saw."""
    merges, _ = bpe.bpe_train(classic, n_merges=8)
    probe = _docs(spark, [(1, "lowest widest newest low slower wows")])
    expr = bpe.word_segment_table(probe, merges)
    arrow = bpe.word_segment_arrow(probe, merges)
    a = {r.word: (list(r.sym), r.n_sub) for r in expr.collect()}
    b = {r.word: (list(r.sym), r.n_sub) for r in arrow.collect()}
    assert a == b and len(a) == 6


def test_word_segment_arrow_inconsistent_table_falls_back(spark):
    """A hand-built table where a multi-char symbol appears BEFORE the
    merge that produces it is not min-rank-safe; the encoder must
    detect that and replay merges sequentially — matching the
    expression tier exactly."""
    merges = [("x", "ab"), ("a", "b")]  # (x,ab) ranked before ab exists
    probe = _docs(spark, [(1, "xab ab xa")])
    expr = bpe.word_segment_table(probe, merges)
    arrow = bpe.word_segment_arrow(probe, merges)
    a = {r.word: list(r.sym) for r in expr.collect()}
    b = {r.word: list(r.sym) for r in arrow.collect()}
    assert a == b
    # sequential semantics: pass 1 no-ops (no 'ab' symbol yet),
    # pass 2 builds it — 'xab' stays [x, ab], never [xab]
    assert a["xab"] == ["x", "ab"]


def test_word_segment_dispatch_and_production_merge_budget(spark):
    """word_segment picks the expression tier at gate budgets and the
    Arrow tier past ARROW_SEGMENT_THRESHOLD; a 1k-merge synthetic
    self-consistent table segments a 1k-word vocabulary in bounded
    time (the plan must not nest 1000 folds)."""
    merges, _ = bpe.bpe_train(
        _docs(spark, [(1, "low low lower")]), n_merges=2
    )
    small = bpe.word_segment(_docs(spark, [(1, "low")]), merges)
    assert "mapInPandas" not in small._jdf.queryExecution().executedPlan().toString()

    # synthetic self-consistent 1k-merge chain: c0c1, c0c1c2, ... over
    # a 32-char alphabet cycle — every left symbol produced earlier
    alpha = [chr(ord("a") + i) for i in range(26)] + list("012345")
    big_merges = []
    acc = alpha[0]
    for i in range(1, 1001):
        nxt = alpha[i % len(alpha)]
        big_merges.append((acc, nxt))
        acc = acc + nxt
    vocab = " ".join(
        "".join(alpha[j % len(alpha)] for j in range(i % 40 + 1))
        for i in range(1000)
    )
    seg = bpe.word_segment(_docs(spark, [(1, vocab)]), big_merges)
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" in plan.lower() or "MapInPandas" in plan
    rows = {r.word: list(r.sym) for r in seg.collect()}
    # the full 32-char prefix word collapses through the merge chain
    w32 = "".join(alpha[j % len(alpha)] for j in range(32))
    assert rows[w32] == [w32]


def test_char_symbols_drops_spark_trailing_empty(spark):
    """Spark's split keeps trailing empties (limit −1); symbols must
    never contain ''."""
    row = spark.range(1).select(
        bpe.char_symbols(F.lit("abc")).alias("s")
    ).collect()[0]
    assert list(row.s) == ["a", "b", "c"]


def test_bpe_vocab_dense_lexicographic_ids(spark, classic):
    merges, _ = bpe.bpe_train(classic, n_merges=5)
    seg = bpe.word_segment_table(classic, merges)
    vocab = {r.subword: r.token_id for r in bpe.bpe_vocab(seg).collect()}
    assert sorted(vocab.values()) == list(range(len(vocab)))
    assert list(vocab) != []
    ordered = sorted(vocab, key=lambda s: vocab[s])
    assert ordered == sorted(ordered)  # ids follow lexicographic order


def test_encode_token_ids_order_and_unseen_fallback(spark, classic):
    """'lowest low' encodes as seg ids in order; an unseen word with
    unseen characters contributes UNK (-1) per char; empty docs give
    empty arrays."""
    merges, _ = bpe.bpe_train(classic, n_merges=5)
    corpus = _docs(spark, [(1, "lowest low"), (2, "zz"), (3, "   ")])
    seg = bpe.word_segment_table(
        _docs(spark, [(9, "lowest low zz")]), merges
    ).filter("word <> 'zz'")  # force 'zz' down the unseen-word path
    vocab = bpe.bpe_vocab(seg)
    v = {r.subword: r.token_id for r in vocab.collect()}
    out = {r.doc_id: r for r in
           bpe.encode_token_ids(corpus, seg, vocab).collect()}
    assert list(out[1].token_ids) == [v["low"], v["est"], v["low"]]
    assert out[1].n_ids == 3
    assert list(out[2].token_ids) == [bpe.UNK_ID, bpe.UNK_ID]  # chars 'z','z'
    assert list(out[3].token_ids) == [] and out[3].n_ids == 0


@pytest.mark.slow
def test_encode_token_ids_composes_with_arrow_segmentation(spark, classic):
    merges, _ = bpe.bpe_train(classic, n_merges=5)
    probe = _docs(spark, [(1, "newest widest lowest")])
    seg_e = bpe.word_segment_table(probe, merges)
    seg_a = bpe.word_segment_arrow(probe, merges)
    v = bpe.bpe_vocab(seg_e)
    a = bpe.encode_token_ids(probe, seg_e, v).collect()[0]
    b = bpe.encode_token_ids(probe, seg_a, v).collect()[0]
    assert list(a.token_ids) == list(b.token_ids) and a.n_ids == b.n_ids


# ---------------------------------------------------------------------------
# tokenizer_fertility
# ---------------------------------------------------------------------------

def test_fertility_hand_computed_with_oov_fallback(spark):
    """Known segmentation: 'ab'->1 subword, 'cde'->2; 'zz' is OOV (2
    chars -> 2). lang x: 'ab ab cde' -> words 3, subwords 1+1+2=4,
    chars 2+2+3=7; lang y: 'zz' -> 1 word, 2 subwords, 2 chars."""
    from scraping_etl_spark.operators.bpe import tokenizer_fertility

    docs = spark.createDataFrame(
        [(1, "ab ab cde", "x"), (2, "zz", "y")],
        "doc_id long, text string, lang string",
    )
    seg = spark.createDataFrame(
        [("ab", ["ab"], 1), ("cde", ["cd", "e"], 2)],
        "word string, sym array<string>, n_sub long",
    )
    got = {r.lang: r for r in tokenizer_fertility(docs, seg).collect()}
    assert (got["x"].n_words, got["x"].n_subwords, got["x"].n_chars) == (3, 4, 7)
    assert got["x"].fertility == round(4 / 3, 6)
    assert got["x"].chars_per_subword == round(7 / 4, 6)
    assert (got["y"].n_words, got["y"].n_subwords) == (1, 2)


def test_fertility_shuffle_fallback_matches_broadcast(spark, monkeypatch):
    from scraping_etl_spark.operators.bpe import (
        bpe_train, tokenizer_fertility, word_segment_table,
    )

    docs = spark.createDataFrame(
        [(i, "low lower lowest newer new " * 2, "l" + str(i % 2))
         for i in range(8)],
        "doc_id long, text string, lang string",
    )
    seg = word_segment_table(docs, bpe_train(docs, n_merges=6)[0])
    a = sorted(map(tuple, tokenizer_fertility(docs, seg).collect()))
    monkeypatch.setattr(M, "BROADCAST_ROWS", 0)
    b = sorted(map(tuple, tokenizer_fertility(docs, seg).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Decode round trip
# ---------------------------------------------------------------------------

def test_encode_decode_roundtrip_on_training_corpus(spark):
    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer lowest"), (3, "")],
        "doc_id LONG, text STRING",
    )
    merges, _ = bpe.bpe_train(df, n_merges=8, min_pair_count=1)
    seg = bpe.word_segment_table(df, merges)
    vocab = bpe.bpe_vocab(seg)
    enc = bpe.encode_token_ids(df, seg, vocab, append_eow=True)
    dec = {r.doc_id: r.text_rt for r in bpe.decode_token_ids(enc, vocab).collect()}
    assert dec[1] == "low lower lowest"
    assert dec[2] == "new newer lowest"
    assert dec[3] == ""


@pytest.mark.slow
def test_encode_eow_ids_present_and_decode_unknown_lossy(spark):
    train = spark.createDataFrame([(1, "aa bb")], "doc_id LONG, text STRING")
    merges, _ = bpe.bpe_train(train, n_merges=2, min_pair_count=1)
    seg = bpe.word_segment_table(train, merges)
    vocab = bpe.bpe_vocab(seg)
    # unseen word with chars outside the training alphabet -> UNK ids
    score = spark.createDataFrame([(9, "aa zz")], "doc_id LONG, text STRING")
    enc = bpe.encode_token_ids(score, seg, vocab, append_eow=True)
    ids = enc.collect()[0].token_ids
    assert ids.count(bpe.EOW_ID) == 2  # one per word
    assert bpe.UNK_ID in ids           # z not in training alphabet
    dec = bpe.decode_token_ids(enc, vocab).collect()[0].text_rt
    assert dec == "aa ��"  # each unknown char decodes to U+FFFD


def test_encode_sentinel_collision_token_round_trips(spark):
    """A corpus token equal to the internal EOW sentinel byte sequence
    ('\\x00eow' — NUL bytes survive whitespace tokenization in scraped
    text) must encode through the vocab path and round-trip, NOT be
    mistaken for a word boundary: the marker is flagged positionally,
    never by string equality."""
    evil = "\x00eow"
    df = spark.createDataFrame(
        [(1, f"{evil} {evil} plain")], "doc_id LONG, text STRING"
    )
    merges, _ = bpe.bpe_train(df, n_merges=8, min_pair_count=1)
    seg = bpe.word_segment_table(df, merges)
    vocab = bpe.bpe_vocab(seg)
    enc = bpe.encode_token_ids(df, seg, vocab, append_eow=True)
    ids = enc.collect()[0].token_ids
    assert ids.count(bpe.EOW_ID) == 3  # exactly one per word, no extras
    dec = bpe.decode_token_ids(enc, vocab).collect()[0].text_rt
    assert dec == f"{evil} {evil} plain"


def test_bpe_train_driver_tier_equals_distributed_tier(
    spark, classic, monkeypatch
):
    """r16 optimization: under the measured word cap the merge loop
    runs in-process over the collected frequency table; the merge list
    AND the word→symbols table must be bit-identical to the
    distributed per-round-aggregation tier — cap 0 or probed over the
    cap (cap 3) — including occurrence-weighted OVERLAPPING pair counts
    ('aaa' counts (a,a) twice), the (count DESC, a, b) tie-break and
    checkpoint boundaries (9 merges)."""
    driver = bpe.bpe_train(classic, n_merges=5)
    with monkeypatch.context() as m:
        m.setattr(bpe, "MERGE_DRIVER_WORDS", 0)
        assert bpe.bpe_train(classic, n_merges=5) == driver
    edge = _docs(
        spark, [(1, "aaa bb aaa aaa cab cab bcab"), (2, "aaaa ab ab caa")]
    )
    for nm in (1, 2, 5, 9):
        _, table = driver = bpe.bpe_train(edge, n_merges=nm, min_pair_count=1)
        assert len(table) > 3  # more distinct words than the cap below
        for cap in (0, 3):
            with monkeypatch.context() as m:
                m.setattr(bpe, "MERGE_DRIVER_WORDS", cap)
                assert bpe.bpe_train(
                    edge, n_merges=nm, min_pair_count=1
                ) == driver


def test_bpe_train_table_matches_segment_table(spark, classic, monkeypatch):
    """The trainer's final merged vocabulary must be exactly the
    (word, sym) table word_segment_table rebuilds from the same merges
    — the artifacts builder relies on this identity — in both tiers."""
    merges, table = bpe.bpe_train(classic, n_merges=5)
    seg = bpe.word_segment_table(classic, merges)
    expected = sorted(
        (r["word"], tuple(r["sym"]))
        for r in seg.select("word", "sym").collect()
    )
    assert table == expected
    # distributed tier: same merges, same table
    monkeypatch.setattr(bpe, "MERGE_DRIVER_WORDS", 0)
    assert bpe.bpe_train(classic, n_merges=5) == (merges, table)


def test_bpe_train_over_cap_probe_never_ships_word_table(spark, monkeypatch):
    """r17 (ADVICE): past the cap, bpe_train must learn it is over-cap
    from a count probe over the checkpointed word table, never by
    collecting cap+1 word rows — every collect in the over-cap path is
    the O(1)-row per-round argmax probe (the returned table streams
    through toLocalIterator)."""
    docs = _docs(
        spark, [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta")]
    )
    monkeypatch.setattr(bpe, "MERGE_DRIVER_WORDS", 0)
    expected = bpe.bpe_train(docs, n_merges=3, min_pair_count=1)
    cls = type(docs)
    orig = cls.collect
    sizes: list[int] = []

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    monkeypatch.setattr(bpe, "MERGE_DRIVER_WORDS", 3)
    got = bpe.bpe_train(docs, n_merges=3, min_pair_count=1)
    assert got == expected
    assert sizes and max(sizes) <= 1  # argmax probes only


def test_one_trainer_entry_point_per_tokenizer():
    """Spark-free guard: each tokenizer has ONE public trainer (no
    ``*_with_segmentation`` / ``*_with_artifacts`` twins) and the
    checkpoint cadence is a module constant, not a ``checkpoint_every``
    parameter, anywhere in the package or its tools."""
    import inspect
    import pathlib
    import re

    from scraping_etl_spark.operators import unigram, wordpiece

    root = pathlib.Path(bpe.__file__).resolve().parents[2]
    banned = re.compile(r"\w+_with_(segmentation|artifacts)\b|checkpoint_every")
    hits = [
        f"{p.relative_to(root)}: {m.group(0)}"
        for d in ("scraping_etl_spark", "tools")
        for p in sorted((root / d).rglob("*"))
        if p.suffix in (".py", ".md")
        for m in banned.finditer(p.read_text(encoding="utf-8"))
    ]
    assert hits == []
    for fn in (bpe.bpe_train, wordpiece.wordpiece_train, unigram.train_unigram):
        assert "checkpoint_every" not in inspect.signature(fn).parameters
    assert bpe.CHECKPOINT_EVERY >= 1


def test_one_tier_decision_no_cap_parameters():
    """Spark-free guard: every broadcast or driver-tier size decision
    goes through ``materialize.fits``. No function in the package takes
    a cap parameter (``max_broadcast*``, ``max_driver_words``,
    ``max_vecs``): a cap is a module constant read at call time, which
    tests monkeypatch. No file outside materialize.py hand-rolls a
    ``limit(<cap> + 1).count()`` probe."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(bpe.__file__).resolve().parents[1]
    banned = re.compile(r"max_broadcast\w*|max_driver_words|max_vecs")
    probe = re.compile(r"\.limit\([^()]*\+\s*1\s*\)\s*\.count\(\)")
    params, probes = [], []
    for p in sorted(pkg.rglob("*.py")):
        src = p.read_text(encoding="utf-8")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                params += [
                    f"{p.relative_to(pkg)}: {node.name}({arg.arg})"
                    for arg in a.posonlyargs + a.args + a.kwonlyargs
                    if banned.fullmatch(arg.arg)
                ]
        if p.name != "materialize.py":
            probes += [
                f"{p.relative_to(pkg)}: {m.group(0)}" for m in probe.finditer(src)
            ]
    assert params == []
    assert probes == []

"""WordPiece tokenizer (operators/wordpiece.py) — trainer pins vs a
pure-Python loop oracle, the likelihood-vs-frequency differentiator
against BPE, greedy longest-match encoding semantics, and the gate."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
import pytest

from scraping_etl_spark.operators import bpe
from scraping_etl_spark.operators import wordpiece as WP


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# Pure-Python reference trainer (independent loop oracle, same contract)
# ---------------------------------------------------------------------------

def _ref_train(texts, n_merges, min_pair_count=2):
    words = Counter()
    for t in texts:
        for w in t.lower().split():
            if w:
                words[w] += 1
    syms = {
        w: [w[0]] + [WP.CONT + c for c in w[1:]] for w in words
    }
    merges = []
    for _ in range(n_merges):
        pair_n = Counter()
        sym_n = Counter()
        for w, s in syms.items():
            c = words[w]
            for x in s:
                sym_n[x] += c
            for x, y in zip(s, s[1:]):
                pair_n[(x, y)] += c
        if not pair_n:
            break
        # (score DESC, a ASC, b ASC) — the trainer's orderBy
        best = min(
            pair_n,
            key=lambda p: (
                -pair_n[p] / (sym_n[p[0]] * sym_n[p[1]]),
                p[0],
                p[1],
            ),
        )
        if pair_n[best] < min_pair_count:
            break
        merges.append(best)
        a, b = best
        merged = WP.wp_merge_name(a, b)
        for w, s in syms.items():
            out = []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = merged
                else:
                    out.append(x)
            syms[w] = out
    return merges


def test_train_matches_loop_oracle(spark):
    texts = [
        "the cat sat on the mat",
        "the bat sat on the cat",
        "that mat on that bat",
    ]
    df = _docs(spark, list(enumerate(texts)))
    got, _, _ = WP.wordpiece_train(df, n_merges=6)
    assert got == _ref_train(texts, 6)


def test_likelihood_beats_frequency():
    """The WordPiece differentiator: 'aa' inside 'xaay' is frequent but
    both symbols are everywhere; 'qz' co-occurs rarely yet nearly
    deterministically — likelihood picks it, raw frequency would not."""
    texts = ["xaay xaay xaay xaay aqza", "axaa aaxa aaay aaza"]
    merges = _ref_train(texts, 1, min_pair_count=1)
    words = Counter(w for t in texts for w in t.split())
    pair_n = Counter()
    for w, c in words.items():
        s = [w[0]] + [WP.CONT + ch for ch in w[1:]]
        for x, y in zip(s, s[1:]):
            pair_n[(x, y)] += c
    freq_best = max(pair_n, key=lambda p: pair_n[p])
    assert merges and merges[0] != freq_best


def test_spark_trainer_agrees_on_likelihood_corpus(spark):
    texts = ["xaay xaay xaay xaay aqza", "axaa aaxa aaay aaza"]
    df = _docs(spark, list(enumerate(texts)))
    got, _, _ = WP.wordpiece_train(df, n_merges=3, min_pair_count=1)
    assert got == _ref_train(texts, 3, min_pair_count=1)


def test_greedy_segment_longest_match_and_unk():
    vocab = {"un", "##able", "##a", "u", "n", "a", "b", "l", "e",
             "##b", "##l", "##e", "##n", "##u"}
    assert WP.greedy_segment("unable", vocab, 16) == ["un", "##able"]
    # longest match at each point, not globally optimal
    assert WP.greedy_segment("nun", vocab, 16) == ["n", "##u", "##n"]
    # char outside the alphabet -> whole-word UNK (BERT semantics)
    assert WP.greedy_segment("unable!", vocab, 16) == [WP.UNK_PIECE]
    assert WP.greedy_segment("zzz", vocab, 16) == [WP.UNK_PIECE]


def test_vocab_covers_alphabet_and_merges(spark):
    df = _docs(spark, [(1, "abc abd abc")])
    merges, _, _ = WP.wordpiece_train(df, n_merges=2, min_pair_count=1)
    vocab = WP.wordpiece_vocab(df, merges)
    for c in "abcd":
        assert c in vocab and WP.CONT + c in vocab
    for a, b in merges:
        assert WP.wp_merge_name(a, b) in vocab


def test_segmentation_partitions_each_word(spark):
    df = _docs(spark, [(1, "the cat sat on the mat"), (2, "zebra cat")])
    merges, _, _ = WP.wordpiece_train(df, n_merges=4, min_pair_count=1)
    vocab = WP.wordpiece_vocab(df, merges)
    seg = WP.word_segment_wordpiece(df, vocab).collect()
    assert seg
    for r in seg:
        assert r.n_sub == len(r.sym) >= 1
        # alphabet coverage of the training corpus -> never UNK here
        assert r.sym != [WP.UNK_PIECE]
        rebuilt = "".join(
            s[len(WP.CONT):] if s.startswith(WP.CONT) else s for s in r.sym
        )
        assert rebuilt == r.word


def test_gate_runs_and_every_doc_appears(spark):
    from scraping_etl_spark.plans.corpus_ops import q_doc_wordpiece_tokens

    out = q_doc_wordpiece_tokens(spark, "/root/testdata/sf0.001")
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert out.count() == d.count()
    assert out.filter(F.col("n_wp_tokens") > 0).count() > 0


def test_wordpiece_train_driver_tier_equals_distributed_tier(
    spark, monkeypatch
):
    """r16 optimization: the in-process merge loop (collected
    frequency table under the measured cap) must learn the exact
    merge list, vocabulary and word→pieces table of the distributed
    tier — cap 0 or probed over the cap (cap 3) — same
    BIGINT pair/symbol counts over all adjacent positions, same
    single-double-division likelihood score, same (score DESC, a, b)
    tie-break."""
    rows = [
        (1, "aaa bb aaa aaa cab cab bcab"),
        (2, "quick quicker quickest wide widest"),
        (3, "aaaa ab ab caa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for nm in (1, 3, 8):
        _, _, table = driver = WP.wordpiece_train(
            df, n_merges=nm, min_pair_count=1
        )
        assert len(table) > 3  # more distinct words than the cap below
        for cap in (0, 3):
            with monkeypatch.context() as m:
                m.setattr(bpe, "MERGE_DRIVER_WORDS", cap)
                assert WP.wordpiece_train(
                    df, n_merges=nm, min_pair_count=1
                ) == driver


def test_wordpiece_train_over_cap_probe_never_ships_word_table(
    spark, monkeypatch
):
    """r17 (ADVICE): same count-probe contract as bpe_train — the
    over-cap tier never collects the word table, only the O(1)-row
    per-round argmax probes (and the one-row alphabet aggregate; the
    returned table streams through toLocalIterator)."""
    docs = _docs(
        spark, [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta")]
    )
    monkeypatch.setattr(bpe, "MERGE_DRIVER_WORDS", 0)
    expected = WP.wordpiece_train(docs, n_merges=3, min_pair_count=1)
    cls = type(docs)
    orig = cls.collect
    sizes: list[int] = []

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    monkeypatch.setattr(bpe, "MERGE_DRIVER_WORDS", 3)
    got = WP.wordpiece_train(docs, n_merges=3, min_pair_count=1)
    assert got == expected
    assert sizes and max(sizes) <= 1  # argmax probes only


def test_wordpiece_train_artifacts_match_separate_builders(spark, monkeypatch):
    """r17: the trainer's vocabulary and greedy segmentation table must
    be exactly what wordpiece_vocab + word_segment_wordpiece recompute
    from the same merges — the artifacts builder relies on this
    identity — and the distributed tier returns all three unchanged."""
    docs = _docs(
        spark,
        [(1, "unable unable undo redo redo"), (2, "able undo doing")],
    )
    merges, vocab, table = WP.wordpiece_train(docs, n_merges=5)
    assert vocab == WP.wordpiece_vocab(docs, merges)
    seg = WP.word_segment_wordpiece(docs, vocab)
    expected = sorted(
        (r["word"], tuple(r["sym"]))
        for r in seg.select("word", "sym").collect()
    )
    assert table == expected
    monkeypatch.setattr(bpe, "MERGE_DRIVER_WORDS", 0)
    assert WP.wordpiece_train(docs, n_merges=5) == (merges, vocab, table)

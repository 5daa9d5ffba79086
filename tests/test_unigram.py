"""Unigram-LM (SentencePiece) tokenizer (operators/unigram.py) — unit
pins, a pure-Python loop-oracle fuzz of the whole trainer, and the
determinism/contract properties that let the gate embed the model as
DuckDB plan constants."""

from __future__ import annotations

import math
from collections import Counter

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from scraping_etl_spark.operators import unigram as U


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# Pure-Python reference (independent loop oracle, same contract)
# ---------------------------------------------------------------------------

def _ref_train(texts, vocab_size, seed_size, n_iters, max_len, min_seed=2):
    words = Counter()
    for t in texts:
        for w in t.lower().split():
            if w:
                words[w] += 1
    cand = Counter()
    for w, c in words.items():
        for i in range(len(w)):
            for ln in range(1, max_len + 1):
                if i + ln <= len(w):
                    cand[w[i:i + ln]] += c
    counts = {p: n for p, n in cand.items() if len(p) == 1}
    multi = sorted(
        ((p, n) for p, n in cand.items() if len(p) > 1 and n >= min_seed),
        key=lambda pn: (-pn[1], pn[0]),
    )[:seed_size]
    counts.update(dict(multi))
    if not counts:
        return {}
    singles = {p for p in counts if len(p) == 1}
    for _ in range(n_iters):
        logp, unk = U._model_logp(counts)
        used = Counter()
        for w, c in words.items():
            for piece in U._viterbi(w, logp, max_len, unk):
                used[piece] += c
        keep = sorted(
            ((p, n) for p, n in used.items() if len(p) > 1 and p in counts),
            key=lambda pn: (-pn[1], pn[0]),
        )[: max(0, vocab_size - len(singles))]
        counts = {p: max(used.get(p, 0), 1) for p in singles}
        counts.update(dict(keep))
    return counts


# ---------------------------------------------------------------------------
# Viterbi unit pins
# ---------------------------------------------------------------------------

def test_viterbi_prefers_high_probability_pieces():
    logp = {"ab": math.log(0.5), "a": math.log(0.2), "b": math.log(0.2),
            "c": math.log(0.1)}
    assert U._viterbi("abc", logp, 6, -30.0) == ["ab", "c"]


def test_viterbi_tie_breaks_fewer_pieces_then_lexicographic():
    # 'ab'+'cd' vs 'abcd' at equal total score -> fewer pieces wins
    logp = {"abcd": math.log(0.25) * 2, "ab": math.log(0.25),
            "cd": math.log(0.25)}
    assert U._viterbi("abcd", logp, 6, -30.0) == ["abcd"]


def test_viterbi_unknown_chars_fall_back_not_fail():
    logp = {"a": math.log(0.5)}
    got = U._viterbi("axa", logp, 6, -20.0)
    assert got == ["a", "x", "a"]


def test_viterbi_empty_word():
    assert U._viterbi("", {"a": -1.0}, 6, -20.0) == []


# ---------------------------------------------------------------------------
# Trainer vs the loop oracle
# ---------------------------------------------------------------------------

def test_train_matches_loop_oracle_on_fixed_corpus(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox naps",
        "lazy dogs and quick foxes",
    ]
    df = _docs(spark, list(enumerate(texts)))
    got, _ = U.train_unigram(df, vocab_size=24, seed_size=80, n_iters=2,
                             max_piece_len=4)
    want = _ref_train(texts, 24, 80, 2, 4)
    assert got == want
    assert len(got) <= 24 + 2  # vocab cap (+ slack only for chars)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=24),
        min_size=1, max_size=6,
    )
)
def test_train_fuzz_matches_loop_oracle(spark, texts):
    df = _docs(spark, list(enumerate(texts)))
    got, _ = U.train_unigram(df, vocab_size=10, seed_size=40, n_iters=2,
                             max_piece_len=3, min_seed_count=2)
    want = _ref_train(texts, 10, 40, 2, 3)
    assert got == want


def test_train_stable_under_repartition(spark):
    texts = ["alpha beta gamma delta"] * 3 + ["beta gamma epsilon"] * 2
    df = _docs(spark, list(enumerate(texts)))
    a = U.train_unigram(df, vocab_size=16, seed_size=64, n_iters=2)
    b = U.train_unigram(df.repartition(13), vocab_size=16, seed_size=64,
                        n_iters=2)
    assert a == b and a[0]


# ---------------------------------------------------------------------------
# Segmentation contract + downstream reuse
# ---------------------------------------------------------------------------

def test_segmentation_is_a_partition_of_each_word(spark):
    df = _docs(spark, [(1, "tokenization of compound works"),
                       (2, "works of tokenization")])
    model, _ = U.train_unigram(df, vocab_size=20, seed_size=60, n_iters=2)
    seg = U.word_segment_unigram(df, model).collect()
    assert seg
    for r in seg:
        assert "".join(r.sym) == r.word
        assert r.n_sub == len(r.sym) >= 1


def test_token_counts_reuse_bpe_plumbing(spark):
    from scraping_etl_spark.operators.bpe import bpe_token_counts

    df = _docs(spark, [(1, "aaa bbb aaa"), (2, ""), (3, "zzzz")])
    model, _ = U.train_unigram(df, vocab_size=8, seed_size=24, n_iters=1,
                               max_piece_len=3)
    seg = U.word_segment_unigram(df, model, max_piece_len=3)
    got = {r.doc_id: r for r in bpe_token_counts(df, seg).collect()}
    assert got[1].n_tokens == 3
    assert got[2].n_tokens == 0 and got[2].n_bpe_tokens == 0
    # every word >= 1 piece, and pieces never exceed the char count
    assert 3 <= got[1].n_bpe_tokens <= 9


def test_gate_runs_and_every_doc_appears(spark):
    from scraping_etl_spark.plans.corpus_ops import q_doc_unigram_tokens

    out = q_doc_unigram_tokens(spark, "/root/testdata/sf0.001")
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert out.count() == d.count()
    # the trained model genuinely compresses: subword count is below
    # the character floor for at least some docs
    joined = out.filter(F.col("n_uni_tokens") > 0)
    assert joined.count() > 0


def test_fertility_gate_compares_both_tokenizers(spark):
    """doc_unigram_fertility: one row per language, fertility >= 1 on
    both branches (a word is never fewer than one piece), and the
    ratio column is the quotient of the two ROUNDED fertilities —
    the exact arithmetic the oracle mirrors."""
    from scraping_etl_spark.plans.corpus_ops import q_doc_unigram_fertility

    out = q_doc_unigram_fertility(spark, "/root/testdata/sf0.001").collect()
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_langs = d.select("lang").distinct().count()
    assert len(out) == n_langs
    for r in out:
        assert r.bpe_fertility >= 1.0 and r.uni_fertility >= 1.0
        assert r.uni_over_bpe == round(
            round(r.uni_fertility, 6) / round(r.bpe_fertility, 6), 6
        )


# ---------------------------------------------------------------------------
# Training tiers (r17 optimization round)
# ---------------------------------------------------------------------------

def test_train_driver_tier_equals_distributed_tier(spark, monkeypatch):
    """r17: under the measured word cap, seeding + EM + pruning run
    in-process over the collected frequency table; the model and the
    word→pieces table must be bit-identical to the distributed tier —
    cap 0 or probed over the cap (cap 3) — (integer
    counts, shared _viterbi/_model_logp/_prune_counts arithmetic,
    (count DESC, piece) seed/prune order)."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox naps",
        "lazy dogs and quick foxes",
        "aaa aab aaab abab",
    ]
    df = _docs(spark, list(enumerate(texts)))
    for vs, ss, it, ml in [(24, 80, 2, 4), (10, 40, 1, 3), (16, 64, 3, 6)]:
        model, table = driver = U.train_unigram(
            df, vocab_size=vs, seed_size=ss, n_iters=it, max_piece_len=ml
        )
        assert model and len(table) > 3  # more words than the cap below
        for cap in (0, 3):
            with monkeypatch.context() as m:
                m.setattr(U, "MAX_DRIVER_WORDS", cap)
                dist = U.train_unigram(
                    df, vocab_size=vs, seed_size=ss, n_iters=it,
                    max_piece_len=ml,
                )
            assert dist == driver


def test_train_table_matches_word_segment_unigram(spark, monkeypatch):
    """r17: the trainer's segmentation table must be exactly the
    (word, sym) set word_segment_unigram recomputes under the same
    model — the artifacts builder relies on this identity — and the
    distributed tier returns the same model and table."""
    texts = ["tokenization of compound works", "works of tokenization",
             "unseen zz pieces"]
    df = _docs(spark, list(enumerate(texts)))
    model, table = U.train_unigram(df, vocab_size=20, seed_size=60, n_iters=2)
    seg = U.word_segment_unigram(df, model)
    expected = sorted(
        (r["word"], tuple(r["sym"]))
        for r in seg.select("word", "sym").collect()
    )
    assert table == expected
    monkeypatch.setattr(U, "MAX_DRIVER_WORDS", 0)
    assert U.train_unigram(
        df, vocab_size=20, seed_size=60, n_iters=2
    ) == (model, table)


def test_train_over_cap_probe_never_ships_word_table(spark, monkeypatch):
    """r17 (ADVICE): past the cap the trainer must learn it is
    over-cap from a count probe, never by collecting cap+1 word rows —
    at web scale that collect ships ~2M rows to the driver per
    training call just to discard them. Every collect in the over-cap
    path is model-scale (seed candidates / per-round used counts)."""
    texts = ["alpha beta gamma delta epsilon", "zeta eta theta iota kappa"]
    df = _docs(spark, list(enumerate(texts)))
    monkeypatch.setattr(U, "MAX_DRIVER_WORDS", 0)
    expected = U.train_unigram(
        df, vocab_size=10, seed_size=40, n_iters=1, max_piece_len=3
    )
    cls = type(df)  # the concrete (classic) DataFrame class
    orig = cls.collect
    sizes: list[int] = []

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    # 10 distinct words -> forced over-cap
    monkeypatch.setattr(U, "MAX_DRIVER_WORDS", 3)
    got = U.train_unigram(
        df, vocab_size=10, seed_size=40, n_iters=1, max_piece_len=3
    )
    assert got == expected
    # over-cap collects are the seed-candidate and used-count tables
    # (bounded by seed size + alphabet), never the 10-row word table
    # in one piece with the probe's cap+1 shape; the word table itself
    # is only ever counted
    assert sizes and max(sizes) <= 40 + 26

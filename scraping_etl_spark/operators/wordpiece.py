"""WordPiece tokenizer: likelihood-scored merge training and the
greedy longest-match-first encoder, Spark-first.

Completes the tokenizer family (``operators/bpe.py`` — frequency-
scored merges; ``operators/unigram.py`` — Viterbi-EM piece LM): the
reference has no tokenizer, this is north-star surface. WordPiece
(Schuster & Nakajima, ICASSP 2012; the BERT tokenizer) differs from
BPE in BOTH phases and both differences are implemented, not faked:

- **Training** merges the symbol pair maximizing the LIKELIHOOD gain
  ``count(ab) / (count(a) * count(b))`` — the pair whose fusion most
  increases a unigram LM's corpus likelihood — not the raw pair count.
  A frequent pair of two individually-frequent symbols (BPE's pick)
  loses to a rarer pair of rare symbols whose co-occurrence is nearly
  deterministic (pytest pins a corpus where the two trainers choose
  differently).
- **Encoding** is greedy longest-match-first against the learned
  vocabulary (word-initial pieces plain, continuation pieces
  ``##``-prefixed — the positions are part of the piece identity, so
  the vocabulary is position-aware by construction), with BERT's
  whole-word ``[UNK]`` fallback when no piece matches. Inference never
  replays merges — matching the deployed tokenizer's semantics, not
  the trainer's internals.

Scale design is the :func:`bpe.bpe_train` skeleton (the one-corpus-pass
contract): :func:`bpe.word_table_tier` collapses the corpus to its
distinct-word frequency table once and picks the tier, then the merge
loop BPE also runs (:func:`bpe.merge_loop_driver` in-process, or
:func:`bpe.merge_loop_dist` at VOCABULARY scale) does the rounds with
WordPiece's initial symbols, merged-piece name and likelihood score.
Encoding segments the corpus's DISTINCT words per Arrow batch (the
``unigram._segment_words_arrow`` convention — per-batch Python over a
model-scale vocabulary set, never per-row UDFs) and tokenizes
documents through the same broadcast word→segmentation join
(``bpe.bpe_token_counts``) every tokenizer here shares.

Determinism: merge selection breaks score ties by ``(a, b)``
lexicographically; the learned segmentation table therefore embeds in
a DuckDB oracle as plan constants (the train-once convention).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark.operators import bpe
from scraping_etl_spark.operators.bpe import (
    SegTable,
    char_symbols,
    check_merge_args,
    corpus_words,
    merge_loop_dist,
    merge_loop_driver,
    segmentation_rows,
    word_table_tier,
)

#: BERT's unknown-word sentinel: a word any of whose chars (or greedy
#: dead-ends) fall outside the vocabulary encodes as ONE [UNK] piece.
UNK_PIECE = "[UNK]"

#: Continuation-piece marker (BERT convention).
CONT = "##"

#: Longest piece (in characters) :func:`greedy_segment` tries at each
#: position of a word.
MAX_PIECE_LEN = 32


def wp_char_symbols(word: Column | str) -> Column:
    """Initial WordPiece symbol sequence of a word: first character
    plain, every later character ``##``-prefixed — position is part of
    piece identity from the start, which is what makes the final
    vocabulary directly usable by the greedy encoder."""
    c = F.col(word) if isinstance(word, str) else word
    n = F.length(c)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.when(i == 1, c.substr(i, F.lit(1))).otherwise(
            F.concat(F.lit(CONT), c.substr(i, F.lit(1)))
        ),
    )


def _strip_cont(piece: str) -> str:
    return piece[len(CONT):] if piece.startswith(CONT) else piece


def wp_merge_name(a: str, b: str) -> str:
    """Name of the piece produced by merging ``(a, b)``: ``a`` keeps
    its own position prefix, ``b``'s continuation marker dissolves
    (``("un", "##able") → "unable"``; ``("##ab", "##le") → "##able"``)."""
    return a + _strip_cont(b)


def _alphabet(words: DataFrame) -> list[str]:
    """Distinct characters of a ``word`` relation — one aggregated row
    (model-scale: the alphabet), never one row per character."""
    return (
        words.select(F.explode(char_symbols("word")).alias("c"))
        .agg(F.collect_set("c").alias("cs"))
        .collect()[0]["cs"]
    )


def _vocab(chars: Iterable[str], merges: Iterable[tuple[str, str]]) -> list[str]:
    """The alphabet in BOTH position forms plus every merge product."""
    chars = set(chars)
    return sorted(
        chars
        | {CONT + c for c in chars}
        | {wp_merge_name(a, b) for a, b in merges}
    )


def wordpiece_train(
    df: DataFrame,
    n_merges: int = 16,
    min_pair_count: int = 2,
) -> tuple[list[tuple[str, str]], list[str], SegTable]:
    """Learn an ordered WordPiece merge list from the corpus. Returns
    ``(merges, vocab, table)``: the encoder vocabulary (what
    :func:`wordpiece_vocab` derives) and the word→pieces segmentation
    of every distinct corpus word (what :func:`word_segment_wordpiece`
    computes — :func:`greedy_segment` per word), so the train-once
    artifact builder needs no further corpus pass (identity pinned by
    tests/test_wordpiece.py).

    One corpus-scale pass builds the word frequency table
    (:func:`bpe.word_table_tier`); the merge loop BPE shares then runs
    at VOCABULARY scale: occurrence-weighted pair counts AND symbol
    counts, winner = argmax of ``n_ab / (n_a * n_b)`` with ``(score
    DESC, a, b)`` tie-break, stop when the best pair's raw count falls
    below ``min_pair_count``. Under ``bpe.MERGE_DRIVER_WORDS``
    distinct words the loop, the vocabulary and the table are
    in-process over the collected table (character iteration by code point, mirroring
    ``wp_char_symbols``' ``substr``); past the cap they are Spark jobs
    over the checkpointed word table (one-row alphabet aggregate, Arrow
    greedy segmentation). Both tiers share BIGINT counts and one double
    division per score, so all three artifacts are bit-identical
    (pinned by tests/test_wordpiece.py)."""
    check_merge_args(n_merges, min_pair_count)
    wc, head = word_table_tier(df, bpe.MERGE_DRIVER_WORDS)
    if head is None:
        merges, _ = merge_loop_dist(
            wc.withColumn("sym", wp_char_symbols(F.col("word"))),
            n_merges, min_pair_count, wp_merge_name, likelihood=True,
        )
        vocab = _vocab(_alphabet(wc), merges)
        seg = _segment_greedy(wc.select("word"), vocab, MAX_PIECE_LEN)
        return merges, vocab, segmentation_rows(seg)
    merges, _ = merge_loop_driver(
        [([w[0]] + [CONT + c for c in w[1:]], cnt) for w, cnt in head],
        n_merges, min_pair_count, wp_merge_name, likelihood=True,
    )
    vocab = _vocab({c for w, _ in head for c in w}, merges)
    vset = set(vocab)
    table = sorted(
        (w, tuple(greedy_segment(w, vset, MAX_PIECE_LEN))) for w, _ in head
    )
    return merges, vocab, table


def wordpiece_vocab(df: DataFrame, merges: Iterable[tuple[str, str]]) -> list[str]:
    """The encoder's vocabulary: the corpus alphabet in BOTH position
    forms (initial + ``##``) plus every merge product — exactly a BERT
    vocab's structure (alphabet rows keep greedy encoding total on any
    word over known characters; merge products are the learned
    pieces). Model-scale: one distinct-char aggregation collect."""
    return _vocab(_alphabet(corpus_words(df, "text")), merges)


def greedy_segment(word: str, vocab: set[str], max_piece_len: int) -> list[str]:
    """BERT greedy longest-match-first on one word: at each position
    take the longest vocabulary piece (``##``-form past the start);
    any dead-end collapses the WHOLE word to ``[UNK]``."""
    out: list[str] = []
    pos, n = 0, len(word)
    while pos < n:
        end = min(n, pos + max_piece_len)
        piece = None
        while end > pos:
            cand = word[pos:end]
            if pos > 0:
                cand = CONT + cand
            if cand in vocab:
                piece = cand
                break
            end -= 1
        if piece is None:
            return [UNK_PIECE]
        out.append(piece)
        pos = end
    return out


def _segment_greedy(
    words: DataFrame, vocab: Iterable[str], max_piece_len: int
) -> DataFrame:
    """``(word) -> (word, sym, n_sub)`` by :func:`greedy_segment` per
    Arrow batch, the vocab set riding in the closure as a plan
    constant."""
    vset = set(vocab)

    def _seg(batches):
        import pandas as pd

        for pdf in batches:
            ws = pdf["word"]
            syms = [greedy_segment(w, vset, max_piece_len) for w in ws]
            yield pd.DataFrame(
                {
                    "word": ws,
                    "sym": syms,
                    "n_sub": [len(s) for s in syms],
                }
            )

    return words.mapInPandas(
        _seg, "word string, sym array<string>, n_sub long"
    )


def word_segment_wordpiece(df: DataFrame, vocab: Iterable[str]) -> DataFrame:
    """Greedy-encode every distinct corpus word against ``vocab`` —
    the ``(word, sym, n_sub)`` segmentation-cache contract shared by
    all three tokenizers (so :func:`bpe.bpe_token_counts` and
    :func:`bpe.tokenizer_fertility` compose unchanged). Vocabulary-
    scale; per-ARROW-BATCH Python (the ``unigram._segment_words_arrow``
    convention), never a per-row UDF."""
    return _segment_greedy(
        corpus_words(df, "text").distinct(), vocab, MAX_PIECE_LEN
    )

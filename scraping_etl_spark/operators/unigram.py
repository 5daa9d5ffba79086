"""Unigram-LM (SentencePiece) tokenizer: Viterbi-EM training and
corpus segmentation, Spark-first (Kudo 2018, arXiv:1804.10959 —
"Subword Regularization", the unigram language model of §3; the
tokenizer behind SentencePiece/T5/LLaMA vocabularies).

Completes the repo's tokenizer family next to :mod:`bpe`: BPE grows a
vocabulary bottom-up by merge frequency; the unigram LM starts from an
over-complete candidate set and PRUNES toward the target size, keeping
the pieces a maximum-likelihood segmentation actually uses. The two
make different vocabularies on the same corpus and real pipelines
evaluate both (``tokenizer_fertility`` is the comparison instrument).

Design — the same scale insight as :func:`bpe.bpe_train` (the corpus
is never needed after ONE pass):

- :func:`train_unigram` collapses the corpus to its distinct-word
  frequency table (:func:`bpe.word_table_tier` — one partial-agg
  shuffle, the only corpus-scale step, and the driver/distributed tier
  probe every trainer here shares). Seeding, EM and pruning all run at
  VOCABULARY scale:
  - seed: every substring up to ``max_piece_len`` of every distinct
    word, occurrence-weighted (pure array expressions, one explode +
    one agg over the word table), top ``seed_size`` by
    ``(count DESC, piece ASC)`` plus every single character —
    single-char coverage is what makes every word segmentable, the
    unigram analog of BPE's char floor.
  - EM round (hard/Viterbi EM): E-step segments each distinct word by
    max-likelihood DP under the broadcast model — per-Arrow-batch
    Python (``mapInPandas``, the ``word_segment_arrow`` convention;
    per-word DP is O(len · max_piece_len), never per-row Python in a
    corpus-scale plan); M-step re-estimates piece probabilities from
    the INTEGER occurrence-weighted piece counts (one model-scale
    agg + collect). Integer counts are what keep training
    partitioning-invariant: no cross-partition float accumulation
    ever happens — floats appear only in the per-word DP, computed
    identically everywhere from the same broadcast integers.
  - prune: keep the top ``vocab_size`` pieces by
    ``(count DESC, piece ASC)``, single characters always retained.
    (Hard-EM pruning by used-count is the deterministic simplification
    of Kudo's soft-EM loss ranking — documented, and exactly mirrored
    by the loop oracle in tests.)
- The trainer returns the model with its final Viterbi segmentation
  of every distinct training word. :func:`word_segment_unigram` runs
  the same pass over any corpus's distinct words and returns the same
  ``(word, sym, n_sub)``
  contract as :func:`bpe.word_segment_table`, so the downstream
  tokenize/encode/count plumbing (:func:`bpe.bpe_token_counts`,
  :func:`bpe.encode_token_ids`) is reused verbatim — the segmentation
  cache is the interface, the trainer is pluggable.

Determinism: model probabilities derive from integer counts with
deterministic tie-breaks; the Viterbi DP breaks score ties by fewer
pieces, then lexicographic piece sequence — a total order, so
segmentation is rerun- and repartition-stable and the learned
word→n_sub table can be embedded in a DuckDB oracle as plan constants
(the ``bpe`` convention).

The reference has no tokenizer (its pipeline stops at scraped text);
this is north-star surface for the LLM-data pipeline, same charter as
``operators/bpe.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark.operators.bpe import (
    SegTable,
    corpus_words,
    segmentation_rows,
    word_table_tier,
)

#: Unknown single characters (absent from training) score this far
#: below the model's worst piece — finite, so encoding never fails,
#: and constant, so the fallback is deterministic.
UNK_LOGP_MARGIN = 10.0

#: Driver-tier cap of :func:`train_unigram`, set from a measured
#: crossover (``tools/unigram_cap_probe.py``, gate parameters, 4-core
#: Xeon VM): in-process 2.5 / 18.2 / 202.8 s vs distributed 13.2 / 19.7
#: / 150.8 s at 20k / 200k / 2M distinct words, so the tiers cross near
#: 250k. Viterbi EM costs ~0.1 ms per word in one Python process, so
#: BPE's 2M cap (merge rounds are integer sums) does not carry over.
MAX_DRIVER_WORDS = 250_000


def substring_candidates(word: Column, max_len: int) -> Column:
    """All substrings of ``word`` of length 1..``max_len``, WITH
    multiplicity (occurrence weighting is part of the seed statistics).
    Pure array expressions. NESTED lambdas (outer over lengths, inner
    over starts) rather than a Python loop concatenating sibling
    transforms: sibling HOFs built from look-alike Python lambdas
    alias their lambda variables in the fused expression and silently
    cross-bind (measured: garbage substrings) — nested named lambda
    scopes are the supported shape."""

    def _per_len(ln: Column) -> Column:
        n = F.length(word)
        idx = F.when(n >= ln, F.sequence(F.lit(1), n - ln + 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idx, lambda i: word.substr(i, ln))

    return F.flatten(
        F.transform(F.sequence(F.lit(1), F.lit(max_len)), _per_len)
    )


def _viterbi(word: str, logp: dict, max_len: int, unk_logp: float):
    """Max-likelihood segmentation of one word under a piece log-prob
    table. Ties: higher score, then FEWER pieces, then lexicographic
    piece sequence — a total order (see module docstring). Unknown
    single chars cost ``unk_logp``; unknown longer spans are not
    pieces. Returns the piece list."""
    n = len(word)
    # best[i] = (score, n_pieces, pieces tuple) for word[:i]
    best = [None] * (n + 1)
    best[0] = (0.0, 0, ())
    for i in range(1, n + 1):
        cand = None
        for j in range(max(0, i - max_len), i):
            prev = best[j]
            if prev is None:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if i - j != 1:
                    continue
                lp = unk_logp
            sc = prev[0] + lp
            cur = (sc, prev[1] + 1, prev[2] + (piece,))
            if (
                cand is None
                or cur[0] > cand[0]
                or (cur[0] == cand[0]
                    and (cur[1], cur[2]) < (cand[1], cand[2]))
            ):
                cand = cur
        best[i] = cand
    return list(best[n][2]) if best[n] else []


def _model_logp(counts: dict[str, int]) -> tuple[dict, float]:
    """(piece → logp, unk_logp) from integer counts — the only place
    probabilities are made, so both EM and the final encoder share one
    arithmetic."""
    total = sum(counts.values())
    logp = {p: math.log(c) - math.log(total) for p, c in counts.items()}
    floor = min(logp.values()) if logp else 0.0
    return logp, floor - UNK_LOGP_MARGIN


def _segment_words_arrow(
    words: DataFrame, logp: dict, max_len: int, unk_logp: float
) -> DataFrame:
    """``(word[, cnt]) -> (word[, cnt], sym array<string>)`` via the
    per-Arrow-batch Viterbi encoder. Carries ``cnt`` through when
    present (the EM E-step needs occurrence weights)."""
    has_cnt = "cnt" in words.columns
    out_schema = (
        "word string, cnt long, sym array<string>"
        if has_cnt else "word string, sym array<string>"
    )

    def _seg(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            syms = [_viterbi(w, logp, max_len, unk_logp) for w in pdf["word"]]
            data = {"word": pdf["word"]}
            if has_cnt:
                data["cnt"] = pdf["cnt"]
            data["sym"] = syms
            yield pd.DataFrame(data)

    return words.mapInPandas(_seg, out_schema)


def _prune_counts(
    counts: dict[str, int],
    used: dict[str, int],
    singles: set[str],
    vocab_size: int,
) -> dict[str, int]:
    """One M-step prune — every single char stays (coverage floor;
    unseen-in-segmentation chars keep count 1), multi-char pieces
    compete for the remaining seats by (used count DESC, piece ASC).
    Shared by both training tiers so the arithmetic cannot fork."""
    keep_multi = sorted(
        ((p, c) for p, c in used.items() if len(p) > 1 and p in counts),
        key=lambda pc: (-pc[1], pc[0]),
    )[: max(0, vocab_size - len(singles))]
    out = {p: max(used.get(p, 0), 1) for p in singles}
    out.update(dict(keep_multi))
    return out


def _train_unigram_py(
    words: list[tuple[str, int]],
    vocab_size: int,
    seed_size: int,
    n_iters: int,
    max_piece_len: int,
    min_seed_count: int,
) -> dict[str, int]:
    """The seeding + Viterbi-EM loop over an in-memory word-frequency
    table — EXACTLY the distributed tier's semantics: occurrence-
    weighted INTEGER substring/piece counts (Python slicing mirrors
    ``substr``'s code-point semantics), seed selection by
    ``(count DESC, piece ASC)`` with every single char retained, the
    shared :func:`_viterbi` / :func:`_model_logp` / :func:`_prune_counts`
    arithmetic per round. Integer sums are associative, so the model is
    bit-identical to the distributed tier (pinned by
    tests/test_unigram.py tier-equality tests)."""
    cand: dict[str, int] = {}
    for w, cnt in words:
        n = len(w)
        for ln in range(1, max_piece_len + 1):
            for i in range(n - ln + 1):
                piece = w[i : i + ln]
                cand[piece] = cand.get(piece, 0) + cnt
    counts = {p: c for p, c in cand.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in cand.items() if len(p) > 1 and c >= min_seed_count),
        key=lambda pc: (-pc[1], pc[0]),
    )[:seed_size]
    counts.update(dict(multi))
    if not counts:
        return {}
    singles = {p for p in counts if len(p) == 1}
    for _ in range(n_iters):
        logp, unk = _model_logp(counts)
        used: dict[str, int] = {}
        for w, cnt in words:
            for piece in _viterbi(w, logp, max_piece_len, unk):
                used[piece] = used.get(piece, 0) + cnt
        counts = _prune_counts(counts, used, singles, vocab_size)
    return counts


def _train_unigram_dist(
    wc: DataFrame,
    vocab_size: int,
    seed_size: int,
    n_iters: int,
    max_piece_len: int,
    min_seed_count: int,
) -> dict[str, int]:
    """The distributed tier over a materialized ``(word, cnt)``
    relation: seeding, EM and pruning all at VOCABULARY scale (module
    docstring). Collects are model-scale only (seed candidates capped
    at ``seed_size`` + the per-round count table ≤ seed size)."""
    cand = (
        wc.select(
            "cnt",
            F.explode(
                substring_candidates(F.col("word"), max_piece_len)
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("cnt").alias("n"))
    )
    chars = cand.filter(F.length("piece") == 1)
    multi = (
        cand.filter(
            (F.length("piece") > 1) & (F.col("n") >= min_seed_count)
        )
        .orderBy(F.desc("n"), "piece")
        .limit(seed_size)
    )
    counts = {
        r["piece"]: int(r["n"])
        for r in chars.unionByName(multi).collect()
    }
    if not counts:
        return {}

    singles = {p for p in counts if len(p) == 1}
    for _ in range(n_iters):
        logp, unk = _model_logp(counts)
        seg = _segment_words_arrow(wc, logp, max_piece_len, unk)
        used = {
            r["piece"]: int(r["n"])
            for r in seg.select("cnt", F.explode("sym").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("cnt").alias("n"))
            .collect()
        }
        counts = _prune_counts(counts, used, singles, vocab_size)
    return counts


def _validate_train_args(
    vocab_size: int, seed_size: int, max_piece_len: int
) -> None:
    if vocab_size < 1 or seed_size < vocab_size:
        raise ValueError(
            f"need seed_size >= vocab_size >= 1, got {seed_size}/{vocab_size}"
        )
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")


def train_unigram(
    df: DataFrame,
    vocab_size: int = 400,
    seed_size: int = 1200,
    n_iters: int = 2,
    max_piece_len: int = 6,
    min_seed_count: int = 2,
) -> tuple[dict[str, int], SegTable]:
    """Learn a unigram-LM piece vocabulary from the corpus (module
    docstring has the full design). Returns ``(model, table)``: the
    final integer piece counts ``{piece: count}`` — probabilities are
    derived on demand by :func:`_model_logp` so every consumer shares
    one arithmetic — and the word→pieces Viterbi segmentation of every
    distinct corpus word under that model (what
    :func:`word_segment_unigram` computes; identity pinned by
    tests/test_unigram.py).

    Tiering (:func:`bpe.word_table_tier`): the corpus collapses to its
    checkpointed word-frequency table once; a :func:`materialize.fits`
    probe over it (never a collect — the over-cap path must not ship
    rows to the driver) routes to

    - **driver tier** (≤ :data:`MAX_DRIVER_WORDS` distinct words):
      collect the frequency table once and run seeding + EM + pruning
      and the final segmentation in-process — the table is model-scale
      by the module's own convention, and at this cardinality every
      Spark round is pure scheduling cost (measured r17: 12 jobs → 4,
      and the first ``mapInPandas`` round no longer pays the
      Python-worker warm-up);
    - **distributed tier** (past the cap): the vocabulary-scale
      seeding + EM and the Arrow Viterbi pass over the same
      checkpointed table.

    Both tiers share integer counts, :func:`_model_logp`,
    :func:`_viterbi` and :func:`_prune_counts`, so the model and the
    table are bit-identical (pinned by tests/test_unigram.py)."""
    _validate_train_args(vocab_size, seed_size, max_piece_len)
    wc, head = word_table_tier(df, MAX_DRIVER_WORDS)
    if head is None:
        model = _train_unigram_dist(
            wc, vocab_size, seed_size, n_iters, max_piece_len, min_seed_count
        )
        logp, unk = _model_logp(model)
        seg = _segment_words_arrow(wc.select("word"), logp, max_piece_len, unk)
        return model, segmentation_rows(seg)
    model = _train_unigram_py(
        head, vocab_size, seed_size, n_iters, max_piece_len, min_seed_count
    )
    logp, unk = _model_logp(model)
    table = sorted(
        (w, tuple(_viterbi(w, logp, max_piece_len, unk))) for w, _ in head
    )
    return model, table


def word_segment_unigram(
    df: DataFrame,
    model: dict[str, int],
    max_piece_len: int = 6,
) -> DataFrame:
    """Segment every distinct corpus word under a trained unigram
    model — same ``(word, sym, n_sub)`` contract as
    :func:`bpe.word_segment_table`, so
    :func:`bpe.bpe_token_counts` / :func:`bpe.encode_token_ids`
    consume it unchanged. Vocabulary-scale: one distinct shuffle +
    the Arrow Viterbi map."""
    logp, unk = _model_logp(model)
    words = corpus_words(df, "text").distinct()
    seg = _segment_words_arrow(words, logp, max_piece_len, unk)
    return seg.select("word", "sym", F.size("sym").cast("long").alias("n_sub"))

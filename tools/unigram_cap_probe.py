#!/usr/bin/env python
"""Time the two unigram-LM training tiers on a synthetic word table, to
size the driver-tier cap by measurement.

The table is in-process: ``n`` distinct syllable-built words (2-4 of 400
syllables, Zipf-like counts), checkpointed once like the trainer's own
word table. Each tier is timed end to end from that table: the driver
tier collects it and runs seeding, EM, pruning and the final Viterbi
table in Python; the distributed tier runs the same steps as Spark jobs
and streams the table back. Models are checked equal.

Usage: python tools/unigram_cap_probe.py [n_words ...]   (default 200000 2000000)
Gate parameters (plans/corpus_ops.py ``_UNI_*``) are used throughout.
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB, SEED, ITERS, MAXLEN, MIN_SEED = 48, 300, 2, 6, 2


def synthetic_words(n: int, seed: int = 7) -> list[tuple[str, int]]:
    rnd = random.Random(seed)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    syl = sorted({rnd.choice(cons) + rnd.choice(vows) + rnd.choice(["", *cons])
                  for _ in range(2000)})[:400]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rnd.choice(syl) for _ in range(rnd.randint(2, 4))))
    return [(w, max(1, int(1000 / (i + 1) ** 0.8)))
            for i, w in enumerate(sorted(words))]


def main() -> None:
    import pandas as pd

    from scraping_etl_spark.operators import unigram as U
    from scraping_etl_spark.operators.bpe import segmentation_rows
    from scraping_etl_spark.session import get_spark

    spark = get_spark(app_name="unigram-cap-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for n in [int(a) for a in sys.argv[1:]] or [200_000, 2_000_000]:
        pdf = pd.DataFrame(synthetic_words(n), columns=["word", "cnt"])
        wc = spark.createDataFrame(pdf, "word string, cnt long").localCheckpoint()
        del pdf

        t0 = time.perf_counter()
        head = [(r["word"], int(r["cnt"])) for r in wc.collect()]
        model_d = U._train_unigram_py(head, VOCAB, SEED, ITERS, MAXLEN, MIN_SEED)
        logp, unk = U._model_logp(model_d)
        table_d = sorted((w, tuple(U._viterbi(w, logp, MAXLEN, unk)))
                         for w, _ in head)
        driver_s = time.perf_counter() - t0
        del head

        t0 = time.perf_counter()
        model_s = U._train_unigram_dist(wc, VOCAB, SEED, ITERS, MAXLEN, MIN_SEED)
        logp, unk = U._model_logp(model_s)
        table_s = segmentation_rows(
            U._segment_words_arrow(wc.select("word"), logp, MAXLEN, unk)
        )
        dist_s = time.perf_counter() - t0

        assert model_d == model_s and table_d == table_s
        print(f"n_words={n} driver_s={driver_s:.1f} dist_s={dist_s:.1f}",
              flush=True)
        del table_d, table_s


if __name__ == "__main__":
    main()

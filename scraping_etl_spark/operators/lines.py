"""Line/paragraph-level corpus surgery: cross-document line dedup and
line-quality filtering (the C4 recipe, Raffel et al. 2020, "Exploring
the limits of transfer learning with a unified text-to-text
transformer" §2.2 — boilerplate lives at LINE granularity, not
document granularity).

Document-level dedup (``operators/dedup.py``) keeps one copy of a
duplicated page; it cannot touch the "subscribe to our newsletter" /
"all rights reserved" boilerplate stitched into millions of OTHERWISE
DISTINCT pages. C4's fixes, re-expressed Spark-first:

- :func:`dedup_lines` — keep only the globally FIRST occurrence of
  every line (C4: "we discarded all but one of any three-sentence
  span occurring more than once"; the unit here is the line, the
  standard simplification RefinedWeb also uses). First = minimum
  ``(doc_id, line_pos)``, so the result is deterministic under any
  partitioning. Plan: posexplode → one line-cardinality shuffle
  (rank-1 window on the line hash) → sorted re-assembly per doc.
  The shuffle keys on the 32-byte md5, not the line text, so wide
  lines never cross the exchange; this line-cardinality pass is the
  honest cost of global line dedup (C4 pays exactly the same) and
  shards uniformly by hash at any scale.
- :func:`filter_quality_lines` — C4's per-line rules as a ZERO-SHUFFLE
  higher-order filter: keep lines with at least ``min_words`` words
  and (optionally) terminal punctuation, dropping bracket/boilerplate
  lines; reassembly stays inside the same projection. The
  ``_bind``-before-lambda discipline applies (single-evaluation
  hazard, operators/dedup.py).

Both return the full frame with ``text`` rewritten and per-doc
counters, so they compose with every downstream gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scraping_etl_spark.operators.dedup import _bind


def split_lines(text: Column | str, sep: str = "\n") -> Column:
    """Lines of ``text`` with surrounding whitespace trimmed; empty
    lines dropped (both engines agree on the canonical form)."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.transform(F.split(c, F.lit(sep), -1), lambda x: F.trim(x))
    return F.filter(trimmed, lambda x: x != "")


def dedup_lines(df: DataFrame) -> DataFrame:
    """Cross-document exact line dedup, first-occurrence-wins.

    Every occurrence of a line other than the one with the minimum
    ``(doc_id, position)`` is removed — including repeats INSIDE one
    document. Documents reassemble from their surviving lines in
    original order (a doc whose every line is boilerplate comes back
    with empty text, the honest outcome). Returns ``doc_id``,
    rewritten ``text``, ``n_lines`` (pre-dedup), ``n_kept``.
    """
    return _reassemble(
        df, _first_occurrences(df, "doc_id", "text", "\n"), "doc_id", "text", "\n"
    )


def _first_occurrences(
    df: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """``(id, pos, line, _h)`` rows of every line's first occurrence,
    first = minimum ``(id, pos)`` within the line's md5 ``_h``: the
    window :func:`dedup_lines` and ``streaming.pipeline.line_dedup_stream``
    share."""
    # non-outer explode: a doc with no (non-empty) lines contributes no
    # rows here and comes back via _reassemble's left join — this keeps
    # every window partition keyed on a REAL line hash (an outer
    # explode would funnel all empty docs into one NULL-hash partition,
    # a single-task hot spot at scale)
    lines = df.select(
        F.col(id_col),
        F.posexplode(split_lines(text_col, sep)).alias("pos", "line"),
    ).withColumn("_h", F.md5("line"))
    w = Window.partitionBy("_h").orderBy(id_col, "pos")
    return lines.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") == 1
    )


def _reassemble(
    df: DataFrame, kept: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """Rebuild each document of ``df`` from its surviving ``kept``
    ``(id, pos, line)`` rows in original line order (a sorted
    collect per doc); a doc with no survivor comes back with empty
    text. Returns ``(id, text, n_lines, n_kept)``."""
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("_new_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return (
        df.select(
            F.col(id_col),
            F.size(split_lines(text_col, sep)).cast("long").alias("n_lines"),
        )
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_new_text"), F.lit("")).alias(text_col),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        )
    )


#: C4's terminal-punctuation set.
TERMINAL_PUNCT = (".", "!", "?", '"', "'")


def filter_quality_lines(
    df: DataFrame,
    min_words: int = 3,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """C4 line rules, zero shuffle: a line survives iff it has at
    least ``min_words`` whitespace words, does not contain a curly
    brace (C4's code filter) and — when ``require_terminal_punct`` —
    ends in one of :data:`TERMINAL_PUNCT`. Returns the frame with
    ``text`` rewritten plus ``n_lines``/``n_kept`` counters; the
    whole operator is one projection (per-row array expressions)."""
    if min_words < 1:
        raise ValueError(f"min_words must be >= 1, got {min_words}")

    def _keep(x: Column) -> Column:
        n_words = F.size(F.filter(F.split(x, r"\s+"), lambda t: t != ""))
        ok = (n_words >= min_words) & (~x.contains("{")) & (~x.contains("}"))
        if require_terminal_punct:
            ends = None
            for p in TERMINAL_PUNCT:
                e = x.endswith(p)
                ends = e if ends is None else (ends | e)
            ok = ok & ends
        return ok

    def _apply(ls: Column) -> Column:
        kept = F.filter(ls, _keep)
        return F.struct(
            F.array_join(kept, "\n").alias("text"),
            F.size(ls).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept"),
        )

    out = _bind(split_lines("text"), _apply)
    other = [c for c in df.columns if c != "text"]
    return df.select(*other, out.alias("_q")).select(
        *other,
        F.col("_q.text").alias("text"),
        F.col("_q.n_lines").alias("n_lines"),
        F.col("_q.n_kept").alias("n_kept"),
    )


def remove_common_lines(
    df: DataFrame,
    min_df_frac: float = 0.5,
    min_group_docs: int = 3,
) -> DataFrame:
    """Host-level boilerplate removal (the RefinedWeb/jusText signal):
    a line appearing in at least ``min_df_frac`` of a group's documents
    is template chrome — navigation, cookie banners, footers — and is
    dropped from EVERY document of that group (unlike
    :func:`dedup_lines`, which keeps the first copy: boilerplate has no
    first copy worth keeping). Groups with fewer than
    ``min_group_docs`` documents are left untouched (a 2-doc host
    can't distinguish template from content).

    Plan: distinct (group, line-hash, doc) → line document-frequency
    per group (one partial-agg shuffle at distinct-line cardinality) →
    the boilerplate set joins back LEFT-ANTI on (group, hash). Group
    doc counts ride a broadcast (group cardinality = host count);
    :func:`_reassemble` rebuilds the documents. Returns
    ``(id, text, n_lines, n_kept)``."""
    if not 0.0 < min_df_frac <= 1.0:
        raise ValueError(f"min_df_frac must be in (0, 1], got {min_df_frac}")
    if min_group_docs < 1:
        raise ValueError(f"min_group_docs must be >= 1, got {min_group_docs}")
    lines = df.select(
        F.col("doc_id"),
        F.col("source").alias("_g"),
        F.posexplode(split_lines("text")).alias("pos", "line"),
    ).withColumn("_h", F.md5("line"))
    group_sizes = df.groupBy(F.col("source").alias("_g")).agg(
        F.count(F.lit(1)).alias("_gn")
    )
    line_df = (
        lines.select("_g", "_h", "doc_id")
        .distinct()
        .groupBy("_g", "_h")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    boiler = (
        line_df.join(F.broadcast(group_sizes), "_g")
        .filter(
            (F.col("_gn") >= min_group_docs)
            & (F.col("_df") >= F.lit(min_df_frac) * F.col("_gn"))
        )
        .select("_g", "_h")
    )
    kept = lines.join(boiler, ["_g", "_h"], "left_anti")
    return _reassemble(df, kept, "doc_id", "text", "\n")

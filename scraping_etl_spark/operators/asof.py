"""As-of join — SURVEY §2.3 J4.

The reference's backward as-of lookup finds, per article, the journal
quartile at the article's Year falling back up to 9 earlier years
(ScienceDirect/SD_Upd.py:89-98; IEEE/IEEE_Upd.py:88-97). Spark has no
native as-of join; the classic distributed formulations are:

1. range join (probe.on - tol <= build.on <= probe.on) + window — the
   range condition degenerates to a broadcast-nested-loop or explodes on
   dense keys;
2. ``applyInPandas`` + ``pd.merge_asof`` per group — correct but leaves
   the JVM;
3. **union + sort + last(ignorenulls) window** — one shuffle on
   (by, on), no row explosion, stays fully in whole-stage codegen.

This module implements (3): tag build rows 0 and probe rows 1, union by
name, then per ``by``-partition ordered by (on, tag) take the running
``last`` non-null build value. Equal ``on`` values: build sorts before
probe, so a build row at exactly probe.on matches (inclusive, like
DuckDB's ``ASOF JOIN ... ON probe.on >= build.on``).

Scale: cost is one shuffle + sort of |probe|+|build| rows — identical
asymptotics to a sort-merge join; AQE handles skewed ``by`` keys.

Determinism: if build has several rows with identical (by, on) the match
is ambiguous; pass ``tie_break`` (build column names, descending) to pick
a deterministic winner — the reference's Q8 quirk (first-match-in-file-
order) is replaced by this explicit tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TAG = "__asof_tag"
_ON2 = "__asof_on"
_PAY = "__asof_payload"


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    by: list[str] | str,
    value_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Left as-of join: attach to each probe row the build row with the
    nearest ``on`` value at-or-before it (``backward``) / at-or-after it
    (``forward``), matching on equal ``by`` keys.

    ``tolerance`` (same unit as ``on``; seconds for timestamps) nulls out
    matches farther than the limit — the reference's "at most 9 years
    back" fallback window is ``tolerance=9`` on an integer year column.
    """
    if isinstance(by, str):
        by = [by]
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    value_cols = value_cols or [c for c in build.columns if c not in set(by) | {on}]
    # Deterministic winner among equal (by, on) build rows.
    if tie_break:
        w = Window.partitionBy(*by, on).orderBy(*[F.desc(c) for c in tie_break])
        build = (
            build.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    # Output name for each attached build column (suffix on collision).
    out_names = {
        c: (c + "_asof" if c in probe.columns else c) for c in value_cols
    }

    is_ts = isinstance(build.schema[on].dataType, T.TimestampType)

    # All attached columns ride in ONE struct so every value (and the
    # tolerance decision) provably comes from the same build row. With
    # per-column last(ignorenulls) a build row carrying a NULL in one value
    # column would silently backfill that column from an *older* build row
    # while the others came from the newer one — a stitched match.
    payload = F.struct(
        F.col(on).alias(_ON2),
        *[F.col(c).alias(out_names[c]) for c in value_cols],
    )
    b = build.select(*by, F.col(on), payload.alias(_PAY)).withColumn(_TAG, F.lit(0))
    p = probe.withColumn(_TAG, F.lit(1))

    # Probe rows lack _PAY → NULL struct → skipped by last(ignorenulls).
    unioned = p.unionByName(b, allowMissingColumns=True)

    if direction == "backward":
        order = [F.col(on).asc(), F.col(_TAG).asc()]
    else:
        order = [F.col(on).desc(), F.col(_TAG).asc()]
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    out = (
        unioned.withColumn(_PAY, F.last(_PAY, ignorenulls=True).over(w))
        .filter(F.col(_TAG) == 1)
        .drop(_TAG)
    )

    if tolerance is not None:
        lhs, rhs = F.col(on), F.col(_PAY)[_ON2]
        if is_ts:
            dist = F.unix_micros(lhs) - F.unix_micros(rhs)
            tol = F.lit(int(tolerance * 1_000_000))
        else:
            dist = lhs.cast("double") - rhs.cast("double")
            tol = F.lit(float(tolerance))
        if direction == "forward":
            dist = -dist
        too_far = rhs.isNotNull() & (dist > tol)
        out = out.withColumn(_PAY, F.when(too_far, F.lit(None)).otherwise(F.col(_PAY)))

    return out.select(
        *[F.col(c) for c in probe.columns],
        *[F.col(_PAY)[out_names[c]].alias(out_names[c]) for c in value_cols],
        F.col(_PAY)[_ON2].alias(f"{on}_asof"),
    )

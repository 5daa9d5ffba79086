"""Slowly-changing-dimension maintenance (SCD type 2).

The reference's star schema rebuilds its dims from scratch on every ETL
run (``DB/ETL.ipynb`` — dims are distinct-projections of the day's
scrape), which silently loses history: an author whose university
changes, a journal whose quartile moves, just overwrite. The warehouse-
standard fix is an SCD2 merge — every change CLOSES the current version
(stamps ``effective_to``) and APPENDS a new current one — and it is the
batch face of the incremental star maintenance the streaming layer
already does (streaming/pipeline.py dim upserts keep only latest state;
this operator keeps the full version history).

Plan shape at 100 TB: one equi-join dim×updates on the natural key —
update batches are small relative to the dimension (a day's changes vs
years of history), so the update side BROADCASTS under
``materialize.BROADCAST_ROWS`` rows, behind the same measured
``materialize.fits`` guard as the other small-side joins in this repo;
past the cap the hint drops and the same plan is a shuffle
hash join on the key. Unchanged rows never move: the merge is a
left join + map-side column selection, not a rewrite of history rows
(closed versions pass through untouched). No windows, no global order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark import materialize as M

#: The version bookkeeping columns every SCD2 dimension carries.
VERSION_COLS = ("effective_from", "effective_to", "is_current")


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key_col: str,
    compare_cols: list[str],
    effective_date,
) -> DataFrame:
    """Merge an update batch into an SCD2 dimension.

    ``dim`` holds the versioned history: attribute columns +
    ``effective_from`` / ``effective_to`` (null = open) / ``is_current``.
    ``updates`` holds one row per natural key with the new attribute
    values. Semantics per key:

    - key absent from updates → all versions pass through unchanged;
    - update row identical on every ``compare_cols`` → no new version
      (idempotent re-delivery of the same snapshot is a no-op);
    - changed → the OPEN version is closed (``effective_to =
      effective_date``, ``is_current = false``) and a new open version
      with the update's attributes and ``effective_from =
      effective_date`` is appended;
    - key new (no open version in ``dim``) → inserted as a fresh open
      version.

    Output schema = ``dim``'s. Change detection is null-safe
    (``eqNullSafe`` per compare column), so NULL→value and value→NULL
    transitions version correctly."""
    attr_cols = [c for c in dim.columns if c not in VERSION_COLS]
    for c in attr_cols:
        if c != key_col and c not in compare_cols and c not in updates.columns:
            raise ValueError(
                f"scd2_merge: dim attribute {c!r} is neither compared nor "
                "present in the update batch"
            )
    u = updates.select(
        [F.col(key_col).alias("_u_key")]
        + [F.col(c).alias(f"_u_{c}") for c in attr_cols if c != key_col]
    )
    u_side = F.broadcast(u) if M.fits(u, M.BROADCAST_ROWS) else u

    eff = F.lit(effective_date).cast("date")

    # closed versions pass through untouched; only OPEN rows join the batch
    closed = dim.filter(~F.col("is_current"))
    open_rows = dim.filter(F.col("is_current"))
    j = open_rows.join(u_side, open_rows[key_col] == F.col("_u_key"), "left")

    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(c).eqNullSafe(F.col(f"_u_{c}"))
    has_upd = F.col("_u_key").isNotNull()
    is_change = has_upd & ~same

    # branch 1: open rows — kept open (no update / identical) or closed
    kept_or_closed = j.select(
        *[F.col(c) for c in attr_cols],
        F.col("effective_from"),
        F.when(is_change, eff).otherwise(F.col("effective_to")).alias("effective_to"),
        F.when(is_change, F.lit(False))
        .otherwise(F.col("is_current"))
        .alias("is_current"),
    )
    # branch 2: new versions for changed keys
    new_versions = j.filter(is_change).select(
        F.col(key_col),
        *[F.col(f"_u_{c}").alias(c) for c in attr_cols if c != key_col],
        eff.alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    ).select(*attr_cols, *VERSION_COLS)
    # branch 3: brand-new keys (in updates, no open version)
    inserts = (
        u.join(
            open_rows.select(F.col(key_col).alias("_d_key")),
            F.col("_u_key") == F.col("_d_key"),
            "left_anti",
        )
        .select(
            F.col("_u_key").alias(key_col),
            *[F.col(f"_u_{c}").alias(c) for c in attr_cols if c != key_col],
            eff.alias("effective_from"),
            F.lit(None).cast("date").alias("effective_to"),
            F.lit(True).alias("is_current"),
        )
        .select(*attr_cols, *VERSION_COLS)
    )
    out_cols = attr_cols + list(VERSION_COLS)
    return (
        closed.select(*out_cols)
        .unionByName(kept_or_closed.select(*out_cols))
        .unionByName(new_versions)
        .unionByName(inserts)
    )


def scd2_asof(dim: DataFrame, as_of: str) -> DataFrame:
    """Point-in-time (time-travel) view of an SCD2 dimension: the
    version of each key valid AT ``as_of`` (ISO date string) under the
    half-open convention ``from <= as_of < to`` with an open ``to``
    (null) meaning current. The payoff of carrying SCD2 history: any
    past state of the dimension is ONE map-side filter over the
    versioned table — no join, no window, no snapshot copies. Keys
    born after ``as_of`` simply have no row."""
    d = F.to_date(F.lit(as_of))
    return dim.filter(
        (F.col("effective_from") <= d)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > d))
    )

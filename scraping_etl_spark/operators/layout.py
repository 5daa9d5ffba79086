"""Data-layout maintenance: Z-order clustering and small-file
compaction — the table-maintenance operators a 100 TB parquet lake
needs between writes (Delta/Iceberg ``OPTIMIZE [ZORDER BY]``, Databricks
engineering blog 2018; re-expressed here over plain parquet with pure
DataFrame machinery).

Why Z-order matters at scale: parquet scans prune with per-file (and
per-row-group) min/max column statistics. A table laid out in arrival
or single-key order gives tight min/max ranges on ONE column at best —
a predicate on any other column still touches every file. Interleaving
the bits of two (or more) columns into one Z-value and range-writing on
it gives every file a tight bounding BOX over all interleaved columns,
so conjunctive predicates skip most files on any of them. The Z-value
is pure integer arithmetic (bit interleaving) — JVM-side,
whole-stage-codegen'd, and reproducible bit-for-bit by a DuckDB oracle.

Why compaction matters: streaming/incremental sinks (the repo's
``foreachBatch`` twins, any micro-batched ingest) accrete files far
below the ~128 MB a scan wants; file listing + footer reads come to
dominate. :func:`compact_parquet_dir` rewrites a directory to
size-targeted files with a rename-aside swap (the
``_merge_overwrite_by_key`` convention from streaming/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Bits interleaved per column. 21 bits × 2 columns = 42-bit Z-values —
#: fits a long with headroom, and 2^21 distinct cells per dimension is
#: far finer than file-level min/max pruning can exploit.
Z_BITS = 21


def zvalue(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Morton/Z-order interleave of two non-negative integer columns:
    bit ``i`` of ``x`` lands at position ``2i``, bit ``i`` of ``y`` at
    ``2i+1``. Columns are clamped into ``[0, 2^bits)`` (callers
    quantize real domains first — see :func:`z_order_layout`). The
    expression is a constant-folded sum of ``bits × 2`` masked terms —
    no UDF, no loop at runtime."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    cap = (1 << bits) - 1
    xs = F.least(F.greatest(x.cast("long"), F.lit(0)), F.lit(cap))
    ys = F.least(F.greatest(y.cast("long"), F.lit(0)), F.lit(cap))
    z: Column = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.when(
            xs.bitwiseAND(F.lit(1 << i)) > 0, F.lit(1 << (2 * i))
        ).otherwise(F.lit(0)) + F.when(
            ys.bitwiseAND(F.lit(1 << i)) > 0, F.lit(1 << (2 * i + 1))
        ).otherwise(F.lit(0))
    return z


def z_order_layout(df: DataFrame, x_col: str, y_col: str, n_files: int) -> DataFrame:
    """Re-layout ``df`` for two-column min/max pruning: compute the
    Z-value of ``(x, y)``, range-repartition on it into ``n_files``
    output partitions and sort within each — every written file then
    covers a compact Z-range, i.e. a tight bounding box in BOTH
    columns, so a later scan with a predicate on either (or both)
    skips most files on footer stats alone. The written data is the
    SAME rows (the helper column is dropped); only physical order
    changes. Range partitioning samples the Z distribution, so skewed
    domains still yield balanced files.

    The locality claim is pinned by
    ``tests/test_layout.py::test_zorder_tightens_partition_bounding_boxes``:
    on a uniform grid, mean per-partition bounding-box area under
    Z-layout is a small fraction of single-column-order layout's."""
    zc = zvalue(F.col(x_col), F.col(y_col))
    return (
        df.withColumn("_z", zc)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def compact_parquet_dir(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a parquet directory to ~``target_bytes`` files: measure
    the current on-disk size, rewrite into ``ceil(size / target)``
    files via a sibling temp dir, swap with rename-aside (never a
    window where readers see a half-written dir), and return the new
    file count. Row content is preserved exactly; intra-file order is
    whatever the coalesced read produces (compaction is a physical
    operation — callers who need order re-layout with
    :func:`z_order_layout` after).

    Scale note: ``coalesce`` (not ``repartition``) — compaction must
    not shuffle 100 TB, it narrows the read into fewer write tasks."""
    import math
    import os
    import shutil

    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be > 0, got {target_bytes}")
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_bytes))
    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    spark.read.parquet(path).coalesce(n).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(
        1
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )

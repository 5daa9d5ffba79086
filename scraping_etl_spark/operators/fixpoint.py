"""One exact summing loop for the fixed-point trainers: k-means (and
through it PQ, IVF-PQ and SemDeDup), logistic regression and
Fellegi–Sunter EM. Each of their iterations
sums an int64 vector over all rows, then updates model-sized state on
the driver; integer addition is associative, so :func:`exact_sums`
gives the same bits in both tiers and under every partitioning.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

#: Rows a trainer's projection may hold for the driver tier. Measured
#: on 4 cores, dim-64 k-means (k=16, 5 iterations), driver vs
#: distributed tier: 5.2 / 8.0 s at 100k rows, 12.8 / 11.7 s at 250k,
#: 44.7 / 34.5 s at 1M, so the tiers cross near 200k (driver peak RSS
#: 440 MB at 250k). Logistic regression stays faster on the driver
#: through 1M rows (d=6, 40 iterations: 12.9 vs 66.9 s).
FIT_DRIVER_ROWS = 200_000

#: Rows per driver-tier kernel call: bounds the kernels' temporaries
#: like the Arrow batch size bounds them past the cap.
_SLICE_ROWS = 10_000


@contextmanager
def exact_sums(df: DataFrame, cols: list):
    """Yield ``total(kernel)``: the element-wise int64 sum, as Python
    ints, of ``kernel`` over every row of ``df.select(*cols)`` (``[]``
    when there are no rows). A kernel gets a slice of rows as a dict of
    numpy columns, array columns as float64 matrices, and returns a
    flat int64 vector.

    ``limit(cap + 1).toArrow()`` is both the tier probe and the
    driver-tier collect: one job whatever the partitioning and the
    session's Arrow conf (``toPandas`` without Arrow falls back to
    ``collect``, whose scale-up launches a job per partition batch
    tried). Within the cap every ``total`` runs on the driver; past it
    the projection is persisted ``DISK_ONLY`` and every ``total`` is one
    ``mapInPandas`` job over the Arrow batches, whose partial vectors
    the driver adds."""
    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel

    proj = df.select(*cols)
    local = proj.limit(FIT_DRIVER_ROWS + 1).toArrow().to_pandas()
    if len(local) <= FIT_DRIVER_ROWS:
        n, arrays = len(local), _arrays(local)
        del local
        yield lambda kernel: _total(
            kernel({c: a[i:i + _SLICE_ROWS] for c, a in arrays.items()})
            for i in range(0, n, _SLICE_ROWS)
        )
        return
    del local
    proj = proj.persist(StorageLevel.DISK_ONLY)

    def total(kernel):
        def partials(batches):
            for pdf in batches:
                if len(pdf):
                    yield pd.DataFrame({"_s": [kernel(_arrays(pdf))]})

        rows = proj.mapInPandas(partials, "_s array<long>").collect()
        return _total(np.asarray(r[0], dtype=np.int64) for r in rows)

    try:
        yield total
    finally:
        proj.unpersist()


def _arrays(pdf) -> dict:
    """Pandas columns as numpy; array cells stack into a float64 matrix
    (a float column widens exactly, like Spark's cast)."""
    import numpy as np

    out = {c: pdf[c].to_numpy() for c in pdf.columns}
    for c, a in out.items():
        if a.dtype == object and len(a):
            out[c] = np.stack(a).astype(np.float64)
    return out


def _total(parts) -> list:
    acc = None
    for p in parts:
        acc = p if acc is None else acc + p
    return [] if acc is None else acc.tolist()


def half_up(y):
    """HALF_UP (away from zero) ``round(y)`` as int64, like Spark's
    ``round(x, 0)``; numpy's round is half-to-even. The floor/fraction
    split is exact for ``|y| < 2**52``."""
    import numpy as np

    a = np.abs(y)
    fl = np.floor(a)
    return np.copysign(fl + (a - fl >= 0.5), y).astype(np.int64)

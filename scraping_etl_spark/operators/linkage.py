"""Probabilistic record linkage: Fellegi–Sunter match scoring.

The classical decision-theoretic layer ABOVE the similarity joins this
library already ships (``dedup.fuzzy_string_pairs`` /
``edit_distance_pairs`` generate candidate pairs; connected components
assemble entities): given per-field agreement patterns on candidate
pairs and a LABELED pair sample, estimate each field's

- ``m``  = P(field agrees | pair is a true match)
- ``u``  = P(field agrees | pair is a non-match)

and score every pair with the log-likelihood-ratio sum

    score = Σ_field  ln(m/u)            if the field agrees
            Σ_field  ln((1-m)/(1-u))    if it disagrees

(Fellegi & Sunter, JASA 1969; Winkler's survey, 2006). High scores →
link, low → non-link, the middle band → clerical review. With labeled
data the m/u estimates are closed-form count ratios — no EM — which
keeps the whole computation deterministic and oracle-checkable; the
classic unlabeled-EM variant is :func:`fs_em_weights`, an exact
integer-grid fixpoint.

Scale: the weight estimation is ONE partial aggregation over the
labeled pairs producing a single row of plan-constant-sized state; the
scoring join broadcasts that row — zero extra shuffle on the pair
relation, which is the data-scale side at 100 TB. Agreement columns
are caller-provided boolean expressions, so field semantics (exact,
banded numeric, q-gram Jaccard ≥ t) stay in the caller's hands.

Float parity notes (the oracle-hash discipline): estimates use
add-half Laplace smoothing ``(cnt + 0.5) / (n + 1.0)`` so no weight is
±inf; the per-pair score is a FIXED-ORDER expression sum over the
field list (never a groupBy over melted rows, whose float reduction
order is engine-chosen), mirrored verbatim in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark.operators.fixpoint import exact_sums


def fs_weights(labeled: DataFrame, agree_cols: list[str]) -> DataFrame:
    """Per-field m/u probabilities from a labeled pair sample, as ONE
    row with columns ``m_<field>`` / ``u_<field>`` (+ ``n_match`` /
    ``n_nonmatch`` audit counts). Add-half smoothing keeps every
    probability in (0, 1) so the log weights are finite even for a
    field that always (dis)agrees in the sample."""
    if not agree_cols:
        raise ValueError("agree_cols must name at least one field")
    is_m = F.col("is_match").cast("boolean")
    aggs = [
        F.sum(F.when(is_m, 1).otherwise(0)).cast("double").alias("_nm"),
        F.sum(F.when(~is_m, 1).otherwise(0)).cast("double").alias("_nu"),
    ]
    for c in agree_cols:
        a = F.col(c).cast("boolean")
        aggs.append(
            F.sum(F.when(is_m & a, 1).otherwise(0)).cast("double").alias(f"_am_{c}")
        )
        aggs.append(
            F.sum(F.when(~is_m & a, 1).otherwise(0)).cast("double").alias(f"_au_{c}")
        )
    row = labeled.agg(*aggs)
    out = [
        F.col("_nm").cast("long").alias("n_match"),
        F.col("_nu").cast("long").alias("n_nonmatch"),
    ]
    for c in agree_cols:
        out.append(
            ((F.col(f"_am_{c}") + F.lit(0.5)) / (F.col("_nm") + F.lit(1.0)))
            .alias(f"m_{c}")
        )
        out.append(
            ((F.col(f"_au_{c}") + F.lit(0.5)) / (F.col("_nu") + F.lit(1.0)))
            .alias(f"u_{c}")
        )
    return row.select(*out)


#: Fixed-point grid for the EM responsibility sums: each pair's
#: posterior match probability is rounded to an integer grid, so the
#: M-step sums are associative integer additions (the
#: ``token_divergence`` trick). Resolution 1e-9 per pair; int64
#: overflow needs > ~9e9 pairs.
EM_SCALE = 1_000_000_000

#: EM start: every field's m and u, and the match share p.
EM_INIT_M, EM_INIT_U, EM_INIT_P = 0.9, 0.1, 0.5


def fs_em_weights(
    pairs: DataFrame,
    agree_cols: list[str],
    n_iters: int = 5,
) -> dict:
    """UNSUPERVISED Fellegi–Sunter parameter estimation via EM (Winkler
    1988; the deployment case where no labeled pairs exist): treat
    match/non-match as a latent two-class mixture over the per-field
    agreement patterns (conditional independence, the classic FS
    assumption) and iterate from :data:`EM_INIT_M` /
    :data:`EM_INIT_U` / :data:`EM_INIT_P`

    - E-step: per pair, the posterior match responsibility
      ``w = p·Π_i m-term / (p·Π_i m-term + (1-p)·Π_i u-term)`` with
      the products folded in FIXED field order;
    - M-step: ``m_i = E[w·a_i]/E[w]``, ``u_i`` likewise over ``1-w``,
      ``p = E[w]/N`` — each expectation an integer sum of grid-rounded
      responsibilities ``floor(w·S + 0.5)`` (:data:`EM_SCALE`), with
      m, u AND p all add-half-smoothed on the same grid so no
      probability hits 0/1 (an unsmoothed p would make sw=0 / sw=N·S
      absorbing states: the E-step numerator or denominator term would
      collapse to 0 and freeze EM there).

    Returns ``{"p": float, "m": {field: float}, "u": {field: float},
    "n_pairs": int}``. Each iteration is one :func:`fixpoint.exact_sums`
    pass (under the driver cap the whole fixpoint is one job), so the
    fixpoint is the same bits on every engine, tier and partitioning —
    the DuckDB oracle unrolls it as CTEs (plans/ml_ops.py
    ``_fs_em_oracle``). The pair relation is the blocking join's
    candidate output, already data-scale-reduced."""
    if not agree_cols:
        raise ValueError("agree_cols must name at least one field")
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    # a null flag disagrees, as in the oracle's CASE WHEN
    flags = [
        F.coalesce(F.col(c).cast("boolean"), F.lit(False)).alias(c)
        for c in agree_cols
    ]
    import numpy as np

    m = {c: EM_INIT_M for c in agree_cols}
    u = {c: EM_INIT_U for c in agree_cols}
    p = EM_INIT_P
    half, one = EM_SCALE // 2, EM_SCALE

    def em_sums(cols):  # n, Σ wq, then Σ wq and Σ (S − wq) where each field agrees
        num = np.full(len(cols[agree_cols[0]]), p)
        den_u = np.full(len(num), 1.0 - p)
        for c in agree_cols:  # fixed fold order — mirrors in SQL
            num = num * np.where(cols[c], m[c], 1.0 - m[c])
            den_u = den_u * np.where(cols[c], u[c], 1.0 - u[c])
        # floor(x + 0.5) rather than HALF_UP: identical IEEE mul/add/
        # floor on every engine, so the unrolled-CTE SQL oracle
        # reproduces the grid bit-for-bit
        wq = np.floor(num / (num + den_u) * float(EM_SCALE) + 0.5).astype(np.int64)
        out = [len(wq), wq.sum()]
        for c in agree_cols:
            out += [wq[cols[c]].sum(), (EM_SCALE - wq[cols[c]]).sum()]
        return np.asarray(out, dtype=np.int64)

    with exact_sums(pairs, flags) as total:
        for _ in range(n_iters):
            tot = total(em_sums)
            if not tot:
                raise ValueError("fs_em_weights: empty pair relation")
            n_pairs, sw = tot[0], tot[1]
            su = n_pairs * one - sw
            # add-half smoothing on p too: if responsibilities collapse
            # (sw == 0 or sw == n·S) an unsmoothed p would hit exactly
            # 0/1 and the next E-step would be frozen at that absorbing
            # state — the same rationale as the m/u smoothing below
            p = (sw + half) / float(n_pairs * one + one)
            for i, c in enumerate(agree_cols):
                m[c] = (tot[2 + 2 * i] + half) / float(sw + one)
                u[c] = (tot[3 + 2 * i] + half) / float(su + one)
    return {"p": p, "m": m, "u": u, "n_pairs": n_pairs}


def fs_em_weights_df(
    spark_pairs: DataFrame,
    agree_cols: list[str],
    **kw,
) -> DataFrame:
    """The :func:`fs_em_weights` fixpoint reshaped to the
    :func:`fs_weights` one-row relation (``m_*`` / ``u_*`` columns +
    ``p_match``), so :func:`fs_score` serves EM-trained weights
    unchanged."""
    est = fs_em_weights(spark_pairs, agree_cols, **kw)
    spark = spark_pairs.sparkSession
    cols = {"p_match": est["p"]}
    for c in agree_cols:
        cols[f"m_{c}"] = est["m"][c]
        cols[f"u_{c}"] = est["u"][c]
    return spark.createDataFrame([tuple(cols.values())], list(cols.keys()))


def fs_score_expr(agree_cols: list[str]) -> Column:
    """The Fellegi–Sunter score as a fixed-order expression over
    ``agree_cols`` and the joined ``m_*`` / ``u_*`` weight columns —
    exposed so callers (and the SQL oracle) share one definition of
    the fold order."""
    score: Column | None = None
    for c in agree_cols:
        m, u = F.col(f"m_{c}"), F.col(f"u_{c}")
        w = F.when(
            F.col(c).cast("boolean"), F.log(m / u)
        ).otherwise(F.log((F.lit(1.0) - m) / (F.lit(1.0) - u)))
        score = w if score is None else score + w
    assert score is not None
    return score


def fs_score(pairs: DataFrame, weights: DataFrame, agree_cols: list[str]) -> DataFrame:
    """Score candidate pairs against trained :func:`fs_weights`: the
    one-row weights relation broadcasts onto the pair relation and the
    log-likelihood-ratio sum lands as ``fs_score`` (rounded to 6, the
    oracle-hash convention). All input columns pass through."""
    joined = pairs.crossJoin(F.broadcast(weights))
    return joined.select(
        *pairs.columns,
        F.round(fs_score_expr(agree_cols), 6).alias("fs_score"),
    )

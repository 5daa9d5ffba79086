"""Fellegi–Sunter linkage scoring units (operators/linkage.py):
hand-computed m/u estimates, score arithmetic, smoothing floors."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark.operators import linkage as LK


def _labeled(spark):
    # 4 matches, 2 non-matches; field f1 agrees on 3/4 matches and
    # 1/2 non-matches; f2 agrees on all matches and no non-match
    rows = [
        (True, True, True),
        (True, True, True),
        (True, True, True),
        (True, False, True),
        (False, True, False),
        (False, False, False),
    ]
    return spark.createDataFrame(
        rows, "is_match boolean, f1 boolean, f2 boolean"
    )


def test_fs_weights_hand_computed(spark):
    w = LK.fs_weights(_labeled(spark), ["f1", "f2"]).collect()[0]
    assert w.n_match == 4 and w.n_nonmatch == 2
    assert w.m_f1 == pytest.approx((3 + 0.5) / (4 + 1))
    assert w.u_f1 == pytest.approx((1 + 0.5) / (2 + 1))
    assert w.m_f2 == pytest.approx((4 + 0.5) / (4 + 1))
    # f2 never agrees on a non-match -> smoothing floor, not 0
    assert w.u_f2 == pytest.approx(0.5 / 3)


def test_fs_score_hand_computed(spark):
    lab = _labeled(spark)
    w = LK.fs_weights(lab, ["f1", "f2"])
    pairs = spark.createDataFrame(
        [(1, True, True), (2, False, False)], "pid long, f1 boolean, f2 boolean"
    )
    got = {r.pid: r.fs_score for r in
           LK.fs_score(pairs, w, ["f1", "f2"]).collect()}
    m1, u1 = 3.5 / 5, 1.5 / 3
    m2, u2 = 4.5 / 5, 0.5 / 3
    exp_agree = math.log(m1 / u1) + math.log(m2 / u2)
    exp_dis = math.log((1 - m1) / (1 - u1)) + math.log((1 - m2) / (1 - u2))
    assert got[1] == pytest.approx(round(exp_agree, 6), abs=1e-9)
    assert got[2] == pytest.approx(round(exp_dis, 6), abs=1e-9)
    # agreement raises the score, disagreement lowers it
    assert got[1] > 0 > got[2]


def test_fs_weights_requires_fields(spark):
    with pytest.raises(ValueError, match="at least one field"):
        LK.fs_weights(_labeled(spark), [])


def test_fs_score_passes_through_columns(spark):
    lab = _labeled(spark)
    w = LK.fs_weights(lab, ["f1"])
    pairs = spark.createDataFrame(
        [(7, "x", True)], "pid long, tag string, f1 boolean"
    )
    out = LK.fs_score(pairs, w, ["f1"])
    assert out.columns == ["pid", "tag", "f1", "fs_score"]
    assert out.collect()[0].tag == "x"


# ---------------------------------------------------------------------------
# fs_em_weights (unsupervised EM, Winkler 1988)
# ---------------------------------------------------------------------------

def _python_em(rows, fields, n_iters, m0, u0, p0):
    """Reference EM with the identical fixed-order products and
    integer-grid M-step — exact-equality oracle for the Spark loop."""
    from scraping_etl_spark.operators.linkage import EM_SCALE

    half, one = EM_SCALE // 2, EM_SCALE
    m = {c: m0 for c in fields}
    u = {c: u0 for c in fields}
    p = p0
    n = len(rows)
    for _ in range(n_iters):
        sw = 0
        swa = {c: 0 for c in fields}
        sua = {c: 0 for c in fields}
        for r in rows:
            num, den_u = p, 1.0 - p
            for c in fields:
                a = r[c]
                num *= m[c] if a else 1.0 - m[c]
                den_u *= u[c] if a else 1.0 - u[c]
            w = num / (num + den_u)
            # identical IEEE mul/add/floor as the Spark/SQL sides
            import math

            wq = int(math.floor(w * EM_SCALE + 0.5))
            sw += wq
            for c in fields:
                if r[c]:
                    swa[c] += wq
                    sua[c] += one - wq
        su = n * one - sw
        p = (sw + half) / float(n * one + one)  # p smoothed like m/u
        for c in fields:
            m[c] = (swa[c] + half) / float(sw + one)
            u[c] = (sua[c] + half) / float(su + one)
    return {"p": p, "m": m, "u": u}


def _em_rows():
    # two latent clusters: 40 "matches" agree on f1/f2 with noise,
    # 60 "non-matches" mostly disagree — deterministic pattern
    rows = []
    for i in range(40):
        rows.append({"f1": i % 7 != 0, "f2": i % 5 != 0})
    for i in range(60):
        rows.append({"f1": i % 11 == 0, "f2": i % 13 == 0})
    return rows


def test_fs_em_weights_matches_python_reference(spark):
    import pytest as _pt

    from scraping_etl_spark.operators.linkage import fs_em_weights

    rows = _em_rows()
    df = spark.createDataFrame(
        [(r["f1"], r["f2"]) for r in rows], "f1 boolean, f2 boolean"
    )
    got = fs_em_weights(df, ["f1", "f2"], n_iters=4)
    want = _python_em(rows, ["f1", "f2"], 4, 0.9, 0.1, 0.5)
    assert got["p"] == _pt.approx(want["p"], abs=0)
    for c in ("f1", "f2"):
        assert got["m"][c] == _pt.approx(want["m"][c], abs=0), c
        assert got["u"][c] == _pt.approx(want["u"][c], abs=0), c
    assert got["n_pairs"] == 100


def test_fs_em_weights_p_stays_off_absorbing_states(spark):
    """r14 ADVICE: on a degenerate corpus (every field always agrees)
    responsibilities collapse toward one class; the add-half-smoothed
    p must stay strictly inside (0, 1) so the next E-step never
    freezes at an absorbing state — same guarantee as m/u."""
    from scraping_etl_spark.operators.linkage import fs_em_weights

    df = spark.createDataFrame([(True,)] * 8, "f1 boolean")
    est = fs_em_weights(df, ["f1"], n_iters=6)
    assert 0.0 < est["p"] < 1.0
    assert all(
        0.0 < v < 1.0 for v in (*est["m"].values(), *est["u"].values())
    )


def test_fs_em_weights_recovers_separation(spark):
    """On the planted two-cluster pattern EM lands with m_i >> u_i for
    both discriminative fields and p near the true match share."""
    from scraping_etl_spark.operators.linkage import fs_em_weights

    rows = _em_rows()
    df = spark.createDataFrame(
        [(r["f1"], r["f2"]) for r in rows], "f1 boolean, f2 boolean"
    )
    est = fs_em_weights(df, ["f1", "f2"], n_iters=12)
    assert est["m"]["f1"] > 0.7 > 0.2 > est["u"]["f1"]
    assert est["m"]["f2"] > 0.7 > 0.2 > est["u"]["f2"]
    assert 0.25 < est["p"] < 0.55


def test_fs_em_weights_repartition_invariant(spark, monkeypatch):
    """Integer-grid M-step sums are associative, so the fixpoint is
    identical in either exact_sums tier and under any partitioning."""
    from scraping_etl_spark.operators import fixpoint as FP
    from scraping_etl_spark.operators.linkage import fs_em_weights

    rows = _em_rows()
    df = spark.createDataFrame(
        [(r["f1"], r["f2"]) for r in rows], "f1 boolean, f2 boolean"
    )
    a = fs_em_weights(df, ["f1", "f2"], n_iters=3)
    parts = {n: df.repartition(n).localCheckpoint() for n in (1, 4, 13)}
    for cap in (FP.FIT_DRIVER_ROWS, 0):  # driver tier, then forced past it
        monkeypatch.setattr(FP, "FIT_DRIVER_ROWS", cap)
        for n, part in parts.items():
            assert fs_em_weights(part, ["f1", "f2"], n_iters=3) == a, (cap, n)


def test_fs_em_weights_df_serves_through_fs_score(spark):
    from scraping_etl_spark.operators.linkage import (
        fs_em_weights_df,
        fs_score,
    )

    rows = _em_rows()
    df = spark.createDataFrame(
        [(r["f1"], r["f2"]) for r in rows], "f1 boolean, f2 boolean"
    )
    w = fs_em_weights_df(df, ["f1", "f2"], n_iters=6)
    pairs = spark.createDataFrame(
        [(1, True, True), (2, False, False)], "pid long, f1 boolean, f2 boolean"
    )
    got = {r.pid: r.fs_score for r in fs_score(pairs, w, ["f1", "f2"]).collect()}
    assert got[1] > 0 > got[2]


def test_fs_em_weights_validation(spark):
    import pytest as _pt

    from scraping_etl_spark.operators.linkage import fs_em_weights

    df = spark.createDataFrame([(True,)], "f1 boolean")
    with _pt.raises(ValueError, match="at least one field"):
        fs_em_weights(df, [])
    with _pt.raises(ValueError, match="n_iters"):
        fs_em_weights(df, ["f1"], n_iters=0)
    with _pt.raises(ValueError, match="empty pair relation"):
        fs_em_weights(df.filter("f1 = false"), ["f1"])

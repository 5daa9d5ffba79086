"""sf1 regression-floor gate (r11 verdict item 4) — opt-in slow test.

The full check re-runs all 139 registry queries against the 10× probe
corpus (~7-10 min on local[32]), so it only runs when explicitly asked
for: ``RUN_SF1_FLOOR=1 python -m pytest tests/test_sf1_floor.py``.
Unset, this module contributes one cheap structural test: the floor
artifact exists, parses, and covers the whole registry (a new query
registered without regenerating the floor shows up here immediately, not
ten minutes into the slow path).
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_floor_artifact_covers_the_registry():
    from scraping_etl_spark.plans.registry import queries_map

    with open(os.path.join(REPO, "BENCH_SF1_LOCAL.json")) as f:
        floor = json.load(f)["queries"]
    missing = sorted(set(queries_map()) - set(floor))
    assert not missing, (
        "registry entries without an sf1 floor (regenerate "
        f"BENCH_SF1_LOCAL.json after registering new queries): {missing}"
    )


@pytest.mark.skipif(
    os.environ.get("RUN_SF1_FLOOR") != "1",
    reason="full sf1 pass is ~10 min; opt in with RUN_SF1_FLOOR=1",
)
def test_no_query_regressed_past_the_sf1_floor():
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from sf1_floor_check import run_check

    out = run_check()
    bad = {
        n: v for n, v in out["verdicts"].items()
        if v.startswith(("REGRESSED", "ERROR"))
    }
    assert not bad, f"sf1 floor regressions: {bad}"

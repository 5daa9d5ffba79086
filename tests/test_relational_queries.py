"""Every registered query hash-matches its DuckDB oracle at sf0.001
(fast) — the driver runs the same compare at sf0.01."""

from __future__ import annotations

import inspect
from pathlib import Path

import pytest

import scraping_etl_spark
from scraping_etl_spark.plans.registry import QUERIES, oracle_sql_map
from tests.conftest import SF_SMOKE
from tests.oracle import assert_matches_oracle

ORACLE_SPECS = [q for q in QUERIES if q.oracle is not None]


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=[q.name for q in ORACLE_SPECS])
def test_query_matches_oracle(spark, spec):
    df = spec.fn(spark, SF_SMOKE)
    # lazy oracles embed run-time plan constants (e.g. IVF centroids)
    # that depend on the scale dir — build them for THIS sf
    oracle = spec.oracle(SF_SMOKE) if callable(spec.oracle) else spec.oracle
    assert_matches_oracle(df, oracle, SF_SMOKE)


@pytest.mark.parametrize("spec", [q for q in QUERIES if q.oracle is None],
                         ids=[q.name for q in QUERIES if q.oracle is None])
def test_query_runs(spark, spec):
    df = spec.fn(spark, SF_SMOKE)
    assert df.count() >= 0


def test_callable_oracles_take_the_scale_dir():
    """An oracle that embeds trained state is built for the dir its
    caller names: ``sf_dir`` is its one required parameter, and nothing
    in the package infers the dir from process-wide state."""
    required = [("sf_dir", inspect.Parameter.empty)]
    for spec in QUERIES:
        if callable(spec.oracle):
            params = inspect.signature(spec.oracle).parameters.values()
            assert [(p.name, p.default) for p in params] == required, spec.name
    assert [
        (p.name, p.default)
        for p in inspect.signature(oracle_sql_map).parameters.values()
    ] == required
    pkg = Path(scraping_etl_spark.__file__).parent
    inferring = [
        str(f.relative_to(pkg)) for f in sorted(pkg.rglob("*.py"))
        if any(w in f.read_text() for w in
               ("SPARK_GRAFT_ORACLE_SF_DIR", "_query_dirs"))
    ]
    assert inferring == []

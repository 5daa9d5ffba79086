"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Oracles that
embed run-time-trained state take their scale dir as an argument;
``oracle_sql()`` passes them ``CORRECTNESS_SF_DIR``, the driver's sf0.01.

All real logic lives in the ``scraping_etl_spark`` package; this module
is a thin adapter over ``scraping_etl_spark.plans.registry``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from scraping_etl_spark.plans.registry import oracle_sql_map, queries_map

SMOKE_SF_DIR = "/root/testdata/sf0.001"
#: The scale the driver compares ``queries()`` against ``oracle_sql()``
#: at; oracles that embed trained state are built for this dir.
CORRECTNESS_SF_DIR = "/root/testdata/sf0.01"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: revenue by nation (4-way join with
    broadcast dims + grouped agg)."""
    from scraping_etl_spark.plans.relational import q_revenue_by_nation

    return q_revenue_by_nation(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return queries_map()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query, built for
    ``CORRECTNESS_SF_DIR`` — the one scale the driver compares at."""
    return oracle_sql_map(CORRECTNESS_SF_DIR)

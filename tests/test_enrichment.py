"""Enrichment (journal → quartile as-of attach): fixture + property
tests against a brute-force loop oracle with the reference's semantics
(SD_Upd.py:89-98) under the engine's Q8 tie-break (max year, then min
quartile, then min issn)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import types as T

from scraping_etl_spark.etl import enrichment as E

ART_SCHEMA = T.StructType(
    [
        T.StructField("doi", T.StringType()),
        T.StructField("journal_name", T.StringType()),
        T.StructField("Year", T.IntegerType()),
    ]
)
Q_SCHEMA = T.StructType(
    [
        T.StructField("journal", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("quartile", T.StringType()),
        T.StructField("issn", T.StringType()),
    ]
)


def _loop_oracle(journal, year, qrows, lookback=E.MAX_LOOKBACK_YEARS):
    """SD_Upd.py:89-98 semantics with the deterministic Q8 fix: walk
    years newest-needed-first; within a year pick min (quartile, issn)."""
    rows = [r for r in qrows if r[0] == journal]
    for offset in range(lookback + 1):
        y = year - offset
        hits = sorted((r[2], r[3]) for r in rows if r[1] == y)
        if hits:
            return hits[0]
    return (None, None)


def test_fixture_attach(spark):
    arts = spark.createDataFrame(
        [
            ("d1", "J. Spark", 2024),
            ("d2", "J. Spark", 2019),   # falls back to 2017 (within 9)
            ("d3", "J. Spark", 2030),   # 2024 within lookback
            ("d4", "J. Duck", 2024),    # multi-category year: min quartile
            ("d5", "Unknown", 2024),    # no dim row -> NULL quartile
            ("d6", "J. Spark", 2016),   # nothing at/below 2016-9..2016 except 2007? none -> NULL
        ],
        ART_SCHEMA,
    )
    qs = spark.createDataFrame(
        [
            ("J. Spark", 2024, "Q1", "1111"),
            ("J. Spark", 2017, "Q3", "1111"),
            ("J. Duck", 2024, "Q2", "2222"),
            ("J. Duck", 2024, "Q1", "2223"),
        ],
        Q_SCHEMA,
    )
    out = {r["doi"]: r["publisher"] for r in E.enrich(arts, qs).collect()}
    assert out["d1"]["Quartile"] == "Q1" and out["d1"]["ISSN"] == "1111"
    assert out["d2"]["Quartile"] == "Q3"          # 2019 -> fallback 2017
    assert out["d3"]["Quartile"] == "Q1"          # 2030 -> 2024 (9-year window)
    assert out["d4"]["Quartile"] == "Q1" and out["d4"]["ISSN"] == "2223"
    assert out["d5"]["Quartile"] is None
    assert out["d6"]["Quartile"] is None          # 2016 window misses 2017? no: 2017>2016 -> miss
    assert out["d1"]["name"] == "J. Spark"        # struct carries journal name
    # journal column dropped, struct attached (SD_Upd.py:101)
    assert "journal_name" not in E.enrich(arts, qs).columns


def test_property_vs_loop_oracle(spark):
    rnd = random.Random(7)
    journals = [f"J{i}" for i in range(8)]
    qrows = []
    for j in journals:
        for _ in range(rnd.randrange(0, 6)):
            qrows.append(
                (j, rnd.randrange(2000, 2026),
                 f"Q{rnd.randrange(1, 5)}", str(rnd.randrange(1000, 9999)))
            )
    arts = [
        (f"d{i}", rnd.choice(journals + ["NoSuch"]), rnd.randrange(2000, 2030))
        for i in range(120)
    ]
    out = E.enrich(
        spark.createDataFrame(arts, ART_SCHEMA),
        spark.createDataFrame(qrows, Q_SCHEMA) if qrows
        else spark.createDataFrame([], Q_SCHEMA),
    ).collect()
    got = {r["doi"]: (r["publisher"]["Quartile"], r["publisher"]["ISSN"]) for r in out}
    assert len(got) == len(arts)  # left join preserves every article
    for doi, journal, year in arts:
        assert got[doi] == _loop_oracle(journal, year, qrows), (doi, journal, year)


def test_distinct_journals_collapse(spark):
    arts = spark.createDataFrame(
        [("d1", " J. Spark ", 2024), ("d2", "J. Spark", 2023), ("d3", "J. Duck", 2022)],
        ART_SCHEMA,
    )
    names = sorted(r["journal"] for r in E.distinct_journals(arts).collect())
    assert names == ["J. Duck", "J. Spark"]  # trimmed + distinct


def test_no_fact_shuffle(spark):
    """The 100 TB contract: the attach plan broadcast-joins — no
    exchange on the article side (only the tiny dim aggregates)."""
    arts = spark.createDataFrame([("d1", "J", 2024)], ART_SCHEMA)
    qs = spark.createDataFrame([("J", 2024, "Q1", "1")], Q_SCHEMA)
    plan = E.enrich(arts, qs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    # the fact side must not hash-repartition on join keys
    assert "hashpartitioning(_jn" not in plan


def test_year_sentinel_gets_no_publisher(spark):
    """A raw ``"Year not found"`` year (string column, as scraped) must
    not fail the job under ANSI casts: the row gets no quartile and the
    publisher-sentinel filter drops it, while its neighbours enrich."""
    from scraping_etl_spark.operators.cleaning import filter_publisher_sentinels

    schema = T.StructType(
        [
            T.StructField("doi", T.StringType()),
            T.StructField("journal_name", T.StringType()),
            T.StructField("Year", T.StringType()),
        ]
    )
    arts = spark.createDataFrame(
        [("d1", "J. Spark", "2024"), ("d2", "J. Spark", "Year not found")], schema
    )
    qs = spark.createDataFrame([("J. Spark", 2024, "Q1", "1111")], Q_SCHEMA)
    enriched = E.enrich(arts, qs)
    out = {r["doi"]: r["publisher"] for r in enriched.collect()}
    assert (out["d1"]["Quartile"], out["d1"]["ISSN"]) == ("Q1", "1111")
    assert (out["d2"]["Quartile"], out["d2"]["ISSN"]) == (None, None)
    kept = [r["doi"] for r in filter_publisher_sentinels(enriched).collect()]
    assert kept == ["d1"]

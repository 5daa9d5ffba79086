"""``load_table`` opens every table from its parquet footer.

The footer-derived schema must equal what ``spark.read.parquet`` infers,
for every writer the tables come from (pandas/pyarrow, DuckDB, Spark
itself), the rows read through it must be the ones inference reads, and
opening a table or building a registry plan over it must launch no Spark
job. The contract checks (column names, unmappable types, layout) fire
before any Spark call.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scraping_etl_spark.schemas import TESTDATA_TABLES
from scraping_etl_spark.sources.readers import footer_schema, load_table
from tests.conftest import SF_CORRECT, SF_SMOKE, jobs_launched

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = [SF_SMOKE, SF_CORRECT, os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")]


def _fingerprint(df) -> tuple:
    """(row count, order-free sum of row hashes): equal multisets of
    rows give equal fingerprints."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0]
    return tuple(row)


def _assert_matches_inference(spark, path: str) -> None:
    schema = footer_schema(path)
    inferred = spark.read.parquet(path)
    assert schema == inferred.schema
    assert _fingerprint(spark.read.schema(schema).parquet(path)) == _fingerprint(inferred)


def test_footer_schema_matches_inference_on_scale_tables(spark):
    for sf in SCALES:
        for name in TESTDATA_TABLES:
            _assert_matches_inference(spark, os.path.join(sf, f"{name}.parquet"))


def test_footer_schema_matches_inference_on_perfbench_tables(spark, tmp_path):
    from perfbench import gen

    out = str(tmp_path)
    rng = np.random.default_rng(0)
    gen.write_tables(rng, out, 600)
    gen.write_corpus(rng, os.path.join(out, "corpus"), 30, 20, 2)
    for name in TESTDATA_TABLES:
        _assert_matches_inference(spark, os.path.join(out, f"{name}.parquet"))
    for name in ("documents", "embeddings"):
        _assert_matches_inference(spark, os.path.join(out, "corpus", f"{name}.parquet"))


def test_footer_schema_matches_inference_on_duckdb_ntz_file(spark, tmp_path):
    import duckdb

    path = str(tmp_path / "events.parquet")
    duckdb.connect().execute(
        f"""COPY (SELECT 1::BIGINT AS event_id,
                        TIMESTAMP '2024-01-01 00:00:01' AS ts,
                        7::BIGINT AS user_id, 'click' AS event_type,
                        1.5 AS value, '{{}}' AS props)
            TO '{path}' (FORMAT PARQUET)"""
    )
    assert isinstance(footer_schema(path)["ts"].dataType, T.TimestampNTZType)
    _assert_matches_inference(spark, path)


def test_nanos_events_file_loads_as_micros(spark, tmp_path):
    """A pyarrow TIMESTAMP(NANOS) column reads as long (nanosAsLong) and
    load_table truncates it to a microsecond TimestampType."""
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_704_067_201_123_456_789], pa.timestamp("ns")),
            "user_id": pa.array([7], pa.int64()),
            "event_type": ["click"],
            "value": [1.5],
            "props": ["{}"],
        }),
        str(tmp_path / "events.parquet"),
    )
    path = str(tmp_path / "events.parquet")
    assert "timeUnit=nanoseconds" in str(pq.ParquetFile(path).schema.column(1).logical_type)
    assert isinstance(footer_schema(path)["ts"].dataType, T.LongType)
    _assert_matches_inference(spark, path)
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).collect()[0][0]
    assert got == "2024-01-01 00:00:01.123456"


def test_spark_written_part_directory(spark, tmp_path):
    """A Spark-written directory of part files, with its _SUCCESS marker
    and .crc sidecars, opens like the single file it came from."""
    sf = str(tmp_path)
    path = os.path.join(sf, "nation.parquet")
    load_table(spark, SF_SMOKE, "nation").repartition(3).write.parquet(path)
    files = os.listdir(path)
    assert "_SUCCESS" in files
    assert any(f.endswith(".crc") for f in files)
    assert sum(f.endswith(".parquet") for f in files) > 1
    _assert_matches_inference(spark, path)
    assert _fingerprint(load_table(spark, sf, "nation")) == _fingerprint(
        load_table(spark, SF_SMOKE, "nation")
    )


def test_spark_written_int96_timestamps_use_the_stored_spark_schema(spark, tmp_path):
    """Spark writes TimestampType as INT96, which pyarrow reports as
    timestamp[ns]; the Spark schema stored in the footer wins, as it
    does in Spark's own inference."""
    path = str(tmp_path / "ts.parquet")
    spark.sql(
        "SELECT 1L AS id, TIMESTAMP'2024-01-01 00:00:01.123456' AS ts, "
        "array(TIMESTAMP'2024-01-02 00:00:00') AS arr"
    ).write.parquet(path)
    assert isinstance(footer_schema(path)["ts"].dataType, T.TimestampType)
    _assert_matches_inference(spark, path)


def test_load_table_launches_no_job(spark):
    before = jobs_launched(spark)
    spark.range(1).count()
    assert jobs_launched(spark) > before  # the counter sees jobs
    before = jobs_launched(spark)
    for name in TESTDATA_TABLES:
        load_table(spark, SF_CORRECT, name).schema
    assert jobs_launched(spark) == before


@pytest.mark.parametrize(
    "query", ["revenue_by_nation", "revenue_grouping_sets", "sessionize", "event_funnel"]
)
def test_building_relational_plans_launches_no_job(spark, query):
    from scraping_etl_spark.plans.registry import QUERIES

    [spec] = [q for q in QUERIES if q.name == query]
    before = jobs_launched(spark)
    spec.fn(spark, SF_CORRECT)
    assert jobs_launched(spark) == before


@pytest.mark.parametrize("drift", ["missing", "extra"])
def test_column_drift_fails_before_spark(spark, tmp_path, drift):
    cols = {"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]}
    if drift == "missing":
        del cols["r_name"]
    else:
        cols["r_comment"] = ["x"]
    pq.write_table(pa.table(cols), str(tmp_path / "region.parquet"))
    before = jobs_launched(spark)
    with pytest.raises(ValueError, match="table region: columns"):
        load_table(spark, str(tmp_path), "region")
    assert jobs_launched(spark) == before


@pytest.mark.parametrize("at", [pa.time64("us"), pa.duration("us"), pa.uint32()])
def test_unmappable_footer_type_names_the_column(spark, tmp_path, at):
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": pa.array([0], at)}),
        str(tmp_path / "region.parquet"),
    )
    with pytest.raises(ValueError, match="column 'r_name'"):
        load_table(spark, str(tmp_path), "region")


def test_partitioned_and_remote_layouts_are_rejected(spark, tmp_path):
    part = tmp_path / "region.parquet" / "r_regionkey=0"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"r_name": ["AFRICA"]}), str(part / "p.parquet"))
    with pytest.raises(ValueError, match="partitioned"):
        load_table(spark, str(tmp_path), "region")
    with pytest.raises(ValueError, match="local paths"):
        load_table(spark, "s3a://bucket/sf", "region")


def test_plans_open_tables_only_through_load_table():
    """Registry tables open only through ``load_table`` (footer schema,
    timestamp normalization, column contract): no direct parquet read
    under ``plans/``."""
    plans = os.path.join(REPO, "scraping_etl_spark", "plans")
    hits = []
    for root, _dirs, files in os.walk(plans):
        for fname in files:
            if fname.endswith(".py"):
                with open(os.path.join(root, fname)) as f:
                    hits += [
                        f"{fname}:{i}" for i, line in enumerate(f, 1) if ".read.parquet(" in line
                    ]
    assert not hits, hits

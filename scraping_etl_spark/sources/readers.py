"""Readers: every format the reference consumes, distributed + schema'd.

Reference equivalents (SURVEY §2.1):
- S6  whole-array JSON files (``json.load`` — SD_Upd.py:120-125) →
  :func:`read_json_array` (``multiLine`` JSON with explicit schema).
- S7  ``spark.read.json`` (DB/ETL.ipynb cell 5) → :func:`read_json_lines`.
- S8  pandas ``read_csv`` (DB/iqueries generator.py:97) → :func:`read_csv`.
- Parquet is the engine's canonical storage (the reference bounced through
  MongoDB + JSON files; we keep Mongo as an optional connector only).

All readers demand an explicit schema: at 100 TB, schema inference is a
full extra pass over the data and an availability risk (one malformed file
flips a column to string). ``PERMISSIVE`` mode + ``_corrupt_record``
replaces the reference's drop-the-row cleaning (SURVEY §1.3).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from scraping_etl_spark import schemas

#: Name of the quarantine column for malformed input rows.
CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    """Append the quarantine column so PERMISSIVE mode can capture bad rows."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_json_array(
    spark: SparkSession, path: str, schema: T.StructType, quarantine: bool = True
) -> DataFrame:
    """Read whole-file JSON arrays (the scrapers' output format).

    The reference loads these with ``json.load`` on the driver
    (ScienceDirect/SD_Upd.py:120-125); ``multiLine`` JSON keeps the read
    distributed — each file is one split, so many per-topic files
    parallelize naturally.
    """
    if quarantine:
        schema = _with_corrupt(schema)
    return (
        spark.read.option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path, schema=schema)
    )


def read_json_lines(
    spark: SparkSession, path: str, schema: T.StructType, quarantine: bool = True
) -> DataFrame:
    """Read JSON-lines (splittable — the scale-friendly JSON layout)."""
    if quarantine:
        schema = _with_corrupt(schema)
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path, schema=schema)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (schema from file metadata, like parquet — ORC is
    self-describing; predicate pushdown and column pruning apply)."""
    return spark.read.orc(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Header CSV with explicit schema (no ``inferSchema`` extra pass)."""
    return spark.read.csv(path, header=True, schema=schema, mode="PERMISSIVE")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable SQL confs the engine's semantics rely on,
    so queries behave identically under an externally-created session
    (e.g. the driver harness's own SparkSession):

    - ``nanosAsLong``: a parquet TIMESTAMP(NANOS) column (pyarrow writes
      one for a nanosecond timestamp; the committed scale tables are all
      ``timestamp[us]``) scans as the long :func:`load_table` declares
      for it; without the conf Spark refuses the file
      (PARQUET_TYPE_ILLEGAL);
    - UTC session timezone: matches DuckDB's UTC-naive timestamps in the
      correctness oracle.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down: nanos files then fail at scan time


def read_mongodb(
    spark: SparkSession, uri: str, database: str, collection: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """S10: read a MongoDB collection directly distributed — replacing
    the reference's driver-side ``collection.find()`` → JSON file bounce
    (DB/ETL.ipynb cell 4, raw 77-89). Requires the mongo-spark-connector
    jar (absent here — the reference's .gitignore names
    ``mongo-spark-connector_2.13-10.3.0.jar``); raises a clear error
    instead of a ClassNotFound."""
    try:
        reader = (
            spark.read.format("mongodb")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
        )
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load()
    except Exception as exc:  # pragma: no cover - connector not in test env
        raise RuntimeError(
            "MongoDB connector jar not on classpath; add "
            "mongo-spark-connector to spark.jars.packages or read the "
            "collection's parquet export instead"
        ) from exc


#: Footer key under which Spark stores the schema of a file it wrote;
#: Spark's own inference reads the schema from it when present.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _spark_type(at: pa.DataType) -> T.DataType:
    """The type Spark's default parquet inference gives one footer type."""
    if pa.types.is_timestamp(at) and at.unit == "ns":
        return T.LongType()  # what spark.sql.legacy.parquet.nanosAsLong infers
    if pa.types.is_time(at) or pa.types.is_duration(at):
        # from_arrow_type has a Spark type for these, but Spark's parquet
        # inference gives another (duration: long) or refuses (time)
        raise TypeError(f"parquet {at} has no matching Spark inference")
    if pa.types.is_struct(at):
        return T.StructType([T.StructField(f.name, _spark_type(f.type)) for f in at])
    if pa.types.is_list(at) or pa.types.is_large_list(at) or pa.types.is_fixed_size_list(at):
        return T.ArrayType(_spark_type(at.value_type))
    if pa.types.is_map(at):
        return T.MapType(_spark_type(at.key_type), _spark_type(at.item_type))
    return from_arrow_type(at, prefer_timestamp_ntz=True)


def footer_schema(path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from the
    parquet footer on the driver: no Spark job.

    ``path`` is a local parquet file or a directory of part files
    (``_``/``.``-prefixed files such as ``_SUCCESS`` and ``.crc`` are
    skipped, as Spark skips them). A file Spark wrote carries its Spark
    schema in the footer and that schema is used, as Spark's inference
    uses it; any other writer's arrow schema is mapped type by type.
    Raises ``ValueError`` for a non-local path, a Hive-partitioned
    layout, or a column whose footer type has no mapping here.
    """
    # imported here: it costs ~0.3 s, and the write-side pipeline imports
    # this module without ever opening a table
    import pyarrow.dataset as pads

    if "://" in path:
        raise ValueError(f"{path}: only local paths are supported")
    footer = pads.dataset(path, format="parquet")
    if any(os.sep in os.path.relpath(f, path) for f in footer.files):
        raise ValueError(f"{path}: partitioned (nested) layouts are not supported")
    spark_json = (footer.schema.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return T.StructType.fromJson(json.loads(spark_json)).toNullable()
    fields = []
    for f in footer.schema:
        try:
            fields.append(T.StructField(f.name, _spark_type(f.type)))
        except TypeError as exc:
            raise ValueError(
                f"{path}: column {f.name!r} has footer type {f.type}, "
                "which load_table cannot map to a Spark type"
            ) from exc
    return T.StructType(fields).toNullable()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided parquet table from a scale-factor dir,
    launching no Spark job.

    Contract:

    - ``sf_dir`` is a local path, and ``<sf_dir>/<name>.parquet`` is one
      un-partitioned file or a directory of part files; Hive-partitioned
      layouts are rejected (no table uses one);
    - the schema comes from the footer (:func:`footer_schema`), typed as
      Spark's default inference types it, so the read needs no inference
      job; a footer type without such a mapping raises ``ValueError``
      naming the column;
    - the footer's column names must equal the declared ones (names
      only: parquet int32/int64 nuances are tolerated), checked before
      any Spark call, so a drifted file fails loudly with ``ValueError``
      instead of mis-joining.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(path)
    expected = schemas.TESTDATA_TABLES.get(name)
    if expected is not None:
        got = set(schema.fieldNames())
        want = set(expected.fieldNames())
        if got != want:
            raise ValueError(f"table {name}: columns {got} != expected {want}")
    _ensure_session_confs(spark)
    df = spark.read.schema(schema).parquet(path)
    # Parquet TIMESTAMP(NANOS) columns arrive as long (nanosAsLong conf);
    # convert to microsecond timestamps losslessly (integer div, no float).
    # Driven by the declared schema: exactly the columns that are declared
    # TimestampType but arrive LongType — never a genuine long column.
    if expected is not None:
        declared_ts = {
            f.name for f in expected.fields if isinstance(f.dataType, T.TimestampType)
        }
        for f in schema.fields:
            if isinstance(f.dataType, T.LongType) and f.name in declared_ts:
                df = df.withColumn(f.name, F.timestamp_micros(F.expr(f"{f.name} div 1000")))
            # TIMESTAMP_NTZ (how DuckDB/pandas write micros parquet):
            # normalize to the declared TimestampType so downstream
            # unix_micros/window math sees one type everywhere
            elif isinstance(f.dataType, T.TimestampNTZType) and f.name in declared_ts:
                df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return df


def spread_narrow_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` ONLY when its scan yields fewer
    partitions than the session's parallelism — small parquet files are
    one row group, so the file reader cannot split them and every
    per-row-heavy map stage (gram explodes, shingle hashing, chunking)
    serializes on one core. At real scale the scan has >= cores splits
    and this is a driver-side partition-count check followed by a
    no-op — no job, no shuffle. Callers are partitioning-invariant
    operators (pinned by the repartition-stability tests), so results
    are unchanged. Use at the top of gates whose map side dominates;
    NOT a load_table default — for cheap gates the extra exchange
    costs more than the map stage it spreads."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all scale tables and register each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in schemas.TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

"""Relational query surface over the scale tables.

Each query demonstrates one or more operators from SURVEY.md §2 on the
driver-provided TPC-H-ish tables, with a colocated DuckDB oracle that the
driver hash-compares at sf=0.01. Conventions for oracle parity:

- every computed column is aliased identically on both sides;
- double aggregates are ``round``-ed on both sides (masks summation-order
  ulp differences between engines);
- timestamps leaving a query are rendered as epoch seconds or formatted
  strings (Spark session TZ is pinned UTC to match DuckDB);
- top-k queries use ``row_number`` with a total tie-break order, never a
  bare LIMIT.

Scale notes are in each docstring — the sf0.01 numbers are the
correctness gate; the plan shapes are chosen for 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scraping_etl_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# Aggregation core (SURVEY §2.4 — the reference's gitignored analysis layer)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped 8-agg scan over the fact table.

    Scale: pure map-side partial agg + tiny shuffle (few groups); Catalyst
    does partial/final HashAggregate automatically. No UDFs → full
    whole-stage codegen.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 4-way join fact→orders→customer→nation→region.

    Scale: nation/region are tiny → explicit ``broadcast`` (no shuffle);
    lineitem⋈orders and orders⋈customer shuffle on their keys and AQE
    handles skew. Join order written smallest-reduction-first but Catalyst
    is free to reorder.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


ORACLE_REVENUE_BY_NATION = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)                                          AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by order revenue — join + agg + distributed top-k.

    Scale: aggregate BEFORE ranking (shuffle carries one row per customer,
    not per order). Top-k is ``orderBy(total order).limit(k)`` which Spark
    plans as TakeOrderedAndProject — each partition keeps its local top-10
    and only k rows reach the driver-side merge, vs an unpartitioned
    row_number window that funnels every aggregate through one task. The
    rank column is then assigned by a window over just the k surviving
    rows (constant-size, scale-independent). The tiny ranked side is
    broadcast into the customer lookup join.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("_rev"))
    top = rev.orderBy(F.desc("_rev"), F.asc("o_custkey")).limit(10)
    w = Window.orderBy(F.desc("_rev"), F.asc("o_custkey"))
    return (
        F.broadcast(top.withColumn("rk", F.row_number().over(w)))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select(
            F.col("c_custkey"),
            F.col("c_name"),
            F.round(F.col("_rev"), 2).alias("revenue"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


ORACLE_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT o_custkey, sum(o_totalprice) AS _rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, _rev,
         row_number() OVER (ORDER BY _rev DESC, o_custkey ASC) AS rk
  FROM rev
)
SELECT c_custkey, c_name, round(_rev, 2) AS revenue, CAST(rk AS INT) AS rk
FROM ranked JOIN customer ON o_custkey = c_custkey
WHERE rk <= 10
"""


def q_order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (TPC-H Q4 shape).

    Scale: semi-join keeps only the probe side's columns through the
    shuffle; the build side is pre-filtered + deduped by Spark.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_ORDER_PRIORITY_SEMI = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join, then segment rollup."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 2) AS avg_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_top_acctbal_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (SURVEY §2.5 surface): top-3 customers by
    account balance within each nation.

    Scale: single shuffle on the window partition key; nation dim
    broadcast for the name lookup.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


ORACLE_TOP_ACCTBAL_PER_NATION = """
WITH ranked AS (
  SELECT c_nationkey, c_custkey, c_name, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
  FROM customer
)
SELECT n_name, c_custkey, c_name, round(c_acctbal, 2) AS acctbal, CAST(rk AS INT) AS rk
FROM ranked JOIN nation ON c_nationkey = n_nationkey
WHERE rk <= 3
"""


def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + agg (SURVEY §2.7 F3 family: year/month)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


ORACLE_ORDERS_BY_MONTH = """
SELECT CAST(year(o_orderdate) AS INT)  AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       count(*)                        AS n_orders,
       round(sum(o_totalprice), 2)     AS total_revenue
FROM orders
GROUP BY 1, 2
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over region→nation (grouping-sets surface, SURVEY §2.4).

    ``grouping_id`` distinguishes subtotal rows from genuine NULL keys.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        F.grouping_id().cast("int").alias("gid"),
    )


ORACLE_ROLLUP_REVENUE = """
SELECT r_name, n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal,
       CAST(grouping(r_name) * 2 + grouping(n_name) AS INT) AS gid
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_orderkeys_except_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / subtract (SURVEY §2.6 U2 — the reference's sentinel-row
    anti-selection, ETL cell 14 raw 434)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lhs = li.select(F.col("l_orderkey").alias("orderkey")).distinct()
    rhs = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("orderkey")
    )
    return lhs.subtract(rhs)


ORACLE_ORDERKEYS_EXCEPT_OPEN = """
SELECT DISTINCT l_orderkey AS orderkey FROM lineitem
EXCEPT
SELECT o_orderkey AS orderkey FROM orders WHERE o_orderstatus = 'O'
"""


def q_union_counterparties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName + distinct + broadcast dim lookup (SURVEY §2.6 U1):
    every nation that has a customer or a supplier, with both counts."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cust = c.select(F.col("c_nationkey").alias("nationkey")).withColumn(
        "kind", F.lit("customer")
    )
    supp = s.select(F.col("s_nationkey").alias("nationkey")).withColumn(
        "kind", F.lit("supplier")
    )
    both = cust.unionByName(supp)
    return (
        both.join(F.broadcast(n), F.col("nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("kind") == "customer", 1).otherwise(0))
            .cast("long")
            .alias("n_customers"),
            F.sum(F.when(F.col("kind") == "supplier", 1).otherwise(0))
            .cast("long")
            .alias("n_suppliers"),
        )
    )


ORACLE_UNION_COUNTERPARTIES = """
WITH parties AS (
  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier
)
SELECT n_name,
       CAST(count(*) FILTER (WHERE kind = 'customer') AS BIGINT) AS n_customers,
       CAST(count(*) FILTER (WHERE kind = 'supplier') AS BIGINT) AS n_suppliers
FROM parties JOIN nation ON nationkey = n_nationkey
GROUP BY n_name
"""


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface (SURVEY §2.7 F1/F4/F5/F8/F11): regexp_replace,
    regexp_extract, trim/upper/lower, concat_ws — all JVM built-ins, no UDF."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("name_novowels"),
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.regexp_extract(F.col("p_type"), "^(\\w+)", 1).alias("type_first_word"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.length(F.col("p_name")).cast("long").alias("name_len"),
    )


ORACLE_STRING_FUNCTIONS = """
SELECT p_partkey,
       regexp_replace(p_name, '[aeiou]', '', 'g')   AS name_novowels,
       upper(p_brand)                               AS brand_upper,
       regexp_extract(p_type, '^(\\w+)', 1)         AS type_first_word,
       concat_ws('|', p_brand, p_type)              AS brand_type,
       CAST(length(p_name) AS BIGINT)               AS name_len
FROM part
"""


# ---------------------------------------------------------------------------
# Events: JSON extraction, windows, sessionization, pivot
# ---------------------------------------------------------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-field projection from JSON (SURVEY §2.2 P1 / §2.7 F14):
    parse the ``props`` JSON column and aggregate an extracted field."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    # avg is written as sum/count explicitly: DuckDB's avg(BIGINT) uses an
    # incremental formulation whose double result can differ by an ulp from
    # Spark's sum/count — exact integer sum then one double division is
    # bit-identical on both sides. sum stays BIGINT (DuckDB's sum(BIGINT)
    # natively widens to HUGEINT, which hash-mismatches long).
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("k").cast("double") / F.count("k"), 4).alias("avg_k"),
            F.sum("k").alias("sum_k"),
        )
    )


ORACLE_JSON_PROPS = """
SELECT event_type, count(*) AS n_events,
       round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
             / count(json_extract_string(props, '$.k')), 4)              AS avg_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
"""


def q_event_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered-window features (SURVEY §2.5): lag value delta
    vs the previous event PLUS the 7-row trailing moving average
    (``rowsBetween(-6, 0)`` frame). Both window on the identical
    (user_id; ts, event_id) spec: one shuffle, two window functions
    over the same sorted run."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    mw = w.rowsBetween(-6, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") - prev, 6).alias("value_delta"),
        F.round(F.avg("value").over(mw), 6).alias("mavg_7"),
    )


ORACLE_EVENT_LAG_DELTA = """
SELECT event_id, user_id,
       epoch_us(ts) AS ts_us,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6)
         AS value_delta,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS mavg_7
FROM events
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session (lag + running
    sum — the batch equivalent of streaming ``session_window``)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap = F.unix_micros("ts") - F.unix_micros(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = F.sum(is_new).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_SESSIONIZE = """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
FROM sess
GROUP BY user_id
"""


def q_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate in batch form (hypertable-rollup shape;
    the streaming twin lives in streaming/pipeline.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_bucket"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


ORACLE_HOURLY_EVENT_ROLLUP = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (SURVEY §2 extensions): per-user event-type counts as columns."""
    e = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = e.groupBy("user_id").pivot("event_type", kinds).count()
    for k in kinds:
        out = out.withColumn(f"n_{k}", F.coalesce(F.col(k), F.lit(0)).cast("long")).drop(k)
    return out


ORACLE_EVENT_TYPE_PIVOT = """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS n_click,
       CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS n_view,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS n_error
FROM events
GROUP BY user_id
"""


def q_revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (SURVEY §2.4 note — beyond ROLLUP): revenue by
    (region), by (order priority), and grand total in one pass —
    Catalyst expands the sets over a single shuffle with partial aggs."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "r_name",
            "o_orderpriority",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
        )
    )
    joined.createOrReplaceTempView("_gs_rev")
    return spark.sql(
        """
        SELECT r_name, o_orderpriority,
               CAST(round(sum(_rev), 2) AS DOUBLE) AS revenue,
               count(*) AS n_rows
        FROM _gs_rev
        GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
        """
    )


ORACLE_REVENUE_GROUPING_SETS = """
SELECT r_name, o_orderpriority,
       CAST(round(sum(rev), 2) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM (
  SELECT r_name, o_orderpriority,
         l_extendedprice * (1 - l_discount) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
)
GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
"""


# ---------------------------------------------------------------------------
# SCD2 dimension merge (etl/scd.py)
# ---------------------------------------------------------------------------

_SCD_EFF = "1996-06-01"
_SCD_COMPARE = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _scd_base(spark: SparkSession, sf_dir: str):
    """Shared gate inputs: a versioned customer dim (every customer
    open since 1995; customers divisible by 13 additionally carry a
    CLOSED 1994 version, exercising history pass-through) and an update
    batch with all three merge cases — changed rows (custkey % 7: +100
    balance), idempotent identical re-deliveries (custkey % 5), and
    brand-new keys (custkey % 11, shifted by 10M)."""
    from scraping_etl_spark.etl.scd import scd2_merge  # noqa: F401 (re-export)

    c = load_table(spark, sf_dir, "customer")
    attrs = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    open_rows = c.select(
        *attrs,
        F.lit("1995-01-01").cast("date").alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    closed_rows = c.filter(F.col("c_custkey") % 13 == 0).select(
        *attrs,
        F.lit("1994-01-01").cast("date").alias("effective_from"),
        F.lit("1995-01-01").cast("date").alias("effective_to"),
        F.lit(False).alias("is_current"),
    )
    dim = open_rows.unionByName(closed_rows)
    changed = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", "c_name", "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"), "c_mktsegment",
    )
    identical = c.filter(
        (F.col("c_custkey") % 5 == 0) & (F.col("c_custkey") % 7 != 0)
    ).select(*["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"])
    inserts = c.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("c_custkey"),
        F.concat(F.lit("NEW-"), F.col("c_custkey").cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("FRESH").alias("c_mktsegment"),
    )
    updates = changed.unionByName(identical).unionByName(inserts)
    return dim, updates


def q_dim_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge gate (etl/scd.scd2_merge): apply an update
    batch to a versioned customer dimension — closed history passes
    through, identical re-deliveries are no-ops, changed keys close the
    open version and append a new one, new keys insert. The update side
    broadcasts behind the measured-count guard."""
    from scraping_etl_spark.etl.scd import scd2_merge

    dim, updates = _scd_base(spark, sf_dir)
    return scd2_merge(
        dim, updates, key_col="c_custkey",
        compare_cols=_SCD_COMPARE, effective_date=_SCD_EFF,
    )


ORACLE_DIM_SCD2 = f"""
WITH dim AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         DATE '1995-01-01' AS effective_from,
         CAST(NULL AS DATE) AS effective_to,
         true AS is_current
  FROM customer
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         DATE '1994-01-01', DATE '1995-01-01', false
  FROM customer WHERE c_custkey % 13 = 0
), upd AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
  UNION ALL
  SELECT c_custkey + 10000000, 'NEW-' || CAST(c_custkey AS VARCHAR),
         c_nationkey, 0.0, 'FRESH'
  FROM customer WHERE c_custkey % 11 = 0
), open_joined AS (
  SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal, d.c_mktsegment,
         d.effective_from, d.effective_to, d.is_current,
         u.c_name AS u_name, u.c_nationkey AS u_nk,
         u.c_acctbal AS u_ab, u.c_mktsegment AS u_ms,
         (u.c_custkey IS NOT NULL) AND NOT (
              d.c_name       IS NOT DISTINCT FROM u.c_name
          AND d.c_nationkey  IS NOT DISTINCT FROM u.c_nationkey
          AND d.c_acctbal    IS NOT DISTINCT FROM u.c_acctbal
          AND d.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment
         ) AS is_change
  FROM dim d LEFT JOIN upd u ON d.c_custkey = u.c_custkey
  WHERE d.is_current
)
-- closed history passes through untouched
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       effective_from, effective_to, is_current
FROM dim WHERE NOT is_current
UNION ALL
-- open rows: kept open, or closed when changed
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       effective_from,
       CASE WHEN is_change THEN DATE '{_SCD_EFF}' ELSE effective_to END,
       CASE WHEN is_change THEN false ELSE is_current END
FROM open_joined
UNION ALL
-- new versions for changed keys
SELECT c_custkey, u_name, u_nk, u_ab, u_ms,
       DATE '{_SCD_EFF}', CAST(NULL AS DATE), true
FROM open_joined WHERE is_change
UNION ALL
-- brand-new keys insert as fresh open versions
SELECT u.c_custkey, u.c_name, u.c_nationkey, u.c_acctbal, u.c_mktsegment,
       DATE '{_SCD_EFF}', CAST(NULL AS DATE), true
FROM upd u
WHERE NOT EXISTS (
  SELECT 1 FROM dim d WHERE d.is_current AND d.c_custkey = u.c_custkey
)
"""


# ---------------------------------------------------------------------------
# Snapshot diff + data-quality profile (operators/snapshot.py)
# ---------------------------------------------------------------------------

def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (snapshot.snapshot_diff): yesterday =
    customer as-is; today = customers sans every 13th (removed), with
    every 7th rebalanced (changed) and every 11th re-keyed +10M
    (added). The registered :func:`q_doc_dq_profile` folds it into its
    rollup, whose oracle derives the statuses from the construction
    arithmetic."""
    from scraping_etl_spark.operators.snapshot import snapshot_diff

    c = load_table(spark, sf_dir, "customer")
    attrs = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    old = c.select(*attrs)
    survivors = c.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey", "c_name", "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(100.0))
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        "c_mktsegment",
    )
    added = c.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("c_custkey"),
        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    new = survivors.unionByName(added)
    return snapshot_diff(
        old, new, key_col="c_custkey",
        compare_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )


def q_doc_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest data-quality gate (snapshot.dq_profile +
    snapshot.snapshot_diff): four ingest rules over documents
    evaluated in one map-side partial-agg pass — two structurally-true
    rules (exercising the zero-violation path) and two with real
    violation mass at every sf — UNIONED with the keyed snapshot-diff
    rollup (the :func:`q_snapshot_diff` corpus: yesterday =
    customer as-is; today = customers sans every 13th, every 7th
    rebalanced, every 11th re-keyed +10M) folded to the same
    (rule, n_rows, n_violations, violation_frac) shape: one
    ``snapshot_<status>`` row per status, n_rows = total diff rows.
    The oracle still derives the statuses INDEPENDENTLY from the
    construction arithmetic — it never computes a fingerprint — so a
    fingerprint bug (e.g. null-collation collisions) fails the gate;
    the per-key face stays pinned by tests/test_snapshot.py."""
    from scraping_etl_spark.operators.snapshot import dq_profile
    from scraping_etl_spark.operators.textstats import tokens

    d = load_table(spark, sf_dir, "documents")
    prof = dq_profile(d, {
        "chars_match": F.length("text") == F.col("n_chars"),
        "lang_known": F.col("lang").isin("en", "de", "fr", "es", "zh"),
        "max_chars_400": F.col("n_chars") <= 400,
        "min_tokens_20": F.size(tokens("text")) >= 20,
    })
    diff = q_snapshot_diff(spark, sf_dir)
    total = Window.partitionBy()
    diff_rollup = (
        diff.groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(
            F.concat(F.lit("snapshot_"), F.col("status")).alias("rule"),
            F.sum("n_violations").over(total).cast("long").alias("n_rows"),
            "n_violations",
            F.round(
                F.col("n_violations")
                / F.sum("n_violations").over(total), 6
            ).alias("violation_frac"),
        )
    )
    return prof.unionByName(diff_rollup)


ORACLE_DOC_DQ_PROFILE = """
WITH t AS (
  SELECT len(text) = n_chars AS chars_match,
         lang IN ('en', 'de', 'fr', 'es', 'zh') AS lang_known,
         n_chars <= 400 AS max_chars_400,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           >= 20 AS min_tokens_20,
         1 AS one
  FROM documents
)
SELECT r.rule,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN NOT coalesce(
         CASE r.rule
           WHEN 'chars_match' THEN t.chars_match
           WHEN 'lang_known' THEN t.lang_known
           WHEN 'max_chars_400' THEN t.max_chars_400
           WHEN 'min_tokens_20' THEN t.min_tokens_20
         END, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       round(sum(CASE WHEN NOT coalesce(
         CASE r.rule
           WHEN 'chars_match' THEN t.chars_match
           WHEN 'lang_known' THEN t.lang_known
           WHEN 'max_chars_400' THEN t.max_chars_400
           WHEN 'min_tokens_20' THEN t.min_tokens_20
         END, false) THEN 1 ELSE 0 END) / count(*), 6) AS violation_frac
FROM t, (VALUES ('chars_match'), ('lang_known'),
                ('max_chars_400'), ('min_tokens_20')) AS r(rule)
GROUP BY r.rule
UNION ALL
SELECT 'snapshot_' || status AS rule,
       CAST(sum(count(*)) OVER () AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_violations,
       round(count(*) / sum(count(*)) OVER (), 6) AS violation_frac
FROM (
  SELECT 'removed' AS status FROM customer WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT 'changed' FROM customer
  WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
  UNION ALL
  SELECT 'added' FROM customer WHERE c_custkey % 11 = 0
)
GROUP BY status
"""


# ---------------------------------------------------------------------------
# Behavioral analytics: ordered funnel + cohort retention (SURVEY §2.5's
# window surface composed into the two classic event-analytics reports)
# ---------------------------------------------------------------------------

def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (view → click → purchase), strictly
    sequential: each step must happen AFTER the user's previous step.

    The self-referential step chain (step N's window filter depends on
    step N-1's result) is expressed as three chained unordered window
    aggregates over the SAME ``user_id`` partitioning — Catalyst plans
    one Exchange and three adjacent Window operators, so the event log
    shuffles once no matter how many funnel steps are chained. The
    whole-partition ``min`` frames need no sort. The final stage
    reduction is a per-user max + single-row conditional agg.

    Scale: one hash-partition shuffle of the event log by user, then
    map-side partial aggregation down to ONE row. No join, no distinct,
    no driver-side iteration; adding a funnel step costs one more
    Window operator on the already-shuffled data, not a pass over the
    log.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "_t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "_t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("_t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "_t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("_t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    stage = (
        F.when(F.col("_t3").isNotNull(), 3)
        .when(F.col("_t2").isNotNull(), 2)
        .when(F.col("_t1").isNotNull(), 1)
        .otherwise(0)
    )
    per_user = staged.groupBy("user_id").agg(F.max(stage).alias("_stage"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("_stage") >= 1).cast("long")).alias("n_view"),
        F.sum((F.col("_stage") >= 2).cast("long")).alias("n_view_click"),
        F.sum((F.col("_stage") >= 3).cast("long")).alias("n_full_funnel"),
        F.round(
            F.sum((F.col("_stage") >= 3).cast("long"))
            / F.sum((F.col("_stage") >= 1).cast("long")),
            6,
        ).alias("view_to_purchase_rate"),
    )


ORACLE_EVENT_FUNNEL = """
WITH s1 AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL AND e.ts > s1.t1
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY 1
), staged AS (
  SELECT s1.user_id,
         CASE WHEN s3.user_id IS NOT NULL THEN 3
              WHEN s2.user_id IS NOT NULL THEN 2
              WHEN s1.t1 IS NOT NULL THEN 1
              ELSE 0 END AS stage
  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel,
       round(CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(CASE WHEN stage >= 1 THEN 1 ELSE 0 END), 6)
         AS view_to_purchase_rate
FROM staged
"""


def q_event_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    first event; for each (cohort, week-offset) cell, how many cohort
    members were active, and what fraction of the cohort that is.

    Plan: the per-user first-event timestamp rides an unordered window
    over the ``user_id`` partitioning (one shuffle, no join-back — the
    classic two-pass cohort self-join collapses into Window), then a
    distinct + partial agg at (cohort, offset) cardinality, then the
    cohort-size denominator attaches via a second window over the
    tiny (cohort, offset) result — never over the event log.

    Scale: shuffles are by user then by (cohort, offset); the second is
    bounded by cohorts × horizon regardless of corpus size. Offsets are
    exact (week-truncated epoch differences are exact multiples of
    604800), so the report is hash-stable.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cohort = F.date_trunc("week", F.min("ts").over(w))
    offset = (
        (
            F.unix_timestamp(F.date_trunc("week", F.col("ts")))
            - F.unix_timestamp(cohort)
        )
        / F.lit(7 * 86400)
    ).cast("long")
    cells = (
        e.select(
            F.date_format(cohort, "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    wc = Window.partitionBy("cohort_week")
    base = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(wc)
    return cells.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("n_active").cast("double") / base, 6).alias("retention"),
    )


ORACLE_EVENT_COHORT_RETENTION = """
WITH f AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort
  FROM events GROUP BY 1
), act AS (
  SELECT DISTINCT
         strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
         CAST(floor((epoch_us(date_trunc('week', e.ts)) - epoch_us(f.cohort))
                    / 604800000000.0) AS BIGINT) AS week_offset,
         e.user_id
  FROM events e JOIN f USING (user_id)
), cells AS (
  SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_active
  FROM act GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active,
       round(CAST(n_active AS DOUBLE)
             / max(CASE WHEN week_offset = 0 THEN n_active END)
                 OVER (PARTITION BY cohort_week), 6) AS retention
FROM cells
"""


def q_part_avg_qty_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery, decorrelated by
    Catalyst: lineitems whose quantity is below 20% of their part's
    average quantity, rolled up per brand.

    The query is submitted as LITERAL SQL with the correlated subquery
    intact: Catalyst's ``RewriteCorrelatedScalarSubquery`` turns it
    into a per-part aggregate joined back to the fact — the exact plan
    one would hand-write — so the declarative form costs nothing and
    survives optimizer upgrades. The oracle runs the same text.

    Scale: the decorrelated plan is one partial-agg shuffle of the fact
    by ``l_partkey`` + one equi-join fact⋈avg on the same key (the
    exchange is reused — AQE sees matching partitioning), then the tiny
    brand rollup. The boundary compare is deterministic: quantities are
    integer-valued, so ``avg`` is an exact-integer-sum / count in both
    engines regardless of summation order; the price rollup sums CENTS
    (exact BIGINT, order-independent) and divides once at render, so
    the rounded-2 output can't flip on a .005 boundary between Spark's
    partial-agg order and DuckDB's (the ``customer_idle_rich``
    convention).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(ORACLE_PART_AVG_QTY_OUTLIERS)


ORACLE_PART_AVG_QTY_OUTLIERS = """
SELECT p.p_brand AS brand,
       CAST(count(*) AS BIGINT) AS n_outlier_lines,
       round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 / 7.0, 2) AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
GROUP BY p.p_brand
"""


def q_supplier_sole_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — TWO correlated subqueries (EXISTS + NOT
    EXISTS), decorrelated by Catalyst: suppliers who were the ONLY
    late shipper in multi-supplier orders. "Late" adapts Q21 to this
    schema: shipped more than 90 days after the order date.

    Submitted as literal SQL: Catalyst rewrites the EXISTS into a
    left-semi and the NOT EXISTS into a left-anti join on
    ``l_orderkey`` with the extra-condition filters folded in — three
    passes over lineitem co-partitioned on the same key (the exchange
    reuses), then the per-supplier rollup. The oracle runs the same
    text; top 20 by (count desc, suppkey) with a row_number total
    order, never a bare LIMIT.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(ORACLE_SUPPLIER_SOLE_LATE)


ORACLE_SUPPLIER_SOLE_LATE = """
WITH ranked AS (
  SELECT l1.l_suppkey AS suppkey,
         CAST(count(*) AS BIGINT) AS numwait
  FROM lineitem l1
  JOIN orders o ON o.o_orderkey = l1.l_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
  GROUP BY 1
)
SELECT suppkey, numwait
FROM (SELECT suppkey, numwait,
             row_number() OVER (ORDER BY numwait DESC, suppkey) AS rk
      FROM ranked)
WHERE rk <= 20
"""


def q_event_time_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame (SURVEY §2.5's frame surface
    beyond the ROWS spec of ``event_moving_avg``): trailing-1-hour
    average value per user, frame defined on the TIMESTAMP axis — rows
    with equal order keys share the frame, so tie handling is the
    standard RANGE semantics in both engines.

    Scale: same cost model as any user-partitioned window — one hash
    exchange + per-partition sort; the range frame is a sliding
    two-pointer over the sorted partition, never a per-row rescan.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.avg("value").over(w), 6).alias("hour_avg"),
    )


ORACLE_EVENT_TIME_RANGE_AVG = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6) AS hour_avg
FROM events
"""


def q_event_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function surface in one pass: ``percent_rank``, ``ntile(4)``
    and ``cume_dist`` per event type. The order key is the TOTAL order
    ``(value, event_id)`` — ntile's bucket boundaries depend on row
    order within ties, so a deterministic tie-break is what makes the
    gate hashable (and is the production-correct habit anyway)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return e.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


ORACLE_EVENT_RANK_METRICS = """
SELECT event_id, event_type,
       round(percent_rank() OVER w, 6) AS pct_rank,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(cume_dist() OVER w, 6) AS cume
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


def q_customer_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar subquery + NOT EXISTS anti join:
    customers with above-average positive balance and NO orders,
    rolled up per market segment. Completes the correlated-subquery
    family (Q17 scalar: ``part_avg_qty_outliers``; Q21
    EXISTS/NOT EXISTS: ``supplier_sole_late``).

    Boundary determinism: the average is computed over CENTS
    (``round(bal * 100)`` as BIGINT) — integer sums are exact in any
    order, so the threshold compare cannot flip on summation-order
    ulps in either engine. Balance sums in the output are cent-exact
    for the same reason.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(ORACLE_CUSTOMER_IDLE_RICH)


ORACLE_CUSTOMER_IDLE_RICH = """
WITH cents AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
)
SELECT c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(bal_cents) / 100.0, 2) AS total_acctbal
FROM cents c
WHERE bal_cents > (SELECT avg(bal_cents) FROM cents WHERE bal_cents > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


def q_dim_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the merged SCD2 dimension (etl/scd.scd2_asof):
    the same merge as ``dim_scd2``, then two point-in-time views — the
    eve of the merge date (pre-merge versions, including rows the
    merge later closed) and the merge date itself (post-merge
    versions) — tagged and unioned, so both sides of the half-open
    ``from <= t < to`` boundary are hash-gated."""
    from scraping_etl_spark.etl.scd import scd2_asof, scd2_merge

    dim, updates = _scd_base(spark, sf_dir)
    merged = scd2_merge(
        dim, updates, key_col="c_custkey",
        compare_cols=_SCD_COMPARE, effective_date=_SCD_EFF,
    ).localCheckpoint()  # one merge feeds both as-of views
    cols = [
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        "effective_from", "effective_to", "is_current",
    ]
    pre = scd2_asof(merged, "1995-12-31").select(
        F.lit("1995-12-31").alias("as_of"), *cols
    )
    post = scd2_asof(merged, _SCD_EFF).select(
        F.lit(_SCD_EFF).alias("as_of"), *cols
    )
    return pre.unionByName(post)


ORACLE_DIM_SCD2_ASOF = f"""
WITH merged AS ({ORACLE_DIM_SCD2})
SELECT '1995-12-31' AS as_of, *
FROM merged
WHERE effective_from <= DATE '1995-12-31'
  AND (effective_to IS NULL OR effective_to > DATE '1995-12-31')
UNION ALL
SELECT '{_SCD_EFF}' AS as_of, *
FROM merged
WHERE effective_from <= DATE '{_SCD_EFF}'
  AND (effective_to IS NULL OR effective_to > DATE '{_SCD_EFF}')
"""


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` aggregation (the gap-based session
    operator Structured Streaming shares): per (user, session) event
    counts and value sums with a 30-minute gap — the same semantics
    ``q_sessionize`` derives from lag+running-sum, now via the native
    operator, so both construction styles of SURVEY §2.5's
    sessionization are gated against one oracle family.

    Scale: one user-hash exchange; session merging is per-partition
    state, identical to the streaming operator's. The oracle rebuilds
    sessions with the standard gap-and-islands SQL.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_SESSION_WINDOW_AGG = """
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + 1800 * 1000000 AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM sess
GROUP BY user_id, sid
"""


#: Quantiles + rank-error budget of the approx tier: percentile_approx
#: with accuracy A bounds rank error by n/A (Greenwald-Khanna); the
#: verdicts allow 2x headroom.
_PA_QS = (0.5, 0.9, 0.99)
_PA_ACCURACY = 100
_PA_EPS = 2.0 / _PA_ACCURACY


def q_event_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``percentile_approx`` (Greenwald-Khanna) as a
    BOUNDED-TOLERANCE gate — the ``doc_length_quantiles_kll``
    convention applied to the built-in sketch: per event type the
    query emits the EXACT discrete quantiles (``percentile_disc`` — an
    actual data value, no interpolation arithmetic to disagree on) as
    the hash-checked half, plus verdicts that each approx estimate's
    exact rank lands within twice the documented ``n/accuracy`` rank
    error. The oracle asserts exact values and all-true verdicts."""
    e = load_table(spark, sf_dir, "events")
    qs = list(_PA_QS)
    agg = e.groupBy("event_type").agg(
        F.percentile_approx("value", qs, _PA_ACCURACY).alias("_appr"),
        *[
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)"
            ).alias(f"_ex{i}")
            for i, q in enumerate(qs)
        ],
    )
    est = agg.select(
        "event_type",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qs]).alias("q"),
                F.col("_appr").alias("av"),
                F.array(*[F.col(f"_ex{i}") for i in range(len(qs))]).alias("ev"),
            )
        ).alias("_z"),
    ).select(
        "event_type",
        F.col("_z.q").alias("q"),
        F.col("_z.av").alias("_av"),
        F.round(F.col("_z.ev"), 6).alias("exact_value"),
    )
    ranks = (
        e.select("event_type", "value")
        .join(F.broadcast(est), "event_type")
        .groupBy("event_type", "q", "_av", "exact_value")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("_av"), 1).otherwise(0)).alias("_le"),
            F.sum(F.when(F.col("value") < F.col("_av"), 1).otherwise(0)).alias("_lt"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return ranks.select(
        "event_type",
        "q",
        "exact_value",
        (F.col("_le") / F.col("_n") >= F.col("q") - _PA_EPS).alias("approx_rank_lo_ok"),
        (F.col("_lt") / F.col("_n") <= F.col("q") + _PA_EPS).alias("approx_rank_hi_ok"),
    )


ORACLE_EVENT_VALUE_QUANTILES_APPROX = """
SELECT event_type, q, exact_value,
       true AS approx_rank_lo_ok,
       true AS approx_rank_hi_ok
FROM (
  SELECT event_type, u.q AS q,
         round(CASE u.q
           WHEN 0.5  THEN quantile_disc(value, 0.5)
           WHEN 0.9  THEN quantile_disc(value, 0.9)
           WHEN 0.99 THEN quantile_disc(value, 0.99)
         END, 6) AS exact_value
  FROM events, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
              (CAST(0.99 AS DOUBLE))) AS u(q)
  GROUP BY event_type, u.q
)
"""

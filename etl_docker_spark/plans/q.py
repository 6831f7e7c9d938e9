"""Relational and SQL queries (the q family).

TPC-H-shaped joins, aggregates and subqueries; windows, grouping sets and
pivots; as-of, interval and range joins; data-quality routing, SCD2 and
incremental loads; file-format round-trips and ingest audits; and the
SQL-surface batteries (collations, variants, XML, intervals, calendars,
statistics, pipe syntax, scripting, SQL UDFs and Python UDTFs).

Every builder sits next to the DuckDB oracle that checks it. `QUERIES`
maps each query name to its `(builder, oracle)` pair.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_docker_spark.operators import (anti_join, conform_schema, dedup_first,
                                        enrich, flag_semi_join)
from etl_docker_spark.operators.asof import asof_join_backward
from etl_docker_spark.plans._util import (_DAY_US, RATE, dec, dsum, rate,
                                          session_conf, t)


# ---------------------------------------------------------------- q01


def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter + 8-way group agg (A1, F17, P5)."""
    l = t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    price, disc, tax, qty = (dec("l_extendedprice"), rate("l_discount"),
                             rate("l_tax"), dec("l_quantity"))
    one = F.lit(1).cast(RATE)
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------- q02


def q02_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Star join through 4 dims, region-filtered (J1/J2/J7, A1).

    region/nation broadcast; customer->orders->lineitem chain lets AQE pick
    broadcast vs shuffled hash by actual size.
    """
    region = t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = enrich(t(spark, sf, "nation"), region,
                    on=[F.col("n_regionkey") == F.col("r_regionkey")], how="inner")
    cust = enrich(t(spark, sf, "customer"), nation,
                  on=[F.col("c_nationkey") == F.col("n_nationkey")], how="inner")
    orders = t(spark, sf, "orders").join(
        cust.select("c_custkey", "n_name"),
        F.col("o_custkey") == F.col("c_custkey"), "inner")
    li = t(spark, sf, "lineitem").join(
        orders.select("o_orderkey", "n_name"),
        F.col("l_orderkey") == F.col("o_orderkey"), "inner")
    price, disc = dec("l_extendedprice"), rate("l_discount")
    one = F.lit(1).cast(RATE)
    return (
        li.groupBy("n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"),
             F.countDistinct("l_orderkey").alias("n_orders"))
    )


Q02_SQL = """
SELECT n_name,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
  COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""

# ---------------------------------------------------------------- q03


def q03_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Join + agg + deterministic top-k (§2.6 orderBy/limit; TakeOrdered)."""
    price, disc = dec("l_extendedprice"), rate("l_discount")
    one = F.lit(1).cast(RATE)
    rev = (t(spark, sf, "lineitem")
           .groupBy("l_orderkey")
           .agg(F.sum(price * (one - disc)).alias("rev_dec")))
    return (
        t(spark, sf, "orders")
        .join(rev, F.col("o_orderkey") == F.col("l_orderkey"), "inner")
        .select("o_orderkey", "o_orderdate", "o_orderpriority",
                F.col("rev_dec").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q03_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""

# ---------------------------------------------------------------- q04


def q04_priority_with_returns(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-join membership (J6/P5): orders having a returned line."""
    returned = t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    flagged = flag_semi_join(
        t(spark, sf, "orders").withColumnRenamed("o_orderkey", "l_orderkey"),
        returned, on=["l_orderkey"], flag_name="has_return")
    return (flagged.filter(F.col("has_return"))
            .groupBy("o_orderpriority").agg(F.count("*").alias("n_orders")))


Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
GROUP BY o_orderpriority
"""

# ---------------------------------------------------------------- q05


def q05_customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Anti join (P11): the reference's loop-delete as one left_anti.

    Restricted to pre-1996 orders so the result is NON-EMPTY at every sf —
    an anti-join gate that always returns zero rows would verify nothing.
    """
    cust = t(spark, sf, "customer")
    early = (t(spark, sf, "orders")
             .filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
             .withColumnRenamed("o_custkey", "c_custkey"))
    return (anti_join(cust, early, on=["c_custkey"])
            .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers")))


Q05_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate < TIMESTAMP '1996-01-01')
GROUP BY c_mktsegment
"""

# ---------------------------------------------------------------- q06


def q06_discount_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: tight scan filter, pushdown-friendly (P5/P6, F14)."""
    l = t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        F.sum(dec("l_extendedprice") * rate("l_discount")).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


Q06_SQL = """
SELECT
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(6,4))) AS VARCHAR) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""

# ---------------------------------------------------------------- q07


def q07_latest_order_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic keep-first dedup (A4 with the §7.3 ordering contract)."""
    latest = dedup_first(
        t(spark, sf, "orders"), keys=["o_custkey"],
        order_by=[F.desc("o_orderdate"), F.desc("o_orderkey")])
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_orderdate").alias("latest_orderdate"),
        F.col("o_totalprice").alias("latest_totalprice"),
    )


Q07_SQL = """
SELECT o_custkey,
       o_orderkey  AS latest_orderkey,
       o_orderdate AS latest_orderdate,
       o_totalprice AS latest_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""

# ---------------------------------------------------------------- q08


def q08_part_ship_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Group-max over multiple columns (A2): latest state per key."""
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_partkey")
        .agg(F.max("l_shipdate").alias("last_ship"),
             F.min("l_shipdate").alias("first_ship"),
             F.max("l_extendedprice").alias("max_price"),
             F.count("*").alias("n_lines"))
    )


Q08_SQL = """
SELECT l_partkey, MAX(l_shipdate) AS last_ship, MIN(l_shipdate) AS first_ship,
       MAX(l_extendedprice) AS max_price, COUNT(*) AS n_lines
FROM lineitem GROUP BY l_partkey
"""

# ---------------------------------------------------------------- q09


def q09_net_quantity_sign(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional sign flip (F15): returns negate, like credit notes."""
    qty = dec("l_quantity")
    price = dec("l_extendedprice")
    signed_qty = F.when(F.col("l_returnflag") == "R", -qty).otherwise(qty)
    signed_price = F.when(F.col("l_returnflag") == "R", -price).otherwise(price)
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_linestatus")
        .agg(F.sum(signed_qty).cast("double").alias("net_qty"),
             F.sum(signed_price).cast("double").alias("net_sales"),
             F.count("*").alias("n_lines"))
    )


Q09_SQL = """
SELECT l_linestatus,
  CAST(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN -CAST(l_quantity AS DECIMAL(12,4)) ELSE CAST(l_quantity AS DECIMAL(12,4)) END) AS VARCHAR) AS DOUBLE) AS net_qty,
  CAST(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN -CAST(l_extendedprice AS DECIMAL(12,4)) ELSE CAST(l_extendedprice AS DECIMAL(12,4)) END) AS VARCHAR) AS DOUBLE) AS net_sales,
  COUNT(*) AS n_lines
FROM lineitem GROUP BY l_linestatus
"""

# ---------------------------------------------------------------- q10


def q10_conform_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-align projection (P2): absent columns appear as typed NULLs."""
    from pyspark.sql import types as T

    target = T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("loyalty_tier", T.StringType()),     # absent in source
        T.StructField("signup_ts", T.TimestampType()),     # absent in source
        T.StructField("c_mktsegment", T.StringType()),
    ])
    return conform_schema(t(spark, sf, "customer"), target)


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal,
       CAST(NULL AS VARCHAR) AS loyalty_tier,
       CAST(NULL AS TIMESTAMP) AS signup_ts,
       c_mktsegment
FROM customer
"""

# ---------------------------------------------------------------- q11


def q11_string_surgery(spark: SparkSession, sf: str) -> DataFrame:
    """String ops (F1-F5): split-into, slice, pad, concat_ws, nullif."""
    from etl_docker_spark.functions import empty_to_null, split_into  # noqa: F401

    name_parts = split_into("c_name", "#", 2)
    return t(spark, sf, "customer").select(
        "c_custkey",
        name_parts[1].cast("long").alias("cust_seq"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_label"),
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg_or_null"),
    )


Q11_SQL = """
SELECT c_custkey,
       CAST(string_split(c_name, '#')[2] AS BIGINT) AS cust_seq,
       substring(c_name, 1, 8) AS name_prefix,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
       concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_label,
       nullif(c_mktsegment, 'MACHINERY') AS seg_or_null
FROM customer
"""

# ---------------------------------------------------------------- q12


def q12_event_daily_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time daily aggregation (F7/F11; batch mirror of a tumbling window)."""
    return (
        t(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"),
             dsum("value").alias("total_value"),
             F.countDistinct("user_id").alias("n_users"))
    )


Q12_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY CAST(ts AS DATE), event_type
"""

# ---------------------------------------------------------------- q13


def q13_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction (F20/F23 analog on JSON strings)."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t(spark, sf, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.max("k").alias("max_k"),
             F.count("k").alias("n_with_k"))
    )


Q13_SQL = """
SELECT event_type,
       CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k, COUNT(k) AS n_with_k
FROM (SELECT event_type,
             CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""

# ---------------------------------------------------------------- q14


def q14_running_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed running total (§2.6): one shuffle on the partition key."""
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


Q14_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend
FROM orders
"""

# ---------------------------------------------------------------- q15


def q15_rollup_totals(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets (free in Spark; absent in the reference)."""
    return (
        t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n_lines"))
    )


Q15_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

# ---------------------------------------------------------------- q16/q18


def q16_union_nations(spark: SparkSession, sf: str) -> DataFrame:
    """Set op UNION-dedup (U1/A3)."""
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


Q16_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q18_nation_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """Set op INTERSECT (§2.7 — free in Spark, absent in the reference)."""
    c = t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


Q18_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""

# ---------------------------------------------------------------- q17


def q17_pivot_linestatus(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot with pinned values (explicit list keeps the plan static)."""
    piv = (
        t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")))
    )
    return piv.select(
        "l_returnflag",
        F.col("O").cast("double").alias("qty_open"),
        F.col("F").cast("double").alias("qty_finished"),
    )


Q17_SQL = """
SELECT l_returnflag,
  CAST(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,4)) END) AS VARCHAR) AS DOUBLE) AS qty_open,
  CAST(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,4)) END) AS VARCHAR) AS DOUBLE) AS qty_finished
FROM lineitem GROUP BY l_returnflag
"""

# ---------------------------------------------------------------- q19


def q19_left_join_default(spark: SparkSession, sf: str) -> DataFrame:
    """Left broadcast enrich with default on miss (J4 `.map` semantics)."""
    seg = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    joined = enrich(t(spark, sf, "orders"), seg,
                    on=[F.col("o_custkey") == F.col("c_custkey")], how="left")
    return (
        joined.select(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
                      F.col("o_totalprice"))
        .groupBy("segment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_spend"))
    )


Q19_SQL = """
SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS total_spend
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
GROUP BY COALESCE(c_mktsegment, 'UNKNOWN')
"""

# ---------------------------------------------------------------- q20


def q20_supplier_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Two-hop chained broadcast enrich (J5): lineitem->supplier->nation."""
    from etl_docker_spark.operators import two_hop_enrich

    li = t(spark, sf, "lineitem").withColumnRenamed("l_suppkey", "s_suppkey")
    out = two_hop_enrich(
        li,
        t(spark, sf, "supplier").select("s_suppkey", "s_nationkey"), ["s_suppkey"],
        t(spark, sf, "nation").select(F.col("n_nationkey").alias("s_nationkey"), "n_name"),
        ["s_nationkey"], how="inner")
    price, disc = dec("l_extendedprice"), rate("l_discount")
    one = F.lit(1).cast(RATE)
    return (out.groupBy("n_name")
            .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"),
                 F.count("*").alias("n_lines")))


Q20_SQL = """
SELECT n_name,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
"""

# ---------------------------------------------------------------- q21


def q21_predicate_combo(spark: SparkSession, sf: str) -> DataFrame:
    """Predicate battery (P5/P6/P7): isin, negated conjunction, NOT contains."""
    o = t(spark, sf, "orders").filter(
        (F.col("o_orderstatus") != "F")
        & ~F.col("o_orderpriority").contains("SPECIFIED")
        & ~((F.col("o_orderpriority") == "5-LOW") & (F.col("o_orderstatus") == "P"))
        & (F.col("o_totalprice") > 50000)
    )
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total"))


Q21_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus <> 'F'
  AND o_orderpriority NOT LIKE '%SPECIFIED%'
  AND NOT (o_orderpriority = '5-LOW' AND o_orderstatus = 'P')
  AND o_totalprice > 50000
GROUP BY o_orderstatus, o_orderpriority
"""

# ---------------------------------------------------------------- q22


def q22_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Batch sessionization: lag + gap>30min cut + per-user session count.

    Micro-exact: gaps compared in integer microseconds (unix_micros), so the
    boundary semantics are identical in any engine.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0)
    per_event = t(spark, sf, "events").select(
        "user_id", "event_id", is_new.alias("is_new"))
    return (per_event.groupBy("user_id")
            .agg(F.sum("is_new").alias("n_sessions"), F.count("*").alias("n_events")))


Q22_SQL = """
WITH g AS (
  SELECT user_id, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM g GROUP BY user_id
"""


# ---------------------------------------------------------------- q23 as-of


def q23_asof_last_order(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each event picks up the user's latest order at or before
    the event time. Union+window encoding — one shuffle, no pair blowup."""
    events = t(spark, sf, "events").select(
        "event_id", F.col("user_id"), "ts", "event_type")
    orders = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate"),
        F.col("o_orderkey"),
        F.col("o_totalprice"),
    )
    # unique right rows per (key, ts): highest orderkey wins (pinned winner)
    orders_u = dedup_first(orders, ["user_id", "o_orderdate"], [F.desc("o_orderkey")])
    out = asof_join_backward(
        events, orders_u, on=["user_id"], left_ts="ts", right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"])
    return out.select(
        "event_id", "user_id", "ts", "event_type",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_order_total"),
    )


Q23_SQL = """
WITH orders_u AS (
  SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice
  FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                             ORDER BY o_orderkey DESC) = 1
)
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       o.o_orderkey AS last_orderkey,
       o.o_totalprice AS last_order_total
FROM events e
ASOF LEFT JOIN orders_u o
  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
"""


# ---------------------------------------------------------------- q24 cube


def q24_cube_totals(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets (free in Spark; absent in the reference).

    Same base-grain discipline as q34: the fact table collapses to the
    finest (returnflag, linestatus) grain first, and CUBE's Expand runs
    over single-digit rows instead of the fact table (decimal partials
    re-sum exactly, so results are bit-identical)."""
    from etl_docker_spark.plans._util import dec

    base = (t(spark, sf, "lineitem")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec("l_quantity")).alias("sq"),
                 F.count("*").alias("n")))
    return (base.cube("l_returnflag", "l_linestatus")
            .agg(F.sum("sq").cast("double").alias("sum_qty"),
                 F.sum("n").alias("n_lines")))


Q24_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""

# ---------------------------------------------------------------- q25 unpivot


def q25_unpivot_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (stack): wide metrics -> long (metric, value) rows."""
    return t(spark, sf, "customer").selectExpr(
        "c_custkey",
        "stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) "
        "AS (metric, value)",
    )


Q25_SQL = """
SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
UNION ALL
SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value FROM customer
"""


# ---------------------------------------------------------------- q26 windows


def q26_window_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Window-function battery (§2.6 extension): lag/lead/first/ntile over a
    total order — one shuffle on the partition key."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_total"),
        F.lead("o_totalprice").over(w).alias("next_total"),
        F.first("o_totalprice").over(w).alias("first_total"),
        F.ntile(4).over(w).alias("spend_quartile"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)).alias("order_seq"),
    )


Q26_SQL = """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice)  OVER w AS prev_total,
       lead(o_totalprice) OVER w AS next_total,
       first_value(o_totalprice) OVER w AS first_total,
       CAST(ntile(4) OVER w AS INT) AS spend_quartile,
       COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------- q27


def q27_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS in one pass: (flag, status), (flag), () — Spark expands
    once and partial-aggregates each set map-side; at 100 TB this is one scan
    instead of three. Grouping flags are surfaced explicitly (INT) because
    NULL group keys are ambiguous with NULL data."""
    l = t(spark, sf, "lineitem")
    return (
        l.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
    )


Q27_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""

# ---------------------------------------------------------------- q28


def q28_ordered_listagg(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): member roster per nation.

    collect_list has no deterministic order in a distributed engine, so the
    contract is sort-then-join — array_sort pins the order after collection
    (binary UTF8, same as DuckDB's ORDER BY on VARCHAR). The dim join
    broadcasts; the agg shuffles names once, grouped by nation.
    """
    cust = t(spark, sf, "customer")
    nation = t(spark, sf, "nation")
    joined = cust.join(F.broadcast(nation),
                       F.col("c_nationkey") == F.col("n_nationkey"))
    return (
        joined.groupBy("n_name")
        .agg(
            F.count("*").alias("n_members"),
            F.array_join(F.array_sort(F.collect_list("c_name")), "|")
            .alias("roster"),
        )
    )


Q28_SQL = """
SELECT n_name, COUNT(*) AS n_members,
       string_agg(c_name, '|' ORDER BY c_name) AS roster
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

# ---------------------------------------------------------------- q29


def q29_quantile_spread(spark: SparkSession, sf: str) -> DataFrame:
    """Exact quantiles (percentile_cont semantics) per group.

    Parity is exact here, not approximate: l_quantity holds integral doubles
    and quartile interpolation fractions are quarters (k/4), so
    lower + (upper-lower)*frac is exactly representable — Spark's
    `percentile` and DuckDB's `quantile_cont` agree bit-for-bit. At scale
    swap in approx_percentile and drop the oracle; the exact form is the
    correctness anchor.
    """
    l = t(spark, sf, "lineitem")
    q = F.col("l_quantity")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.min(q).alias("q_min"),
            F.percentile(q, F.lit(0.25)).alias("q25"),
            F.percentile(q, F.lit(0.5)).alias("q50"),
            F.percentile(q, F.lit(0.75)).alias("q75"),
            F.max(q).alias("q_max"),
            F.count("*").alias("n_rows"),
        )
    )


Q29_SQL = """
SELECT l_returnflag,
       MIN(l_quantity) AS q_min,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5)  AS q50,
       quantile_cont(l_quantity, 0.75) AS q75,
       MAX(l_quantity) AS q_max,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""

# ---------------------------------------------------------------- q30


def q30_time_proximity_join(spark: SparkSession, sf: str) -> DataFrame:
    """Range join: pairs of events by the same user within 60 s.

    Naive form is an O(N^2) theta-join. Scale path: quantize time into
    60 s buckets, explode the LEFT side into (bucket, bucket+1) — every
    qualifying pair shares exactly one (user, bucket) key — then equi-join
    and post-filter the exact time predicate. The shuffle cost tracks
    events-per-user-minute, not N^2. Same-timestamp pairs are ordered by
    event_id so each unordered pair appears once.
    """
    ev = t(spark, sf, "events").select(
        "user_id", F.col("event_id"), F.unix_micros("ts").alias("us"))
    window_us = 60_000_000
    left = ev.select(
        "user_id",
        F.col("event_id").alias("event_a"),
        F.col("us").alias("us_a"),
        F.explode(F.array(
            (F.col("us") / window_us).cast("long"),
            (F.col("us") / window_us).cast("long") + 1,
        )).alias("bucket"),
    )
    right = ev.select(
        "user_id",
        F.col("event_id").alias("event_b"),
        F.col("us").alias("us_b"),
        (F.col("us") / window_us).cast("long").alias("bucket"),
    )
    return (
        left.join(right, ["user_id", "bucket"])
        .filter(
            (F.col("us_b") - F.col("us_a")).between(0, window_us)
            & ((F.col("us_a") < F.col("us_b"))
               | ((F.col("us_a") == F.col("us_b"))
                  & (F.col("event_a") < F.col("event_b"))))
        )
        .select("user_id", "event_a", "event_b",
                (F.col("us_b") - F.col("us_a")).alias("delta_us"))
    )


Q30_SQL = """
SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
       epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 60000000
 AND (epoch_us(a.ts) < epoch_us(b.ts)
      OR (epoch_us(a.ts) = epoch_us(b.ts) AND a.event_id < b.event_id))
"""

# ---------------------------------------------------------------- q31


def q31_multi_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Several COUNT(DISTINCT) in one aggregation + conditional sums.

    Spark plans multi-distinct via Expand (one row per distinct clause) with
    partial aggregation — a single scan and one shuffle, where the reference
    would run one pandas pass per metric. The filtered sum follows the
    decimal-exact recipe; an empty match set yields NULL in both engines.
    """
    o = t(spark, sf, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct(month).alias("n_months"),
            F.sum(F.when(F.col("o_orderstatus") == "F",
                         dec("o_totalprice"))).cast("double")
            .alias("finished_total"),
            F.count("*").alias("n_orders"),
        )
    )


Q31_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT date_trunc('month', o_orderdate)) AS n_months,
       CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F'
                          THEN CAST(o_totalprice AS DECIMAL(12,4)) END)
                 AS VARCHAR) AS DOUBLE) AS finished_total,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------- q32


def q32_scalar_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): revenue from
    small-lot line items — quantity under 20% of that part's average.

    Exercises the SQL scalar-subquery surface; Catalyst decorrelates it
    into an aggregate + join (no per-row re-execution — the reference
    would loop). Determinism: per-part AVG sums integral doubles (exact at
    any order); the revenue total uses the decimal-exact recipe.
    """
    t(spark, sf, "lineitem").createOrReplaceTempView("q32_lineitem")
    t(spark, sf, "part").createOrReplaceTempView("q32_part")
    return spark.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
                 AS small_lot_revenue,
               COUNT(*) AS n_lines
        FROM q32_part p JOIN q32_lineitem l ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity)
            FROM q32_lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """)


Q32_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR)
            AS DOUBLE) AS small_lot_revenue,
       COUNT(*) AS n_lines
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
"""


# ---------------------------------------------------------------- q33


def q33_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history build THROUGH operators/scd2.py: each customer's
    order-priority becomes an effective-dated dimension — one version per
    (customer, order date), valid until the next change date, latest
    version flagged current.

    The update batch is made deterministic first (per (custkey, date) keep
    the max-orderkey row) because SCD2 semantics require one version per
    effective instant. One shuffle on the business key (the version
    window); this is the reference's *_HISTORICO pattern
    (CotyData_IPN.py:1738-1801) as a single declarative operator.
    """
    from pyspark.sql import Window

    from etl_docker_spark.operators.scd2 import scd2_apply

    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey"))
    updates = (o.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select("o_custkey", "o_orderpriority",
                       F.col("o_orderdate").alias("effective_ts")))
    return scd2_apply(None, updates, keys=["o_custkey"],
                      attrs=["o_orderpriority"])


Q33_SQL = """
WITH u AS (
  SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from
  FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                             ORDER BY o_orderkey DESC) = 1
)
SELECT o_custkey, o_orderpriority, valid_from,
       lead(valid_from) OVER w AS valid_to,
       lead(valid_from) OVER w IS NULL AS is_current
FROM u
WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)
"""


# ---------------------------------------------------------------- q34


def q34_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-dimensional aggregate over explicit GROUPING SETS — the full
    cube of (returnflag, linestatus) plus each margin and the grand total.

    Beyond q15's hierarchical ROLLUP: grouping sets are the general shape
    (margins are NOT nested). Scale formulation: Catalyst's Expand node
    duplicates every input row per grouping set, so expanding the FACT
    table multiplies the shuffle by the set count. Every aggregate here
    is algebraic (decimal sums, counts — exactly re-aggregable), so the
    fact table first collapses to the finest grain (one ordinary
    map-side-combined shuffle; single-digit rows), and GROUPING SETS
    expands only that tiny frame. Measured 2.8 s -> 1.0 s at ~sf1,
    bit-identical (decimal partials re-sum exactly). GROUPING() flags
    are surfaced (cast BIGINT) because COALESCE alone cannot distinguish
    a real 'ALL' key from the aggregated-away marker.
    """
    t(spark, sf, "lineitem").createOrReplaceTempView("q34_lineitem")
    return spark.sql("""
        WITH base AS (
          SELECT l_returnflag, l_linestatus,
                 SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sq,
                 SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS rv,
                 COUNT(*) AS n
          FROM q34_lineitem GROUP BY l_returnflag, l_linestatus
        )
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
               CAST(SUM(sq) AS DOUBLE) AS sum_qty,
               CAST(SUM(rv) AS DOUBLE) AS revenue,
               SUM(n) AS n_lines
        FROM base
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
    """)


Q34_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS VARCHAR)
            AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR)
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus), ())
"""

# ---------------------------------------------------------------- q35


def q35_exists_late_ship(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape): 1996 orders with at least one
    line shipped more than 60 days after the order date, counted by
    priority.

    Exercises the EXISTS-subquery surface; Catalyst rewrites it to a LEFT
    SEMI join on l_orderkey (one existence probe, no per-row re-execution
    — the reference's idiom is a row loop with an inner query). The date
    filter prunes the orders scan before the join.
    """
    t(spark, sf, "orders").createOrReplaceTempView("q35_orders")
    t(spark, sf, "lineitem").createOrReplaceTempView("q35_lineitem")
    return spark.sql("""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM q35_orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM q35_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """)


Q35_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""

# ---------------------------------------------------------------- q36


def q36_exact_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated quartiles of l_quantity per return flag.

    `percentile` (Spark) and `quantile_cont` (DuckDB) both compute
    pos = (n-1)*p and linearly interpolate between the two neighbors.
    Over INTEGRAL quantities with quarter fractions every intermediate is
    an exact double, so the interpolated values are bit-identical — exact
    percentiles stay oracle-checkable. (The at-scale variant is the
    approx_percentile sketch; its error bound is engine-specific, so the
    EXACT form is what the gate pins.) One shuffle on the group key; the
    per-group sort is the unavoidable cost of exact order statistics.
    """
    li = t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.5)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.count("*").alias("n_lines"),
    )


Q36_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5)  AS q50,
       quantile_cont(l_quantity, 0.75) AS q75,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
"""

# ---------------------------------------------------------------- q37


def q37_asof_view_purchase(spark: SparkSession, sf: str) -> DataFrame:
    """As-of temporal self-join: each view event paired with the same
    user's most recent purchase at-or-before it (NULLs when none yet).

    Runs THROUGH operators/asof.py — the union+window encoding: ONE
    shuffle on the key, running `last(ignorenulls)` carries the purchase
    forward, no pairwise time-range join to blow up. The oracle is
    DuckDB's native ASOF LEFT JOIN, so equality checks our encoding
    against a reference implementation of the semantics. Purchases are
    pre-deduped per (user, ts) — ASOF requires unique right timestamps.
    """
    from etl_docker_spark.operators.asof import asof_join_backward

    ev = t(spark, sf, "events")
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"), "user_id", "ts"))
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1)
                 .select("user_id", F.col("ts").alias("pts"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("value").alias("purchase_value")))
    joined = asof_join_backward(
        views, purchases, on=["user_id"], left_ts="ts", right_ts="pts",
        value_cols=["purchase_id", "purchase_value", "pts"])
    return joined.select(
        "view_id", "user_id", "ts", "purchase_id", "purchase_value",
        (F.unix_micros("ts") - F.unix_micros("pts")).alias("since_us"))


Q37_SQL = """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts FROM events
  WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts AS pts, event_id AS purchase_id,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC) = 1
)
SELECT v.view_id, v.user_id, v.ts, p.purchase_id, p.purchase_value,
       epoch_us(v.ts) - epoch_us(p.pts) AS since_us
FROM v ASOF LEFT JOIN p
  ON v.user_id = p.user_id AND p.pts <= v.ts
"""


# ---------------------------------------------------------------- q38

_FUNNEL_WINDOW_H = 6  # max hours between consecutive funnel stages


def q38_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase, each stage
    within 6 h of the previous one; per-stage distinct users + conversion
    from the previous stage in ppm.

    Scale shape: ONE shuffle. Events hash-partition by user_id once; the
    three stage timestamps are chained window MINs over that same
    partitioning (t1 = first view; t2 = first click in (t1, t1+6h];
    t3 = first purchase in (t2, t2+6h]), so stages 2 and 3 add no
    exchange. The final stage counts are a tiny global aggregate. The
    groupBy-and-rejoin formulation (what the SQL oracle uses) would scan
    and shuffle events three times.
    """
    ev = t(spark, sf, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    lim = F.expr(f"INTERVAL {_FUNNEL_WINDOW_H} HOURS")
    staged = (
        ev.withColumn(
            "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
        .withColumn(
            "t2", F.min(F.when((F.col("event_type") == "click")
                               & (F.col("ts") > F.col("t1"))
                               & (F.col("ts") <= F.col("t1") + lim),
                               F.col("ts"))).over(w))
        .withColumn(
            "t3", F.min(F.when((F.col("event_type") == "purchase")
                               & (F.col("ts") > F.col("t2"))
                               & (F.col("ts") <= F.col("t2") + lim),
                               F.col("ts"))).over(w))
    )
    counts = staged.agg(
        F.count_distinct(F.when(F.col("t1").isNotNull(), F.col("user_id")))
        .alias("n1"),
        F.count_distinct(F.when(F.col("t2").isNotNull(), F.col("user_id")))
        .alias("n2"),
        F.count_distinct(F.when(F.col("t3").isNotNull(), F.col("user_id")))
        .alias("n3"),
    )
    return counts.selectExpr(
        "stack(3, '1_view', n1, CAST(1000000 AS BIGINT),"
        " '2_click', n2, CASE WHEN n1 = 0 THEN 0 ELSE (1000000 * n2) div n1 END,"
        " '3_purchase', n3, CASE WHEN n2 = 0 THEN 0 ELSE (1000000 * n3) div n2 END)"
        " AS (stage, n_users, conv_from_prev_ppm)")


Q38_SQL = f"""
WITH t1 AS (
  SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS v
  FROM events GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS c
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND t1.v IS NOT NULL
    AND e.ts > t1.v AND e.ts <= t1.v + INTERVAL {_FUNNEL_WINDOW_H} HOUR
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS p
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > t2.c AND e.ts <= t2.c + INTERVAL {_FUNNEL_WINDOW_H} HOUR
  GROUP BY e.user_id
),
n AS (
  SELECT (SELECT count(v) FROM t1) AS n1,
         (SELECT count(*) FROM t2) AS n2,
         (SELECT count(*) FROM t3) AS n3
)
SELECT '1_view' AS stage, n1 AS n_users,
       CAST(1000000 AS BIGINT) AS conv_from_prev_ppm FROM n
UNION ALL
SELECT '2_click', n2,
       CASE WHEN n1 = 0 THEN 0 ELSE (1000000 * n2) // n1 END FROM n
UNION ALL
SELECT '3_purchase', n3,
       CASE WHEN n2 = 0 THEN 0 ELSE (1000000 * n3) // n2 END FROM n
"""


# ---------------------------------------------------------------- q39


def q39_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Daily cohort retention: cohort = epoch-day of a user's first
    `signup` event; for each (cohort_day, day offset >= 0) the distinct
    users active that day and retention vs cohort size in ppm.

    Day indexes are integer epoch-microsecond divisions (identical in any
    engine — no week-truncation convention to disagree on). Scale shape:
    the firsts frame is one row per user (orders of magnitude smaller than
    events), so it BROADCASTS into the events scan; cohort sizes are a
    tiny aggregate broadcast again. Events shuffle once, for the
    (cohort_day, off) count-distinct.
    """
    ev = t(spark, sf, "events")
    day = (F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("long")
    # min of the day index == day index of min ts (floor-div is monotone)
    cohorts = (ev.filter(F.col("event_type") == "signup")
               .groupBy("user_id")
               .agg(F.min(day).alias("cohort_day")))
    sizes = (cohorts.groupBy("cohort_day")
             .agg(F.count("*").alias("cohort_users")))
    active = (
        ev.select("user_id", day.alias("d"))
        .join(F.broadcast(cohorts), "user_id")
        .filter(F.col("d") >= F.col("cohort_day"))
        .groupBy("cohort_day", (F.col("d") - F.col("cohort_day")).alias("off"))
        .agg(F.count_distinct("user_id").alias("n_active")))
    return (active.join(F.broadcast(sizes), "cohort_day")
            .select("cohort_day", "off", "n_active", "cohort_users",
                    F.expr("(1000000 * n_active) div cohort_users")
                    .alias("retention_ppm")))


Q39_SQL = f"""
WITH f AS (
  SELECT user_id,
         CAST(epoch_us(min(ts)) AS BIGINT) // {_DAY_US} AS cohort_day
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
sizes AS (
  SELECT cohort_day, count(*) AS cohort_users FROM f GROUP BY cohort_day
),
active AS (
  SELECT f.cohort_day,
         CAST(epoch_us(e.ts) AS BIGINT) // {_DAY_US} - f.cohort_day AS off,
         count(DISTINCT e.user_id) AS n_active
  FROM events e JOIN f USING (user_id)
  WHERE CAST(epoch_us(e.ts) AS BIGINT) // {_DAY_US} >= f.cohort_day
  GROUP BY 1, 2
)
SELECT cohort_day, off, n_active, cohort_users,
       (1000000 * n_active) // cohort_users AS retention_ppm
FROM active JOIN sizes USING (cohort_day)
"""


# ---------------------------------------------------------------- q40

_TRAIL_DAYS = 30


def q40_trailing_spend_range(spark: SparkSession, sf: str) -> DataFrame:
    """Per order: the customer's trailing-30-day spend and order count, via
    a RANGE window frame over the epoch-day index (peers on the same day
    aggregate together — RANGE, not ROWS, semantics).

    The rolling-metrics shape (trailing revenue, 30-day actives) that ROWS
    frames can't express when event spacing is irregular. Scale: one hash
    partition by customer + partition-local sort; the frame is computed in
    a single pass per partition (Spark's window operator keeps a sliding
    aggregate buffer — no per-row rescan).
    """
    orders = t(spark, sf, "orders")
    # long, not int: DuckDB datediff emits BIGINT and the external hash
    # is type-sensitive — widths must agree cross-engine (round-5 sweep)
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
    w = (Window.partitionBy("o_custkey").orderBy("day_idx")
         .rangeBetween(-_TRAIL_DAYS, 0))
    return (orders
            .select("o_custkey", "o_orderkey", day.alias("day_idx"),
                    F.col("o_totalprice"))
            .select("o_custkey", "o_orderkey", "day_idx",
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w)
                    .cast("double").alias("trailing_spend"),
                    F.count("*").over(w).alias("trailing_orders")))


Q40_SQL = f"""
SELECT o_custkey, o_orderkey,
       datediff('day', DATE '1970-01-01', o_orderdate) AS day_idx,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS VARCHAR)
            AS DOUBLE) AS trailing_spend,
       COUNT(*) OVER w AS trailing_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
             RANGE BETWEEN {_TRAIL_DAYS} PRECEDING AND CURRENT ROW)
"""

# ---------------------------------------------------------------- q41


def q41_salted_segment_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue per market segment computed THROUGH `salted_join` — the skew
    mitigation operator — with the plain unsalted join as the oracle. The
    gate thereby proves the salting transform is semantics-preserving on
    real data (same rows, same exact sums), not just on unit fixtures.

    Scale: the big side (orders) is salted over 8 buckets on o_orderkey,
    the small side (customer) replicated 8-fold; a pathological hot
    customer key spreads over 8 tasks instead of one straggler. Salt
    columns never leave the join.
    """
    from etl_docker_spark.operators.skew import salted_join

    orders = (t(spark, sf, "orders")
              .select(F.col("o_custkey").alias("custkey"),
                      "o_orderkey", "o_totalprice"))
    cust = (t(spark, sf, "customer")
            .select(F.col("c_custkey").alias("custkey"), "c_mktsegment"))
    joined = salted_join(orders, cust, on=["custkey"],
                         salt_from="o_orderkey", n=8)
    return (joined.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(dsum("o_totalprice").alias("revenue"),
                 F.count("*").alias("n_orders")))


Q41_SQL = """
SELECT c.c_mktsegment AS segment,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))) AS VARCHAR)
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


# ---------------------------------------------------------------- q42

_LATE_DAYS = 60  # shipped more than this many days after the order date


def q42_sole_late_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Suppliers who were the ONLY late shipper (> 60 days after the order
    date) on orders involving at least two suppliers — TPC-H Q21's
    correlation shape (EXISTS other-supplier AND NOT EXISTS other-late-
    supplier) on this schema's columns.

    Spark-first: instead of Q21's textbook pair of correlated self-joins
    (two extra scans of the fact table), pre-aggregate to the distinct
    (order, supplier) grain with a per-supplier any-late flag, then one
    order-level rollup counts suppliers and late suppliers as plain
    count/sum; the qualifying orders (|supps| > 1, |late| = 1) credit
    their single late supplier. Two count_distinct over one groupBy was
    2.7 s here (sf0.1) because Catalyst's Expand doubles every fact row
    for the multi-distinct rewrite; the pair-grain pre-aggregation does
    the same dedup map-side-combined and runs 1.6 s — and at 100 TB the
    Expand is 2x the fact shuffle, the pre-aggregation is |distinct
    pairs|. Supplier-name join broadcasts the dim.
    """
    orders = t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = (t(spark, sf, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_shipdate"))
    flagged = (li.join(orders, li.l_orderkey == orders.o_orderkey)
               .select("l_orderkey", "l_suppkey",
                       (F.datediff("l_shipdate", "o_orderdate") > _LATE_DAYS)
                       .alias("late")))
    per_pair = (flagged.groupBy("l_orderkey", "l_suppkey")
                .agg(F.max("late").alias("any_late")))
    per_order = (per_pair.groupBy("l_orderkey")
                 .agg(F.count("*").alias("n_supps"),
                      F.sum(F.col("any_late").cast("long")).alias("n_late"),
                      F.min(F.when(F.col("any_late"), F.col("l_suppkey")))
                      .alias("late_supp")))
    blamed = (per_order
              .filter((F.col("n_supps") > 1) & (F.col("n_late") == 1))
              .groupBy(F.col("late_supp").alias("s_suppkey"))
              .agg(F.count("*").alias("numwait")))
    supp = t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (blamed.join(F.broadcast(supp), "s_suppkey")
            .select("s_suppkey", "s_name", "numwait"))


Q42_SQL = f"""
WITH flagged AS (
  SELECT l.l_orderkey, l.l_suppkey,
         datediff('day', o.o_orderdate, l.l_shipdate) > {_LATE_DAYS} AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
         MIN(CASE WHEN late THEN l_suppkey END) AS late_supp
  FROM flagged GROUP BY l_orderkey
)
SELECT s.s_suppkey, s.s_name, b.numwait
FROM (
  SELECT late_supp AS suppkey, COUNT(*) AS numwait
  FROM per_order WHERE n_supps > 1 AND n_late = 1
  GROUP BY late_supp
) b JOIN supplier s ON s.s_suppkey = b.suppkey
"""


# ---------------------------------------------------------------- q43

_ZONES = 32


def q43_zonemap_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map metadata for a range layout of lineitem on l_shipdate: 32
    equal-height zones, each reporting the pruning stats a scan planner
    reads (min/max sort key, min/max join key, row count).

    This is the WRITE-side of partition pruning at 100 TB: a fact laid out
    by repartitionByRange(l_shipdate) + sortWithinPartitions gives every
    file a tight shipdate zone, so a date-windowed query prunes ~31/32 of
    the scan.

    The naive formulation — ntile over one global window — sorts the whole
    fact in a single task (measured: 8.5 s of the query's 8.5 s at 6M
    rows). This plan computes the SAME ntile via distributed two-phase
    ranking: row_number within each shipdate (the window partitions by
    date, so it parallelizes), plus each date's cumulative start offset
    from a per-date count aggregate (~2.5k rows, prefix-summed via the
    two-phase operators/prefix.py form, broadcast back). The oracle
    stays the plain `ntile(32)` — the
    gate itself proves the two-phase form is ntile-exact, q41-style.
    """
    from etl_docker_spark.operators.prefix import prefix_sum_ordered

    li = t(spark, sf, "lineitem").select(
        "l_shipdate", "l_orderkey", "l_linenumber")
    per_date = li.groupBy("l_shipdate").agg(F.count("*").alias("cnt"))
    starts = (prefix_sum_ordered(per_date, [F.asc("l_shipdate")],
                                 "cnt", "__cum")
              .select("l_shipdate",
                      (F.col("__cum") - F.col("cnt")).alias("start")))
    n1 = li.agg(F.count("*").alias("n"))
    wr = Window.partitionBy("l_shipdate").orderBy("l_orderkey",
                                                  "l_linenumber")
    ranked = (li.withColumn("lr", F.row_number().over(wr))
              .join(F.broadcast(starts), "l_shipdate")
              .crossJoin(F.broadcast(n1))
              .withColumn("r", (F.col("start") + F.col("lr")).cast("long")))
    # ntile semantics: q = n div Z, m = n mod Z; the first m tiles hold
    # q+1 rows, the rest q (assumes n >= Z, true for every corpus here)
    zone = F.expr(
        f"CASE WHEN r <= (n DIV {_ZONES} + 1) * (n % {_ZONES}) "
        f"THEN (r - 1) DIV (n DIV {_ZONES} + 1) + 1 "
        f"ELSE (n % {_ZONES}) "
        f"  + (r - (n % {_ZONES}) * (n DIV {_ZONES} + 1) - 1) "
        f"    DIV (n DIV {_ZONES}) + 1 END").cast("long")
    return (ranked.withColumn("zone", zone)
            .groupBy("zone")
            .agg(F.count("*").alias("n_rows"),
                 F.min("l_shipdate").alias("min_shipdate"),
                 F.max("l_shipdate").alias("max_shipdate"),
                 F.min("l_orderkey").alias("min_orderkey"),
                 F.max("l_orderkey").alias("max_orderkey"))
            .select("zone", "n_rows", "min_shipdate", "max_shipdate",
                    "min_orderkey", "max_orderkey"))


Q43_SQL = f"""
WITH z AS (
  SELECT l_shipdate, l_orderkey,
         CAST(ntile({_ZONES}) OVER (ORDER BY l_shipdate, l_orderkey,
                                    l_linenumber) AS BIGINT) AS zone
  FROM lineitem
)
SELECT zone, COUNT(*) AS n_rows,
       MIN(l_shipdate) AS min_shipdate, MAX(l_shipdate) AS max_shipdate,
       MIN(l_orderkey) AS min_orderkey, MAX(l_orderkey) AS max_orderkey
FROM z GROUP BY zone
"""


# ---------------------------------------------------------------- q44

_BLOOM_M = 8192  # bits; k=2 hash functions (the two md5 halves)


def q44_bloom_prune_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime Bloom-filter pruning over the orders→customer key flow:
    build a k=2, m=8192-bit filter from the DISTINCT order custkeys, probe
    every customer, report per-segment (probed, passed, true members,
    false positives).

    This is the mechanism behind runtime row-group skipping at 100 TB: the
    build side reduces to a bit set (here ≤2·|keys| positions, broadcast as
    a tiny frame), the probe side never shuffles — membership is two
    broadcast-hash-join lookups. The false-positive column is the leak rate
    a planner trades against scan savings; at sf0.1 the same m saturates —
    the sizing lesson is visible in the output, not just claimed.

    Exactness: bit positions are md5 halves mod m (portable), counts are
    integers; the oracle rebuilds the identical filter.
    """
    from etl_docker_spark.llm.dedup import _hash64_halves

    ok = (t(spark, sf, "orders").select("o_custkey").distinct())
    h0, h1 = _hash64_halves(F.col("o_custkey").cast("string"))
    pos = (ok.select((h0 % _BLOOM_M).alias("p"))
           .unionAll(ok.select((h1 % _BLOOM_M).alias("p")))
           .distinct())
    bits1 = pos.select(F.col("p").alias("p1"), F.lit(1).alias("hit1"))
    bits2 = pos.select(F.col("p").alias("p2"), F.lit(1).alias("hit2"))
    member = ok.select(F.col("o_custkey").alias("c_custkey"),
                       F.lit(1).alias("mem"))

    cust = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    ch0, ch1 = _hash64_halves(F.col("c_custkey").cast("string"))
    probed = (cust.select("c_custkey", "c_mktsegment",
                          (ch0 % _BLOOM_M).alias("p1"),
                          (ch1 % _BLOOM_M).alias("p2"))
              .join(F.broadcast(bits1), "p1", "left")
              .join(F.broadcast(bits2), "p2", "left")
              .join(F.broadcast(member), "c_custkey", "left")
              .withColumn("pass",
                          (F.col("hit1").isNotNull()
                           & F.col("hit2").isNotNull()).cast("int")))
    return (probed.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_probed"),
                 F.sum("pass").cast("long").alias("n_passed"),
                 F.sum(F.coalesce("mem", F.lit(0))).cast("long")
                 .alias("n_members"),
                 F.sum(F.when((F.col("pass") == 1) & F.col("mem").isNull(),
                              1).otherwise(0)).cast("long")
                 .alias("n_false_pos")))


Q44_SQL = f"""
WITH ok AS (SELECT DISTINCT o_custkey FROM orders),
pos AS (
  SELECT DISTINCT p FROM (
    SELECT CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8)
                AS BIGINT) % {_BLOOM_M} AS p FROM ok
    UNION ALL
    SELECT CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 9, 8)
                AS BIGINT) % {_BLOOM_M} AS p FROM ok)
),
probed AS (
  SELECT c.c_mktsegment,
         CASE WHEN b1.p IS NOT NULL AND b2.p IS NOT NULL THEN 1 ELSE 0 END
             AS pass,
         CASE WHEN m.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS mem
  FROM customer c
  LEFT JOIN pos b1
    ON b1.p = CAST('0x' || substring(md5(CAST(c.c_custkey AS VARCHAR)), 1, 8)
                   AS BIGINT) % {_BLOOM_M}
  LEFT JOIN pos b2
    ON b2.p = CAST('0x' || substring(md5(CAST(c.c_custkey AS VARCHAR)), 9, 8)
                   AS BIGINT) % {_BLOOM_M}
  LEFT JOIN ok m ON m.o_custkey = c.c_custkey
)
SELECT c_mktsegment, COUNT(*) AS n_probed,
       CAST(SUM(pass) AS BIGINT) AS n_passed,
       CAST(SUM(mem) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN pass = 1 AND mem = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_pos
FROM probed GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------- q45

_SESS_GAP_MIN = 30


def q45_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands sessionization: events more than 30 minutes apart
    start a new session; per session report bounds, size, and value.

    One shuffle total: both window passes (new-session flag via lag, then
    running session counter) and the final groupBy all share the user_id
    hash partitioning — Catalyst plans a single Exchange. Ties on ts order
    by event_id so session numbering is total-ordered and reproducible.
    """
    ev = t(spark, sf, "events").select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _SESS_GAP_MIN * 60 * 1_000_000
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(prev.isNull()
               | (F.unix_micros(F.col("ts")) - prev > gap_us), 1)
        .otherwise(0))
    sess = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    return (sess.groupBy("user_id", "sess_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("start_ts"),
                 F.max("ts").alias("end_ts"),
                 (F.unix_micros(F.max("ts"))
                  - F.unix_micros(F.min("ts"))).alias("duration_us"),
                 dsum("value").alias("total_value")))


Q45_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > {_SESS_GAP_MIN * 60 * 1000000}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS sess_id
  FROM flagged
)
SELECT user_id, sess_id, COUNT(*) AS n_events,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
           AS total_value
FROM sess GROUP BY user_id, sess_id
"""

# ---------------------------------------------------------------- q46


def q46_incremental_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental aggregate maintenance: the fact splits into a BASE slice
    (event_id % 10 < 8) and a DELTA slice; each aggregates independently
    and the two partial states merge by re-aggregation. The oracle is the
    single-pass aggregate over everything — equality is the view-
    maintenance contract (merge(partial, delta) == recompute).

    The load-bearing detail: partial sums stay DECIMAL through the merge
    and cast to DOUBLE only at the end. Partials that round to double
    early would drift from the full recompute — the same reason Spark's
    own agg buffers keep exact intermediate state.
    """
    ev = t(spark, sf, "events").select("event_type", "event_id", "value")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,4)")).alias("s"))

    base = partial(ev.filter(F.col("event_id") % 10 < 8))
    delta = partial(ev.filter(F.col("event_id") % 10 >= 8))
    return (base.unionByName(delta)
            .groupBy("event_type")
            .agg(F.sum("n").alias("n_events"),
                 F.sum("s").cast("double").alias("total_value")))


Q46_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
           AS total_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------- q47


def q47_global_outlier_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: per market segment, count customers whose account
    balance exceeds the GLOBAL positive-balance average AND who have
    placed no order since 2001 — a global scalar subquery feeding a filter
    plus an anti-join, the decorrelation pattern Q22 exists to test. (Q22
    proper windows the anti-join by time; this corpus has no order-less
    customers at all, so the time window is what keeps the result
    non-trivial.)

    Plan shape: the scalar aggregate is one map-side-combined pass
    broadcast into the filter (one row); the no-orders condition is a
    broadcast anti-join on the distinct order custkeys. The big side
    (customer) is scanned once, never shuffled — the groupBy shuffles only
    surviving (segment, balance) rows. The "above average" compare is
    exact integer CROSS-MULTIPLICATION (bal*n > sum over scale-4 fixed
    point) — engine decimal division rounds differently engine-to-engine
    and a half-ulp would flip boundary rows.
    """
    cust = t(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        (F.col("c_acctbal").cast("decimal(18,4)") * 10000).cast("long")
        .alias("bal_i"))
    avg_pos = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.sum("bal_i").alias("s"), F.count("*").alias("n")))
    ok = (t(spark, sf, "orders")
          .filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
          .select("o_custkey").distinct())
    rich = (cust.crossJoin(F.broadcast(avg_pos))
            .filter(F.col("bal_i") * F.col("n") > F.col("s"))
            .join(F.broadcast(ok),
                  cust.c_custkey == ok.o_custkey, "left_anti"))
    return (rich.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count("*").alias("n_customers"),
                 dsum("c_acctbal").alias("total_balance")))


Q47_SQL = """
WITH cb AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         CAST(CAST(c_acctbal AS DECIMAL(18,4)) * 10000 AS BIGINT) AS bal_i
  FROM customer
),
avg_pos AS (
  SELECT SUM(bal_i) AS s, COUNT(*) AS n FROM cb WHERE c_acctbal > 0
)
SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
           AS total_balance
FROM cb c
WHERE c.bal_i * (SELECT n FROM avg_pos) > (SELECT s FROM avg_pos)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= DATE '2001-01-01')
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------- q48

_Q48_N1, _Q48_N2 = "NATION_1", "NATION_2"


def q48_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between two nations (both
    directions), by ship year.

    Plan shape: nation is broadcast into supplier/customer; the
    nation-filtered supplier (2/25 of a small dim) is broadcast into
    lineitem BEFORE the lineitem-orders shuffle join, so only ~8% of
    lineitem rows pay the big shuffle. The customer side is left to AQE —
    at 100 TB a 2/25 customer slice is too big to broadcast and becomes
    the probe side of the orders join; at bench SF AQE broadcasts it.
    The shipdate filter is pushed to the parquet scan.
    """
    nat = t(spark, sf, "nation").filter(F.col("n_name").isin(_Q48_N1, _Q48_N2))
    supp = (t(spark, sf, "supplier")
            .join(F.broadcast(nat.select("n_nationkey",
                                         F.col("n_name").alias("supp_nation"))),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "supp_nation"))
    cust = (t(spark, sf, "customer")
            .join(F.broadcast(nat.select(F.col("n_nationkey").alias("cnk"),
                                         F.col("n_name").alias("cust_nation"))),
                  F.col("c_nationkey") == F.col("cnk"))
            .select("c_custkey", "cust_nation"))
    li = (t(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1999-01-01"))
                  & (F.col("l_shipdate") < F.lit("2001-01-01")))
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
                  "l_shipdate"))
    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    j = (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, F.col("o_custkey") == cust.c_custkey)
         .filter(F.col("supp_nation") != F.col("cust_nation")))
    price, disc = dec("l_extendedprice"), rate("l_discount")
    one = F.lit(1).cast(RATE)
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"),
                 F.count("*").alias("n_lines")))


Q48_SQL = f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                     * (CAST(1 AS DECIMAL(6,4))
                        - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR)
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ns.n_name IN ('{_Q48_N1}', '{_Q48_N2}')
  AND nc.n_name IN ('{_Q48_N1}', '{_Q48_N2}')
  AND ns.n_name <> nc.n_name
  AND l_shipdate >= TIMESTAMP '1999-01-01'
  AND l_shipdate <  TIMESTAMP '2001-01-01'
GROUP BY 1, 2, 3
"""

# ---------------------------------------------------------------- q49

_Q49_REGION = "ASIA"
_Q49_NATION = "NATION_7"  # in ASIA (regionkey = nationkey % 5 = 2)

# Exact scale-4 fixed-point line revenue: price_i * (1 - disc) without ever
# leaving BIGINT. Identical integer ops on both engines => identical values;
# the div-10000 rescale happens per line so year-level sums stay far inside
# BIGINT at any bench multiple.
_REV_I4 = ("(CAST(CAST({p} AS DECIMAL(18,4)) * 10000 AS BIGINT)"
           " * (10000 - CAST(CAST({d} AS DECIMAL(6,4)) * 10000 AS BIGINT)))"
           " {div} 10000")


def _rev_i4_col() -> F.Column:
    return F.expr(_REV_I4.format(p="l_extendedprice", d="l_discount",
                                 div="div"))


def q49_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7 suppliers' share of the ASIA customer
    market by order year, as exact ppm.

    The share is (nation revenue * 1e6) div (total revenue) over scale-4
    fixed-point sums — promoted to DECIMAL(38,0) for the multiply so the
    integral division is exact at any scale factor. Engine decimal
    DIVISION is never used: its result scale/rounding differs engine to
    engine, and a half-ulp flips a ppm.

    Plan: region->nation->customer chain collapses to a broadcast filter
    on orders; supplier nation rides a broadcast into lineitem; one
    shuffle joins the two fact slices; the year groupBy is map-side
    combined to a handful of rows.
    """
    nat = t(spark, sf, "nation")
    reg = t(spark, sf, "region").filter(F.col("r_name") == _Q49_REGION)
    asia_nat = (nat.join(F.broadcast(reg),
                         nat.n_regionkey == reg.r_regionkey)
                .select("n_nationkey"))
    cust = (t(spark, sf, "customer")
            .join(F.broadcast(asia_nat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey"))
    orders = (t(spark, sf, "orders")
              .join(cust, F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey", "o_orderdate"))
    supp = (t(spark, sf, "supplier")
            .join(F.broadcast(nat.select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_i4_col().alias("rev_i4"))
    j = (li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(orders, F.col("l_orderkey") == F.col("o_orderkey")))
    agg = (j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
           .agg(F.sum(F.when(F.col("supp_nation") == _Q49_NATION,
                             F.col("rev_i4")).otherwise(F.lit(0)))
                .alias("nation_rev_i4"),
                F.sum("rev_i4").alias("total_rev_i4")))
    return agg.select(
        "o_year", "nation_rev_i4", "total_rev_i4",
        F.expr("(CAST(nation_rev_i4 AS DECIMAL(38,0)) * 1000000)"
               " div total_rev_i4").alias("share_ppm"))


Q49_SQL = f"""
WITH j AS (
  SELECT year(o_orderdate) AS o_year, ns.n_name AS supp_nation,
         {_REV_I4.format(p="l_extendedprice", d="l_discount", div="//")}
           AS rev_i4
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region    ON nc.n_regionkey = r_regionkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE r_name = '{_Q49_REGION}'
),
agg AS (
  SELECT CAST(o_year AS BIGINT) AS o_year,
         SUM(CASE WHEN supp_nation = '{_Q49_NATION}' THEN rev_i4
                  ELSE 0 END) AS nation_rev_i4,
         SUM(rev_i4) AS total_rev_i4
  FROM j GROUP BY 1
)
SELECT o_year, CAST(nation_rev_i4 AS BIGINT) AS nation_rev_i4,
       CAST(total_rev_i4 AS BIGINT) AS total_rev_i4,
       CAST((CAST(nation_rev_i4 AS HUGEINT) * 1000000)
            // CAST(total_rev_i4 AS HUGEINT) AS BIGINT) AS share_ppm
FROM agg
"""

# ---------------------------------------------------------------- q50


def q50_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose total lineitem value exceeds 1.2x the
    average part value — a grouped aggregate HAVING-compared against a
    global scalar.

    The compare is exact integer cross-multiplication
    (value * n_parts * 10 > total * 12) in DECIMAL(38,0): no division, no
    rounding mode to disagree on, valid at any scale factor. The scalar
    (total, n_parts) is one extra reduce over the already-grouped frame
    and rides a 1-row broadcast — the per-part frame is scanned once,
    never recomputed from the fact.
    """
    per_part = (t(spark, sf, "lineitem")
                .select("l_partkey", _rev_i4_col().alias("rev_i4"))
                .groupBy("l_partkey")
                .agg(F.sum("rev_i4").alias("part_value_i4"),
                     F.count("*").alias("n_lines"))
                .localCheckpoint())
    totals = per_part.agg(F.sum("part_value_i4").alias("tot"),
                          F.count("*").alias("n_parts"))
    return (per_part.crossJoin(F.broadcast(totals))
            .filter(F.expr("CAST(part_value_i4 AS DECIMAL(38,0))"
                           " * n_parts * 10 > CAST(tot AS DECIMAL(38,0))"
                           " * 12"))
            .select("l_partkey", "part_value_i4", "n_lines"))


Q50_SQL = f"""
WITH per_part AS (
  SELECT l_partkey,
         SUM({_REV_I4.format(p="l_extendedprice", d="l_discount", div="//")})
           AS part_value_i4,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(part_value_i4) AS tot, COUNT(*) AS n_parts FROM per_part)
SELECT l_partkey, CAST(part_value_i4 AS BIGINT) AS part_value_i4, n_lines
FROM per_part, tot
WHERE CAST(part_value_i4 AS HUGEINT) * n_parts * 10
      > CAST(tot AS HUGEINT) * 12
"""


# ---------------------------------------------------------------- q51

_Z_BITS = 4  # per-dimension grid bits -> 2^(2*_Z_BITS) Morton cells


def q51_zorder_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order layout cells for lineitem on (l_partkey, l_suppkey): each
    key quantizes to a _Z_BITS-bit grid coordinate (key * 2^bits div
    (max+1) — integer, rank-preserving), the two coordinates interleave
    into a Morton code, and each cell reports the zone stats a planner
    would read (row count, min/max of both keys).

    Why Morton and not sort-by-one-key: a partkey-sorted layout gives
    suppkey zones the FULL key range in every file (no pruning on
    suppkey); Z-interleave bounds both dimensions at once, so predicates
    on either key skip ~(1 - 1/2^bits) of cells. Cell id is per-row
    integer arithmetic against two broadcast max-scalars — no global sort,
    no ntile; at 100 TB this is a map-only pass feeding a
    partitionBy(cell) write.
    """
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    mx = li.agg(F.max("l_partkey").alias("pmax"),
                F.max("l_suppkey").alias("smax"))
    g = 1 << _Z_BITS
    cells = (li.crossJoin(F.broadcast(mx))
             .select("l_partkey", "l_suppkey",
                     F.expr(f"(l_partkey * {g}) div (pmax + 1)").alias("px"),
                     F.expr(f"(l_suppkey * {g}) div (smax + 1)").alias("sy")))
    z = None
    for i in range(_Z_BITS):
        term = (F.shiftright("px", i).bitwiseAND(F.lit(1)) * (1 << (2 * i))
                + F.shiftright("sy", i).bitwiseAND(F.lit(1))
                * (1 << (2 * i + 1)))
        z = term if z is None else z + term
    return (cells.withColumn("zcell", z.cast("long"))
            .groupBy("zcell")
            .agg(F.count("*").alias("n_rows"),
                 F.min("l_partkey").alias("min_partkey"),
                 F.max("l_partkey").alias("max_partkey"),
                 F.min("l_suppkey").alias("min_suppkey"),
                 F.max("l_suppkey").alias("max_suppkey")))


def _q51_zterm_sql() -> str:
    terms = [
        f"(((px >> {i}) & 1) * {1 << (2 * i)}"
        f" + ((sy >> {i}) & 1) * {1 << (2 * i + 1)})"
        for i in range(_Z_BITS)
    ]
    return " + ".join(terms)


Q51_SQL = f"""
WITH mx AS (
  SELECT MAX(l_partkey) AS pmax, MAX(l_suppkey) AS smax FROM lineitem
),
cells AS (
  SELECT l_partkey, l_suppkey,
         (l_partkey * {1 << _Z_BITS}) // (pmax + 1) AS px,
         (l_suppkey * {1 << _Z_BITS}) // (smax + 1) AS sy
  FROM lineitem, mx
)
SELECT CAST({_q51_zterm_sql()} AS BIGINT) AS zcell,
       COUNT(*) AS n_rows,
       MIN(l_partkey) AS min_partkey, MAX(l_partkey) AS max_partkey,
       MIN(l_suppkey) AS min_suppkey, MAX(l_suppkey) AS max_suppkey
FROM cells GROUP BY 1
"""


# ---------------------------------------------------------------- q52

_Q52_MIN_QTY = 150


def q52_big_volume_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 150, with
    customer and order detail.

    Plan shape: the HAVING aggregate runs on the narrowest possible
    projection (orderkey, quantity) with map-side partial sums; the
    surviving whale keys (a tiny set) re-join orders, and THAT small
    result joins customer — at 100 TB the whale set rides broadcast
    joins, so neither dimension is shuffled. Quantity sums stay
    DECIMAL(12,4) end to end (order-insensitive exact), surfacing as
    DOUBLE only in the result.
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    whales = (li.groupBy("l_orderkey")
              .agg(F.sum(F.col("l_quantity").cast("decimal(12,4)"))
                   .alias("qty_dec"))
              .filter(F.col("qty_dec") > _Q52_MIN_QTY))
    orders = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = t(spark, sf, "customer").select("c_custkey", "c_name")
    return (orders.join(whales, orders.o_orderkey == whales.l_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                    "o_totalprice",
                    F.col("qty_dec").cast("double").alias("total_qty")))


Q52_SQL = f"""
WITH whales AS (
  SELECT l_orderkey,
         SUM(CAST(l_quantity AS DECIMAL(12,4))) AS qty_dec
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > {_Q52_MIN_QTY}
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(CAST(qty_dec AS VARCHAR) AS DOUBLE) AS total_qty
FROM whales
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""

# ---------------------------------------------------------------- q53


def q53_promo_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO parts' share of revenue by ship month, in
    exact ppm (integer fixed point, q49's discipline — engine decimal
    division never runs).

    Plan shape: part is a broadcast dim carrying only (key, is-promo);
    one map-side-combined aggregate per month over the joined fact; the
    ppm division happens on 12 rows.
    """
    part = t(spark, sf, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo"))
    li = (t(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("2000-01-01"))
                  & (F.col("l_shipdate") < F.lit("2001-01-01")))
          .select("l_partkey", "l_shipdate",
                  F.expr(_REV_I4.format(p="l_extendedprice", d="l_discount",
                                        div="div")).alias("rev_i4")))
    agg = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
           .groupBy(F.month("l_shipdate").cast("long").alias("ship_month"))
           .agg(F.sum(F.when(F.col("is_promo"), F.col("rev_i4"))
                      .otherwise(F.lit(0))).alias("promo_rev_i4"),
                F.sum("rev_i4").alias("total_rev_i4")))
    return agg.select(
        "ship_month", "promo_rev_i4", "total_rev_i4",
        F.expr("(CAST(promo_rev_i4 AS DECIMAL(38,0)) * 1000000)"
               " div total_rev_i4").alias("promo_ppm"))


Q53_SQL = f"""
WITH j AS (
  SELECT month(l_shipdate) AS ship_month,
         p_type = 'PROMO' AS is_promo,
         {_REV_I4.format(p="l_extendedprice", d="l_discount", div="//")}
           AS rev_i4
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
    AND l_shipdate <  TIMESTAMP '2001-01-01'
),
agg AS (
  SELECT CAST(ship_month AS BIGINT) AS ship_month,
         SUM(CASE WHEN is_promo THEN rev_i4 ELSE 0 END) AS promo_rev_i4,
         SUM(rev_i4) AS total_rev_i4
  FROM j GROUP BY 1
)
SELECT ship_month, CAST(promo_rev_i4 AS BIGINT) AS promo_rev_i4,
       CAST(total_rev_i4 AS BIGINT) AS total_rev_i4,
       CAST((CAST(promo_rev_i4 AS HUGEINT) * 1000000)
            // CAST(total_rev_i4 AS HUGEINT) AS BIGINT) AS promo_ppm
FROM agg
"""


# q54's SQL for both engines: Spark integer division is `div`, DuckDB's
# is `//`; src is the lineitem table or view.
_Q54_SQL = """
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000
                         AS BIGINT)) {div} COUNT(*) AS BIGINT) AS avg_price_i4,
           COUNT(*) AS n_lines
    FROM {src} GROUP BY l_partkey, l_suppkey
),
multi AS (
  SELECT l_partkey FROM ps GROUP BY l_partkey HAVING COUNT(*) >= 2
)
SELECT ps.l_partkey, ps.l_suppkey, ps.avg_price_i4, ps.n_lines
FROM ps JOIN multi ON ps.l_partkey = multi.l_partkey
WHERE ps.avg_price_i4 = (
    SELECT MIN(ps2.avg_price_i4) FROM ps ps2
    WHERE ps2.l_partkey = ps.l_partkey)
"""


def q54_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: for every part supplied by >= 2 suppliers, the
    supplier(s) with the minimum average sale price (ties kept, as Q2
    keeps them).

    Runs through spark.sql so the correlated `= (SELECT MIN ...)` is
    decorrelated by Catalyst into a broadcast-joined per-part aggregate —
    one pass over the (part, supplier) frame, no per-row subquery. The
    multi-supplier restriction is a windowless COUNT(DISTINCT) via a
    grouped HAVING on the same frame.
    """
    t(spark, sf, "lineitem").createOrReplaceTempView("q54_lineitem")
    return spark.sql(_Q54_SQL.format(div="div", src="q54_lineitem"))


Q54_SQL = _Q54_SQL.format(div="//", src="lineitem")


# ---------------------------------------------------------------- q55

_Q55_LATE_DAYS = 90


def q55_dq_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectations over lineitem: one row per rule with
    violation count and pass ppm.

    Single-table rules ride ONE conditional-aggregate pass (map-side
    combined to a handful of counters); the referential and cross-table
    ordering rules share one orderkey join. At 100 TB this audit runs
    per ingest partition before publish, and its output is the table the
    quarantine decision reads (the engine-side generalization of the
    reference's count-verification + Excel-quarantine idioms).
    """
    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity", "l_discount", "l_extendedprice",
        "l_shipdate")
    orders = t(spark, sf, "orders").select("o_orderkey", "o_orderdate")

    single = li.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0))
        .alias("null_shipdate"),
        F.sum(F.when(~F.col("l_quantity").between(1, 50), 1).otherwise(0))
        .alias("qty_out_of_range"),
        F.sum(F.when(~F.col("l_discount").between(0.0, 0.1), 1).otherwise(0))
        .alias("discount_out_of_range"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0))
        .alias("nonpositive_price"))
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
              .agg(
                  F.count("*").alias("n"),
                  F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
                  .alias("orphan_lineitem"),
                  F.sum(F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1)
                        .otherwise(0)).alias("ship_before_order"),
                  F.sum(F.when(
                      F.datediff("l_shipdate", "o_orderdate") > _Q55_LATE_DAYS,
                      1).otherwise(0)).alias("late_shipment_90d")))

    def rows_of(agg: DataFrame, rules: list[str]) -> DataFrame:
        pairs = F.array(*[
            F.struct(F.lit(r).alias("rule"),
                     F.col(r).cast("long").alias("n_violations"))
            for r in rules])
        return (agg.select("n", F.explode(pairs).alias("p"))
                .select(F.col("p.rule").alias("rule"),
                        F.col("p.n_violations").alias("n_violations"),
                        F.col("n").cast("long").alias("n_checked")))

    out = rows_of(single, ["null_shipdate", "qty_out_of_range",
                           "discount_out_of_range", "nonpositive_price"]) \
        .unionByName(rows_of(joined, ["orphan_lineitem", "ship_before_order",
                                      "late_shipment_90d"]))
    return out.withColumn(
        "pass_ppm",
        F.expr("(n_checked - n_violations) * 1000000 div n_checked"))


Q55_SQL = f"""
WITH single AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
           AS null_shipdate,
         SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END)
           AS qty_out_of_range,
         SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END)
           AS discount_out_of_range,
         SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
           AS nonpositive_price
  FROM lineitem
),
joined AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
           AS orphan_lineitem,
         SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
           AS ship_before_order,
         SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate)
                       > {_Q55_LATE_DAYS} THEN 1 ELSE 0 END)
           AS late_shipment_90d
  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
),
rules AS (
  SELECT 'null_shipdate' AS rule, null_shipdate AS n_violations,
         n AS n_checked FROM single
  UNION ALL SELECT 'qty_out_of_range', qty_out_of_range, n FROM single
  UNION ALL SELECT 'discount_out_of_range', discount_out_of_range, n
            FROM single
  UNION ALL SELECT 'nonpositive_price', nonpositive_price, n FROM single
  UNION ALL SELECT 'orphan_lineitem', orphan_lineitem, n FROM joined
  UNION ALL SELECT 'ship_before_order', ship_before_order, n FROM joined
  UNION ALL SELECT 'late_shipment_90d', late_shipment_90d, n FROM joined
)
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_checked AS BIGINT) AS n_checked,
       CAST((CAST(n_checked AS BIGINT) - n_violations) * 1000000
            // n_checked AS BIGINT) AS pass_ppm
FROM rules
"""


# ---------------------------------------------------------------- q56


def q56_variant_shred(spark: SparkSession, sf: str) -> DataFrame:
    """Shred events.props through the VARIANT type: parse_json once,
    variant_get the typed field, aggregate per value decile bucket.

    VARIANT is Spark 4's binary semi-structured representation — parsing
    happens once per row into a navigable value (the engine path Delta
    shredding builds on), vs q13's per-extraction string walk. The gate
    pins that the typed extraction agrees with the oracle's JSON path
    arithmetic exactly.
    """
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    ev = t(spark, sf, "events").select(
        "event_type", "value", k.alias("k"))
    return (ev.withColumn("k_bucket", F.expr("k div 10"))
            .groupBy("event_type", "k_bucket")
            .agg(F.count("*").alias("n_events"),
                 F.min("k").alias("min_k"), F.max("k").alias("max_k"),
                 dsum("value").alias("total_value")))


Q56_SQL = """
SELECT event_type,
       CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) // 10
         AS k_bucket,
       COUNT(*) AS n_events,
       MIN(CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT))
         AS min_k,
       MAX(CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT))
         AS max_k,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- q57

_Q57_K_MIN = 97  # sparse slice: props.k >= 97 (~3% of events) so gaps exist


def q57_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Daily totals for a sparse event slice, densified over the full
    calendar with forward-filled values.

    Plan shape: the sparse aggregate is one map-side-combined groupBy;
    the calendar is a 1-row bounds aggregate crossJoined with the
    distinct type list and exploded (rows = days x types, tiny); the
    left join hangs the observations on it; the forward fill is one
    window per type. At 100 TB the same plan holds — the calendar frame
    is days x types no matter the fact size.
    """
    ev = (t(spark, sf, "events")
          .filter(F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)")
                  >= _Q57_K_MIN)
          .select("event_type", F.date_trunc("day", "ts").alias("day"),
                  F.col("value").cast("decimal(12,4)").alias("v")))
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").alias("n_events"),
        F.sum("v").alias("day_total"))
    bounds = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    types = daily.select("event_type").distinct()
    cal = (types.crossJoin(F.broadcast(bounds))
           .select("event_type",
                   F.explode(F.sequence(
                       F.to_date("mn"), F.to_date("mx"))).alias("d"))
           .select("event_type", F.col("d").cast("timestamp").alias("day")))
    joined = cal.join(daily, ["event_type", "day"], "left")
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    return joined.select(
        "event_type", "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.last("day_total", ignorenulls=True).over(w).cast("double")
        .alias("total_ff"),
        F.col("day_total").isNull().alias("is_gap"))


Q57_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(value AS DECIMAL(12,4)) AS v
  FROM events
  WHERE CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT)
        >= {_Q57_K_MIN}
),
daily AS (
  SELECT event_type, day, COUNT(*) AS n_events, SUM(v) AS day_total
  FROM ev GROUP BY 1, 2
),
bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily),
cal AS (
  SELECT event_type, CAST(d AS TIMESTAMP) AS day
  FROM (SELECT DISTINCT event_type FROM daily),
       bounds,
       LATERAL (SELECT unnest(generate_series(CAST(mn AS DATE),
                                              CAST(mx AS DATE),
                                              INTERVAL 1 DAY)) AS d)
),
joined AS (
  SELECT cal.event_type, cal.day, daily.n_events, daily.day_total
  FROM cal LEFT JOIN daily USING (event_type, day)
)
SELECT event_type, day,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       CAST(CAST(last_value(day_total IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
         AS total_ff,
       day_total IS NULL AS is_gap
FROM joined
"""


# ---------------------------------------------------------------- q58

_Q58_RSD = 0.01      # requested HLL++ relative standard deviation
_Q58_TOL = 0.05      # gate: |est - exact| / exact <= 5σ equivalent


def q58_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HLL++) vs exact, gated on relative error.

    Both sides run over the pre-deduped (event_type, user_id) pairs:
    HLL is duplicate-insensitive, so its estimate is bit-identical on
    distinct input, while the exact count becomes a plain count — one
    map-side-combined dedup shuffle instead of the Expand-doubled
    multi-distinct rewrite (2.3 s -> 1.0 s at sf0.1). At 100 TB only the
    HLL side survives (constant register state per group); the exact twin
    is the gate's measuring stick.
    """
    ev = t(spark, sf, "events")
    du = ev.select("event_type", "user_id").distinct()
    agg = du.groupBy("event_type").agg(
        F.count("*").cast("long").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=_Q58_RSD).alias("apx"))
    return agg.select(
        "event_type", "exact_users",
        (F.abs(F.col("apx") - F.col("exact_users"))
         <= F.lit(_Q58_TOL) * F.col("exact_users")).alias("within_tol"))


Q58_SQL = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol
FROM events GROUP BY event_type
"""

# ---------------------------------------------------------------- q59

_Q59_QS = (0.5, 0.9, 0.99)
_Q59_ACCURACY = 10000   # GK sketch: rank error <= n / accuracy
_Q59_DELTA = 0.005      # gate: observed rank within q +/- 0.5%


def q59_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna) vs exact rank bounds.

    The estimate must be a data value whose rank falls within
    (q ± delta)·n; the exact bound values come from a row_number sort.
    At scale only the sketch side survives (constant memory per group);
    the exact sort is the gate's yardstick.
    """
    ev = t(spark, sf, "events").select("event_type", "value")
    n = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    apx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", list(_Q59_QS), _Q59_ACCURACY)
        .alias("apx"))
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = (ev.withColumn("rn", F.row_number().over(w))
              .join(F.broadcast(n), "event_type"))
    bound_aggs = []
    for i, q in enumerate(_Q59_QS):
        lo_rank = F.greatest(
            F.floor(F.lit(q - _Q59_DELTA) * F.col("n")), F.lit(1))
        hi_rank = F.least(
            F.ceil(F.lit(q + _Q59_DELTA) * F.col("n")), F.col("n"))
        bound_aggs.append(F.max(F.when(F.col("rn") == lo_rank,
                                       F.col("value"))).alias(f"lo{i}"))
        bound_aggs.append(F.max(F.when(F.col("rn") == hi_rank,
                                       F.col("value"))).alias(f"hi{i}"))
    bounds = ranked.groupBy("event_type").agg(*bound_aggs)
    joined = n.join(apx, "event_type").join(bounds, "event_type")
    oks = [((F.col("apx")[i] >= F.col(f"lo{i}"))
            & (F.col("apx")[i] <= F.col(f"hi{i}")))
           .alias(f"p{int(q * 100)}_ok")
           for i, q in enumerate(_Q59_QS)]
    return joined.select("event_type", "n", *oks)


Q59_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------- q60


def q60_quarantine_routing(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level quarantine under the gate (K7/K8 as a running query).

    Malformed rows (business rule: error events, or payload k out of
    range) are routed to a quarantine parquet dir by
    sinks.writers.route_rows_to_quarantine; the clean side aggregates
    per type and carries the quarantine count READ BACK FROM DISK — so
    equality with the filter-twin oracle proves the router dropped
    nothing, duplicated nothing, and persisted every bad row.
    """
    from etl_docker_spark.sinks.writers import route_rows_to_quarantine

    ev = t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    valid = (F.col("event_type") != "error") & (k <= 90)
    with tempfile.TemporaryDirectory(
            prefix="q60_", ignore_cleanup_errors=True) as work:
        clean = route_rows_to_quarantine(
            ev, valid, f"{work}/quarantine", log_path=f"{work}/audit",
            load_table="events")
        n_quarantined = spark.read.parquet(f"{work}/quarantine").count()
        out = (clean.groupBy("event_type")
               .agg(F.count("*").alias("n_clean"),
                    dsum("value").alias("total_value"))
               .withColumn("n_quarantined",
                           F.lit(n_quarantined).cast("long")))
        return out.localCheckpoint()  # pin before the workdir is deleted


Q60_SQL = """
WITH bad AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events
  WHERE event_type = 'error'
     OR CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
)
SELECT event_type, COUNT(*) AS n_clean,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
         AS total_value,
       (SELECT c FROM bad) AS n_quarantined
FROM events
WHERE NOT (event_type = 'error'
           OR CAST(json_extract_string(props, '$.k') AS BIGINT) > 90)
GROUP BY event_type
"""


# ---------------------------------------------------------------- q61


def q61_jsonl_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """File-based JSONL ingestion with bad-record quarantine under the
    gate (sources/files.py): events serialize to JSON lines — rows with
    event_id % 37 == 0 deliberately truncated mid-object — land in a drop
    dir, and ONE permissive scan splits parsed rows from corrupt lines.
    Clean rows aggregate per type; the corrupt count rides every row.
    Equality with the filter-twin oracle proves the scan parsed every
    good line, rejected every bad one, and lost nothing.

    Amounts travel as integer micros (pre-serialization round), so no
    double makes a text round-trip.
    """
    from pyspark.sql import types as T

    from etl_docker_spark.sources.files import read_jsonl_with_quarantine

    ev = t(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("micros"))
    payload = F.to_json(F.struct("event_id", "user_id", "event_type",
                                 "micros"))
    line = F.when(F.pmod("event_id", F.lit(37)) == 0,
                  F.concat(F.lit('{"event_id":'),
                           F.col("event_id").cast("string"))
                  ).otherwise(payload)
    with tempfile.TemporaryDirectory(
            prefix="q61_", ignore_cleanup_errors=True) as work:
        ev.select(line.alias("value")).write.mode("overwrite").text(work)
        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("micros", T.LongType()),
        ])
        clean, corrupt = read_jsonl_with_quarantine(spark, work, schema)
        n_corrupt = corrupt.count()
        out = (clean.groupBy("event_type")
               .agg(F.count("*").alias("n_events"),
                    F.sum("micros").alias("sum_micros"),
                    F.countDistinct("user_id").cast("long")
                    .alias("n_users"))
               .withColumn("n_corrupt", F.lit(n_corrupt).cast("long")))
        return out.localCheckpoint()  # pin before the drop dir is deleted


Q61_SQL = """
WITH bad AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events WHERE event_id % 37 = 0
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_micros,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       (SELECT c FROM bad) AS n_corrupt
FROM events WHERE event_id % 37 <> 0
GROUP BY event_type
"""


# ---------------------------------------------------------------- q62

_Q62_N_WIN = 40      # maintenance windows: start = t0 + i*17h, length 9h


def q62_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Batch interval (range-containment) join, bucketized: events counted
    into overlapping maintenance windows.

    The naive formulation — join on `ts BETWEEN w_start AND w_end` — has
    no equi-key, so Spark plans a broadcast nested loop: every event
    row probed against every window, O(|events|·|windows|) at 100 TB.
    The scale pattern: bucket BOTH sides by calendar day (windows explode
    to the days they touch — bounded fan-out because window length is
    bounded), equi-join on the day, then apply the precise containment
    as a post-filter. The join becomes a hash join on a bounded key,
    pinned by tests/test_plans.py (no BroadcastNestedLoop, no cartesian).
    Distinct users per window via the pair-grain pre-aggregation (no
    Expand — same discipline as q42/q58).
    """
    win = spark.range(_Q62_N_WIN).select(
        F.col("id").alias("win_id"),
        F.expr("timestamp'2024-01-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, id * 17, 0, 0)").alias("w_start"),
        F.expr("timestamp'2024-01-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, id * 17 + 9, 0, 0)").alias("w_end"))
    win_days = win.select(
        "win_id", "w_start", "w_end",
        F.explode(F.sequence(F.to_date("w_start"), F.to_date("w_end")))
        .alias("day"))
    ev = (t(spark, sf, "events")
          .select("user_id", "ts", F.to_date("ts").alias("day")))
    hits = (ev.join(F.broadcast(win_days), "day")
            .filter((F.col("ts") >= F.col("w_start"))
                    & (F.col("ts") < F.col("w_end"))))
    per_pair = (hits.groupBy("win_id", "w_start", "user_id")
                .agg(F.count("*").alias("cnt")))
    return (per_pair.groupBy("win_id", "w_start")
            .agg(F.sum("cnt").alias("n_events"),
                 F.count("*").cast("long").alias("n_users")))


Q62_SQL = f"""
WITH win AS (
  SELECT i AS win_id,
         TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 17 HOUR AS w_start,
         TIMESTAMP '2024-01-01 00:00:00' + (i * 17 + 9) * INTERVAL 1 HOUR
           AS w_end
  FROM (SELECT unnest(generate_series(0, {_Q62_N_WIN - 1})) AS i)
),
hits AS (
  SELECT w.win_id, w.w_start, e.user_id
  FROM events e JOIN win w
    ON e.ts >= w.w_start AND e.ts < w.w_end
)
SELECT win_id, w_start, COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM hits GROUP BY win_id, w_start
"""


# ---------------------------------------------------------------- q63


_Q63_SQL = """
WITH o95 AS (
  SELECT o_custkey FROM {src}
  WHERE o_orderdate >= DATE '1995-01-01'
    AND o_orderdate < DATE '1996-01-01'
),
urgent AS (
  SELECT o_custkey FROM {src} WHERE o_orderpriority = '1-URGENT'
)
SELECT 'both' AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (SELECT * FROM o95 INTERSECT SELECT * FROM urgent)
UNION ALL
SELECT '1995_only', CAST(COUNT(*) AS BIGINT)
FROM (SELECT * FROM o95 EXCEPT SELECT * FROM urgent)
UNION ALL
SELECT 'urgent_only', CAST(COUNT(*) AS BIGINT)
FROM (SELECT * FROM urgent EXCEPT SELECT * FROM o95)
"""


def q63_set_operations(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI set-operation surface: INTERSECT and EXCEPT (set semantics)
    over customer key sets, with the counts of each region surfaced.

    Catalyst compiles INTERSECT to a left-semi and EXCEPT to a left-anti
    join over distinct inputs — the same physical shapes as q04/q05, but
    the declarative set-op form is its own API surface (and dedups both
    sides first, which the raw joins do not). Sets: customers with 1995
    orders vs customers with URGENT-priority orders ever.
    """
    t(spark, sf, "orders").createOrReplaceTempView("q63_orders")
    return spark.sql(_Q63_SQL.format(src="q63_orders"))


Q63_SQL = _Q63_SQL.format(src="orders")

# ---------------------------------------------------------------- q64


def q64_mode_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-set aggregation with PINNED tie-breaking: the modal order
    priority per order status, plus its frequency and share.

    Engine mode() functions break frequency ties arbitrarily (Spark's
    mode() and DuckDB's mode() may disagree), so the deterministic form
    is count + rank with an explicit lexicographic tiebreak — the only
    portable contract, and the same cost (one narrow rollup + a
    per-group top-1).
    """
    o = t(spark, sf, "orders")
    counts = (o.groupBy("o_orderstatus", "o_orderpriority")
              .agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority"))
    tot = (o.groupBy("o_orderstatus")
           .agg(F.count("*").alias("total")))
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn")
            .join(tot, "o_orderstatus")
            .select("o_orderstatus",
                    F.col("o_orderpriority").alias("modal_priority"),
                    F.col("cnt").alias("n_orders"),
                    F.expr("cnt * 1000000L div total")
                    .cast("long").alias("share_ppm")))


Q64_SQL = """
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT o_orderstatus, COUNT(*) AS total FROM orders GROUP BY 1
)
SELECT c.o_orderstatus, c.o_orderpriority AS modal_priority,
       c.cnt AS n_orders,
       CAST(c.cnt * 1000000 // t.total AS BIGINT) AS share_ppm
FROM counts c JOIN tot t USING (o_orderstatus)
QUALIFY row_number() OVER (PARTITION BY c.o_orderstatus
                           ORDER BY c.cnt DESC, c.o_orderpriority) = 1
"""


# ---------------------------------------------------------------- q65


def q65_ohlc_resample(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series resample to OHLC bars: per (event_type, day) the
    opening/closing/high/low `value` — the financial-rollup shape every
    metrics store serves.

    Open/close are order statistics over TIME, not values: they need a
    deterministic event ordering, pinned here as (ts, event_id) — without
    the event_id tiebreak, same-microsecond events make open/close
    engine-dependent. The composite key is a zero-padded string (both
    engines order it identically; DuckDB's arg_min takes no struct key).
    One shuffle: min_by/max_by over the key, high/low/count ride the
    same aggregation.
    """
    ev = t(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"),
        F.format_string("%020d:%012d", F.unix_micros("ts"),
                        F.col("event_id")).alias("ord"),
        "value")
    return (ev.groupBy("event_type", "day")
            .agg(F.min_by("value", "ord").alias("open"),
                 F.max_by("value", "ord").alias("close"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.count("*").alias("n_events")))


Q65_SQL = """
SELECT event_type, CAST(ts AS DATE) AS day,
       arg_min(value, printf('%020d:%012d', epoch_us(ts), event_id))
         AS open,
       arg_max(value, printf('%020d:%012d', epoch_us(ts), event_id))
         AS close,
       MAX(value) AS high, MIN(value) AS low,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------- q66

_Q66_WINDOW_US = 3_600_000_000  # 1h attribution lookback


def q66_last_touch_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase credits the
    LAST non-purchase event by the same user within the preceding hour;
    purchases with no touch in window count as 'direct'.

    One analytic pass: per-user time order (tiebroken by event_id), an
    IGNORE NULLS last_value over the preceding frame carries the latest
    touch forward, and the lookback bound is a microsecond comparison —
    no self-join, no per-purchase probe. Exactly one credit per purchase
    (conservation is part of the gate: SUM(n_purchases) is invariant).
    """
    ev = t(spark, sf, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("us"))
    w = (Window.partitionBy("user_id")
         .orderBy("us", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.last(
        F.when(F.col("event_type") != "purchase",
               F.struct(F.col("us").alias("t_us"),
                        F.col("event_type").alias("t_type"))),
        ignorenulls=True).over(w)
    credited = (ev.withColumn("touch", touch)
                .filter(F.col("event_type") == "purchase")
                .select(F.when(
                    F.col("touch").isNotNull()
                    & (F.col("us") - F.col("touch.t_us")
                       <= _Q66_WINDOW_US),
                    F.col("touch.t_type")).otherwise("direct")
                    .alias("credited_to")))
    return (credited.groupBy("credited_to")
            .agg(F.count("*").alias("n_purchases")))


Q66_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
),
flagged AS (
  SELECT user_id, event_type, us,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN struct_pack(t_us := us, t_type := event_type)
                    END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM ev
)
SELECT CASE WHEN touch IS NOT NULL
             AND us - touch.t_us <= {_Q66_WINDOW_US}
            THEN touch.t_type ELSE 'direct' END AS credited_to,
       COUNT(*) AS n_purchases
FROM flagged WHERE event_type = 'purchase'
GROUP BY 1
"""


# ---------------------------------------------------------------- q67

_Q67_BINS = 20
_Q67_LO, _Q67_HI = 0.0, 500.0


def q67_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-bin histogram per event type (width_bucket): bin index,
    count, and exact decimal bin mass — the profiling scan behind every
    histogram/NDV dashboard panel, as one map-side-combined aggregation.
    Out-of-range values land in the engine-standard under/overflow bins
    (0 and n+1), so the histogram is total: counts sum to the table.
    """
    ev = t(spark, sf, "events")
    bin_ = F.width_bucket("value", F.lit(_Q67_LO), F.lit(_Q67_HI),
                          F.lit(_Q67_BINS))
    return (ev.groupBy("event_type", bin_.cast("long").alias("bin"))
            .agg(F.count("*").alias("n_events"),
                 dsum("value").alias("bin_mass")))


# DuckDB has no width_bucket; the oracle mirrors Spark's arithmetic
# operand-for-operand (floor((v - lo) / width) + 1, width exactly
# representable) so boundary values bin identically in both engines.
_Q67_WIDTH = (_Q67_HI - _Q67_LO) / _Q67_BINS

Q67_SQL = f"""
SELECT event_type,
       CAST(CASE WHEN value < {_Q67_LO} THEN 0
                 WHEN value >= {_Q67_HI} THEN {_Q67_BINS + 1}
                 ELSE floor((value - {_Q67_LO}) / {_Q67_WIDTH}) + 1
            END AS BIGINT) AS bin,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
         AS bin_mass
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------- q68


def q68_rest_paginated_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """The paginated REST source (SURVEY S1-S4) under the oracle gate.

    Runs the EXECUTOR fetch path (sources.rest.paginated_read: page rows
    fanned across tasks, each task walking its slice via mapInPandas)
    against the deterministic windowed fake endpoint — the modified-items
    window 2024-03-10..2024-03-13 with as-of semantics. The feed is a
    fixed fixture, so the oracle is its expected row set as a VALUES
    literal: equality proves pagination (4 pages x 3 rows), predicate ->
    param pushdown, executor-side assembly, and the as-of rule (item 1
    arrives as its deletion snapshot; item 2 as its third revision)
    end-to-end through the driver's gate. `sf` is unused — the endpoint
    IS the source.
    """
    from etl_docker_spark.pipelines.incremental import ITEMS_WINDOWED
    from etl_docker_spark.sources.fake_api import fetch_items_windowed
    from etl_docker_spark.sources.rest import paginated_read

    df = paginated_read(
        spark, ITEMS_WINDOWED, fetch_items_windowed, num_pages=4,
        predicates={"field": "modified", "date_from": "2024-03-10",
                    "date_to": "2024-03-13"})
    return df.select(
        "Id", "Code", "Description", "ModificationDatetime",
        F.col("DeletionDatetime").isNotNull().alias("is_deleted"))


Q68_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'SKU-1', 'alpha v1', '2024-03-10', TRUE),
  (CAST(2 AS BIGINT), 'SKU-2', 'beta v3', '2024-03-13', FALSE),
  (CAST(3 AS BIGINT), 'SKU-3', 'gamma v2', '2024-03-12', FALSE),
  (CAST(4 AS BIGINT), 'SKU-4', 'delta v1', '2024-03-11', TRUE),
  (CAST(5 AS BIGINT), 'SKU-5', 'eps v1', '2024-03-12', FALSE),
  (CAST(6 AS BIGINT), 'SKU-6', 'zeta v1', '2024-03-13', FALSE)
) AS t(Id, Code, Description, ModificationDatetime, is_deleted)
"""


# ---------------------------------------------------------------- q69


def q69_dag_audit_trail(spark: SparkSession, sf: str) -> DataFrame:
    """Orchestration (O1/O3/O4/O6) under the oracle gate: a four-task DAG
    with a REST-fed load, a deliberately failing task that succeeds on
    RETRY, a permanently failing task, and a dependent task that must be
    SKIPPED — gated on the resulting audit trail.

    The audit log is the orchestration contract (one row per attempt
    outcome, reference CotyData_IPN.py:19-61): the VALUES oracle pins
    ordering-independent rows for load counts, retry success, failure
    recording, and dependency-skip — proving the DAG semantics
    end-to-end rather than via unit asserts. `sf` is unused.
    """
    from etl_docker_spark.orchestration import JobContext, Task, run_dag
    from etl_docker_spark.pipelines.incremental import ITEMS_WINDOWED
    from etl_docker_spark.sources.fake_api import fetch_items_windowed
    from etl_docker_spark.sources.rest import paginated_read_driver

    with tempfile.TemporaryDirectory(
            prefix="q69_", ignore_cleanup_errors=True) as work:
        ctx = JobContext(spark=spark, warehouse=f"{work}/wh",
                         log_path=f"{work}/audit",
                         quarantine=f"{work}/quar")

        def load_items(c: JobContext) -> int:
            df = paginated_read_driver(
                c.spark, ITEMS_WINDOWED, fetch_items_windowed,
                predicates={"field": "created", "date_from": "2024-03-10",
                            "date_to": "2024-03-13"})
            df.write.mode("overwrite").parquet(f"{c.warehouse}/items")
            return df.count()

        flaky_state = {"calls": 0}

        def flaky(c: JobContext) -> int:
            flaky_state["calls"] += 1
            if flaky_state["calls"] == 1:
                raise RuntimeError("transient")
            return 1

        def always_fails(c: JobContext) -> int:
            raise ValueError("permanent schema drift")

        run_dag(ctx, [
            Task("load_items", load_items, retries=0),
            Task("flaky_enrich", flaky, retries=1, retry_delay_s=0.0),
            Task("broken_load", always_fails, retries=0),
            Task("downstream_agg", lambda c: 0, retries=0,
                 depends_on=("broken_load",)),
        ])
        audit = spark.read.parquet(ctx.log_path)
        out = (audit.select(
            "load_table", "status_ok", "inserted_rows",
            F.col("error_msg").isNotNull().alias("has_error"))
            .localCheckpoint())  # pin before the workdir is deleted
        return out


Q69_SQL = """
SELECT * FROM (VALUES
  ('load_items', TRUE, CAST(6 AS BIGINT), FALSE),
  ('flaky_enrich', TRUE, CAST(1 AS BIGINT), FALSE),
  ('broken_load', FALSE, CAST(0 AS BIGINT), TRUE),
  ('downstream_agg', FALSE, CAST(NULL AS BIGINT), TRUE)
) AS t(load_table, status_ok, inserted_rows, has_error)
"""


# ---------------------------------------------------------------- q70


def q70_incremental_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """EP3's full lifecycle (F13 bookmarks + S1 windowed pulls + K2/K3
    merge semantics) gated as one query.

    Three scheduled runs against the deterministic windowed feed
    (sources/fake_api.py, reference contract CotyData_IPN.py:597-601):

      run 1  Monday 2024-03-11, no bookmark -> weekday window Fri..Sun
             (dag_maestros.py:10-22) pulls the 03-08..03-10 slice;
      run 2  Thursday 2024-03-14 -> bookmark resumes 03-11..03-13: item 2
             arrives at v3 (skipping v2 — as-of semantics), items 1 and 4
             arrive as deletion snapshots and must flip ENABLED without
             losing their attributes (same-instant delete-beats-modify
             tie-break, pipelines/incremental.py:_order);
      run 3  2024-03-14 again -> start > end, caught_up no-op (the
             re-run idempotence half of the staging/MERGE contract).

    The result is the final target snapshot with the three run statuses
    and the bookmark high-water mark as pinned columns. `sf` is unused —
    the endpoint and the bookmark table ARE the inputs.
    """
    import datetime as dt

    from etl_docker_spark.orchestration import Bookmarks, JobContext
    from etl_docker_spark.pipelines.incremental import (
        JOB_NAME, read_target, run_items_incremental)
    from etl_docker_spark.sources.fake_api import fetch_items_windowed

    with tempfile.TemporaryDirectory(
            prefix="q70_", ignore_cleanup_errors=True) as work:
        ctx = JobContext(spark=spark, warehouse=f"{work}/wh",
                         log_path=f"{work}/audit",
                         quarantine=f"{work}/quar")
        r1 = run_items_incremental(ctx, fetch_items_windowed,
                                   dt.date(2024, 3, 11))
        r2 = run_items_incremental(ctx, fetch_items_windowed,
                                   dt.date(2024, 3, 14))
        r3 = run_items_incremental(ctx, fetch_items_windowed,
                                   dt.date(2024, 3, 14))
        mark = Bookmarks(ctx).last_window_end(JOB_NAME)
        out = (read_target(ctx)
               .select("Id", "Code", "Description", "CreationDatetime",
                       "ModificationDatetime", "ENABLED")
               .withColumn("r1_rows", F.lit(int(r1["rows"])))
               .withColumn("r2_rows", F.lit(int(r2["rows"])))
               .withColumn("r3_status", F.lit(str(r3["status"])))
               .withColumn("bookmark_end", F.lit(mark.isoformat()))
               .localCheckpoint())  # pin before the workdir is deleted
        return out


Q70_SQL = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'SKU-1', 'alpha v1', '2024-03-10', '2024-03-10',
   FALSE, 6, 10, 'caught_up', '2024-03-13'),
  (CAST(2 AS BIGINT), 'SKU-2', 'beta v3', '2024-03-10', '2024-03-13',
   TRUE, 6, 10, 'caught_up', '2024-03-13'),
  (CAST(3 AS BIGINT), 'SKU-3', 'gamma v2', '2024-03-10', '2024-03-12',
   TRUE, 6, 10, 'caught_up', '2024-03-13'),
  (CAST(4 AS BIGINT), 'SKU-4', 'delta v1', '2024-03-11', '2024-03-11',
   FALSE, 6, 10, 'caught_up', '2024-03-13'),
  (CAST(5 AS BIGINT), 'SKU-5', 'eps v1', '2024-03-12', '2024-03-12',
   TRUE, 6, 10, 'caught_up', '2024-03-13'),
  (CAST(6 AS BIGINT), 'SKU-6', 'zeta v1', '2024-03-13', '2024-03-13',
   TRUE, 6, 10, 'caught_up', '2024-03-13')
) AS t(Id, Code, Description, CreationDatetime, ModificationDatetime,
       ENABLED, r1_rows, r2_rows, r3_status, bookmark_end)
"""


# ---------------------------------------------------------------- q71


def q71_relational_division(spark: SparkSession, sf: str) -> DataFrame:
    """Relational division ('for all'): per market segment, how many
    ordering customers have placed orders in EVERY priority class that
    exists corpus-wide — the classic division query (suppliers covering
    all regions, users hitting every funnel step) that no other q-entry
    exercises.

    Scale shape: division-by-counting, never division-by-set-difference
    — per-customer distinct-priority counts are a two-level partial
    aggregation on the orders scan (count-distinct over a 5-value
    column collapses map-side), the universe size is a 1-row broadcast,
    and the segment join is a broadcast of the customer dim. ppm share
    via integer div keeps the gate exact.
    """
    from etl_docker_spark.plans._util import t

    orders = t(spark, sf, "orders").select("o_custkey", "o_orderpriority")
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.countDistinct("o_orderpriority").alias("n_prio")))
    universe = orders.agg(
        F.countDistinct("o_orderpriority").alias("n_all"))
    cust = t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    return (per_cust.crossJoin(F.broadcast(universe))
            .join(F.broadcast(cust), "o_custkey")
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count("*").alias("n_customers"),
                 F.sum(F.when(F.col("n_prio") == F.col("n_all"), 1)
                       .otherwise(0)).cast("long").alias("n_complete"))
            .withColumn("complete_ppm",
                        F.expr("1000000 * n_complete div n_customers")))


Q71_SQL = """
WITH per_cust AS (
  SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_prio
  FROM orders GROUP BY o_custkey
),
universe AS (
  SELECT COUNT(DISTINCT o_orderpriority) AS n_all FROM orders
)
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN p.n_prio = u.n_all THEN 1 ELSE 0 END) AS BIGINT)
         AS n_complete,
       1000000 * CAST(SUM(CASE WHEN p.n_prio = u.n_all THEN 1 ELSE 0 END)
                      AS BIGINT) // COUNT(*) AS complete_ppm
FROM per_cust p, universe u
JOIN customer c ON c.c_custkey = p.o_custkey
GROUP BY 1, u.n_all
"""


# ---------------------------------------------------------------- q72


def q72_skyline_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto-frontier customers: nobody both spends more AND holds a
    larger balance. The relational form is a quadratic NOT-EXISTS
    anti-self-join; the engine runs the distributed two-phase skyline
    instead (`operators/skyline.py`): per-partition vectorized
    sort-sweep, then the exact sweep over the tiny union of local
    skylines — the TakeOrdered shape, no O(n^2) anywhere.

    Spend aggregates BEFORE the customer join (digest-width shuffle on
    o_custkey, then a key-aligned join AQE plans as it likes); cents are
    exact integers on both sides.
    """
    from etl_docker_spark.operators.skyline import pareto_frontier

    spend = (t(spark, sf, "orders")
             .groupBy("o_custkey")
             .agg((F.sum(dec("o_totalprice")) * 100)
                  .cast("long").alias("spend_cents")))
    pts = (t(spark, sf, "customer")
           .join(spend, F.col("c_custkey") == F.col("o_custkey"), "left")
           .select("c_custkey",
                   F.coalesce("spend_cents", F.lit(0)).alias("spend_cents"),
                   (dec("c_acctbal") * 100).cast("long").alias("bal_cents")))
    return (pareto_frontier(pts, "spend_cents", "bal_cents")
            .orderBy("c_custkey"))


Q72_SQL = """
WITH pts AS (
  SELECT c.c_custkey,
         CAST(coalesce(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 0) * 100
              AS BIGINT) AS spend_cents,
         CAST(CAST(c.c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal_cents
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
)
SELECT p.c_custkey, p.spend_cents, p.bal_cents
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.spend_cents >= p.spend_cents AND q.bal_cents >= p.bal_cents
    AND (q.spend_cents > p.spend_cents OR q.bal_cents > p.bal_cents))
ORDER BY p.c_custkey
"""


# ---------------------------------------------------------------- q73


def _q73_bucketed_frames(spark: SparkSession, sf: str):
    """Write orders+customer bucketed on the join key, return the lazy
    co-located join (and the table names for cleanup). Separated from
    the query so tests can pin the no-Exchange plan on the SAME frame
    the gate runs."""
    from etl_docker_spark.operators.skew import write_bucketed

    # Deterministic tag: abs(hash(sf)) varies per process (PYTHONHASHSEED),
    # so a crash between write and the finally-DROP leaked orphan tables
    # with unpredictable names (ADVICE r4). md5 keeps the name stable, and
    # any q73_* leftover from a crashed prior run is dropped up front.
    import hashlib

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    t_ord, t_cust = f"q73_orders_{tag}", f"q73_customer_{tag}"
    for row in spark.sql("SHOW TABLES").collect():
        if row["tableName"].startswith("q73_"):
            spark.sql(f"DROP TABLE IF EXISTS {row['tableName']}")
    write_bucketed(
        t(spark, sf, "orders").select("o_custkey", "o_totalprice"),
        t_ord, ["o_custkey"], num_buckets=8, sort_by=["o_custkey"])
    write_bucketed(
        t(spark, sf, "customer").select("c_custkey", "c_mktsegment"),
        t_cust, ["c_custkey"], num_buckets=8, sort_by=["c_custkey"])
    joined = (
        spark.table(t_ord)
        .join(spark.table(t_cust).hint("MERGE"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").cast("long").alias("n_orders"),
             (F.sum(dec("o_totalprice")) * 100).cast("long")
             .alias("revenue_cents"))
        .orderBy("c_mktsegment"))
    return joined, (t_ord, t_cust)


def q73_bucketed_cojoin(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed CO-LOCATED join, gated end-to-end through the write path:
    both sides are persisted `bucketBy` the join key (8 buckets, sorted),
    so the sort-merge join reads pre-shuffled, pre-sorted buckets and
    plans with ZERO Exchange below the join — the shuffle is paid once
    at write time, then never again on any number of downstream joins.
    That trade is the core of every serious 100 TB star-schema layout;
    `tests/test_round4b.py` pins the no-Exchange property on this exact
    frame, and this gate pins that the bucketed write+read+join path is
    value-identical to the logical join (the oracle never sees buckets).

    The MERGE hint forces the sort-merge path (a broadcast of the small
    gate-scale dim side would silently bypass the bucket co-location
    this query exists to exercise)."""
    joined, tables = _q73_bucketed_frames(spark, sf)
    try:
        return joined.localCheckpoint()
    finally:
        for tbl in tables:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


Q73_SQL = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))) * 100 AS BIGINT)
         AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


# ---------------------------------------------------------------- q74

_Q74_PATCH_DAY = "2024-01-05"
_Q74_CUTOFF = "2024-01-11"


def q74_partition_reload(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic-partition-overwrite incremental reload, gated end-to-end
    through disk: the daily-reload shape every 100 TB warehouse runs.

      1. full load: per-(day, event_type) counts+cents for the 10-day
         window, written day-partitioned;
      2. corrected re-load of ONE day (business rule change: 'view'
         events excluded) via `overwrite_partitions_dynamic` — ONLY
         that day's partition is rewritten (static overwrite would
         truncate all ten);
      3. the gated output is what a consumer READS BACK from disk.

    The oracle states the expected merged table directly (patched day
    without views, sibling days untouched) — if the dynamic overwrite
    leaked into any other partition, or failed to replace the target
    day, counts diverge. tests/test_formats.py pins the operator on a
    toy frame; this pins it at gate scale through the parquet
    round-trip."""
    from etl_docker_spark.sinks.writers import overwrite_partitions_dynamic

    ev = (t(spark, sf, "events")
          .filter(F.col("ts") < F.lit(_Q74_CUTOFF).cast("timestamp"))
          .select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                  .alias("day"), "event_type",
                  F.round(F.col("value") * 100, 0).cast("long")
                  .alias("cents")))

    def rollup(df):
        return df.groupBy("day", "event_type").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("cents").alias("total_cents"))

    with tempfile.TemporaryDirectory(
            prefix="q74_", ignore_cleanup_errors=True) as work:
        rollup(ev).write.mode("overwrite").partitionBy("day").parquet(work)
        patch = rollup(ev.filter((F.col("day") == _Q74_PATCH_DAY)
                                 & (F.col("event_type") != "view")))
        overwrite_partitions_dynamic(patch, work, ["day"])
        return (spark.read.parquet(work)
                .select("day", "event_type", "n_events", "total_cents")
                .localCheckpoint())


Q74_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
WHERE ts < TIMESTAMP '{_Q74_CUTOFF} 00:00:00'
  AND NOT (CAST(date_trunc('day', ts) AS VARCHAR) = '{_Q74_PATCH_DAY}'
           AND event_type = 'view')
GROUP BY day, event_type
"""


# ---------------------------------------------------------------- q75

_Q75_CUTOFF = "2024-01-11"


def q75_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC round-trip with pushdown, gated end-to-end through disk —
    the second columnar format next to parquet (warehouses routinely
    read Hive-era ORC lakes; an engine claiming format coverage must
    prove value parity THROUGH its write+read path, not just accept the
    reader's output). The read back applies a partition filter
    (event_type, pruned at planning) and a value filter (cents, pushed
    into the ORC reader as a search argument) — `tests/test_round4c.py`
    pins both on this exact frame; this gate pins that what survives
    the pruned, pushed scan aggregates to the same numbers as the
    logical query (the oracle never sees ORC)."""
    ev = (t(spark, sf, "events")
          .filter(F.col("ts") < F.lit(_Q75_CUTOFF).cast("timestamp"))
          .select("event_id", "event_type", "user_id",
                  F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                  .alias("day"),
                  F.round(F.col("value") * 100, 0).cast("long")
                  .alias("cents")))
    with tempfile.TemporaryDirectory(
            prefix="q75_", ignore_cleanup_errors=True) as work:
        ev.write.mode("overwrite").partitionBy("event_type").orc(work)
        back = (spark.read.orc(work)
                .filter(F.col("event_type").isin("purchase", "view")
                        & (F.col("cents") >= 1000)))
        return (back.groupBy("day", "event_type")
                .agg(F.count("*").cast("long").alias("n_events"),
                     F.sum("cents").cast("long").alias("total_cents"),
                     F.countDistinct("user_id").cast("long")
                     .alias("n_users"))
                .localCheckpoint())


Q75_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE ts < TIMESTAMP '{_Q75_CUTOFF} 00:00:00'
  AND event_type IN ('purchase', 'view')
  AND CAST(round(value * 100, 0) AS BIGINT) >= 1000
GROUP BY day, event_type
"""


# ---------------------------------------------------------------- q76

_Q76_CUTOFF = "1999-01-01"


def q76_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet SCHEMA EVOLUTION gated through disk: a table whose early
    files predate a column (orders loaded before {_Q76_CUTOFF} lack
    o_orderpriority — the column was added to the feed later), read
    back with mergeSchema so old files surface NULL for the new column
    — the add-a-column lifecycle every long-lived lake table goes
    through (at 100 TB you never rewrite history to add a column; the
    reader reconciles footers). The aggregate buckets legacy rows under
    'LEGACY' via coalesce, so a reader that dropped v1 files, failed to
    merge footers, or back-filled the column wrongly diverges from the
    oracle."""
    orders = t(spark, sf, "orders")
    cut = F.lit(_Q76_CUTOFF).cast("timestamp")
    v1 = (orders.filter(F.col("o_orderdate") < cut)
          .select("o_orderkey",
                  (dec("o_totalprice") * 100).cast("long")
                  .alias("total_cents")))
    v2 = (orders.filter(F.col("o_orderdate") >= cut)
          .select("o_orderkey",
                  (dec("o_totalprice") * 100).cast("long")
                  .alias("total_cents"),
                  "o_orderpriority"))
    with tempfile.TemporaryDirectory(
            prefix="q76_", ignore_cleanup_errors=True) as work:
        v1.write.mode("overwrite").parquet(work)
        v2.write.mode("append").parquet(work)
        merged = spark.read.option("mergeSchema", "true").parquet(work)
        return (merged
                .groupBy(F.coalesce("o_orderpriority", F.lit("LEGACY"))
                         .alias("priority"))
                .agg(F.count("*").cast("long").alias("n_orders"),
                     F.sum("total_cents").cast("long").alias("total_cents"))
                .orderBy("priority")
                .localCheckpoint())


Q76_SQL = f"""
SELECT CASE WHEN o_orderdate >= TIMESTAMP '{_Q76_CUTOFF} 00:00:00'
            THEN o_orderpriority ELSE 'LEGACY' END AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders
GROUP BY priority
ORDER BY priority
"""


# ---------------------------------------------------------------- q77


def q77_lateral_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:1999 lateral derived table,
    Spark 3.4+): top-3 customers by balance PER NATION, written the way
    an analyst writes it — a per-row correlated ORDER BY ... LIMIT —
    rather than the window-function rewrite (q03/q07 cover that form).
    Catalyst decorrelates this into a ranked window under the hood
    (DomainJoin rewrite), so the declarative form pays the same
    distributed plan as the hand-rewrite: no per-nation driver loop, no
    N scans of customer. The oracle runs the IDENTICAL lateral SQL on
    DuckDB — both engines' decorrelation must agree on the semantics
    (ties broken by name, nations with < 3 customers keep what they
    have, nations with none drop out)."""
    t(spark, sf, "nation").createOrReplaceTempView("q77_nation")
    t(spark, sf, "customer").createOrReplaceTempView("q77_customer")
    return spark.sql("""
SELECT n.n_name, c.c_name,
       CAST(CAST(c.c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal_cents
FROM q77_nation n,
LATERAL (SELECT c_name, c_acctbal FROM q77_customer
         WHERE c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 3) c
""")


Q77_SQL = """
SELECT n.n_name, c.c_name,
       CAST(CAST(c.c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal_cents
FROM nation n,
LATERAL (SELECT c_name, c_acctbal FROM customer
         WHERE c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 3) c
"""


# ---------------------------------------------------------------- q78

_Q78_CUTOFF = "2024-01-11"


def q78_observed_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass dataset metrics via `Observation` — Spark's
    accumulator-backed observe() API: the metrics are collected DURING
    the one write pass (map-side, merged on the driver), not by a
    second scan. This is how a 100 TB load job gets its row counts and
    value ranges for the audit log for free — the A5/A6
    count-verification contract (`orchestration.py`) without paying the
    input twice. The gate pins that the observed numbers equal the
    oracle's recomputation over the same filter — an observation
    attached to the wrong frame (pre-filter, post-aggregate) or merged
    lossily diverges.

    The returned frame is built from the observation result (scalar
    frame, same pattern as q69's audit-trail gate); the data pass
    itself lands in a throwaway parquet sink, exactly like the
    production job it models."""
    from pyspark.sql import Observation

    ev = (t(spark, sf, "events")
          .filter(F.col("ts") < F.lit(_Q78_CUTOFF).cast("timestamp"))
          .select("event_id", "event_type",
                  F.round(F.col("value") * 100, 0).cast("long")
                  .alias("cents")))
    obs = Observation("q78_metrics")
    tagged = ev.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        F.count(F.when(F.col("event_type") == "error", 1)).cast("long")
        .alias("n_errors"))
    with tempfile.TemporaryDirectory(
            prefix="q78_", ignore_cleanup_errors=True) as work:
        tagged.write.mode("overwrite").parquet(work)  # the single pass
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_cents"], m["min_cents"], m["max_cents"],
          m["n_errors"])],
        "n_rows long, total_cents long, min_cents long, max_cents long, "
        "n_errors long")


Q78_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(MIN(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(MAX(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS max_cents,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
         AS n_errors
FROM events
WHERE ts < TIMESTAMP '{_Q78_CUTOFF} 00:00:00'
"""


# ---------------------------------------------------------------- q79


def q79_null_safe_join(spark: SparkSession, sf: str) -> DataFrame:
    """NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): every
    customer joined to their segment's aggregate where the segment key
    is NULLABLE (NULLIF models the 'unclassified' bucket real dims
    carry). A plain equi-join silently DROPS the NULL-key rows — the
    classic silent-data-loss bug in dimension joins; null-safe equality
    treats NULL as a joinable value, so the unclassified group flows
    through with its own aggregate. Catalyst plans `<=>` as a hash join
    on a coalesced key (EqualNullSafe is a valid equi-join predicate —
    no fallback to BNLJ), so the scale cost is the same shuffle as the
    plain join; the semantics are the only difference, and both engines
    must agree on them."""
    cust = t(spark, sf, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        (dec("c_acctbal") * 100).cast("long").alias("bal_cents"))
    seg_stats = (cust.groupBy(F.col("seg").alias("g_seg"))
                 .agg(F.count("*").cast("long").alias("seg_n"),
                      F.sum("bal_cents").alias("seg_total_cents")))
    return (cust.join(seg_stats, cust["seg"].eqNullSafe(seg_stats["g_seg"]))
            .select("c_custkey", "seg", "seg_n", "seg_total_cents")
            .orderBy("c_custkey"))


Q79_SQL = """
WITH cust AS (
  SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal_cents
  FROM customer
),
seg_stats AS (
  SELECT seg AS g_seg, CAST(COUNT(*) AS BIGINT) AS seg_n,
         CAST(SUM(bal_cents) AS BIGINT) AS seg_total_cents
  FROM cust GROUP BY seg
)
SELECT c.c_custkey, c.seg, s.seg_n, s.seg_total_cents
FROM cust c JOIN seg_stats s ON c.seg IS NOT DISTINCT FROM s.g_seg
ORDER BY c.c_custkey
"""


# ---------------------------------------------------------------- q80


def q80_correlated_agg_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated AGGREGATE subquery in the WHERE clause — customers
    whose balance exceeds THEIR NATION's average (plus that nation's
    customer count via a second correlated scalar) — the decorrelation
    stress case: a naive engine re-scans customer once per outer row
    (the reference's N+1 shape, `CotyData_IPN.py`'s per-row lookups);
    Catalyst must rewrite both subqueries into ONE grouped join
    (RewriteCorrelatedScalarSubquery) for this to be runnable at all at
    scale. The oracle runs the IDENTICAL correlated SQL on DuckDB —
    both decorrelations must agree, including the empty-group NULL
    semantics the rewrite is famous for getting subtly wrong.

    above-average is written as the integer cross-multiply
    bal_cents * n > sum_cents (exact; a float AVG's low bits differ
    between engines and could flip the strict compare at the boundary —
    the repo-wide determinism rule, _util.py)."""
    t(spark, sf, "customer").createOrReplaceTempView("q80_customer")
    t(spark, sf, "nation").createOrReplaceTempView("q80_nation")
    return spark.sql("""
SELECT n.n_name, c.c_name,
       CAST(CAST(c.c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal_cents,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM q80_customer c2
        WHERE c2.c_nationkey = c.c_nationkey) AS nation_customers
FROM q80_customer c JOIN q80_nation n ON n.n_nationkey = c.c_nationkey
WHERE CAST(CAST(c.c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT)
      * (SELECT COUNT(*) FROM q80_customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT SUM(CAST(CAST(c3.c_acctbal AS DECIMAL(12,4)) * 100
                         AS BIGINT))
         FROM q80_customer c3 WHERE c3.c_nationkey = c.c_nationkey)
ORDER BY n.n_name, c.c_name
""")


Q80_SQL = """
SELECT n.n_name, c.c_name,
       CAST(CAST(c.c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal_cents,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c2
        WHERE c2.c_nationkey = c.c_nationkey) AS nation_customers
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE CAST(CAST(c.c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT)
      * (SELECT COUNT(*) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT SUM(CAST(CAST(c3.c_acctbal AS DECIMAL(12,4)) * 100
                         AS BIGINT))
         FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
ORDER BY n.n_name, c.c_name
"""


# ---------------------------------------------------------------- q81

_Q81_CUTOFF = "2024-01-11"


def q81_xml_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Native XML round-trip (Spark 4's built-in xml source — the
    spark-xml donation): the daily rollup written as XML records with a
    NESTED element (`m/{n,c}`), read back under an explicit schema, and
    re-projected — the feed format half the world's ERP/SOAP-era
    exports still arrive in. Nested-element mapping is where XML
    readers break (attribute vs element, struct flattening), so the
    struct column is the point of the gate; value parity against the
    parquet-derived oracle proves writer and reader agree on it.

    XML is a driver-side-parse-heavy format — at 100 TB you ingest it
    ONCE into parquet (exactly what this query's write+read models) and
    never query it in place; per-file parallelism still applies (one
    task per file, the same ingest shape as q61's JSONL)."""
    ev = (t(spark, sf, "events")
          .filter(F.col("ts") < F.lit(_Q81_CUTOFF).cast("timestamp"))
          .select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                  .alias("day"), "event_type",
                  F.round(F.col("value") * 100, 0).cast("long")
                  .alias("cents")))
    rollup = (ev.groupBy("day", "event_type")
              .agg(F.struct(F.count("*").cast("long").alias("n"),
                            F.sum("cents").alias("c")).alias("m")))
    with tempfile.TemporaryDirectory(
            prefix="q81_", ignore_cleanup_errors=True) as work:
        rollup.write.format("xml").option("rootTag", "days") \
            .option("rowTag", "rec").mode("overwrite").save(work)
        back = (spark.read.format("xml").option("rowTag", "rec")
                .schema("day string, event_type string, "
                        "m struct<n: long, c: long>")
                .load(work))
        return (back.select("day", "event_type",
                            F.col("m.n").alias("n_events"),
                            F.col("m.c").alias("total_cents"))
                .orderBy("day", "event_type")
                .localCheckpoint())


Q81_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
WHERE ts < TIMESTAMP '{_Q81_CUTOFF} 00:00:00'
GROUP BY day, event_type
ORDER BY day, event_type
"""


# ---------------------------------------------------------------- q82


def q82_sql_udf_installments(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative SQL UDFs (Spark 4's CREATE FUNCTION ... RETURN): a
    scalar money-cents function and a correlated TABLE function
    expanding each order into its installment schedule (equal parts,
    integer-exact, remainder on installment 1) consumed via LATERAL —
    the ERP payment-plan shape (`Payments[]` expansion in the
    reference, `CotyData_IPN.py:263-266`) expressed as a reusable SQL
    library instead of Python. The scale point: SQL UDFs INLINE into
    the Catalyst plan (the lateral TVF becomes the same explode the
    hand-written form plans; whole-stage codegen applies), where a
    Python UDF would be an Arrow round-trip per batch — this is the
    §2.10 zero-Python-in-core discipline extended to user-defined
    logic. The oracle replays the expansion with DuckDB's
    generate_series lateral; integer division + modulo keep every
    installment exact (they must re-sum to the order total by
    construction)."""
    t(spark, sf, "orders").createOrReplaceTempView("q82_orders")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION q82_cents(x DOUBLE) RETURNS BIGINT
RETURN CAST(CAST(x AS DECIMAL(12,4)) * 100 AS BIGINT)""")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION q82_installments(total BIGINT, n INT)
RETURNS TABLE (k INT, amount_cents BIGINT)
RETURN SELECT k, CASE WHEN k = 1 THEN total DIV n + total % n
                      ELSE total DIV n END AS amount_cents
       FROM (SELECT explode(sequence(1, n)) AS k)""")
    # a scalar SQL UDF can't appear inside a SQL TVF's arguments
    # (UNSUPPORTED_SQL_UDF_USAGE) — apply it in a derived table first
    return spark.sql("""
WITH o AS (
  SELECT o_orderkey, q82_cents(o_totalprice) AS total,
         CAST(o_orderkey % 3 AS INT) + 1 AS n
  FROM q82_orders WHERE o_orderkey % 97 = 0
)
SELECT o.o_orderkey, i.k AS installment, i.amount_cents
FROM o, LATERAL q82_installments(o.total, o.n) i
ORDER BY o.o_orderkey, installment
""")


Q82_SQL = """
WITH o AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT) AS total,
         CAST(o_orderkey % 3 + 1 AS INT) AS n
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT o.o_orderkey, CAST(u.k AS INT) AS installment,
       CAST(CASE WHEN u.k = 1 THEN o.total // o.n + o.total % o.n
                 ELSE o.total // o.n END AS BIGINT) AS amount_cents
FROM o, LATERAL unnest(generate_series(1, o.n)) AS u(k)
ORDER BY o.o_orderkey, installment
"""


# ---------------------------------------------------------------- q83

# deterministic case-mangling shared by engine and oracle: 3 variants of
# each segment keyed on custkey % 3 (AS-IS / lower / Titlecase-by-hand,
# spelled identically in both SQL dialects — no initcap dependence)
_Q83_MANGLE = """
  SELECT CASE CAST(c_custkey % 3 AS INT)
           WHEN 0 THEN c_mktsegment
           WHEN 1 THEN lower(c_mktsegment)
           ELSE concat(upper(substring(c_mktsegment, 1, 1)),
                       lower(substring(c_mktsegment, 2)))
         END AS seg,
         CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
  FROM {customer}
"""


def q83_collated_grouping(spark: SparkSession, sf: str) -> DataFrame:
    """COLLATION-aware grouping (Spark 4 string collations): a segment
    column arriving in three case spellings (AS-IS / lower / Title —
    the normalization mess every multi-source dim feed has) grouped
    under UTF8_LCASE so the variants merge WITHOUT rewriting the data —
    collation is declared on the comparison, not baked into a
    lower()'d copy of the column. That distinction matters at 100 TB:
    a collated group/join keeps the original bytes (no second
    materialized column, and data-skipping stats on the original
    column stay usable); the lower() rewrite is exactly what the
    oracle does, so equality proves the declared-collation path
    computes the same partition of rows. min(lower(seg)) projects a
    deterministic representative (the group's member spellings differ;
    any raw representative would be engine-order-dependent)."""
    t(spark, sf, "customer").createOrReplaceTempView("q83_customer")
    mangle = _Q83_MANGLE.format(customer="q83_customer")
    return spark.sql(f"""
WITH m AS ({mangle})
SELECT min(lower(seg)) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM m
GROUP BY seg COLLATE UTF8_LCASE
ORDER BY segment
""")


Q83_SQL = f"""
WITH m AS ({_Q83_MANGLE.format(customer="customer")})
SELECT lower(seg) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM m
GROUP BY lower(seg)
ORDER BY segment
"""


# ---------------------------------------------------------------- q84

# one query text, two dialects-identical forms: the NOT IN / NOT EXISTS
# null trap. The subquery's key is NULL for negative-balance customers.
_Q84_BODY = """
WITH sub AS (
  SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END AS k
  FROM {customer}
)
SELECT 'not_in' AS form, CAST(COUNT(*) AS BIGINT) AS n
FROM {orders} WHERE o_custkey NOT IN (SELECT k FROM sub)
UNION ALL
SELECT 'not_in_filtered', CAST(COUNT(*) AS BIGINT)
FROM {orders}
WHERE o_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL)
UNION ALL
SELECT 'not_exists', CAST(COUNT(*) AS BIGINT)
FROM {orders} o
WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = o.o_custkey)
UNION ALL
SELECT 'in', CAST(COUNT(*) AS BIGINT)
FROM {orders} WHERE o_custkey IN (SELECT k FROM sub)
"""


def q84_not_in_null_semantics(spark: SparkSession, sf: str) -> DataFrame:
    """The NOT IN null trap, pinned cross-engine: with ANY NULL in the
    subquery, `x NOT IN (sub)` is never TRUE (three-valued logic:
    x <> NULL is UNKNOWN), so the not_in row counts ZERO orders while
    the NOT EXISTS form — the one users actually mean — counts the
    orders of negative-balance customers. The four forms in one gated
    output are the semantics table every SQL engine must agree on
    (`IN` still matches normally; the IS NOT NULL guard restores the
    intended anti-join).

    Scale note: Catalyst plans the un-guarded NOT IN as a NULL-AWARE
    anti join — for a single key column an optimized broadcast NAAJ,
    otherwise a nested-loop — which is why production pipelines write
    the guarded form or NOT EXISTS (plain broadcast/shuffled anti
    join, q05's shape). The semantics pinned here are the reason the
    planner can't just rewrite one into the other."""
    t(spark, sf, "customer").createOrReplaceTempView("q84_customer")
    t(spark, sf, "orders").createOrReplaceTempView("q84_orders")
    return spark.sql(_Q84_BODY.format(customer="q84_customer",
                                      orders="q84_orders"))


Q84_SQL = _Q84_BODY.format(customer="customer", orders="orders")


# ---------------------------------------------------------------- q85


def q85_calendar_tz_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar + timezone semantics battery: ISO week-year fields and a
    UTC->America/New_York local-day rollup, gated cross-engine. These
    are the fields where engines classically disagree — week-of-year
    (ISO vs US), day-of-week origin (Spark dayofweek is Sunday=1;
    weekday is Monday=0), week truncation start, and the DIRECTION of
    timezone conversion (DuckDB's timezone(tz, naive_ts) interprets the
    naive value as tz-LOCAL, the inverse of Spark's from_utc_timestamp;
    the oracle must route through TIMESTAMPTZ to express the same
    conversion). The pinned mapping:

        Spark extract(YEAROFWEEK)   == DuckDB isoyear
        Spark weekofyear            == DuckDB week        (both ISO)
        Spark weekday + 1           == DuckDB isodow      (Mon=1)
        Spark date_trunc('week')    == DuckDB date_trunc('week') (Mon)
        Spark from_utc_timestamp(ts, z)
          == DuckDB timezone(z, CAST(ts AS TIMESTAMPTZ)) under a UTC
             session (which `ensure_session_confs` pins Spark to and
             the oracle harness runs DuckDB under)

    The corpus spans January (fixed EST offset); the conversion
    machinery is identical through DST — the mapping above is what the
    gate pins, per-zone offset tables come from the same IANA data in
    both engines."""
    ev = t(spark, sf, "events").select(
        "ts", F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    nyd = F.date_format(
        F.date_trunc("day", F.from_utc_timestamp("ts", "America/New_York")),
        "yyyy-MM-dd")
    return (ev.select(
        F.expr("extract(YEAROFWEEK FROM ts)").cast("long").alias("iso_year"),
        F.weekofyear("ts").cast("long").alias("iso_week"),
        (F.weekday("ts") + 1).cast("long").alias("isodow"),
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd")
        .alias("week_start"),
        nyd.alias("ny_day"), "cents")
        .groupBy("iso_year", "iso_week", "isodow", "week_start", "ny_day")
        .agg(F.count("*").cast("long").alias("n_events"),
             F.sum("cents").cast("long").alias("total_cents")))


Q85_SQL = """
SELECT CAST(isoyear(ts) AS BIGINT) AS iso_year,
       CAST(week(ts) AS BIGINT) AS iso_week,
       CAST(isodow(ts) AS BIGINT) AS isodow,
       CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week_start,
       CAST(CAST(date_trunc('day',
             timezone('America/New_York', CAST(ts AS TIMESTAMPTZ)))
            AS DATE) AS VARCHAR) AS ny_day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY iso_year, iso_week, isodow, week_start, ny_day
"""


# ---------------------------------------------------------------- q86


def _q86_frames(spark: SparkSession, sf: str, work: str):
    """Build the partitioned fact + filtered-dim join q86 gates; split
    out so the plan test pins DPP on the SAME frame the gate runs."""
    ev = (t(spark, sf, "events")
          .select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                  .alias("day"), "event_type",
                  F.round(F.col("value") * 100, 0).cast("long")
                  .alias("cents")))
    ev.write.mode("overwrite").partitionBy("day").parquet(work)
    dim = (ev.select("day").distinct()
           .withColumn("dow", (F.weekday(F.to_date("day")) + 1)
                       .cast("long")))
    fact = spark.read.parquet(work)
    return (fact.join(F.broadcast(dim.filter(F.col("dow") <= 2)), "day")
            .groupBy("day", "event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum("cents").cast("long").alias("total_cents")))


def q86_dynamic_partition_pruning(spark: SparkSession, sf: str) -> DataFrame:
    """DYNAMIC partition pruning gated end-to-end: a day-partitioned
    fact joined to a dimension whose filter (weekday <= 2: Mondays and
    Tuesdays) is NOT on the partition column — the qualifying day set
    exists only at runtime, so static pruning (q74/q75's kind) can't
    help; Catalyst plants a dynamicpruningexpression subquery on the
    fact scan that broadcasts the filtered dim's keys and skips every
    other partition's files entirely. At 100 TB this is THE mechanism
    that makes star-schema date-dim filters cheap (scan 2/7 of the
    fact, not all of it filtered after read);
    tests/test_round4c.py pins the dynamicpruning expression on this
    exact frame, and this gate pins that the pruned scan aggregates to
    the same numbers as the logical join."""
    with tempfile.TemporaryDirectory(
            prefix="q86_", ignore_cleanup_errors=True) as work:
        return _q86_frames(spark, sf, work).localCheckpoint()


Q86_SQL = """
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
dim AS (
  SELECT day, isodow(CAST(day AS DATE)) AS dow
  FROM (SELECT DISTINCT day FROM ev)
)
SELECT e.day, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(e.cents) AS BIGINT) AS total_cents
FROM ev e JOIN dim d ON d.day = e.day
WHERE d.dow <= 2
GROUP BY e.day, e.event_type
"""


# ---------------------------------------------------------------- q87


def q87_recursive_cte(spark: SparkSession, sf: str) -> DataFrame:
    """Engine-native RECURSIVE CTE (new in Spark 4.x): unbounded
    ancestor rollup over the implicit decimal hierarchy parent(k) =
    k div 10 — every customer's balance (integer cents) propagates to
    ALL its ancestors, recursion depth set by the data (number of key
    digits), not by a hardcoded bound. The deliberate contrast is g05,
    which rolls up the SAME hierarchy by enumerating <= 7 ancestor
    prefixes with explode: enumeration is the right 100 TB plan when
    depth is known (one map-side pass, map-combinable agg, no
    iteration barriers); recursion is the tool when it isn't. Each
    recursion level here is one narrow (node, ancestor, cents) frame —
    the UNION ALL accumulates |customers| * depth rows, so the
    recursion-row limit is raised for the session (it defaults to 1M
    rows, which ~sf1's 150k customers * 7 levels trips).

    Output: one row per hierarchy node that has strict descendants —
    descendant count and their total balance in cents."""
    t(spark, sf, "customer").createOrReplaceTempView("q87_customer")
    # The limit is consulted at EXECUTION time and the returned frame is
    # lazy, so a scoped set-then-restore would revert before the action
    # runs (found at ~sf1: 150k customers x 7 levels tripped the
    # restored 1M default). Session-level raise, no restore — the limit
    # is a runaway-recursion backstop and 50M keeps that role.
    session_conf(spark, "spark.sql.cteRecursionRowLimit", str(50_000_000))
    return spark.sql("""
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey div 10 AS ancestor,
         CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT)
           AS bal_cents
  FROM q87_customer
  UNION ALL
  SELECT node, ancestor div 10, bal_cents FROM anc WHERE ancestor > 0
)
SELECT ancestor, CAST(COUNT(*) AS BIGINT) AS n_desc,
       CAST(SUM(bal_cents) AS BIGINT) AS desc_bal_cents
FROM anc WHERE ancestor > 0
GROUP BY ancestor
""")


Q87_SQL = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey // 10 AS ancestor,
         CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT)
           AS bal_cents
  FROM customer
  UNION ALL
  SELECT node, ancestor // 10, bal_cents FROM anc WHERE ancestor > 0
)
SELECT ancestor, CAST(COUNT(*) AS BIGINT) AS n_desc,
       CAST(SUM(bal_cents) AS BIGINT) AS desc_bal_cents
FROM anc WHERE ancestor > 0
GROUP BY ancestor
"""


# ---------------------------------------------------------------- q88

# Integer-cents idiom shared by both engines: DECIMAL(12,4) * 100 is an
# exact integral value, so the BIGINT cast is lossless in Spark and
# DuckDB alike (same shape as q87's bal_cents).
_CENTS = "CAST(CAST({col} AS DECIMAL(12,4)) * 100 AS BIGINT)"


def q88_pipe_syntax(spark: SparkSession, sf: str) -> DataFrame:
    """SQL pipe syntax (|>), native in Spark 4.x: the same
    filter -> join -> aggregate -> project chain every DataFrame query
    in this repo writes, expressed as a linear pipe instead of nested
    SQL. This gates the PARSER feature, not a new engine path — each
    pipe operator lowers onto the identical Catalyst operators
    (`|> WHERE` before the join still pushes to the parquet scan,
    `|> AGGREGATE` is the same partial/final hash aggregate), so the
    100 TB plan is exactly the one q01/q02 already audited. Revenue
    cents stay integer end-to-end (DECIMAL(12,4)*100 -> BIGINT, the
    q87 idiom) so the oracle comparison is exact, not float-shaped.
    """
    t(spark, sf, "lineitem").createOrReplaceTempView("q88_lineitem")
    t(spark, sf, "orders").createOrReplaceTempView("q88_orders")
    rev = _CENTS.format(col="l_extendedprice")
    return spark.sql(f"""
FROM q88_lineitem
|> WHERE l_quantity >= 30
|> JOIN q88_orders ON l_orderkey = o_orderkey
|> AGGREGATE
     CAST(SUM({rev}) AS BIGINT) AS rev_cents,
     CAST(COUNT(*) AS BIGINT) AS n_items,
     CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
   GROUP BY o_orderpriority
|> EXTEND CAST(rev_cents DIV n_orders AS BIGINT) AS cents_per_order
|> ORDER BY o_orderpriority
|> SELECT o_orderpriority, rev_cents, n_items, n_orders, cents_per_order
""")


Q88_SQL = f"""
SELECT o_orderpriority,
       CAST(SUM({_CENTS.format(col="l_extendedprice")}) AS BIGINT) AS rev_cents,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM({_CENTS.format(col="l_extendedprice")})
            // COUNT(DISTINCT o_orderkey) AS BIGINT) AS cents_per_order
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity >= 30
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------- q89


def q89_session_variables(spark: SparkSession, sf: str) -> DataFrame:
    """Session variables + EXECUTE IMMEDIATE (both native in Spark 4.x):
    the incremental-pull parameterization pattern q70 builds with
    DataFrame code, expressed at the SQL layer — a cutoff computed into
    a session variable (`SET VAR ... = (scalar subquery)`), then a
    parameterized statement executed with EXECUTE IMMEDIATE combining
    the variable (resolved by name inside the string) with a USING
    bind parameter. This is how a SQL-only orchestration layer (the
    audit/bookmark machinery of `orchestration.py`) would drive the
    same relative-date window without any Python in the loop.

    Scale shape: the cutoff subquery is one MAX aggregate; the main
    statement is a scan filtered by two pushable predicates — the
    variable and the bind both fold to literals at plan time, so the
    parquet scan sees plain `>` / `=` pushdown.
    """
    t(spark, sf, "orders").createOrReplaceTempView("q89_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE q89_cutoff TIMESTAMP")
    spark.sql("SET VAR q89_cutoff = (SELECT MAX(o_orderdate) - INTERVAL '90' DAY"
              " FROM q89_orders)")
    cents = _CENTS.format(col="o_totalprice")
    return spark.sql(f"""
EXECUTE IMMEDIATE
  'SELECT o_orderpriority,
          CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(SUM({cents}) AS BIGINT) AS total_cents
   FROM q89_orders
   WHERE o_orderdate > q89_cutoff AND o_orderstatus = :st
   GROUP BY o_orderpriority'
  USING 'O' AS st
""")


Q89_SQL = f"""
WITH cut AS (SELECT MAX(o_orderdate) - INTERVAL 90 DAY AS c FROM orders)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM({_CENTS.format(col="o_totalprice")}) AS BIGINT) AS total_cents
FROM orders, cut
WHERE o_orderdate > cut.c AND o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------- q90


def q90_sql_scripting(spark: SparkSession, sf: str) -> DataFrame:
    """SQL scripting (BEGIN/DECLARE/WHILE/IF, native in Spark 4.x):
    bisection for the revenue-median quantity threshold — the smallest
    quantity k such that lineitems with l_quantity <= k carry at least
    half of total revenue. The script runs ~log2(50) = 6 scan+aggregate
    iterations with loop state in script-local variables; every
    comparison is integer cents, so the loop's decisions are exact and
    engine-independent.

    The docstring point is the CONTRAST, stated honestly: the oracle
    computes the same threshold DECLARATIVELY in one pass (cumulative
    window over per-quantity revenue) — at 100 TB you run that one-scan
    formulation, and q14/q40 already gate it. Scripting is the tool for
    control flow that genuinely depends on prior results (convergence
    loops, conditional DDL, retry ladders — the `orchestration.py`
    territory), and this query pins that the engine's procedural layer
    computes the same answer as its declarative one.
    """
    li = t(spark, sf, "lineitem")
    # materialize the 16-byte (qty, cents) projection ONCE before the
    # loop: the script's ~log2(50)+2 aggregate iterations otherwise each
    # re-scan and re-project the parquet fact table — a convergence loop
    # should iterate over the narrow working set, not the source scan
    li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.expr(_CENTS.format(col="l_extendedprice")).alias("cents"),
    ).localCheckpoint().createOrReplaceTempView("q90_li")
    return spark.sql("""
BEGIN
  DECLARE lo BIGINT DEFAULT 1;
  DECLARE hi BIGINT DEFAULT 50;
  DECLARE mid BIGINT;
  DECLARE below BIGINT;
  DECLARE total BIGINT;
  SET total = (SELECT CAST(SUM(cents) AS BIGINT) FROM q90_li);
  WHILE lo < hi DO
    SET mid = (lo + hi) DIV 2;
    SET below = (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT)
                 FROM q90_li WHERE qty <= mid);
    IF 2 * below >= total THEN
      SET hi = mid;
    ELSE
      SET lo = mid + 1;
    END IF;
  END WHILE;
  SET below = (SELECT CAST(SUM(cents) AS BIGINT) FROM q90_li WHERE qty <= lo);
  -- Widen before the multiply (the round2j DECIMAL(38,0) idiom):
  -- below_cents ~1.6e13 at the 10x sweep corpus, so below * 1e6 would
  -- overflow BIGINT exactly where the oracle's SUM silently widens to
  -- HUGEINT — the engines must widen identically.
  SELECT CAST(lo AS BIGINT) AS qty_threshold,
         CAST(below AS BIGINT) AS below_cents,
         CAST(total AS BIGINT) AS total_cents,
         CAST(CAST(below AS DECIMAL(38,0)) * 1000000 DIV total
              AS BIGINT) AS share_ppm;
END
""")


Q90_SQL = f"""
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         {_CENTS.format(col="l_extendedprice")} AS cents
  FROM lineitem
),
per AS (SELECT qty, SUM(cents) AS c FROM li GROUP BY qty),
cum AS (
  SELECT qty, SUM(c) OVER (ORDER BY qty) AS cum,
         SUM(c) OVER () AS total
  FROM per
),
hit AS (
  SELECT qty, cum, total FROM cum WHERE 2 * cum >= total
  ORDER BY qty LIMIT 1
)
SELECT CAST(qty AS BIGINT) AS qty_threshold,
       CAST(cum AS BIGINT) AS below_cents,
       CAST(total AS BIGINT) AS total_cents,
       CAST(cum * 1000000 // total AS BIGINT) AS share_ppm
FROM hit
"""


# ---------------------------------------------------------------- q91

# Bounded gate slice: the PARTITION BY TABLE-argument semantics are fully
# exercised by any multi-customer slice; the full-table per-row Python run
# is priced separately in SCALE.md (it is not a plan you'd run at scale).
_Q91_CUSTS = 1000


def q91_python_udtf(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF over a partitioned TABLE argument (native in Spark
    4.x, Arrow-batched under pythonUDTF.arrow.enabled): per-customer
    inter-order gaps — each customer's order stream arrives at one UDTF
    instance in (date, orderkey) order, and the generator yields one
    row per consecutive pair with the gap in days.

    This is the surface's first partitioned-table-argument UDTF: the
    engine plans it as a hash repartition on o_custkey + in-partition
    sort, i.e. the SAME exchange a window function needs — which is the
    honest scale statement: a LAG window (the oracle) computes this
    without Python, so the UDTF is gated as MACHINERY (for per-group
    logic that doesn't fit window/aggregate semantics, e.g. d54-style
    tokenizer loops), not as the recommended plan for gaps. State is
    O(1) per group (previous date only); the eval resets on key change
    so correctness never depends on instance-per-group placement.

    The gate runs on a BOUNDED slice (o_custkey < 1000, ~1/15 of the
    customers, identical on both engines): the feature under test is
    the PARTITION BY TABLE-argument semantics, which a slice exercises
    completely, while the full-table run is a per-row Python generator
    over every order — priced in SCALE.md as a machinery measurement,
    not carried in the headline bench (at 100x it would be a pure
    Python scale-killer; the LAG plan is what you'd run).
    """
    from pyspark.sql.functions import udtf

    # Arrow-batched transfer for ALL Python UDTFs this session — strictly
    # better than pickled rows, and the frame is lazy so a scoped
    # set-then-restore would revert before execution (q87 lesson).
    session_conf(spark, "spark.sql.execution.pythonUDTF.arrow.enabled",
                 "true")
    t(spark, sf, "orders").createOrReplaceTempView("q91_orders")

    @udtf(returnType="o_custkey: bigint, seq: bigint, gap_days: bigint")
    class OrderGaps:
        def __init__(self) -> None:
            self.key = None
            self.prev = None
            self.seq = 0

        def eval(self, row):
            k = row["o_custkey"]
            if k != self.key:  # defensive: never trust instance reuse
                self.key, self.prev, self.seq = k, None, 0
            self.seq += 1
            d = row["od"]
            if self.prev is not None:
                yield k, self.seq, (d - self.prev).days
            self.prev = d

    spark.udtf.register("q91_gaps", OrderGaps)
    return spark.sql(f"""
SELECT o_custkey, seq, gap_days
FROM q91_gaps(TABLE(SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                           o_orderkey
                    FROM q91_orders WHERE o_custkey < {_Q91_CUSTS})
              PARTITION BY o_custkey ORDER BY (od, o_orderkey))
""")


Q91_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od, o_orderkey
  FROM orders WHERE o_custkey < {_Q91_CUSTS}
),
s AS (
  SELECT o_custkey, od,
         ROW_NUMBER() OVER w AS seq,
         LAG(od) OVER w AS prev
  FROM o
  WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey)
)
SELECT o_custkey, CAST(seq AS BIGINT) AS seq,
       CAST(datediff('day', prev, od) AS BIGINT) AS gap_days
FROM s WHERE prev IS NOT NULL
"""


# ---------------------------------------------------------------- q92

_Q92_MAX_INST = 6  # installment count = 1 + (orderkey % 6), capped by design


def q92_sql_table_function(spark: SparkSession, sf: str) -> DataFrame:
    """SQL TABLE function (CREATE ... RETURNS TABLE) + LATERAL
    correlation — the row-GENERATING half of the SQL-UDF surface whose
    scalar half q82 gates. The function expands one order into its
    installment schedule (equal cents per installment, remainder cents
    on the last one — the exact-split idiom that never loses a cent);
    the LATERAL join correlates it per order row, and the aggregate
    pins per-installment-index totals.

    Engine path: the SQL function body is INLINED by the analyzer (no
    per-row interpreter, unlike a Python UDF) — the plan is
    explode(sequence) + projections, fully whole-stage-codegen, and the
    lateral explode is a one-to-few generator, not a join shuffle. At
    100 TB the schedule expansion is embarrassingly parallel per
    partition, and the final aggregate is the only exchange.

    Reference parity: the installment/expiration splitting of invoices
    (CotyData_IPN.py's due-date schedules) is the same shape — the
    reference loops per row in pandas; here the expansion is a
    declared, optimizer-visible generator.
    """
    spark.sql(f"""
CREATE OR REPLACE TEMPORARY FUNCTION q92_installments(
    total_cents BIGINT, n INT)
RETURNS TABLE (inst INT, inst_cents BIGINT)
RETURN SELECT
    i AS inst,
    CASE WHEN i = n THEN total_cents - (n - 1) * (total_cents DIV n)
         ELSE total_cents DIV n END AS inst_cents
FROM (SELECT explode(sequence(1, n)) AS i)
""")
    t(spark, sf, "orders").createOrReplaceTempView("q92_orders")
    return spark.sql(f"""
SELECT CAST(s.inst AS BIGINT) AS inst,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(s.inst_cents) AS BIGINT) AS total_cents,
       CAST(MIN(s.inst_cents) AS BIGINT) AS min_cents,
       CAST(MAX(s.inst_cents) AS BIGINT) AS max_cents
FROM q92_orders o,
LATERAL q92_installments(
    CAST(CAST(o.o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT),
    CAST(1 + o.o_orderkey % {_Q92_MAX_INST} AS INT)) s
GROUP BY CAST(s.inst AS BIGINT)
ORDER BY inst
""")


Q92_SQL = f"""
WITH sched AS (
  SELECT s.i AS inst,
         CASE WHEN s.i = n.n THEN n.total_cents
                                  - (n.n - 1) * (n.total_cents // n.n)
              ELSE n.total_cents // n.n END AS inst_cents
  FROM (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT)
             AS total_cents,
           1 + o_orderkey % {_Q92_MAX_INST} AS n
    FROM orders
  ) n, LATERAL (SELECT unnest(generate_series(1, CAST(n.n AS INT))) AS i) s
)
SELECT CAST(inst AS BIGINT) AS inst,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(inst_cents) AS BIGINT) AS total_cents,
       CAST(MIN(inst_cents) AS BIGINT) AS min_cents,
       CAST(MAX(inst_cents) AS BIGINT) AS max_cents
FROM sched
GROUP BY 1
ORDER BY inst
"""


# ---------------------------------------------------------------- q93


def q93_interval_battery(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI INTERVAL type battery — the typed time-arithmetic surface
    q85 (calendar/timezone parsing) does not touch: timestamp
    subtraction producing a DAY-TO-SECOND interval, SUM/MAX aggregation
    OVER the interval type itself (not over pre-extracted integers),
    component extraction from the aggregated interval, and year-month
    interval addition with end-of-month clamping.

    The oracle computes the same values by plain integer epoch
    arithmetic, so the gate pins that Spark's interval-typed path
    agrees exactly with integer math — the property that lets a
    pipeline mix both styles safely. The clamp battery pins that
    `date + INTERVAL 1 MONTH` clamps Jan-31 -> Feb-29-style on both
    engines (both clamp; engines that ERROR or roll over would fail
    the count).

    Scale shape: one lineitem-orders equi-join (the q03/q88 shuffle),
    per-row interval arithmetic inside the scan projection, and a
    5-key aggregate.
    """
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    orders = t(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    iv = F.expr("l_shipdate - o_orderdate")  # INTERVAL DAY TO SECOND
    g = (j.select("o_orderpriority", iv.alias("iv"), "o_orderdate")
         .groupBy("o_orderpriority")
         .agg(F.count("*").cast("long").alias("n_lines"),
              F.sum("iv").alias("sum_iv"),
              F.max("iv").alias("max_iv"),
              F.sum(F.when(
                  F.dayofmonth(F.expr(
                      "o_orderdate + INTERVAL '1' MONTH"))
                  != F.dayofmonth("o_orderdate"), 1).otherwise(0))
              .cast("long").alias("n_month_clamped")))
    secs = ("CAST(extract(DAY FROM {c}) AS BIGINT) * 86400 "
            "+ CAST(extract(HOUR FROM {c}) AS BIGINT) * 3600 "
            "+ CAST(extract(MINUTE FROM {c}) AS BIGINT) * 60 "
            "+ CAST(floor(extract(SECOND FROM {c})) AS BIGINT)")
    return g.select(
        "o_orderpriority", "n_lines",
        F.expr(secs.format(c="sum_iv")).alias("total_gap_secs"),
        F.expr(secs.format(c="max_iv")).alias("max_gap_secs"),
        "n_month_clamped").orderBy("o_orderpriority")


Q93_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(epoch(l_shipdate) - epoch(o_orderdate)) AS BIGINT)
         AS total_gap_secs,
       CAST(MAX(epoch(l_shipdate) - epoch(o_orderdate)) AS BIGINT)
         AS max_gap_secs,
       CAST(COUNT(*) FILTER (
         day(o_orderdate + INTERVAL 1 MONTH) <> day(o_orderdate))
         AS BIGINT) AS n_month_clamped
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------- q94


def q94_variant_battery(spark: SparkSession, sf: str) -> DataFrame:
    """The VARIANT semi-structured type surface (native in this Spark
    4.1 build — the round-7 probe find): JSON text is parsed ONCE into
    the binary VARIANT encoding and every downstream access is a typed
    path extraction (`variant_get`), not a re-parse — the schema-on-read
    shape for heterogeneous event/API payloads where the reference's
    pandas pipelines re-flatten nested JSON per use
    (`CotyData_IPN.py:331-371`, nested `Tax`/`Audit` structs).

    The battery: build one JSON document per order (header + sorted
    items array) from the relational tables, `parse_json` it, then
    recover everything through the variant path language — scalar gets
    with type coercion (`$.okey` bigint, `$.prio` string), nested array
    indexing (`$.items[0].qty`), array extraction + explode
    (`$.items` as array<variant>), and `try_variant_get` null-safety on
    a missing path — and pin the per-priority rollup of the extracted
    values against the same rollup computed directly from the columns
    the JSON was built from. Equality here proves the
    relational -> JSON -> VARIANT -> typed-extraction loop is lossless.

    Scale shape: the expensive operator is the per-order items
    aggregation (one shuffle, shared with the direct path at 100 TB —
    building the documents IS the workload); parse_json/variant_get are
    per-row codegen expressions on top. The explode doubles as the
    fan-out every VARIANT ingest pipeline pays to re-relationalize
    nested arrays — measured against the identical explode-free numbers
    recovered via `$.items[i]` indexing.
    """
    li = t(spark, sf, "lineitem")
    orders = t(spark, sf, "orders")
    items = (li.select(
        "l_orderkey",
        # floor() before the bigint cast makes the truncation EXPLICIT
        # on both engines (Spark's decimal->bigint cast truncates while
        # DuckDB's rounds; these columns are integer-valued and
        # positive, so floor == trunc and both engines agree by
        # construction rather than by corpus luck)
        F.struct(
            F.col("l_linenumber").cast("int").alias("ln"),
            F.floor(F.col("l_quantity").cast("decimal(12,4)"))
            .cast("bigint").alias("qty"),
            F.floor(F.col("l_extendedprice").cast("decimal(12,4)") * 100)
            .cast("bigint").alias("price_c")).alias("it"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("it")).alias("items")))
    # Same fix as q96: orders broadcasts, so the JSON build + VARIANT
    # parse otherwise run at the items-aggregate's AQE-coalesced width
    # (bytes are the coalescer's proxy, not expression CPU). The derived
    # key survives static elimination (o_orderkey itself is equivalent
    # to the child's l_orderkey hash partitioning). (optimization r12)
    docs = (orders.join(items, orders.o_orderkey == items.l_orderkey)
            .repartition(spark.sparkContext.defaultParallelism,
                         F.pmod(F.col("o_orderkey"), F.lit(1 << 20)))
            .select(F.to_json(F.struct(
                F.col("o_orderkey").alias("okey"),
                F.col("o_orderpriority").alias("prio"),
                F.col("items"))).alias("js")))
    v = docs.select(F.parse_json(F.col("js")).alias("v"))
    extracted = v.select(
        F.expr("variant_get(v, '$.okey', 'bigint')").alias("okey"),
        F.expr("variant_get(v, '$.prio', 'string')").alias("prio"),
        F.expr("variant_get(v, '$.items[0].qty', 'bigint')")
        .alias("first_qty"),
        F.expr("try_variant_get(v, '$.no_such_field', 'bigint')")
        .alias("absent"),
        F.expr("explode(variant_get(v, '$.items', 'array<variant>'))")
        .alias("item"))
    per_item = extracted.select(
        "okey", "prio", "first_qty", "absent",
        F.expr("variant_get(item, '$.qty', 'bigint')").alias("qty"),
        F.expr("variant_get(item, '$.price_c', 'bigint')").alias("price_c"))
    return (per_item.groupBy("prio")
            .agg(F.count_distinct("okey").cast("long").alias("n_orders"),
                 F.count("*").cast("long").alias("n_items"),
                 F.sum("qty").cast("long").alias("sum_qty"),
                 F.sum("price_c").cast("long").alias("sum_price_c"),
                 F.sum(F.col("first_qty")
                       * F.when(F.col("absent").isNull(), 1).otherwise(0))
                 .cast("long").alias("sum_first_qty"))
            .orderBy("prio"))


# The oracle never builds JSON: it recomputes the same rollup straight
# from the relational columns — equality pins the VARIANT loop lossless.
# sum_first_qty re-counts the first (lowest-linenumber) item's qty once
# per ITEM row, mirroring the Spark side where first_qty rides along the
# explode (and `absent` is NULL for every row, so the when() keeps the
# full sum — the null-safety path is load-bearing, not decorative).
Q94_SQL = """
WITH it AS (
  SELECT l_orderkey, l_linenumber AS ln,
         CAST(floor(CAST(l_quantity AS DECIMAL(12,4))) AS BIGINT) AS qty,
         CAST(floor(CAST(l_extendedprice AS DECIMAL(12,4)) * 100)
              AS BIGINT) AS price_c
  FROM lineitem
),
per_order AS (
  -- first_qty tie-break must mirror Spark's sort_array over the FULL
  -- struct (ln, qty, price_c): (orderkey, linenumber) is NOT unique in
  -- this corpus, so ordering by ln alone is nondeterministic
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(qty) AS BIGINT) AS sum_qty,
         CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
         CAST(first(qty ORDER BY ln, qty, price_c) AS BIGINT) AS first_qty
  FROM it
  GROUP BY l_orderkey
)
SELECT o.o_orderpriority AS prio,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(p.n_items) AS BIGINT) AS n_items,
       CAST(SUM(p.sum_qty) AS BIGINT) AS sum_qty,
       CAST(SUM(p.sum_price_c) AS BIGINT) AS sum_price_c,
       CAST(SUM(p.first_qty * p.n_items) AS BIGINT) AS sum_first_qty
FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------- q95


def _order_items(spark: SparkSession, sf: str) -> DataFrame:
    """(l_orderkey, items): each order's lines as a sorted array of
    (ln, qty) structs, the document body of q95, q96 and q99."""
    li = t(spark, sf, "lineitem")
    return (li.select(
        "l_orderkey",
        # explicit floor before the bigint cast — same truncate-vs-round
        # cross-engine rationale as q94 (values positive: floor == trunc)
        F.struct(
            F.col("l_linenumber").cast("int").alias("ln"),
            F.floor(F.col("l_quantity").cast("decimal(12,4)"))
            .cast("bigint").alias("qty")).alias("it"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("it")).alias("items")))


def q95_variant_persistence(spark: SparkSession, sf: str) -> DataFrame:
    """The STORAGE half of the VARIANT story (q94 covers the expression
    half): semi-structured documents land in the lake AS a variant
    parquet column and are consumed by typed path extraction on the
    read side — the schema-on-read table layout for event/API payloads
    (Spark writes variant as the two-binary-chunk shredded encoding;
    no JSON re-parse on any read). The battery also pins the NATIVE
    constructor: documents are built with `to_variant_object` over
    nested structs/arrays — no JSON text anywhere on the write path —
    and must round-trip the parquet write/read losslessly.

    Gate: write per-order variant docs (header + sorted items array)
    to parquet, read them back, recover the per-priority rollup via
    variant_get, and pin it against the oracle's direct relational
    computation. Construction parity with q94's parse_json(to_json(..))
    path is pinned separately in tests/test_round8.py.

    Scale shape: the write is the workload (one items aggregation
    shuffle, then a parallel parquet write); reads after it are
    scan-speed path walks. At 100 TB this is the landing-zone pattern:
    pay the variant encode once at ingest, every downstream consumer
    skips JSON parsing forever.
    """
    import os

    items = _order_items(spark, sf)
    orders = t(spark, sf, "orders")
    # Same coalesced-width finding as q96/q94: without the explicit
    # exchange the variant ENCODE and the parquet write both run at the
    # items-aggregate's AQE-coalesced width (one task at gate scale —
    # the docstring's "parallel parquet write" was not actually
    # parallel). (optimization r12)
    docs = (orders.join(items, orders.o_orderkey == items.l_orderkey)
            .repartition(spark.sparkContext.defaultParallelism,
                         F.pmod(F.col("o_orderkey"), F.lit(1 << 20)))
            .select(F.expr(
                "to_variant_object(named_struct("
                "'okey', o_orderkey, 'prio', o_orderpriority, "
                "'items', items))").alias("v")))
    with tempfile.TemporaryDirectory(
            prefix="q95_", ignore_cleanup_errors=True) as work:
        path = os.path.join(work, "docs")
        docs.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        extracted = back.select(
            F.expr("variant_get(v, '$.okey', 'bigint')").alias("okey"),
            F.expr("variant_get(v, '$.prio', 'string')").alias("prio"),
            F.expr("size(variant_get(v, '$.items', 'array<variant>'))")
            .cast("long").alias("n_items"),
            F.expr("variant_get(v, '$.items[0].qty', 'bigint')")
            .alias("first_qty"))
        return (extracted.groupBy("prio")
                .agg(F.count("*").cast("long").alias("n_orders"),
                     F.sum("n_items").cast("long").alias("n_items"),
                     F.sum("first_qty").cast("long").alias("sum_first_qty"))
                .orderBy("prio")
                # the variant scan must finish before the temp dir dies
                .localCheckpoint())


Q95_SQL = """
WITH it AS (
  SELECT l_orderkey, l_linenumber AS ln,
         CAST(floor(CAST(l_quantity AS DECIMAL(12,4))) AS BIGINT) AS qty
  FROM lineitem
),
per_order AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(first(qty ORDER BY ln, qty) AS BIGINT) AS first_qty
  FROM it
  GROUP BY l_orderkey
)
SELECT o.o_orderpriority AS prio,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(p.n_items) AS BIGINT) AS n_items,
       CAST(SUM(p.first_qty) AS BIGINT) AS sum_first_qty
FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------- q96


def q96_xml_battery(spark: SparkSession, sf: str) -> DataFrame:
    """The XML semi-structured surface (round-8 probe find: to_xml /
    from_xml / the xpath_* family are all live in this build) — the
    XML sibling of q94's JSON/VARIANT battery, because plenty of real
    feeds (SOAP-era ERPs, invoice gateways, the kind of systems the
    reference's REST pipelines front) still speak XML: build one XML
    document per order (header + repeated <items> elements), then
    recover the rollup through BOTH extraction grammars — the typed
    `from_xml` schema read (struct + array-of-struct) and the
    standalone `xpath_long`/`xpath` path language (node-set sum and
    node count, computed independently of the schema read). The gate
    pins both paths against the oracle's direct relational rollup, so
    equality proves the relational -> XML -> typed-extraction loop is
    lossless AND the two grammars agree with each other.

    Scale shape: same as q94 — the per-order items aggregation is the
    one shuffle (shared with the direct path; building the documents
    IS the workload), to_xml/from_xml/xpath are per-row expressions.
    XML parse is heavier per byte than VARIANT's binary walk, which is
    the measured argument for landing XML feeds INTO variant/parquet
    once (q95) rather than re-parsing text downstream.
    """
    items = _order_items(spark, sf)
    orders = t(spark, sf, "orders")
    # The XML build + double parse below is the workload (~40 µs/row of
    # expression CPU); orders broadcasts, so the whole battery runs at
    # the items-aggregate's AQE-coalesced width — measured ONE task at
    # gate scale (identical 6.6 s wall at 8 and at 32 cores: bytes are
    # the coalescer's proxy and a terrible one for parse CPU). A
    # repartition ON o_orderkey is statically eliminated (the join
    # output already carries the equivalent l_orderkey hash
    # partitioning), so spread on a derived deterministic key instead —
    # explicit-n repartitions are exempt from AQE coalescing.
    # (optimization r12)
    docs = (orders.join(items, orders.o_orderkey == items.l_orderkey)
            .repartition(spark.sparkContext.defaultParallelism,
                         F.pmod(F.col("o_orderkey"), F.lit(1 << 20)))
            .select(F.expr(
                "to_xml(named_struct('okey', o_orderkey, "
                "'prio', o_orderpriority, 'items', items))").alias("x")))
    xml_schema = "okey BIGINT, prio STRING, items ARRAY<STRUCT<ln: INT, qty: BIGINT>>"
    extracted = docs.select(
        F.expr(f"from_xml(x, '{xml_schema}')").alias("s"),
        F.expr("xpath_long(x, 'sum(ROW/items/qty)')").alias("xp_qty"),
        F.expr("CAST(size(xpath(x, 'ROW/items')) AS BIGINT)").alias("xp_n"))
    per_order = extracted.select(
        F.col("s.prio").alias("prio"),
        F.size("s.items").cast("long").alias("n_items"),
        F.expr("aggregate(s.items, CAST(0 AS BIGINT), "
               "(acc, it) -> acc + it.qty)").alias("st_qty"),
        "xp_qty", "xp_n")
    return (per_order.groupBy("prio")
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.sum("n_items").cast("long").alias("n_items"),
                 F.sum("st_qty").cast("long").alias("sum_qty_struct"),
                 F.sum("xp_qty").cast("long").alias("sum_qty_xpath"),
                 F.sum("xp_n").cast("long").alias("n_items_xpath"))
            .orderBy("prio"))


# The oracle never builds XML: the same rollup straight from the
# relational columns — and BOTH extraction grammars must equal it
# (sum_qty_struct == sum_qty_xpath, n_items == n_items_xpath), so a
# regression in either the schema read or the xpath engine breaks the
# hash even though the other path still agrees.
Q96_SQL = """
WITH it AS (
  SELECT l_orderkey,
         CAST(floor(CAST(l_quantity AS DECIMAL(12,4))) AS BIGINT) AS qty
  FROM lineitem
),
per_order AS (
  SELECT l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(qty) AS BIGINT) AS sum_qty
  FROM it GROUP BY l_orderkey
)
SELECT o.o_orderpriority AS prio,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(p.n_items) AS BIGINT) AS n_items,
       CAST(SUM(p.sum_qty) AS BIGINT) AS sum_qty_struct,
       CAST(SUM(p.sum_qty) AS BIGINT) AS sum_qty_xpath,
       CAST(SUM(p.n_items) AS BIGINT) AS n_items_xpath
FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------- q97


def q97_collation_battery(spark: SparkSession, sf: str) -> DataFrame:
    """String COLLATION surface (round-8 probe find): case-insensitive
    grouping and equality through the UTF8_LCASE collation — the
    engine-level answer to the lower()-everywhere idiom the reference's
    pandas code uses for case-insensitive matching. A deterministic
    per-row case mangle (upper for even part keys, lower for odd)
    splits every brand into two case variants; grouping by the COLLATED
    key must merge them back — pinned against the oracle's lower()
    grouping, which is the collation's definition for ASCII data.

    The battery also exercises collated EQUALITY in an aggregate filter
    (count of rows case-insensitively equal to one brand spelled in the
    opposite case) and pins that the collated group keeps first-seen
    representation by NOT emitting the raw key (outputs are
    canonicalized via lower() and cast back to utf8_binary — a collated
    string column would also skew the cross-engine schema compare).

    Scale shape: collation support is expression-level (codegen string
    comparisons with a collator); the plan is an ordinary hash
    aggregate on the collated key — same exchange count as a binary
    group-by, no lower() materialization pass.
    """
    part = t(spark, sf, "part")
    key = F.expr("CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand) "
                 "ELSE lower(p_brand) END")
    staged = part.select(
        key.alias("raw"),
        F.col("p_retailprice").cast("decimal(12,4)").alias("price"))
    ci = "collate(raw, 'UTF8_LCASE')"
    return (staged.groupBy(F.expr(f"collate(lower({ci}), 'UTF8_BINARY')")
                           .alias("brand_lc"))
            .agg(F.count("*").cast("long").alias("n_parts"),
                 F.count_distinct("raw").cast("long").alias("n_variants"),
                 F.sum(F.when(F.expr(f"{ci} = 'bRAND#33'"), 1).otherwise(0))
                 .cast("long").alias("n_eq_b33"),
                 F.sum("price").cast("double").alias("sum_price"))
            .orderBy("brand_lc"))


Q97_SQL = """
WITH staged AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
              ELSE lower(p_brand) END AS raw,
         CAST(p_retailprice AS DECIMAL(12,4)) AS price
  FROM part
)
SELECT lower(raw) AS brand_lc,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_variants,
       CAST(SUM(CASE WHEN lower(raw) = lower('bRAND#33') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_eq_b33,
       CAST(CAST(SUM(price) AS VARCHAR) AS DOUBLE) AS sum_price
FROM staged
GROUP BY lower(raw)
ORDER BY brand_lc
"""


# ---------------------------------------------------------------- q98


def q98_listagg_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation via `listagg(...) WITHIN GROUP
    (ORDER BY ...)` (round-8 probe find — the ANSI form; Spark also
    aliases string_agg): per region, the comma-joined nation roster
    ascending AND pipe-joined descending, plus a larger fan-in — per
    order-priority, the '|'-joined roster of distinct return flags.
    WITHIN GROUP ordering makes the concatenation deterministic, which
    is what makes it oracle-pinnable at all (DuckDB: string_agg with
    ORDER BY inside the aggregate).

    Scale shape: listagg is an ordinary sort-based aggregate —
    map-side partials, one exchange per group-by. The return-flag leg's
    input is first collapsed to the DISTINCT (priority, flag) pairs
    (15 rows at any corpus scale) so the string build never sees the
    fact table's row count.
    """
    nation = t(spark, sf, "nation")
    region = t(spark, sf, "region")
    li = t(spark, sf, "lineitem")
    orders = t(spark, sf, "orders")
    roster = (nation.join(region, nation.n_regionkey == region.r_regionkey)
              .groupBy("r_name")
              .agg(F.expr("listagg(n_name, ',') WITHIN GROUP "
                          "(ORDER BY n_name)").alias("nations_asc"),
                   F.expr("listagg(n_name, '|') WITHIN GROUP "
                          "(ORDER BY n_name DESC)").alias("nations_desc"),
                   F.count("*").cast("long").alias("n_nations")))
    modes = (orders.join(li, orders.o_orderkey == li.l_orderkey)
             .select("o_orderpriority", "l_returnflag").distinct()
             .groupBy("o_orderpriority")
             .agg(F.expr("listagg(l_returnflag, '|') WITHIN GROUP "
                         "(ORDER BY l_returnflag)").alias("modes")))
    return (roster.crossJoin(
        modes.agg(F.expr("listagg(modes, ';') WITHIN GROUP (ORDER BY "
                         "modes)").alias("prio_modes")))
        .select("r_name", "nations_asc", "nations_desc", "n_nations",
                "prio_modes")
        .orderBy("r_name"))


Q98_SQL = """
WITH roster AS (
  SELECT r_name,
         string_agg(n_name, ',' ORDER BY n_name) AS nations_asc,
         string_agg(n_name, '|' ORDER BY n_name DESC) AS nations_desc,
         CAST(COUNT(*) AS BIGINT) AS n_nations
  FROM nation JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name
),
pm AS (
  SELECT string_agg(modes, ';' ORDER BY modes) AS prio_modes
  FROM (
    SELECT o_orderpriority,
           string_agg(l_returnflag, '|' ORDER BY l_returnflag) AS modes
    FROM (SELECT DISTINCT o_orderpriority, l_returnflag
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
    GROUP BY o_orderpriority
  )
)
SELECT r_name, nations_asc, nations_desc, n_nations, prio_modes
FROM roster, pm
ORDER BY r_name
"""


# ---------------------------------------------------------------- q99


def q99_variant_explode_lateral(spark: SparkSession, sf: str) -> DataFrame:
    """The `variant_explode` LATERAL table function (round-8 probe
    find) — the engine-native way to re-relationalize a variant array
    WITH positions, vs q94's `explode(variant_get(.., 'array<variant>'))`
    which loses ordinality. Build one variant doc per order (sorted
    items array), lateral-explode the items, and recover a rollup that
    NEEDS the position column (sum of qty weighted by 1-based position
    — a sequence-sensitive statistic): equality with the oracle's
    row_number-based computation proves both the values AND the
    ordinality survive the variant round trip.

    Scale shape: identical to q94 (the per-order aggregation is the
    shuffle; variant_explode is a per-row generator like explode).
    """
    items = _order_items(spark, sf)
    orders = t(spark, sf, "orders")
    docs = (orders.join(items, orders.o_orderkey == items.l_orderkey)
            .select("o_orderpriority",
                    F.expr("to_variant_object(named_struct('items', items))")
                    .alias("v")))
    docs.createOrReplaceTempView("q99_docs")
    return spark.sql("""
        SELECT o_orderpriority AS prio,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(variant_get(e.value, '$.qty', 'bigint'))
                    AS BIGINT) AS sum_qty,
               CAST(SUM((e.pos + 1) * variant_get(e.value, '$.qty',
                                                  'bigint'))
                    AS BIGINT) AS sum_pos_weighted_qty
        FROM q99_docs,
             LATERAL variant_explode(variant_get(v, '$.items',
                                                 'variant')) e
        GROUP BY o_orderpriority
        ORDER BY prio
    """)


Q99_SQL = """
WITH it AS (
  SELECT l_orderkey,
         l_linenumber AS ln,
         CAST(floor(CAST(l_quantity AS DECIMAL(12,4))) AS BIGINT) AS qty
  FROM lineitem
),
ranked AS (
  -- 1-based position must mirror sort_array over the FULL struct
  -- (ln, qty): (orderkey, linenumber) is NOT unique in this corpus
  SELECT l_orderkey, qty,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY ln, qty) AS pos1
  FROM it
)
SELECT o.o_orderpriority AS prio,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(r.qty) AS BIGINT) AS sum_qty,
       CAST(SUM(r.pos1 * r.qty) AS BIGINT) AS sum_pos_weighted_qty
FROM ranked r JOIN orders o ON o.o_orderkey = r.l_orderkey
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------- q100


def q100_accent_collation_battery(spark: SparkSession,
                                  sf: str) -> DataFrame:
    """UNICODE_CI_AI — the accent- AND case-insensitive collation (q97
    covered case-only UTF8_LCASE; the round-8 probe listed CI_AI as
    live but un-queried for want of non-ASCII data). Non-ASCII variants
    are derived DETERMINISTICALLY from the real corpus: per customer
    key mod 3, the market segment is accent-mangled
    (translate lower-vowels -> áéíóú), upper-cased, or left raw — so
    every segment fans out into case AND accent variants that only the
    collation can re-unify.

    Load-bearing legs: (1) grouping counts — the canonical group-by
    must merge all variants; (2) n_ci_distinct == 1 per group pins that
    CI_AI actually equates the accent variants ON SPark's side (the
    oracle's strip_accents grouping makes it 1 by construction — the
    asymmetry is the point: if CI_AI failed, Spark reads > 1);
    (3) collated EQUALITY against a literal spelled with the opposite
    case and our accent map ('BÚÍLDÍNG'). Outputs are canonicalized by
    reversing the in-query accent map (closed by construction) and
    collated back to UTF8_BINARY so the cross-engine schema compare
    stays exact; the oracle canonicalizes via strip_accents+lower.

    Scale shape: like q97 — collation comparisons are expression-level
    (ICU collator inside codegen); the plan is one hash aggregate on
    the canonical key, no extra pass to materialize lower()/unaccented
    copies.
    """
    cust = t(spark, sf, "customer")
    mangled = F.expr(
        "CASE CAST(c_custkey % 3 AS INT) "
        "WHEN 0 THEN translate(lower(c_mktsegment), 'aeiou', 'áéíóú') "
        "WHEN 1 THEN upper(c_mktsegment) "
        "ELSE lower(c_mktsegment) END")
    staged = cust.select(
        mangled.alias("raw"),
        F.col("c_acctbal").cast("decimal(12,4)").alias("bal"))
    ci = "collate(raw, 'UNICODE_CI_AI')"
    canon = (f"collate(lower(translate(raw, 'áéíóú', 'aeiou')), "
             f"'UTF8_BINARY')")
    return (staged.groupBy(F.expr(canon).alias("segment"))
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.count_distinct("raw").cast("long").alias("n_variants"),
                 F.expr(f"count(DISTINCT {ci})").cast("long")
                 .alias("n_ci_distinct"),
                 F.sum(F.when(F.expr(f"{ci} = 'BÚÍLDÍNG'"), 1).otherwise(0))
                 .cast("long").alias("n_eq_building"),
                 F.sum("bal").cast("double").alias("sum_bal"))
            .orderBy("segment"))


Q100_SQL = """
WITH staged AS (
  SELECT CASE CAST(c_custkey % 3 AS INT)
           WHEN 0 THEN translate(lower(c_mktsegment), 'aeiou', 'áéíóú')
           WHEN 1 THEN upper(c_mktsegment)
           ELSE lower(c_mktsegment) END AS raw,
         CAST(c_acctbal AS DECIMAL(12,4)) AS bal
  FROM customer
)
SELECT lower(strip_accents(raw)) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT raw) AS BIGINT) AS n_variants,
       CAST(COUNT(DISTINCT lower(strip_accents(raw))) AS BIGINT)
         AS n_ci_distinct,
       CAST(SUM(CASE WHEN lower(strip_accents(raw)) =
                          lower(strip_accents('BÚÍLDÍNG'))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_eq_building,
       CAST(CAST(SUM(bal) AS VARCHAR) AS DOUBLE) AS sum_bal
FROM staged
GROUP BY lower(strip_accents(raw))
ORDER BY segment
"""


# --------------------------------------------------------------- q101


def q101_try_parse_json_quarantine(spark: SparkSession,
                                   sf: str) -> DataFrame:
    """Malformed-payload quarantine routing via `try_parse_json` +
    `is_variant_null` (both live, neither previously queried): a
    deterministic in-query corruption fans the real events.props feed
    into three landing outcomes — MALFORMED (event_id % 7 = 0: payload
    truncated mid-object, try_parse_json -> SQL NULL), JSON-NULL
    (event_id % 7 = 1: payload replaced by the literal 'null', which
    PARSES into a variant null — is_variant_null distinguishes it from
    the malformed case), and VALUE (typed $.k extraction). This is
    K7's quarantine semantics lifted to the semi-structured landing
    path: bad rows are counted and routed, never thrown (ANSI-mode
    parse_json would abort the batch on the first bad payload).

    $.k coercion is STRUCTURAL, not corpus luck (ADVICE r8): both
    engines extract $.k as a STRING and apply the identical regex-gated
    integer cast. The engines' native numeric coercions genuinely
    diverge three ways (probed live: Spark
    try_variant_get(...,'bigint') casts true->1 and 12.5->12; Spark
    try_cast('12.5' as bigint) -> NULL; DuckDB TRY_CAST('12.5' AS
    BIGINT) ROUNDS to 13), so no native path can agree — the shared
    '^-?[0-9]{1,18}$' gate (length-capped so CAST can never overflow
    and throw on either engine) makes a future corpus change safe.

    Scale shape: one scan; the verdict is a per-row codegen CASE over
    try_parse_json — no second pass, no UDF; the rollup is an ordinary
    per-type hash aggregate.
    """
    ev = t(spark, sf, "events")
    fed = ev.select(
        "event_type",
        F.expr("CASE WHEN event_id % 7 = 0 "
               "THEN substring(props, 1, greatest(length(props) - 2, 1)) "
               "WHEN event_id % 7 = 1 THEN 'null' "
               "ELSE props END").alias("payload"))
    parsed = fed.select(
        "event_type", F.expr("try_parse_json(payload)").alias("v"))
    verdict = (F.when(F.col("v").isNull(), "malformed")
               .when(F.expr("is_variant_null(v)"), "json_null")
               .otherwise("value"))
    k_str = "try_variant_get(v, '$.k', 'string')"
    return (parsed.select("event_type", verdict.alias("verdict"),
                          F.expr(f"CASE WHEN {k_str} RLIKE "
                                 f"'^-?[0-9]{{1,18}}$' THEN "
                                 f"CAST({k_str} AS BIGINT) END")
                          .alias("k"))
            .groupBy("event_type", "verdict")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.sum(F.coalesce(F.col("k"), F.lit(0))).cast("long")
                 .alias("sum_k"))
            .orderBy("event_type", "verdict"))


Q101_SQL = """
WITH fed AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0
              THEN substring(props, 1, greatest(length(props) - 2, 1))
              WHEN event_id % 7 = 1 THEN 'null'
              ELSE props END AS payload
  FROM events
),
v AS (
  -- NULL payload and whitespace-wrapped 'null' are classified
  -- SEMANTICALLY (json_type), mirroring Spark's try_parse_json +
  -- is_variant_null exactly: NULL/invalid -> malformed, JSON null ->
  -- json_null. $.k: string extraction + the SAME regex-gated integer
  -- cast the Spark side applies (ADVICE r8 — the engines' native
  -- numeric coercions diverge on 'true'/'12.5', so neither is used)
  SELECT event_type,
         CASE WHEN payload IS NULL OR NOT json_valid(payload)
                THEN 'malformed'
              WHEN json_type(CAST(payload AS JSON)) = 'NULL'
                THEN 'json_null'
              ELSE 'value' END AS verdict,
         CASE WHEN payload IS NOT NULL AND json_valid(payload)
                   AND json_type(CAST(payload AS JSON)) != 'NULL'
                   AND regexp_matches(
                         json_extract_string(payload, '$.k'),
                         '^-?[0-9]{1,18}$')
              THEN CAST(json_extract_string(payload, '$.k') AS BIGINT)
              ELSE NULL END AS k
  FROM fed
)
SELECT event_type, verdict,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS sum_k
FROM v
GROUP BY event_type, verdict
ORDER BY event_type, verdict
"""


# --------------------------------------------------------------- q102

_Q102_N = 100_000
_Q102_PARTS = 16   # pinned: uniform()'s stream is a function of
#                    (seed, partition layout) — probed live: same seed,
#                    4 vs 32 range partitions -> different sums; same
#                    seed + same layout -> bit-identical across runs


def q102_seeded_synthetic_generator(spark: SparkSession,
                                    sf: str) -> DataFrame:
    """Seeded in-engine synthetic data generation — the TESTDATA
    generator's idiom, engine-side (probe-live `uniform()`/`randstr()`,
    never previously queried). Generates 100k rows of (uniform bigint,
    16-char random key) and gates the generator CONTRACT: exact row
    count, closed range bounds, key shape ([A-Za-z0-9]{16}), and
    run-to-run determinism (two independent same-seed scans over the
    same pinned partition layout must produce identical streams —
    compared by sum + xor-style parity, not samples).

    The oracle regenerates with DuckDB's own (unseeded) random/md5
    stream and computes the SAME invariants over its own data — every
    gated invariant is seed-independent by design, so no setseed is
    needed; `deterministic` is pinned as the expected literal on the
    oracle side because DuckDB cannot scope two independently-seeded
    streams inside one query (a documented one-sided gate, like the
    engine-only halves of q96).

    Scale shape: no input scan at all — two embarrassingly parallel
    range generators, one single-row aggregate each; at cluster scale
    this is the shape of seeded synthetic-corpus jobs (rows/partition
    pinned by the layout, never a driver-side loop).
    """
    gen = (f"SELECT uniform(0, 9999, 42) AS u, randstr(16, 7) AS s "
           f"FROM range(0, {_Q102_N}, 1, {_Q102_PARTS})")
    # Two INDEPENDENT evaluations of the same seeded stream. The second
    # carries a semantically-neutral `WHERE u >= 0` so its plan differs
    # textually — otherwise Catalyst's ReuseSubquery would execute the
    # scalar subquery ONCE and the determinism gate would compare a
    # value with itself (vacuously true even on a broken generator).
    return spark.sql(f"""
        WITH g AS ({gen})
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               min(u) >= 0 AND max(u) <= 9999 AS u_in_range,
               CAST(sum(CASE WHEN s RLIKE '^[A-Za-z0-9]{{16}}$'
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_bad_key,
               (SELECT struct(sum(u), sum(u * u), count(*))
                FROM ({gen})) =
               (SELECT struct(sum(u), sum(u * u), count(*))
                FROM ({gen}) WHERE u >= 0) AS deterministic
        FROM g
    """)


Q102_SQL = f"""
WITH g AS (
  SELECT CAST(floor(random() * 10000) AS BIGINT) AS u,
         substring(md5(CAST(random() AS VARCHAR)), 1, 16) AS s
  FROM generate_series(1, {_Q102_N})
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(u) >= 0 AND MAX(u) <= 9999 AS u_in_range,
       CAST(SUM(CASE WHEN regexp_matches(s, '^[A-Za-z0-9]{{16}}$')
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_bad_key,
       true AS deterministic
FROM g
"""


# ---------------------------------------------------------------- q103

# Exact-arithmetic design: x = l_quantity (integers 1..50), y = k*x + 7
# with k = ascii(returnflag) % 5 + 1 (collinear per group, slope/
# intercept/r2 known exactly); engine FP noise (streaming covariance vs
# exact sums) is absorbed by ppm rounding, values sit ~1e6 from any
# rounding boundary. mode input least(x, 20) has a unique strict
# majority (x >= 20 collapses), so tie semantics never matter.
_Q103_SPARK = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT)                                AS n_rows,
       CAST(mode(least(x, 20)) AS BIGINT)                      AS mode_v,
       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY xd) AS DOUBLE)
                                                               AS p25,
       CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY xd) AS DOUBLE)
                                                               AS p50,
       CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY xd) AS DOUBLE)
                                                               AS p75,
       CAST(round(percentile_cont(0.50) WITHIN GROUP (ORDER BY xd)
                  * 100) AS BIGINT)                            AS pc50_c,
       CAST(round(regr_slope(yd, xd) * 1000000) AS BIGINT)  AS slope_ppm,
       CAST(round(regr_intercept(yd, xd) * 1000000) AS BIGINT)
                                                            AS icept_ppm,
       CAST(round(regr_r2(yd, xd) * 1000000) AS BIGINT)       AS r2_ppm,
       CAST(regr_count(yd, xd) AS BIGINT)                     AS regr_n
FROM (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS xd,
         CAST((ascii(l_returnflag) % 5 + 1) * CAST(l_quantity AS BIGINT)
              + 7 AS DOUBLE) AS yd
  FROM {LINEITEM}
)
GROUP BY l_returnflag
"""


def q103_stats_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Native statistics-aggregate battery: mode(), percentile_disc x3
    + percentile_cont WITHIN GROUP, and the regr_* least-squares family
    — all newly confirmed live this round. The ORACLE does not call any
    of these functions: mode is an arg-max over (value, count) with a
    deterministic tie-break the data never exercises, the quantiles
    are ordered-selection (first value at cumulative fraction >= p;
    midpoint average for the continuous median), and the regression is
    closed-form least squares from exact BIGINT power sums — so the
    gate checks Spark's implementations against independent math.

    Scale shape: one pass over lineitem, 3-group aggregate; the
    WITHIN GROUP quantiles sort per-group inside the aggregate (at
    cluster scale the group count is the parallelism bound — here 3
    groups, the battery's point is semantics, not the sort).
    """
    name = f"q103_li_{abs(hash(sf)) % 10 ** 8}"
    t(spark, sf, "lineitem").createOrReplaceTempView(name)
    return spark.sql(_Q103_SPARK.replace("{LINEITEM}", name))


Q103_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         (CAST(ascii(l_returnflag) AS BIGINT) % 5 + 1)
           * CAST(l_quantity AS BIGINT) + 7 AS y
  FROM lineitem
),
-- mode from first principles: arg-max of per-value counts
mode_t AS (
  SELECT l_returnflag, v AS mode_v FROM (
    SELECT l_returnflag, v, row_number() OVER (
             PARTITION BY l_returnflag ORDER BY cnt DESC, v ASC) AS rn
    FROM (SELECT l_returnflag, least(x, 20) AS v, COUNT(*) AS cnt
          FROM base GROUP BY 1, 2)
  ) WHERE rn = 1
),
-- quantiles from first principles: ordered selection over (rn, n)
ranked AS (
  SELECT l_returnflag, x,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY x) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM base
),
quant AS (
  SELECT l_returnflag,
         CAST(MIN(CASE WHEN rn >= CAST(ceil(0.25 * n) AS BIGINT)
                  THEN x END) AS DOUBLE) AS p25,
         CAST(MIN(CASE WHEN rn >= CAST(ceil(0.50 * n) AS BIGINT)
                  THEN x END) AS DOUBLE) AS p50,
         CAST(MIN(CASE WHEN rn >= CAST(ceil(0.75 * n) AS BIGINT)
                  THEN x END) AS DOUBLE) AS p75,
         -- continuous median: midpoint of the two middle order stats
         CAST(round((MIN(CASE WHEN rn = (n + 1) // 2 THEN x END)
                     + MIN(CASE WHEN rn = n // 2 + 1 THEN x END))
                    / 2.0 * 100) AS BIGINT) AS pc50_c
  FROM ranked GROUP BY l_returnflag
),
-- least squares from exact integer power sums
sums AS (
  SELECT l_returnflag,
         COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM base GROUP BY l_returnflag
),
regr AS (
  SELECT l_returnflag,
         CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000)
              AS BIGINT) AS slope_ppm,
         CAST(round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy
                      AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
                    * 1000000) AS BIGINT) AS icept_ppm,
         1000000 AS r2_ppm,  -- exactly collinear by construction
         CAST(n AS BIGINT) AS regr_n
  FROM sums
)
SELECT s.l_returnflag,
       CAST(s.n AS BIGINT) AS n_rows,
       CAST(m.mode_v AS BIGINT) AS mode_v,
       q.p25, q.p50, q.p75, q.pc50_c,
       r.slope_ppm, r.icept_ppm, CAST(r.r2_ppm AS BIGINT) AS r2_ppm,
       r.regr_n
FROM sums s
JOIN mode_t m USING (l_returnflag)
JOIN quant q USING (l_returnflag)
JOIN regr r USING (l_returnflag)
"""


# ---------------------------------------------------------------- q104

_Q104_HOURS = "array(" + ", ".join(
    f"TIME '{h:02d}:00:00'" for h in range(24)) + ")"
_Q104_QUARTERS = ("array(TIME '00:00:00', TIME '00:15:00', "
                  "TIME '00:30:00', TIME '00:45:00')")


def q104_time_battery(spark: SparkSession, sf: str) -> DataFrame:
    """TIME-type battery over everything that EXECUTES in this build.
    The live surface is EXPRESSION-LEVEL ONLY: literals, literal-array
    indexing (the one data-driven construction route), per-row ordering
    comparisons (<, BETWEEN, CASE laddering), equality/IN membership,
    ORDER BY, and CAST(TIME AS STRING). Still execution-disabled and
    therefore NOT in this query: CAST(STRING AS TIME), make_time,
    to_time, extract, time arithmetic — and, the big one, any SHUFFLE
    or AGGREGATE carrying a TIME column (group-by keys, min/max,
    COUNT(DISTINCT) on TIME all raise UNSUPPORTED_TIME_TYPE), so every
    TIME value here is consumed per-row and the shuffle carries
    strings. The oracle constructs the same times with DuckDB's
    make_time() — a route Spark lacks — so agreement pins the literal
    encoding and comparator semantics, not a shared code path.

    Scale shape: all TIME work is folded into the scan projection
    (whole-stage codegen, zero extra passes); one 4-group string agg.
    """
    from pyspark.sql import functions as F

    ev = t(spark, sf, "events").select(
        F.expr(f"element_at({_Q104_HOURS}, "
               f"CAST(hour(ts) AS INT) + 1)").alias("ht"),
        F.expr(f"element_at({_Q104_QUARTERS}, "
               f"CAST(minute(ts) div 15 AS INT) + 1)").alias("qt"))
    row = ev.select(
        # per-row TIME ordering ladder
        F.expr("CASE WHEN ht < TIME '06:00:00' THEN 'night' "
               "WHEN ht < TIME '12:00:00' THEN 'morning' "
               "WHEN ht < TIME '18:00:00' THEN 'afternoon' "
               "ELSE 'evening' END").alias("shift"),
        # per-row TIME equality / IN membership
        F.expr("ht IN (TIME '09:00:00', TIME '12:00:00', "
               "TIME '17:00:00')").alias("is_peak"),
        # per-row BETWEEN over TIME
        F.expr("qt BETWEEN TIME '00:15:00' AND TIME '00:30:00'")
        .alias("mid_quarter"),
        # TIME leaves the row as STRING so the shuffle never carries it
        F.expr("CAST(ht AS STRING)").alias("hs"),
        F.expr("CAST(qt AS STRING)").alias("qs"))
    return (row.groupBy("shift")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum(F.when(F.col("is_peak"), 1).otherwise(0))
                 .cast("long").alias("n_peak"),
                 F.sum(F.when(F.col("mid_quarter"), 1).otherwise(0))
                 .cast("long").alias("n_mid_quarter"),
                 F.countDistinct("hs").cast("long").alias("n_hours"),
                 F.countDistinct("qs").cast("long").alias("n_quarters"),
                 F.min("hs").alias("first_hour"),
                 F.max("hs").alias("last_hour")))


Q104_SQL = """
WITH ev AS (
  SELECT make_time(CAST(hour(ts) AS BIGINT), 0, 0.0) AS ht,
         make_time(0, CAST(minute(ts) // 15 * 15 AS BIGINT), 0.0) AS qt
  FROM events
),
row_t AS (
  SELECT CASE WHEN ht < TIME '06:00:00' THEN 'night'
              WHEN ht < TIME '12:00:00' THEN 'morning'
              WHEN ht < TIME '18:00:00' THEN 'afternoon'
              ELSE 'evening' END AS shift,
         ht IN (TIME '09:00:00', TIME '12:00:00', TIME '17:00:00')
           AS is_peak,
         qt BETWEEN TIME '00:15:00' AND TIME '00:30:00' AS mid_quarter,
         CAST(ht AS VARCHAR) AS hs,
         CAST(qt AS VARCHAR) AS qs
  FROM ev
)
SELECT shift,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN is_peak THEN 1 ELSE 0 END) AS BIGINT)
         AS n_peak,
       CAST(SUM(CASE WHEN mid_quarter THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mid_quarter,
       CAST(COUNT(DISTINCT hs) AS BIGINT) AS n_hours,
       CAST(COUNT(DISTINCT qs) AS BIGINT) AS n_quarters,
       MIN(hs) AS first_hour,
       MAX(hs) AS last_hour
FROM row_t
GROUP BY shift
"""


# ---------------------------------------------------------------- q105


def q105_validate_utf8_battery(spark: SparkSession,
                               sf: str) -> DataFrame:
    """The validate_utf8 family (is_valid_utf8 / try_validate_utf8 /
    validate_utf8 / make_valid_utf8), gated against an ARITHMETIC
    oracle (NOTES_r10 carry-over #5: DuckDB rejects invalid UTF-8 in
    VARCHAR entirely, so no cross-engine route can materialize the
    corrupted strings — instead the oracle derives every expected
    count from the injection arithmetic and `length(text)` alone).

    Deterministic byte-level corruption over the ASCII document corpus
    (ascii-ness is itself checked per row, so a non-ASCII future corpus
    degrades to 'clean' instead of breaking the arithmetic):
      - id%3=0: SUBSTITUTE the byte at pmod(id, len)+1 with 0xFF
        (invalid everywhere in UTF-8) — repaired char length is
        UNCHANGED (exactly one U+FFFD per invalid byte, probed live);
      - id%3=1 and id%5=0: APPEND 0xC2 (a lead byte with no
        continuation) — repaired char length grows by exactly 1;
      - everything else stays clean, and the THROWING validate_utf8
        runs live on this partition (a spurious throw fails the query).

    The corruption happens in BINARY space (encode -> byte splice ->
    CAST back to STRING, which reinterprets bytes without validation),
    the only way to hold an invalid UTF-8 string in Spark at all.

    Scale shape: row-local byte arithmetic, one aggregate — no shuffle
    beyond the final 1-row agg; this is the ingest-validation screen a
    100 TB landing zone runs per batch.
    """
    docs = t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("id"), "text")
    d = (docs
         .withColumn("ol", F.expr("octet_length(text)"))
         .withColumn("cl", F.expr("length(text)"))
         .withColumn("cls", F.expr(
             "CASE WHEN ol = cl AND ol >= 1 AND id % 3 = 0 THEN 'sub' "
             "WHEN ol = cl AND ol >= 1 AND id % 3 = 1 AND id % 5 = 0 "
             "THEN 'trunc' ELSE 'clean' END"))
         .withColumn("p", F.expr(
             "CASE WHEN ol >= 1 THEN CAST(pmod(id, ol) AS INT) + 1 "
             "ELSE 1 END"))
         .withColumn("s", F.expr("""
             CASE cls
               WHEN 'sub' THEN CAST(concat(
                   substring(encode(text, 'UTF-8'), 1, p - 1),
                   unhex('FF'),
                   substring(encode(text, 'UTF-8'), p + 1, ol))
                 AS STRING)
               WHEN 'trunc' THEN CAST(concat(encode(text, 'UTF-8'),
                                             unhex('C2')) AS STRING)
               ELSE text
             END""")))
    return d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("cls") == "sub", 1).otherwise(0))
        .cast("long").alias("n_sub"),
        F.sum(F.when(F.col("cls") == "trunc", 1).otherwise(0))
        .cast("long").alias("n_trunc"),
        F.sum(F.expr("CASE WHEN is_valid_utf8(s) THEN 1 ELSE 0 END"))
        .cast("long").alias("n_valid"),
        F.sum(F.expr("CASE WHEN try_validate_utf8(s) IS NULL "
                     "THEN 1 ELSE 0 END"))
        .cast("long").alias("n_try_null"),
        F.sum(F.expr("CASE WHEN make_valid_utf8(s) = s "
                     "THEN 1 ELSE 0 END"))
        .cast("long").alias("n_identity"),
        F.sum(F.expr("length(make_valid_utf8(s))"))
        .cast("long").alias("repaired_chars"),
        F.sum(F.expr("CASE WHEN cls = 'clean' "
                     "THEN length(validate_utf8(s)) ELSE 0 END"))
        .cast("long").alias("validated_clean_chars"),
        F.sum("cl").cast("long").alias("orig_chars"))


Q105_SQL = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS id,
         strlen(text) AS ol, length(text) AS cl
  FROM documents
),
f AS (
  SELECT *,
         CASE WHEN ol = cl AND ol >= 1 AND id % 3 = 0 THEN 'sub'
              WHEN ol = cl AND ol >= 1 AND id % 3 = 1 AND id % 5 = 0
              THEN 'trunc' ELSE 'clean' END AS cls
  FROM d
)
-- pure arithmetic: no invalid string is ever built on this side
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN cls = 'sub' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sub,
       CAST(SUM(CASE WHEN cls = 'trunc' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_trunc,
       CAST(SUM(CASE WHEN cls = 'clean' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid,
       CAST(SUM(CASE WHEN cls != 'clean' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_try_null,
       CAST(SUM(CASE WHEN cls = 'clean' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_identity,
       CAST(SUM(cl) + SUM(CASE WHEN cls = 'trunc' THEN 1 ELSE 0 END)
            AS BIGINT) AS repaired_chars,
       CAST(SUM(CASE WHEN cls = 'clean' THEN cl ELSE 0 END) AS BIGINT)
         AS validated_clean_chars,
       CAST(SUM(cl) AS BIGINT) AS orig_chars
FROM f
"""


QUERIES = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q02_revenue_by_nation": (q02_revenue_by_nation, Q02_SQL),
    "q03_top_orders": (q03_top_orders, Q03_SQL),
    "q04_priority_with_returns": (q04_priority_with_returns, Q04_SQL),
    "q05_customers_without_orders": (q05_customers_without_orders, Q05_SQL),
    "q06_discount_revenue": (q06_discount_revenue, Q06_SQL),
    "q07_latest_order_per_customer": (q07_latest_order_per_customer, Q07_SQL),
    "q08_part_ship_stats": (q08_part_ship_stats, Q08_SQL),
    "q09_net_quantity_sign": (q09_net_quantity_sign, Q09_SQL),
    "q10_conform_projection": (q10_conform_projection, Q10_SQL),
    "q11_string_surgery": (q11_string_surgery, Q11_SQL),
    "q12_event_daily_rollup": (q12_event_daily_rollup, Q12_SQL),
    "q13_json_props": (q13_json_props, Q13_SQL),
    "q14_running_spend": (q14_running_spend, Q14_SQL),
    "q15_rollup_totals": (q15_rollup_totals, Q15_SQL),
    "q16_union_nations": (q16_union_nations, Q16_SQL),
    "q17_pivot_linestatus": (q17_pivot_linestatus, Q17_SQL),
    "q18_nation_intersect": (q18_nation_intersect, Q18_SQL),
    "q19_left_join_default": (q19_left_join_default, Q19_SQL),
    "q20_supplier_nation_revenue": (q20_supplier_nation_revenue, Q20_SQL),
    "q21_predicate_combo": (q21_predicate_combo, Q21_SQL),
    "q22_sessionize": (q22_sessionize, Q22_SQL),
    "q23_asof_last_order": (q23_asof_last_order, Q23_SQL),
    "q24_cube_totals": (q24_cube_totals, Q24_SQL),
    "q25_unpivot_metrics": (q25_unpivot_metrics, Q25_SQL),
    "q26_window_battery": (q26_window_battery, Q26_SQL),
    "q27_grouping_sets": (q27_grouping_sets, Q27_SQL),
    "q28_ordered_listagg": (q28_ordered_listagg, Q28_SQL),
    "q29_quantile_spread": (q29_quantile_spread, Q29_SQL),
    "q30_time_proximity_join": (q30_time_proximity_join, Q30_SQL),
    "q31_multi_distinct": (q31_multi_distinct, Q31_SQL),
    "q32_scalar_subquery": (q32_scalar_subquery, Q32_SQL),
    "q33_scd2_history": (q33_scd2_history, Q33_SQL),
    "q34_grouping_sets": (q34_grouping_sets, Q34_SQL),
    "q35_exists_late_ship": (q35_exists_late_ship, Q35_SQL),
    "q36_exact_percentiles": (q36_exact_percentiles, Q36_SQL),
    "q37_asof_view_purchase": (q37_asof_view_purchase, Q37_SQL),
    "q38_funnel_conversion": (q38_funnel_conversion, Q38_SQL),
    "q39_cohort_retention": (q39_cohort_retention, Q39_SQL),
    "q40_trailing_spend_range": (q40_trailing_spend_range, Q40_SQL),
    "q41_salted_segment_revenue": (q41_salted_segment_revenue, Q41_SQL),
    "q42_sole_late_supplier": (q42_sole_late_supplier, Q42_SQL),
    "q43_zonemap_layout": (q43_zonemap_layout, Q43_SQL),
    "q44_bloom_prune_stats": (q44_bloom_prune_stats, Q44_SQL),
    "q45_sessionize": (q45_sessionize, Q45_SQL),
    "q46_incremental_agg": (q46_incremental_agg, Q46_SQL),
    "q47_global_outlier_customers": (q47_global_outlier_customers, Q47_SQL),
    "q48_volume_shipping": (q48_volume_shipping, Q48_SQL),
    "q49_market_share": (q49_market_share, Q49_SQL),
    "q50_important_parts": (q50_important_parts, Q50_SQL),
    "q51_zorder_cells": (q51_zorder_cells, Q51_SQL),
    "q52_big_volume_orders": (q52_big_volume_orders, Q52_SQL),
    "q53_promo_share": (q53_promo_share, Q53_SQL),
    "q54_min_cost_supplier": (q54_min_cost_supplier, Q54_SQL),
    "q55_dq_audit": (q55_dq_audit, Q55_SQL),
    "q56_variant_shred": (q56_variant_shred, Q56_SQL),
    "q57_gap_fill": (q57_gap_fill, Q57_SQL),
    "q58_approx_distinct": (q58_approx_distinct, Q58_SQL),
    "q59_approx_percentile": (q59_approx_percentile, Q59_SQL),
    "q60_quarantine_routing": (q60_quarantine_routing, Q60_SQL),
    "q61_jsonl_ingest": (q61_jsonl_ingest, Q61_SQL),
    "q62_interval_join": (q62_interval_join, Q62_SQL),
    "q63_set_operations": (q63_set_operations, Q63_SQL),
    "q64_mode_per_group": (q64_mode_per_group, Q64_SQL),
    "q65_ohlc_resample": (q65_ohlc_resample, Q65_SQL),
    "q66_last_touch_attribution": (q66_last_touch_attribution, Q66_SQL),
    "q67_value_histogram": (q67_value_histogram, Q67_SQL),
    "q68_rest_paginated_ingest": (q68_rest_paginated_ingest, Q68_SQL),
    "q69_dag_audit_trail": (q69_dag_audit_trail, Q69_SQL),
    "q70_incremental_lifecycle": (q70_incremental_lifecycle, Q70_SQL),
    "q71_relational_division": (q71_relational_division, Q71_SQL),
    "q72_skyline_customers": (q72_skyline_customers, Q72_SQL),
    "q73_bucketed_cojoin": (q73_bucketed_cojoin, Q73_SQL),
    "q74_partition_reload": (q74_partition_reload, Q74_SQL),
    "q75_orc_roundtrip": (q75_orc_roundtrip, Q75_SQL),
    "q76_schema_evolution": (q76_schema_evolution, Q76_SQL),
    "q77_lateral_topk": (q77_lateral_topk, Q77_SQL),
    "q78_observed_metrics": (q78_observed_metrics, Q78_SQL),
    "q79_null_safe_join": (q79_null_safe_join, Q79_SQL),
    "q80_correlated_agg_subquery": (q80_correlated_agg_subquery, Q80_SQL),
    "q81_xml_roundtrip": (q81_xml_roundtrip, Q81_SQL),
    "q82_sql_udf_installments": (q82_sql_udf_installments, Q82_SQL),
    "q83_collated_grouping": (q83_collated_grouping, Q83_SQL),
    "q84_not_in_null_semantics": (q84_not_in_null_semantics, Q84_SQL),
    "q85_calendar_tz_battery": (q85_calendar_tz_battery, Q85_SQL),
    "q86_dynamic_partition_pruning": (q86_dynamic_partition_pruning, Q86_SQL),
    "q87_recursive_cte": (q87_recursive_cte, Q87_SQL),
    "q88_pipe_syntax": (q88_pipe_syntax, Q88_SQL),
    "q89_session_variables": (q89_session_variables, Q89_SQL),
    "q90_sql_scripting": (q90_sql_scripting, Q90_SQL),
    "q91_python_udtf": (q91_python_udtf, Q91_SQL),
    "q92_sql_table_function": (q92_sql_table_function, Q92_SQL),
    "q93_interval_battery": (q93_interval_battery, Q93_SQL),
    "q94_variant_battery": (q94_variant_battery, Q94_SQL),
    "q95_variant_persistence": (q95_variant_persistence, Q95_SQL),
    "q96_xml_battery": (q96_xml_battery, Q96_SQL),
    "q97_collation_battery": (q97_collation_battery, Q97_SQL),
    "q98_listagg_battery": (q98_listagg_battery, Q98_SQL),
    "q99_variant_explode_lateral": (q99_variant_explode_lateral, Q99_SQL),
    "q100_accent_collation_battery": (q100_accent_collation_battery, Q100_SQL),
    "q101_try_parse_json_quarantine": (q101_try_parse_json_quarantine,
                                       Q101_SQL),
    "q102_seeded_synthetic_generator": (q102_seeded_synthetic_generator,
                                        Q102_SQL),
    "q103_stats_battery": (q103_stats_battery, Q103_SQL),
    "q104_time_battery": (q104_time_battery, Q104_SQL),
    "q105_validate_utf8_battery": (q105_validate_utf8_battery, Q105_SQL),
}

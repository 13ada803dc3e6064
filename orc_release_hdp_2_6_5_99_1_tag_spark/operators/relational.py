"""Headline relational queries (flagship + join/window showcases).

The reference implements no joins/windows (SURVEY §2 note); these
queries are the engine's query-layer surface on top of the reference's
storage capabilities, shaped after TPC-H Q1/Q3/Q5 which exercise scan →
filter → partial agg → shuffle agg → (broadcast) join → sort → limit.

Determinism contract with the DuckDB oracle: every floating aggregate
accumulates EXACTLY — integer cents/basis-points in longs or
DECIMAL(38,0) where the data's decimal places allow it (faster), wide
decimals otherwise — and converts to DOUBLE once at the end through a
cast-then-divide sequence MIRRORED in the oracle SQL, so the result is
independent of partitioning / summation order and bit-identical across
engines — a hard requirement both for the driver's value-hash compare
and for reproducible results on a 1000-executor cluster.

Scale notes: Q3/Q5 broadcast the dimension sides (region/nation/
customer at TPC-H proportions are MBs vs TBs for lineitem); the
lineitem-orders join shuffles on the join key with AQE handling skew.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table


def _sum_revenue():
    """Σ price·(1−discount) via integer arithmetic (q1's measured
    lesson — long-backed accumulation beats decimal accumulators
    ~2.4x): cents × basis-point factor stays an exact long per row,
    accumulates in DECIMAL(38,0) (bigint-range-safe at warehouse
    scale), and converts to double ONCE. Callers' oracles must mirror
    `_REVENUE_SQL` so both engines round identically."""
    price = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    disc = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("bigint")
    rev_num = price * (F.lit(10000) - disc)
    return F.sum(rev_num.cast("decimal(38,0)")).cast("double") / 1000000


_REVENUE_SQL = (
    "CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (10000 - CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT))) AS DOUBLE)"
    " / 1000000"
)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → 4-group agg. Flagship query.

    Exercises reference capabilities S1/S2 (scan), F3 (range predicate,
    pushed to the file scan), A1-A4 (count/min/max/sum with partial +
    final merge — Spark does map-side partial aggregation automatically,
    the same partial/final design as `ColumnStatisticsImpl.merge()`).

    Arithmetic (a1's measured lesson, 2.4x on this query: 1.38s →
    0.58s at sf0.1): amounts are pinned to integer cents /
    basis-points via +0.5-floor and accumulated as LONGs — 2-decimal
    TPC-H money is exact in cents, long-backed hash aggregation beats
    decimal accumulators, and integer sums are partition-order
    independent just like decimals. The discount/charge PRODUCTS stay
    integer per row (cents × basis-point factors) and accumulate in
    DECIMAL(38,0) — their sums pass the bigint range at warehouse
    scale (price_cents × 10⁴ × 10⁴ ≈ 2e15/row), while qty/price sums
    keep bigint with ~10³ headroom at 100 TB. The final double
    conversions are MIRRORED in the oracle (same cast-then-divide
    sequence), so both engines round identically at every SF — the
    single final division is the only float op on each column.
    """
    l = load_table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")
    price = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    disc = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("bigint")
    tax = F.floor(F.col("l_tax") * 10000 + F.lit(0.5)).cast("bigint")
    disc_num = price * (F.lit(10000) - disc)  # cents x 1e4
    charge_num = disc_num * (F.lit(10000) + tax)  # cents x 1e8
    cnt = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty).cast("double") / 100).alias("sum_qty"),
            (F.sum(price).cast("double") / 100).alias("sum_base_price"),
            (F.sum(disc_num.cast("decimal(38,0)")).cast("double") / 1000000).alias(
                "sum_disc_price"
            ),
            (
                F.sum(charge_num.cast("decimal(38,0)")).cast("double") / 10000000000
            ).alias("sum_charge"),
            (F.sum(qty).cast("double") / 100 / cnt).alias("avg_qty"),
            (F.sum(price).cast("double") / 100 / cnt).alias("avg_price"),
            (F.sum(disc).cast("double") / 10000 / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = """
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qty,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price,
         CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS disc,
         CAST(FLOOR(l_tax * 10000 + 0.5) AS BIGINT) AS tax
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
)
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(qty) AS DOUBLE) / 100 AS sum_qty,
  CAST(SUM(price) AS DOUBLE) / 100 AS sum_base_price,
  CAST(SUM(price * (10000 - disc)) AS DOUBLE) / 1000000 AS sum_disc_price,
  CAST(SUM(CAST(price * (10000 - disc) AS HUGEINT) * (10000 + tax)) AS DOUBLE) / 10000000000 AS sum_charge,
  CAST(SUM(qty) AS DOUBLE) / 100 / COUNT(*) AS avg_qty,
  CAST(SUM(price) AS DOUBLE) / 100 / COUNT(*) AS avg_price,
  CAST(SUM(disc) AS DOUBLE) / 10000 / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM t
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: broadcast customer dim, shuffle join orders ⋈
    lineitem, agg, deterministic top-10."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_sum_revenue().alias("revenue"))
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_ORACLE = """
SELECT
  l_orderkey,
  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
  o_orderpriority,
  {REV} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""
Q3_ORACLE = Q3_ORACLE.replace("{REV}", _REVENUE_SQL)


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join with broadcast dims (region, nation,
    supplier, customer), revenue per nation."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_sum_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_ORACLE = """
SELECT
  n_name,
  {REV} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""
Q5_ORACLE = Q5_ORACLE.replace("{REV}", _REVENUE_SQL)


def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window row_number top-3 events per event_type by value (also the
    building block for F12 row-seek emulation)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "user_id", "value", "rn")
        .orderBy("event_type", "rn")
    )


W1_ORACLE = """
SELECT event_type, event_id, user_id, value, rn
FROM (
  SELECT event_type, event_id, user_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) t
WHERE rn <= 3
ORDER BY event_type, rn
"""

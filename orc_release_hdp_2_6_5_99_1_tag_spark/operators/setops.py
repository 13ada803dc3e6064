"""Set operations, pivot, and higher-order array functions — engine
completeness beyond the reference surface (the reference's only
union-like semantic is the ACID base+delta combination, SURVEY §2.5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table


def set1_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer-key sets: customers
    with orders vs customers in the BUILDING segment."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    with_orders = o.select(F.col("o_custkey").alias("k")).distinct()
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    u = with_orders.union(building).distinct()
    i = with_orders.intersect(building)
    e = with_orders.exceptAll(building).distinct()
    return (
        u.agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("checksum"))
        .select(F.lit("union").alias("op"), "n", "checksum")
        .unionAll(
            i.agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("checksum")).select(
                F.lit("intersect").alias("op"), "n", "checksum"
            )
        )
        .unionAll(
            e.agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("checksum")).select(
                F.lit("except").alias("op"), "n", "checksum"
            )
        )
        .orderBy("op")
    )


SET1_ORACLE = """
WITH wo AS (SELECT DISTINCT o_custkey AS k FROM orders),
     b AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT * FROM (
  SELECT 'union' AS op, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS checksum FROM (SELECT k FROM wo UNION SELECT k FROM b) t
  UNION ALL
  SELECT 'intersect', COUNT(*), CAST(SUM(k) AS BIGINT) FROM (SELECT k FROM wo INTERSECT SELECT k FROM b) t
  UNION ALL
  SELECT 'except', COUNT(*), CAST(SUM(k) AS BIGINT) FROM (SELECT k FROM wo EXCEPT SELECT k FROM b) t
) s ORDER BY op
"""


def p2_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts per user bucket × event_type (fixed pivot
    column list keeps the schema static for the oracle)."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        e.withColumn("user_bucket", (F.col("user_id") % 4).cast("int"))
        .groupBy("user_bucket")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("user_bucket")
    )


P2_ORACLE = """
SELECT CAST(user_id % 4 AS INT) AS user_bucket,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY user_id % 4 ORDER BY user_bucket
"""


def h1_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array pipeline (transform / filter / aggregate —
    the JVM-side lambda surface that keeps per-row array work out of
    Python): per order, the sorted quantity list, its filtered
    (>= 25) length, and an exact folded sum."""
    l = load_table(spark, sf_dir, "lineitem")
    per_order = l.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.col("l_quantity").cast("int"))).alias("qtys")
    )
    return (
        per_order.select(
            "l_orderkey",
            F.size("qtys").alias("n_items"),
            F.size(F.filter("qtys", lambda q: q >= 25)).alias("n_bulk"),
            F.aggregate("qtys", F.lit(0), lambda acc, q: acc + q).alias("qty_sum"),
            F.concat_ws(",", F.transform("qtys", lambda q: (q * 2).cast("string"))).alias(
                "doubled_csv"
            ),
        )
        .filter(F.col("l_orderkey") < 100)
        .orderBy("l_orderkey")
    )


H1_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, list_sort(list(CAST(l_quantity AS INT))) AS qtys
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(qtys) AS n_items,
       len(list_filter(qtys, q -> q >= 25)) AS n_bulk,
       CAST(list_aggregate(qtys, 'sum') AS INT) AS qty_sum,
       array_to_string(list_transform(qtys, q -> CAST(q * 2 AS VARCHAR)), ',') AS doubled_csv
FROM per_order WHERE l_orderkey < 100 ORDER BY l_orderkey
"""


def j1_json_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column handling: path-extract a typed field
    from `events.props` with `get_json_object` (JVM-side JSON parsing
    — no Python, no full from_json schema needed for a single path),
    then aggregate per event type. The per-event-type k-sum is the
    fingerprint; a real pipeline extracts features from nested request
    payloads the same way."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


J1_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY event_type ORDER BY event_type
"""


def p4_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the inverse of p2's pivot — lineitem's three
    measure columns reshaped to (measure, value) rows via the native
    `DataFrame.unpivot` (Spark's UNPIVOT relational operator, a
    zero-shuffle narrow expand), then aggregated per measure with
    exact decimal sums.

    Scale: unpivot is a projection-time expand (rows × n_measures, no
    exchange); the per-measure aggregate is a 3-group map-side
    partial. The same reshape done with explode(array(structs)) would
    also work — unpivot is the declared form Catalyst plans directly.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("quantity"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("extendedprice"),
        F.col("l_discount").cast("decimal(18,2)").alias("discount"),
    )
    return (
        li.unpivot(
            ids=["l_orderkey"],
            values=["quantity", "extendedprice", "discount"],
            variableColumnName="measure",
            valueColumnName="val",
        )
        .groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").cast("double").alias("total"),
            F.min("val").cast("double").alias("vmin"),
            F.max("val").cast("double").alias("vmax"),
        )
        .orderBy("measure")
    )


P4_ORACLE = """
WITH m AS (
  SELECT l_orderkey,
         CAST(l_quantity AS DECIMAL(18,2)) AS quantity,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS extendedprice,
         CAST(l_discount AS DECIMAL(18,2)) AS discount
  FROM lineitem
), u AS (
  UNPIVOT m ON quantity, extendedprice, discount
  INTO NAME measure VALUE val
)
SELECT measure, COUNT(*) AS n,
       CAST(SUM(val) AS DOUBLE) AS total,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax
FROM u GROUP BY measure ORDER BY measure
"""


def j2_join_strategy_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hint surface: the SAME customer⋈orders aggregate
    computed under BROADCAST, MERGE, and SHUFFLE_HASH hints, unioned
    with a strategy label — identical per-strategy rows prove hint
    choice changes the physical plan (verified by the companion plan
    test) and never the answer. This is the knob a 100-TB operator
    actually turns: broadcast for dims that fit, sort-merge for
    spill-safe fact-fact joins, shuffle-hash when one side is small
    enough to hash but too big to broadcast.
    """
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")

    def agg(hinted_c):
        return (
            o.join(hinted_c, o["o_custkey"] == hinted_c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
            )
        )

    parts = [
        agg(c.hint("broadcast")).withColumn("strategy", F.lit("broadcast")),
        agg(c.hint("merge")).withColumn("strategy", F.lit("merge")),
        agg(c.hint("shuffle_hash")).withColumn("strategy", F.lit("shuffle_hash")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("strategy", "c_mktsegment", "n_orders", "revenue").orderBy(
        "strategy", "c_mktsegment"
    )


J2_ORACLE = """
WITH a AS (
  SELECT c.c_mktsegment, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment
)
SELECT s.strategy, a.c_mktsegment, a.n_orders, a.revenue
FROM a CROSS JOIN (VALUES ('broadcast'), ('merge'), ('shuffle_hash')) s(strategy)
ORDER BY s.strategy, a.c_mktsegment
"""


# ---------------------------------------------------------------------------
# j3: salted skew join — the hot-key playbook as a first-class operator
# ---------------------------------------------------------------------------

_J3_SALT = 8  # replication factor for the dim side / salt fan-out


def j3_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact⋈dim join: events (fact, user_id skew-prone —
    one user owning a large share of a 100-TB stream is the norm) join
    a user dimension derived from customer. The dim side replicates
    each row _J3_SALT times with a salt column; each fact row picks ONE
    deterministic salt (pmod(hash(event_id), S)), so a hot user's rows
    spread across S reducer partitions instead of one straggler task.
    The join key becomes (user_id, salt) — still a plain shuffled
    equi-join, and the result is IDENTICAL to the unsalted join (the
    oracle computes the plain join; the plan test pins the salt
    explode + equi-join shape).

    This is the manual fallback when AQE's skew-join splitting can't
    apply (e.g. the skewed side feeds an aggregation in the same
    stage); salting composes with any join strategy and costs one
    narrow dim replication (S× a DIM, not the fact).
    """
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    salted_dim = dim.select(
        "*", F.explode(F.array(*[F.lit(i) for i in range(_J3_SALT)])).alias("salt")
    )
    salted_e = e.withColumn(
        "salt", F.pmod(F.hash(F.col("event_id")), F.lit(_J3_SALT))
    )
    joined = salted_e.join(salted_dim, ["user_id", "salt"])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "value_total"
            ),
        )
        .orderBy("c_mktsegment")
    )


J3_ORACLE = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users,
       ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS value_total
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""


def j4_cbo_stats_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics surface (`ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS` + cost-based optimization): register
    customer/orders/nation as catalog tables, ANALYZE them, and run a
    3-table join under CBO. The returned rows carry the ANALYZE
    results themselves (exact row counts and numeric min/max per
    table) next to the join aggregate, so the oracle checks both the
    statistics pipeline and the query answer; the companion plan test
    asserts the stats actually reach the optimized plan (rowCount
    visible) and that CBO + AQE pick broadcast builds for the
    analyzed dims.

    Why this matters at 100 TB: catalog statistics are what let the
    planner order a 5-way join before reading a byte — the engine-
    native analog of the reference's footer statistics, one level up.
    Session confs are set/restored; catalog tables are per-sf-named
    and rebuilt only when the source fingerprint moves."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table, staged
    import os as _os

    tag = _os.path.basename(_os.path.normpath(sf_dir)).replace(".", "_")
    names = {}
    for t in ("customer", "orders", "nation"):
        tbl = f"j4_{t}_{tag}"
        names[t] = tbl
        # EXTERNAL (path-based) tables: the default catalog is
        # SESSION-scoped (in-memory, no metastore), so a managed
        # saveAsTable leaves a warehouse directory that collides with
        # the next session's identically-named table. The parquet data
        # lives under scratch (reused across sessions); the catalog
        # entry + its ANALYZE statistics are rebuilt per session.
        def build(path: str) -> None:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # its statistics are stale
            load_table(spark, sf_dir, t).write.parquet(path)

        data_dir = staged(sf_dir, f"j4/{t}", [t], build)
        if not spark.catalog.tableExists(tbl):
            spark.catalog.createTable(tbl, path=data_dir, source="parquet")
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    prev_jr = spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        joined = spark.sql(
            f"""
            SELECT n.n_name,
                   COUNT(*) AS n_orders,
                   SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM {names['orders']} o
            JOIN {names['customer']} c ON o.o_custkey = c.c_custkey
            JOIN {names['nation']} n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
            """
        )
        agg_rows = joined.collect()
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", prev_jr)
    # the ANALYZE results, read back from the catalog: exact row
    # counts (CBO's primary input) per table
    stat_rows = []
    for t, tbl in names.items():
        det = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
        }
        stats = det.get("Statistics", "")
        n = int(stats.split(",")[1].strip().split(" ")[0]) if "rows" in stats else -1
        stat_rows.append((t, n))
    stats_df = spark.createDataFrame(stat_rows, "table_name string, row_count long")
    agg_df = spark.createDataFrame(agg_rows, joined.schema)
    return (
        stats_df.join(
            agg_df.agg(
                F.count(F.lit(1)).alias("n_nations"),
                F.sum("n_orders").cast("long").alias("total_orders"),
                # decimal totals add exactly (order-independent); one
                # cast to double at the very end
                F.round(F.sum("revenue").cast("double"), 2).alias("total_revenue"),
            )
        )
        .select("table_name", "row_count", "n_nations", "total_orders", "total_revenue")
        .orderBy("table_name")
    )


J4_ORACLE = """
WITH agg AS (
  SELECT COUNT(DISTINCT n.n_name) AS n_nations,
         COUNT(*) AS total_orders,
         ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS total_revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
stats(table_name, row_count) AS (
  SELECT 'customer', COUNT(*) FROM customer
  UNION ALL SELECT 'nation', COUNT(*) FROM nation
  UNION ALL SELECT 'orders', COUNT(*) FROM orders
)
SELECT s.table_name, CAST(s.row_count AS BIGINT) AS row_count,
       CAST(a.n_nations AS BIGINT) AS n_nations,
       CAST(a.total_orders AS BIGINT) AS total_orders,
       a.total_revenue
FROM stats s, agg a
ORDER BY s.table_name
"""


_J5_SCHEMA = (
    "OBJECT<k: BIGINT, meta: OBJECT<type: STRING, units: BIGINT>, "
    "metrics: ARRAY<BIGINT>>"
)


def j5_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured handling (Spark 4 open variant encoding
    — the engine-native answer to shredding raw JSON at scale without
    a declared schema): construct a nested payload from events fields
    (`to_json(struct(...))` — value-identity roundtrip, the e1 codec
    pattern), `parse_json` it into a VARIANT column, then shred it
    back with typed-path `try_variant_get` (nested object, array
    index), the `variant_explode` lateral TVF over the metrics array,
    and `schema_of_variant` pinned to one constant string.

    Why VARIANT and not get_json_object (j1): parse_json decodes the
    text ONCE into the binary variant encoding; every subsequent path
    access is a binary traversal, not a re-parse — at 100 TB of raw
    JSON that is the difference between one decode and one decode per
    extracted field. The oracle checks value identity straight off the
    source columns, so the whole encode→shred loop must be lossless.

    Scale: two column-pruned scans (per-row aggregate + exploded
    metrics pass), each one narrow shuffle; the final event_type join
    is broadcast-tiny (|event types| rows)."""
    e = load_table(spark, sf_dir, "events")
    units = F.floor(F.col("value") * 100).cast("bigint")
    raw = F.to_json(
        F.struct(
            F.struct(
                F.col("event_type").alias("type"), units.alias("units")
            ).alias("meta"),
            F.array(
                units, (units * 2).cast("bigint"), (units * 3).cast("bigint")
            ).alias("metrics"),
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
    )
    e.select(F.parse_json(raw).alias("v")).createOrReplaceTempView(
        "j5_variant_events"
    )
    return spark.sql(
        """
        WITH base AS (
          SELECT try_variant_get(v, '$.meta.type', 'string') AS event_type,
                 try_variant_get(v, '$.k', 'bigint') AS k,
                 try_variant_get(v, '$.metrics[1]', 'bigint') AS m1,
                 schema_of_variant(v) AS vschema,
                 v
          FROM j5_variant_events
        ), agg AS (
          SELECT event_type, COUNT(*) AS n_events, SUM(k) AS k_sum,
                 SUM(m1) AS m1_sum, MAX(vschema) AS variant_schema
          FROM base GROUP BY event_type
        ), expl AS (
          SELECT b.event_type,
                 SUM(CAST(m.value AS BIGINT)) AS metrics_total,
                 COUNT(*) AS n_metric_elems
          FROM base b,
               LATERAL variant_explode(
                 try_variant_get(b.v, '$.metrics', 'variant')) m
          GROUP BY b.event_type
        )
        SELECT a.event_type, a.n_events, a.k_sum, a.m1_sum,
               e.metrics_total, e.n_metric_elems, a.variant_schema
        FROM agg a JOIN expl e USING (event_type)
        ORDER BY a.event_type
        """
    )


J5_ORACLE = f"""
WITH b AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k,
         CAST(FLOOR(value * 100) AS BIGINT) AS units
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       CAST(SUM(units * 2) AS BIGINT) AS m1_sum,
       CAST(SUM(units * 6) AS BIGINT) AS metrics_total,
       CAST(COUNT(*) * 3 AS BIGINT) AS n_metric_elems,
       '{_J5_SCHEMA}' AS variant_schema
FROM b GROUP BY event_type ORDER BY event_type
"""

"""Incremental materialized-view maintenance — the batch counterpart
of the streaming layer's stateful aggregation (SURVEY §2.11 adjacency,
reference commit-log semantics `OrcAcidUtils`-style base+delta).

A daily (day, event_type) aggregate over the first half of the event
log is materialized once to scratch ORC (the "view"); the query then
folds ONLY the late half (the delta) into the stored partials and
must equal a full recompute. This is the 100-TB pipeline shape: a
nightly delta touches GBs, not the whole corpus — merging partial
aggregates (count/sum are commutative monoids) costs one scan of the
delta plus one scan of the kilobyte-scale view, never a re-scan of
history. Mirrors the map-side-partial + final-merge split the engine
already proves file-level in a4_merged_file_stats.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import read_orc, write_orc
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table, staged

# Split point inside the testdata's January-2024 event range: rows
# before it form the materialized base, rows at/after it the delta.
_SPLIT = "2024-01-16 00:00:00"


def _daily_partials(df: DataFrame) -> DataFrame:
    return df.groupBy(
        F.col("ts").cast("date").alias("day"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )


def mv1_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize base partials once (fingerprint-keyed scratch ORC),
    then merge the delta's partials into them: union + one tiny
    re-aggregate. Result must equal the full-log daily aggregate."""
    split = F.lit(_SPLIT).cast("timestamp")
    e = load_table(spark, sf_dir, "events")
    dest = staged(
        sf_dir,
        "orc/mv1_daily_agg",
        ["events"],
        lambda p: write_orc(_daily_partials(e.filter(F.col("ts") < split)), p),
    )
    base = read_orc(spark, dest)
    delta = _daily_partials(e.filter(F.col("ts") >= split))
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            F.col("cnt").cast("bigint").alias("cnt"),
            "sum_value",
        )
        .orderBy("day", "event_type")
    )


MV1_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def _user_profile(df: DataFrame) -> DataFrame:
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )


def mv2_affected_key_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance for a NON-monoid view — the case mv1's
    partial-merge cannot handle: the per-user profile contains a
    COUNT(DISTINCT event_type), which cannot be folded from stored
    partials plus a delta (distinctness is not a commutative monoid
    without sketch state). The production pattern is affected-key
    refresh: the delta names the keys it touches; untouched view rows
    pass through from the materialized store via an anti-join, and
    ONLY the affected keys are recomputed from the (key-pruned)
    history plus the delta.

    Scale shape: untouched = one scan of the kilobyte-scale view +
    a broadcast anti-join against the (small) affected-key set;
    recompute = history scan SEMI-JOIN-pruned to affected keys — at
    100 TB with user-bucketed history this is partition-pruned IO
    proportional to the delta's key footprint, never a full-history
    rescan. The result must equal the full recompute (the oracle).
    """
    split = F.lit(_SPLIT).cast("timestamp")
    e = load_table(spark, sf_dir, "events")
    dest = staged(
        sf_dir,
        "orc/mv2_user_profile",
        ["events"],
        lambda p: write_orc(_user_profile(e.filter(F.col("ts") < split)), p),
    )
    view = read_orc(spark, dest)
    affected = (
        e.filter(F.col("ts") >= split).select("user_id").distinct()
    )
    untouched = view.join(F.broadcast(affected), "user_id", "left_anti")
    recomputed = _user_profile(e.join(F.broadcast(affected), "user_id", "left_semi"))
    return (
        untouched.unionByName(recomputed)
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_types").cast("bigint").alias("n_types"),
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        .orderBy("user_id")
    )


MV2_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""

"""Embedding-space clustering for corpus curation (SURVEY §2.13
extension): Lloyd's k-means over the `embeddings` table — the
SemDeDup / cluster-then-sample shape used to diversify or prune
training corpora (cluster the corpus, then cap or reweight per
cluster).

Iterative like d10's label propagation, but with float model state:
each round assigns every vector to its nearest centroid (JVM-side
`zip_with`/`aggregate` squared-L2, no Python in the hot path) and
recomputes centroids as per-cluster vector means. The centroids are
model state — k×dim doubles — so collecting them to the driver each
round and re-broadcasting as literal arrays is the scale-correct
pattern (Spark MLlib's own KMeans does exactly this); the corpus
itself is never collected. Per round: one scan + one codegen'd hash
aggregation with static per-dimension sum(v[i]) expressions (rows
stay one-per-vector — never a posexplode to corpus×dim rows; the
shuffle carries partitions × k × dim scalar partials) — at 100 TB
that is 3 scans total for 3 rounds, each embarrassingly parallel
with map-side partials.

Determinism/oracle: init = the first K vectors by vec_id, fixed 3
rounds, ties on distance break to the lower centroid id (struct
ordering on (dist, cid) in Spark; ORDER BY dist, cid in the DuckDB
oracle, which replays all 3 rounds in chained CTEs). The output is
the discrete assignment only — the label-centroid separation in the
test data (min relative argmin gap ~1e-5 at sf0.01) is orders of
magnitude above cross-engine float-summation noise (~1e-14), so the
assignments are exactly reproducible.

Reference analog: none (the reference is a storage engine); this is
a north-star training-data operator alongside d2/d6/v1-v3.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

_K = 8
_ITERS = 3


def _lit_vec_sql(vals) -> str:
    """SQL text for a literal double array. `repr` emits the shortest
    round-trip decimal for the float64 value and Spark's parser is
    correctly rounded, so `array(<repr>D, ...)` reproduces the exact
    bits of `F.array(*[F.lit(float(x)) ...])` — but as ONE parsed
    string instead of len(vals) py4j Column constructions. Driver-side
    plan construction for the literal-model operators (k1/d11/v4) was
    measured at 2.8s of py4j chatter per 4×8×16-codeword expression
    tree vs 0.016s for the parsed-string build (r13 optimization
    round); the analyzed plan is identical either way."""
    return "array(" + ",".join(repr(float(x)) + "D" for x in vals) + ")"


def _sq_dist_sql(v_sql: str, vals) -> str:
    """SQL text for the squared L2 between an array-typed expression
    and a literal centroid, summed in list order (argmin-equivalent to
    the oracle's list_distance — the sqrt of the same sum)."""
    return (
        f"aggregate(zip_with({v_sql}, {_lit_vec_sql(vals)}, "
        "(x, c) -> (x - c) * (x - c)), 0.0D, (acc, d) -> acc + d)"
    )


def _argmin_cid_sql(v_sql: str, cents: list[tuple[int, list[float]]]) -> str:
    """SQL text for the nearest-centroid id of `v_sql`: array_min over
    (dist, cid) structs — struct ordering ties to the lower cid. One
    F.expr parse per assignment expression (see `_lit_vec_sql`)."""
    arms = ",".join(
        f"struct({_sq_dist_sql(v_sql, c)} AS d, {int(cid)} AS cid)"
        for cid, c in cents
    )
    return f"array_min(array({arms})).cid"


def _assign(e: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment via array_min over (dist, cid)
    structs — struct ordering gives the tie-break to the lower cid."""
    return e.select(
        "vec_id", "v", F.expr(_argmin_cid_sql("v", cents)).alias("cluster")
    )


def _update_plan(assigned: DataFrame, dim: int) -> DataFrame:
    """New-centroid plan: ONE codegen'd hash aggregation with `dim`
    per-dimension `sum(v[i])` expressions plus a count — rows stay
    one-per-vector (never posexplode'd to corpus×dim rows), the
    partials are map-side-combined, and the shuffle carries exactly
    partitions × k × (dim+1) scalars. `dim` is driver-known model
    state (the init centroids' length), so the expression list is
    static and whole-stage-codegen'd."""
    sums = assigned.groupBy("cluster").agg(
        F.count("*").alias("n"),
        *[F.expr(f"sum(v[{i}]) AS s{i}") for i in range(dim)],
    )
    return sums.select(
        "cluster",
        F.expr("array(" + ",".join(f"s{i} / n" for i in range(dim)) + ")").alias("c"),
    )


def _update(assigned: DataFrame, dim: int) -> list[tuple[int, list[float]]]:
    """New centroids = per-cluster vector mean; k rows collected as
    model state (not data)."""
    rows = _update_plan(assigned, dim).collect()
    return sorted((r["cluster"], list(r["c"])) for r in rows)


def kmeans_assignments(e: DataFrame, k: int = _K, iters: int = _ITERS) -> DataFrame:
    """Run `iters` Lloyd rounds from the first-k-by-vec_id init and
    return the round-`iters` assignment (the one computed from the
    round-(iters-1) centroids, matching the oracle's CTE chain).

    The projected input is persisted across rounds — the standard
    iterative-algorithm pattern (Spark MLlib's KMeans caches its norm-
    augmented input the same way): every Lloyd round re-reads the
    corpus, so without the cache each round repays the scan + cast.
    MEMORY_AND_DISK spills gracefully when the corpus outgrows
    executor memory at scale."""
    from pyspark import StorageLevel

    e = e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    cents = [
        (int(r["vec_id"]), list(r["v"]))
        for r in e.filter(F.col("vec_id") < k).collect()
    ]
    dim = len(cents[0][1])
    assigned = _assign(e, cents)
    for _ in range(iters - 1):
        cents = _update(assigned, dim)
        assigned = _assign(e, cents)
    return assigned


def k1_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means corpus clustering: 8 centroids, 3 Lloyd rounds, exact
    per-vector assignment plus per-cluster sizes via a window (the
    quantity a cluster-capping curation step consumes)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assignments(e)
    # per-cluster size as a WINDOW count, not groupBy+self-join: the
    # join form re-evaluates the k x dim argmin assignment expression
    # on BOTH legs (no cross-leg CSE without a reusable exchange) and
    # adds a join + an extra shuffle; the window computes the identical
    # count after one cluster-keyed exchange of the single assignment
    # pass (r14, paired A/B in OPTIMIZATION_r14.md)
    return (
        assigned.select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.count("*")
            .over(Window.partitionBy("cluster"))
            .cast("long")
            .alias("cluster_size"),
        )
        .orderBy("vec_id")
    )


def _sql_assign(cent_cte: str, out: str) -> str:
    """One Lloyd assignment round: nearest centroid by (distance, cid)."""
    return f"""{out} AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.c), c.cid) AS rn
    FROM e CROSS JOIN {cent_cte} c
  ) WHERE rn = 1
)"""


def _sql_update(assign_cte: str, out: str) -> str:
    """One centroid update: per-dimension mean of the assigned vectors."""
    return f"""{out} AS (
  SELECT cluster AS cid, list(m ORDER BY i) AS c FROM (
    SELECT a.cluster, gs.i, AVG(e.v[gs.i]) AS m
    FROM {assign_cte} a JOIN e USING (vec_id)
    CROSS JOIN (SELECT UNNEST(range(1, 4097)) AS i) gs
    WHERE gs.i <= len(e.v)
    GROUP BY a.cluster, gs.i
  ) GROUP BY cluster
)"""


K1_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {_K}
), {_sql_assign('c0', 'a1')}, {_sql_update('a1', 'c1')},
{_sql_assign('c1', 'a2')}, {_sql_update('a2', 'c2')},
{_sql_assign('c2', 'a3')}
SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
       CAST(COUNT(*) OVER (PARTITION BY a.cluster) AS BIGINT) AS cluster_size
FROM a3 a ORDER BY a.vec_id
"""


def assign_bulk(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment for LARGE k — centroids as a
    broadcast TABLE (cid, c) instead of literal expressions. The
    literal-argmin path (`_assign`) codegen's k distance expressions
    per row, which is the fastest shape for model-sized k (≤ a few
    hundred) but makes Catalyst analysis itself O(k·dim) — at the
    k ≈ corpus/1000 SemDeDup deployments need (tens of thousands of
    clusters), the broadcast-join + min_by aggregation below is the
    scale shape: one BroadcastNestedLoopJoin row-expansion of k per
    vector (the irreducible n·k distance evaluations), then a
    partial-aggregatable min_by keyed on vec_id. Tie-break matches
    `_assign` exactly: (distance, cid) struct ordering.

    Both paths produce IDENTICAL assignments (pinned by
    tests/test_clustering.py); pick by k.
    """
    dist = F.aggregate(
        F.zip_with("v", "c", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    pairs = e.crossJoin(F.broadcast(centroids))
    return (
        pairs.select(
            "vec_id",
            "v",
            F.struct(dist.alias("d"), F.col("cid").cast("int").alias("cid")).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("best"), F.first("v").alias("v"))
        .select("vec_id", "v", F.col("best.cid").alias("cluster"))
    )

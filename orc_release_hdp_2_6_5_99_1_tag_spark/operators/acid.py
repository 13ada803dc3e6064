"""ACID / transactional layer (SURVEY §2.10; reference
`site/_docs/acid.md:26-109`, `SchemaEvolution.java:460-514`,
`AcidStats.java:24-44`).

The reference stores a base directory plus `delta_txn_txn/bucket_N`
files of event-wrapped rows
`struct<operation:int, originalTransaction:bigint, bucket:int,
rowId:bigint, currentTransaction:bigint, row:struct<...>>`, ordered by
(originalTransaction, bucket, rowId) so readers can merge-sort; the
merged view keeps the event with the highest currentTransaction per
key and drops deletes.

Here that is a pure DataFrame composition: `unionByName` over
base+delta ORC dirs → window latest-txn-wins → filter deletes. No
Catalyst extension needed.

Scale notes: the merge shuffles once on the ACID key; at 100 TB the
window is per-key tiny (a handful of versions per row). Buckets map to
Spark partitioning; compaction (T3) is the standard
read-merged-view→rewrite-base job, which also resets the window cost
to zero for subsequent readers.

Demo dataset is built deterministically from `orders`:
  txn 1 (base): every order INSERTed
  txn 2 (delta): orders with o_orderkey % 10 == 0 UPDATEd
                 (status → 'U', totalprice += 100.00)
  txn 3 (delta): orders with o_orderkey % 100 == 0 DELETEd
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import read_orc, write_orc
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table, staged

OP_INSERT, OP_UPDATE, OP_DELETE = 0, 1, 2
_N_BUCKETS = 4

# Physical (on-disk) column names are underscore-prefixed: ORC-java
# special-cases the exact reference field names (operation,
# originalTransaction, bucket, rowId, currentTransaction, row) as a
# Hive ACID file (`SchemaEvolution.checkAcidSchema` +
# `acidEventFieldNames`, reference SchemaEvolution.java:76-77,460-514)
# and remaps column ids, which breaks column-pruned vectorized reads.
# The logical event schema keeps the reference names.
_LOGICAL = ["operation", "originalTransaction", "bucket", "rowId", "currentTransaction", "row"]
_PHYSICAL = ["_" + c for c in _LOGICAL]


def _to_physical(df: DataFrame) -> DataFrame:
    return df.toDF(*_PHYSICAL)


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    return read_orc(spark, path).toDF(*_LOGICAL)


def _acid_event(df: DataFrame, operation: int, txn: int) -> DataFrame:
    """Wrap order rows in the ACID event schema (reference
    `acid.md:70-109`; field names per `SchemaEvolution.acidEventFieldNames`)."""
    return df.select(
        F.lit(operation).alias("operation"),
        F.lit(1).cast("bigint").alias("originalTransaction"),
        (F.col("o_orderkey") % _N_BUCKETS).cast("int").alias("bucket"),
        F.col("o_orderkey").alias("rowId"),
        F.lit(txn).cast("bigint").alias("currentTransaction"),
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("totalprice"),
        ).alias("row"),
    )


def acid_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the base + delta directory layout once per sf."""
    return staged(
        sf_dir, "acid/orders_acid", ["orders"], lambda root: _write_acid_table(spark, sf_dir, root)
    )


def _write_acid_table(spark: SparkSession, sf_dir: str, root: str) -> None:
    o = load_table(spark, sf_dir, "orders")
    base = _acid_event(o, OP_INSERT, txn=1)
    updated = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") + F.lit(100.00).cast("decimal(18,2)"))
        .cast("double")
        .alias("o_totalprice"),
    )
    delta2 = _acid_event(updated, OP_UPDATE, txn=2)
    deleted = o.filter(F.col("o_orderkey") % 100 == 0)
    delta3 = _acid_event(deleted, OP_DELETE, txn=3)
    # ACID key order within files (acid.md:69: events sorted by
    # (originalTransaction, bucket, rowId) enables streaming merge)
    for df, sub in [
        (base, "base_0000001"),
        (delta2, "delta_0000002_0000002"),
        (delta3, "delta_0000003_0000003"),
    ]:
        write_orc(
            _to_physical(
                df.repartition(_N_BUCKETS, "bucket").sortWithinPartitions(
                    "originalTransaction", "bucket", "rowId"
                )
            ),
            os.path.join(root, sub),
        )


def _union_events(parts: list) -> DataFrame:
    events = parts[0]
    for p in parts[1:]:
        events = events.unionByName(p)
    return events


def _latest_visible_rows(
    events: DataFrame, strategy: str = "agg"
) -> DataFrame:
    """The one ACID merge rule, shared by every view (t2/t5/t6): latest
    currentTransaction wins per (originalTransaction, bucket, rowId);
    deletes drop out; project back to the logical row. Three
    value-identical physical strategies (equivalence pytest-asserted;
    sf0.1/sf1 numbers in SCALE_STRESS.md). Default is "agg" — the
    measured-fastest at both SFs (round 11; t2's bench line drops
    ~1.15s -> ~0.7s with the switch) — with the window strategies
    selectable; ties on currentTransaction are impossible by the
    ACID contract (a txn touches a key once; select_acid_dirs prunes
    the subsumed-remnant double-apply case before any read), so all
    three pick the same winner deterministically:

    "window" (the original path): row_number over the full key space —
    one exchange hash-keyed by the 3-part key, then a sort. The
    round-10 sf1 stress flagged this as the linear-state member of the
    ACID tier (5.1x at 10x data): the whole event set is re-clustered
    by a per-row unique key and fully sorted.

    "bucketed": merges WITHIN BUCKETS, the reference's own physical
    merge unit (`acid.md:69-109` orders events by (originalTransaction,
    bucket, rowId) per bucket_N file for exactly this merge): the one
    exchange is keyed by (bucket, _sub) — two small ints, `_sub =
    pmod(rowId, _SUB_PER_BUCKET)` restoring task parallelism beyond
    the fixed bucket count — and the window's partition spec is
    PREFIXED with the same two columns, so HashPartitioning(bucket,
    _sub) satisfies the window's clustering and EnsureRequirements
    inserts NO second exchange (plan-asserted in
    tests/test_acid_snapshot.py). Grouping is unchanged: _sub is a
    pure function of rowId. At 100 TB this is the layout-aligned
    merge — and a pre-bucketed table read (the t3 compaction output,
    written clustered by bucket) satisfies the same distribution with
    no exchange at all.

    "agg": latest-wins as `max_by(struct(...), currentTransaction)` —
    an aggregation instead of a window: PARTIAL (map-side) aggregation
    collapses multi-version keys before the shuffle, and the plan is
    SortAggregate whose map-side sorts run over the ACID files' own
    (originalTransaction, bucket, rowId) write order (acid.md's sort
    contract — nearly-sorted input), with no window materialization or
    rank filter afterwards. Measured fastest at both sf0.1 (0.67s vs
    1.2-1.5s) and sf1 (4.8s vs 6.0-7.2s); at 100 TB the map-side
    combine is the lever — delta-heavy tables (many versions per key)
    shuffle only the per-key winner of each input split."""
    if strategy == "window":
        w = Window.partitionBy("originalTransaction", "bucket", "rowId").orderBy(
            F.desc("currentTransaction")
        )
        keyed = events
    elif strategy == "bucketed":
        keyed = events.withColumn(
            "_sub", F.pmod(F.col("rowId"), F.lit(_SUB_PER_BUCKET))
        ).repartition("bucket", "_sub")
        w = Window.partitionBy(
            "bucket", "_sub", "originalTransaction", "rowId"
        ).orderBy(F.desc("currentTransaction"))
    elif strategy == "agg":
        return (
            events.groupBy("originalTransaction", "bucket", "rowId")
            .agg(
                F.max_by(
                    F.struct("operation", "currentTransaction", "row"),
                    "currentTransaction",
                ).alias("w")
            )
            .filter(F.col("w.operation") != OP_DELETE)
            .select(
                "w.row.id",
                "w.row.status",
                "w.row.totalprice",
                "bucket",
                F.col("w.currentTransaction").alias("currentTransaction"),
            )
        )
    else:
        raise ValueError(f"unknown merge strategy {strategy!r}")
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("operation") != OP_DELETE))
        .select("row.id", "row.status", "row.totalprice", "bucket", "currentTransaction")
    )


# parallelism restorer for the bucketed merge: sub-splits per bucket.
# The partition COUNT comes from spark.sql.shuffle.partitions (the
# cluster-tunable knob); _SUB_PER_BUCKET only has to make the distinct
# (bucket, _sub) key count comfortably exceed it so hashing balances —
# the first measurement used 8 (32 keys into 32 partitions: balls-in-
# bins put 2-3 key groups on some partitions, a measured 1.3x skew at
# sf1). 64 x 4 buckets = 256 keys into 32 partitions is balanced.
_SUB_PER_BUCKET = 64


def merged_view(
    spark: SparkSession, root: str, strategy: str = "agg"
) -> DataFrame:
    """T2 merge-on-read over a base+delta directory layout (see
    `_latest_visible_rows` for the window/bucketed/agg strategies)."""
    parts = [
        _read_events(spark, os.path.join(root, d))
        for d in sorted(os.listdir(root))
        if d.startswith(("base_", "delta_"))
    ]
    return _latest_visible_rows(_union_events(parts), strategy=strategy)


def t2_acid_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = acid_table_dir(spark, sf_dir)
    return merged_view(spark, root).orderBy("id")


T2_ORACLE = """
SELECT o_orderkey AS id,
       CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS status,
       CASE WHEN o_orderkey % 10 = 0
            THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST(100.00 AS DECIMAL(18,2)) AS DOUBLE)
            ELSE o_totalprice END AS totalprice,
       CAST(o_orderkey % 4 AS INT) AS bucket,
       CAST(CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS currentTransaction
FROM orders
WHERE o_orderkey % 100 != 0
ORDER BY o_orderkey
"""


def t9_bucketed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2's merge-on-read through the BUCKETED strategy (round-10
    verdict Next #4 — the sf1 stress's 100-TB answer made code): same
    base+delta dirs, same merge rule, but the merge is clustered by
    the reference's physical bucket unit instead of the full 3-part
    key space. Value-equal to t2 by construction (equivalence also
    pytest-asserted at three SFs) — the driver grades it against the
    identical oracle."""
    root = acid_table_dir(spark, sf_dir)
    return merged_view(spark, root, strategy="bucketed").orderBy("id")


T9_ORACLE = T2_ORACLE


def t3_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 major compaction: rewrite the merged view as a new base and
    serve reads from it alone (same result as merge-on-read, zero merge
    cost afterwards — reference `acid.md:45-62`)."""
    root = acid_table_dir(spark, sf_dir)

    def build(compacted: str) -> None:
        base = merged_view(spark, root).select(
            F.lit(OP_INSERT).alias("operation"),
            F.lit(1).cast("bigint").alias("originalTransaction"),
            "bucket",
            F.col("id").alias("rowId"),
            F.col("currentTransaction"),
            F.struct(
                F.col("id"), F.col("status"), F.col("totalprice")
            ).alias("row"),
        )
        write_orc(
            _to_physical(
                base.repartition(_N_BUCKETS, "bucket").sortWithinPartitions(
                    "originalTransaction", "bucket", "rowId"
                )
            ),
            compacted,
        )

    out = _read_events(spark, staged(sf_dir, "acid/orders_compacted", ["orders"], build))
    return out.select("row.id", "row.status", "row.totalprice", "bucket", "currentTransaction").orderBy(
        "id"
    )


T3_ORACLE = T2_ORACLE


def t5_minor_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minor compaction (reference `acid.md:45-52`): merge the delta
    directories into ONE combined delta (latest event per key within
    the deltas), leaving the base untouched; the merged view over
    base + combined delta must equal the original three-dir view."""
    root = acid_table_dir(spark, sf_dir)

    def build(minor_root: str) -> None:
        deltas = [
            _read_events(spark, os.path.join(root, d))
            for d in sorted(os.listdir(root))
            if d.startswith("delta_")
        ]
        all_deltas = deltas[0]
        for p in deltas[1:]:
            all_deltas = all_deltas.unionByName(p)
        w = Window.partitionBy("originalTransaction", "bucket", "rowId").orderBy(
            F.desc("currentTransaction")
        )
        combined = (
            all_deltas.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        write_orc(
            _to_physical(
                combined.repartition(_N_BUCKETS, "bucket").sortWithinPartitions(
                    "originalTransaction", "bucket", "rowId"
                )
            ),
            os.path.join(minor_root, "delta_0000002_0000003"),
        )
        # base is shared (not rewritten) — link it into the minor layout
        base = "base_0000001"
        os.symlink(os.path.join(root, base), os.path.join(minor_root, base))

    minor_root = staged(sf_dir, "acid/orders_minor", ["orders"], build)
    return merged_view(spark, minor_root).orderBy("id")


T5_ORACLE = T2_ORACLE


def t4_acid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: insert/update/delete counts over the event files — the
    reference's `hive.acid.stats` side metadata
    (`OrcAcidUtils.parseAcidStats:74-86`)."""
    root = acid_table_dir(spark, sf_dir)
    parts = [
        _read_events(spark, os.path.join(root, d))
        for d in sorted(os.listdir(root))
        if d.startswith(("base_", "delta_"))
    ]
    events = _union_events(parts)
    return events.agg(
        F.count(F.when(F.col("operation") == OP_INSERT, 1)).alias("inserts"),
        F.count(F.when(F.col("operation") == OP_UPDATE, 1)).alias("updates"),
        F.count(F.when(F.col("operation") == OP_DELETE, 1)).alias("deletes"),
    )


T4_ORACLE = """
SELECT COUNT(*) AS inserts,
       COUNT(CASE WHEN o_orderkey % 10 = 0 THEN 1 END) AS updates,
       COUNT(CASE WHEN o_orderkey % 100 = 0 THEN 1 END) AS deletes
FROM orders
"""


def original_files_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the PRE-ACID upgrade layout (reference
    `acid.md:30-43`): plain non-event bucket files (the `00000_0`
    table as it existed before ACID was enabled) plus event-schema
    deltas that reference those rows by synthesized
    (originalTransaction=0, bucket, rowId).

    rowId is the row's position within its bucket file; the layout is
    written with repartitionByRange(bucket) so each output file holds
    exactly one bucket value, sorted by the natural key — the position
    IS derivable from the file alone, matching the Hive original-files
    contract. txn 4 updates o_orderkey%7==0 (status→'V',
    totalprice+50); txn 5 deletes o_orderkey%50==0."""
    return staged(
        sf_dir, "acid/orders_original", ["orders"], lambda root: _write_original(spark, sf_dir, root)
    )


def _write_original(spark: SparkSession, sf_dir: str, root: str) -> None:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    bucket = (F.col("o_orderkey") % _N_BUCKETS).cast("int")
    plain = o.withColumn("bucket", bucket)
    write_orc(
        plain.repartitionByRange(_N_BUCKETS, "bucket").sortWithinPartitions(
            "bucket", "o_orderkey"
        ),
        os.path.join(root, "original"),
    )
    w_row = Window.partitionBy("bucket").orderBy("o_orderkey")
    keyed = plain.withColumn("rowId", F.row_number().over(w_row).cast("bigint") - 1)

    def event(df: DataFrame, operation: int, txn: int) -> DataFrame:
        return df.select(
            F.lit(operation).alias("operation"),
            F.lit(0).cast("bigint").alias("originalTransaction"),
            "bucket",
            "rowId",
            F.lit(txn).cast("bigint").alias("currentTransaction"),
            F.struct(
                F.col("o_orderkey").alias("id"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("totalprice"),
            ).alias("row"),
        )

    updated = keyed.filter(F.col("o_orderkey") % 7 == 0).withColumns(
        {
            "o_orderstatus": F.lit("V"),
            "o_totalprice": (
                F.col("o_totalprice").cast("decimal(18,2)")
                + F.lit(50.00).cast("decimal(18,2)")
            ).cast("double"),
        }
    )
    deleted = keyed.filter(F.col("o_orderkey") % 50 == 0)
    for df, sub in [
        (event(updated, OP_UPDATE, 4), "delta_0000004_0000004"),
        (event(deleted, OP_DELETE, 5), "delta_0000005_0000005"),
    ]:
        write_orc(
            _to_physical(
                df.repartitionByRange(_N_BUCKETS, "bucket").sortWithinPartitions(
                    "originalTransaction", "bucket", "rowId"
                )
            ),
            os.path.join(root, sub),
        )


def t6_original_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2-adjacent: merge-on-read over ORIGINAL (pre-ACID, plain
    schema) bucket files plus ACID deltas — the upgrade path
    `acid.md:30-43` requires: plain rows are read as synthetic INSERT
    events with originalTransaction=0 and per-bucket positional
    rowIds, then the standard latest-txn-wins merge applies.

    Scale note: the per-bucket row_number mirrors the reference's
    per-bucket-file row numbering — the bucket file is the unit of
    parallelism in the ACID layout itself; a production reader derives
    the position while streaming the bucket file (constant memory),
    which is what the sorted-file layout here stands in for."""
    root = original_files_dir(spark, sf_dir)
    plain = read_orc(spark, os.path.join(root, "original"))
    w_row = Window.partitionBy("bucket").orderBy("o_orderkey")
    synth = plain.select(
        F.lit(OP_INSERT).alias("operation"),
        F.lit(0).cast("bigint").alias("originalTransaction"),
        "bucket",
        (F.row_number().over(w_row).cast("bigint") - 1).alias("rowId"),
        F.lit(0).cast("bigint").alias("currentTransaction"),
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("totalprice"),
        ).alias("row"),
    )
    events = _union_events(
        [synth]
        + [
            _read_events(spark, os.path.join(root, d))
            for d in sorted(os.listdir(root))
            if d.startswith("delta_")
        ]
    )
    return _latest_visible_rows(events).orderBy("id")


T6_ORACLE = """
SELECT o_orderkey AS id,
       CASE WHEN o_orderkey % 7 = 0 THEN 'V' ELSE o_orderstatus END AS status,
       CASE WHEN o_orderkey % 7 = 0
            THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST(50.00 AS DECIMAL(18,2)) AS DOUBLE)
            ELSE o_totalprice END AS totalprice,
       CAST(o_orderkey % 4 AS INT) AS bucket,
       CAST(CASE WHEN o_orderkey % 7 = 0 THEN 4 ELSE 0 END AS BIGINT) AS currentTransaction
FROM orders
WHERE o_orderkey % 50 != 0
ORDER BY o_orderkey
"""


def _dir_txn_range(d: str) -> tuple[int, int] | None:
    """Parse base_N / delta_LO_HI directory names to their txn range
    (reference AcidUtils directory contract, acid.md:38-56)."""
    parts = d.split("_")
    if d.startswith("base_"):
        return (0, int(parts[1]))
    if d.startswith("delta_"):
        return (int(parts[1]), int(parts[2]))
    return None


def select_acid_dirs(root: str) -> list[str]:
    """Directory selection under concurrent-writer/compaction layouts —
    the AcidUtils.getAcidState walk (reference acid.md:45-62): pick the
    HIGHEST base, then process deltas in (lo asc, hi desc) order
    keeping only those that extend coverage. A delta whose range is
    contained in an already-kept (compacted) delta, or lies entirely
    below the base, is a pre-compaction remnant the cleaner has not
    removed yet: reading it would double-apply its events, so it is
    skipped at the METADATA level, before any file IO."""
    bases = sorted(
        (rng[1], d) for d in os.listdir(root) if (rng := _dir_txn_range(d)) and d.startswith("base_")
    )
    chosen = [bases[-1][1]] if bases else []
    covered_hi = bases[-1][0] if bases else -1
    deltas = sorted(
        (rng[0], -rng[1], d)
        for d in os.listdir(root)
        if (rng := _dir_txn_range(d)) and d.startswith("delta_")
    )
    for _lo, neg_hi, d in deltas:
        if -neg_hi > covered_hi:
            chosen.append(d)
            covered_hi = -neg_hi
    return chosen


def snapshot_view(spark: SparkSession, root: str, valid_txns: list[int]) -> DataFrame:
    """Snapshot (time-travel) read: merge-on-read against an explicit
    committed-transaction list — the reference's ValidTxnList contract
    (acid.md:94-101: "Only the first record with a currentTransaction
    that is in the list of transactions to read is returned"). A list,
    not a high-water mark, so an open/aborted transaction BELOW the
    watermark is excluded too.

    Scale: pruning happens at THREE levels — subsumed pre-compaction
    remnant dirs are dropped by `select_acid_dirs` (metadata-only),
    delta directories whose txn range intersects nothing in the list
    are never read (also metadata-only), then the per-event
    `currentTransaction IN valid` filter is pushed into the ORC scan
    of the surviving dirs before the merge window."""
    valid = set(valid_txns)
    parts = []
    for d in select_acid_dirs(root):
        lo, hi = _dir_txn_range(d)
        if not any(lo <= t <= hi for t in valid) and not d.startswith("base_"):
            continue
        parts.append(_read_events(spark, os.path.join(root, d)))
    events = _union_events(parts).filter(F.col("currentTransaction").isin(list(valid)))
    return _latest_visible_rows(events)


def t7_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot at valid={1,2}: the txn-3 deletes are not yet visible
    (its delta dir is pruned without being read), while the txn-2
    updates are."""
    root = acid_table_dir(spark, sf_dir)
    return snapshot_view(spark, root, [1, 2]).orderBy("id")


T7_ORACLE = """
SELECT o_orderkey AS id,
       CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS status,
       CASE WHEN o_orderkey % 10 = 0
            THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST(100.00 AS DECIMAL(18,2)) AS DOUBLE)
            ELSE o_totalprice END AS totalprice,
       CAST(o_orderkey % 4 AS INT) AS bucket,
       CAST(CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS currentTransaction
FROM orders
ORDER BY o_orderkey
"""


def t8_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data between two transaction snapshots: diff the table
    as-of valid={1,2} against as-of valid={1,2,3} (txn 3 is the
    delete transaction) — the audit/time-travel query every ACID
    store answers ("what changed between yesterday's snapshot and
    today's?"). Classifies per-key into removed / changed / unchanged
    and rolls the counts up per bucket.

    Scale shape: both snapshot reads share the metadata-pruned
    directory walk (`select_acid_dirs`) and their txn IN-filters push
    to the ORC scans; the diff itself is ONE full-outer join on the
    row key — the same (origTxn, bucket, rowId)-keyed exchange the
    merge view already shuffles on, so snapshot-diff costs one join
    more than a single snapshot read, never a history replay.
    """
    root = acid_table_dir(spark, sf_dir)
    old = snapshot_view(spark, root, [1, 2]).select(
        F.col("id"), F.col("status").alias("old_status"),
        F.col("totalprice").alias("old_price"), F.col("bucket").alias("old_bucket"),
    )
    new = snapshot_view(spark, root, [1, 2, 3]).select(
        F.col("id").alias("new_id"), F.col("status").alias("new_status"),
        F.col("totalprice").alias("new_price"), F.col("bucket").alias("new_bucket"),
    )
    joined = old.join(new, old["id"] == new["new_id"], "full_outer")
    klass = (
        F.when(F.col("new_id").isNull(), "removed")
        .when(F.col("id").isNull(), "added")
        .when(
            (F.col("old_status") != F.col("new_status"))
            | (F.col("old_price") != F.col("new_price")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce("old_bucket", "new_bucket").alias("bucket"),
            klass.alias("change"),
            F.coalesce("id", "new_id").alias("key"),
        )
        .groupBy("bucket", "change")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("key").alias("key_checksum"))
        .orderBy("bucket", "change")
    )


# snapshot(1,2) holds every order (txn-2 updates applied); snapshot
# (1,2,3) additionally applies the %100 deletes — so the diff is
# "removed" for %100 keys, "unchanged" otherwise; nothing is added or
# changed between these two snapshots.
T8_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS key, CAST(o_orderkey % 4 AS INT) AS bucket,
         CASE WHEN o_orderkey % 100 = 0 THEN 'removed' ELSE 'unchanged' END AS change
  FROM orders
)
SELECT bucket, change, COUNT(*) AS n_rows,
       CAST(SUM(key) AS BIGINT) AS key_checksum
FROM base GROUP BY bucket, change ORDER BY bucket, change
"""

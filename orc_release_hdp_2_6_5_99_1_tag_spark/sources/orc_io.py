"""ORC source/sink (reference S1-S3, S5, S9, S13) on Spark's native ORC
datasource.

The reference is itself the ORC read/write engine
(`OrcFile.java:249,679`, `WriterImpl.java`, `RecordReaderImpl.java`);
Spark embeds the same Java library, so the engine's job here is to (a)
pass through the reference's performance-defining writer options
(stripe size, compression, row-index stride, bloom filters, dictionary
threshold — `OrcConf.java:29-117`) and (b) express scans declaratively
so Catalyst pushes projection (P1) and predicates (F1-F7) into the
vectorized ORC reader.

Scale notes: ORC copies are written `repartition`-ed so each output
file approximates one 64 MiB stripe-sized unit of parallelism; at
100 TB the same code produces ~1.6M files unless callers raise
`target_file_rows`, which is why `orc_copy` takes it as a parameter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.session import (
    ORC_BLOOM_FPP,
    ORC_COMPRESS,
    ORC_DICT_KEY_THRESHOLD,
    ORC_ROW_INDEX_STRIDE,
    ORC_STRIPE_SIZE,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table, staged


def write_orc(
    df: DataFrame,
    path: str,
    *,
    compression: str = ORC_COMPRESS,
    bloom_filter_columns: str | None = None,
    bloom_filter_fpp: float = ORC_BLOOM_FPP,
    stripe_size: int = ORC_STRIPE_SIZE,
    row_index_stride: int = ORC_ROW_INDEX_STRIDE,
    dictionary_key_threshold: float = ORC_DICT_KEY_THRESHOLD,
    block_size: int | None = None,
    block_padding_tolerance: float | None = None,
    compress_size: int | None = None,
    encoding_strategy: str | None = None,
    write_format: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ORC with the reference's default tuning constants and the
    full writer-option surface (reference `OrcConf.java:29-145`):
    stripe/block sizing + padding tolerance (M2), compression chunk
    size and codec (E7), encoding strategy SPEED|COMPRESSION (E2),
    file format version 0.12|0.11 (E1), dictionary threshold (E4),
    bloom filters (I2)."""
    writer = (
        df.write.mode(mode)
        .option("compression", compression)
        .option("orc.stripe.size", str(stripe_size))
        .option("orc.row.index.stride", str(row_index_stride))
        .option("orc.dictionary.key.threshold", str(dictionary_key_threshold))
    )
    for key, val in [
        ("orc.block.size", block_size),
        ("orc.block.padding.tolerance", block_padding_tolerance),
        ("orc.compress.size", compress_size),
        ("orc.encoding.strategy", encoding_strategy),
        ("orc.write.format", write_format),
    ]:
        if val is not None:
            writer = writer.option(key, str(val))
    if bloom_filter_columns:
        writer = writer.option("orc.bloom.filter.columns", bloom_filter_columns)
        writer = writer.option("orc.bloom.filter.fpp", str(bloom_filter_fpp))
    writer.orc(path)


def recover_orc_dir(spark: SparkSession, src: str, dest: str) -> dict:
    """S13 recovery job (reference `FileDump.recoverFiles`,
    `tools/FileDump.java:210-285`): salvage a directory containing
    torn/corrupt ORC files by copying every file whose tail parses
    (`footer_tail`: postscript magic, then a Footer with a root type)
    into a clean directory (originals untouched — the reference's
    side-backup behavior). Returns counts."""
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import orc_files
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )

    os.makedirs(dest, exist_ok=True)
    good, bad = 0, 0
    for f in orc_files(src):
        try:
            parse_tail_of_file(f)  # raises on torn files
            shutil.copy2(f, os.path.join(dest, os.path.basename(f)))
            good += 1
        except Exception:
            bad += 1
    return {"recovered": good, "skipped_corrupt": bad}


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S1/S2: schema-on-read ORC scan; pass `schema` for evolution (C1)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 10,
    n_files: int | None = None,
    **write_opts,
) -> None:
    """Z-order (Morton-curve) data layout: cluster rows so ORC row-group
    min/max stats stay selective on EVERY listed column at once, not
    just the leading sort key. A lexicographic sort gives perfect
    skipping on col 1 and none on col 2; interleaving the bits of the
    rank-scaled columns gives ~equal skipping on each dimension — the
    multi-column generalization of the reference's split-elimination
    layout (`examples/orc_split_elim.orc`, row-group stats
    `proto/orc_proto.proto:84-91`).

    Two passes, both distributed: (1) one aggregate computes per-column
    min/max (a single driver row — the only collect); (2) a narrow map
    scales each column to [0, 2^bits), interleaves bits into the Morton
    code, then `repartitionByRange(z)` + `sortWithinPartitions(z)` so
    output files AND row groups cover disjoint z-ranges. This is the
    same job shape engines run for OPTIMIZE ZORDER: one extra shuffle
    at write time buys stats-based pruning on d columns at read time.

    `bits` is auto-capped at 63//len(cols) so the Morton code fits a
    signed long; an empty input writes as-is, and an all-NULL or
    non-numeric clustering column raises a clear ValueError.
    """
    from pyspark.sql import functions as F

    bits = min(bits, 63 // max(1, len(cols)))  # Morton code must fit a signed long
    stats = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.min(c).try_cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).try_cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    if stats["n_rows"] == 0:
        write_orc(df, path, **write_opts)  # nothing to cluster
        return
    bad = [c for c in cols if stats[f"mn_{c}"] is None or stats[f"mx_{c}"] is None]
    if bad:
        raise ValueError(
            f"zorder_write: column(s) {bad} have no numeric min/max "
            "(all-NULL or non-numeric) — cannot be used as clustering keys"
        )
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                ((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * F.lit(top + 1)).cast(
                    "bigint"
                ),
            )
        )
    z = F.lit(0)
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z + (F.shiftright(s, b).bitwiseAND(F.lit(1)).cast("bigint") * F.lit(
                1 << (b * len(scaled) + i)
            ))
    zdf = df.withColumn("__z", z)
    args = ([n_files] if n_files else []) + ["__z"]
    zdf = zdf.repartitionByRange(*args).sortWithinPartitions("__z").drop("__z")
    write_orc(zdf, path, **write_opts)


def orc_copy(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    *,
    variant: str = "default",
    bloom_filter_columns: str | None = None,
    compression: str = ORC_COMPRESS,
    sort_by: list[str] | None = None,
    target_file_rows: int | None = None,
) -> str:
    """Materialize (once per sf and write spec) an ORC copy of a
    testdata table and return its path; the copy's marker covers the
    write options, so changing one rebuilds it. `sort_by` writes row groups with disjoint
    min/max ranges, the layout the reference's split-elimination fixture
    uses (`examples/orc_split_elim.orc`) so PPD skipping is measurable.
    `target_file_rows` sizes output files explicitly (≈ one 64 MiB
    stripe per file at typical row widths) — the knob that keeps file
    counts sane at 100 TB. Sizing costs one extra count() pass over the
    source; at scale, derive the count from table stats / parquet
    footers instead and pass the partition count directly.
    """
    import math

    def build(dest: str) -> None:
        df = load_table(spark, sf_dir, table)
        n_files = (
            max(1, math.ceil(df.count() / target_file_rows)) if target_file_rows else None
        )
        if sort_by:
            # Range-partition on the sort key, then sort within each task:
            # every output file covers a disjoint key range, so row-group
            # min/max stats stay disjoint (the reference's split-elimination
            # layout, examples/orc_split_elim.orc) while the write runs in
            # parallel instead of through one task.
            args = ([n_files] if n_files else []) + list(sort_by)
            df = df.repartitionByRange(*args).sortWithinPartitions(*sort_by)
        elif n_files:
            df = df.repartition(n_files)
        write_orc(
            df,
            dest,
            compression=compression,
            bloom_filter_columns=bloom_filter_columns,
        )

    return staged(
        sf_dir,
        f"orc/{table}_{variant}",
        [table],
        build,
        spec=f";bloom={bloom_filter_columns};compression={compression}"
        f";sort_by={sort_by};target_file_rows={target_file_rows}",
    )

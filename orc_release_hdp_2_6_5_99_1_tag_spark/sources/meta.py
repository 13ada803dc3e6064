"""Footer/metadata inspection — the `orc-tools meta` / `orc-metadata`
capability (reference S11/S12: `tools/FileDump.java`,
`tools/src/FileMetadata.cc:151`) and the metadata-only statistics
shortcut (SURVEY §4 custom (c)).

The reference answers count/min/max/sum from footer statistics without
scanning rows (`ColumnStatisticsImpl.java`, `Footer.statistics`). Spark
4's ORC scan doesn't expose aggregate pushdown to Python, so executors
parse file tails with `footer_tail`: the PostScript and Footer only, no
data pages, one task per file through the per-file job
(`file_job.map_files`). The values are the ones `pyarrow.orc.ORCFile`
reports, which tests use as the oracle.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import map_files, orc_files

_META_SCHEMA = pa.schema(
    [
        ("file", pa.string()),
        ("nrows", pa.int64()),
        ("nstripes", pa.int64()),
        ("compression", pa.string()),
        ("compression_size", pa.int64()),
        ("row_index_stride", pa.int64()),
        ("writer", pa.string()),
        ("content_length", pa.int64()),
        ("ncolumns", pa.int32()),
    ]
)


def _file_meta(path: str):
    """Footer facts (schema, rows, stripes, compression) of one file."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import parse_tail_of_file

    t = parse_tail_of_file(path)
    codec = t["compression"]
    yield [
        {
            "file": os.path.basename(path),
            "nrows": t["n_rows"],
            "nstripes": t["n_stripes"],
            "compression": "UNCOMPRESSED" if codec == "NONE" else codec,
            "compression_size": t["compression_block_size"],
            "row_index_stride": t["row_index_stride"],
            "writer": t["writer"],
            "content_length": t["content_length"],
            "ncolumns": len(t["columns"]),
        }
    ]


def orc_meta(spark: SparkSession, path: str) -> DataFrame:
    """`orc-tools meta` as a DataFrame: one row per file, read from its
    tail on an executor."""
    return map_files(spark, orc_files(path), _file_meta, _META_SCHEMA)


def orc_file_stats_from_footer(spark: SparkSession, path: str) -> DataFrame:
    """Metadata-only total row count per ORC directory — the footer
    statistics shortcut (no data pages touched). At a million files
    this is a parallel tail-read job, not a driver loop."""
    import pyspark.sql.functions as F

    return orc_meta(spark, path).agg(
        F.count("*").alias("nfiles"),
        F.sum("nrows").alias("total_rows"),
        F.sum("nstripes").alias("total_stripes"),
    )

"""Read reference-written ORC `uniontype` files into the engine's
tagged-struct convention, and read files from unknown future writer
versions permissively.

Spark's ORC reader supports neither (SURVEY §1.2): it rejects
uniontype columns outright and refuses postscripts stamped with a
future writer version, while the reference decodes unions via a
byte-tag stream + sparse child columns (`TreeReaderFactory.java:
1865-1949`) and reads unknown future versions permissively
(`ReaderImpl.java` postscript handling). The engine's native decoder
does both, so the fallback is the planned lake scan
(`stream_decode.read_planned_lake`) over every top-level column:

- one task per file through the per-file job (`file_job.map_files`);
  each task parses its file's tail and decodes its stripes, so the
  read scales like any file-parallel scan and stays Arrow end to end;
- the lake's files read against one elected reader schema, with the
  same per-file evolution as every other planned scan;
- a `uniontype<T0,T1,...>` column is a
  `struct<_tag: tinyint, f0: T0, f1: T1, ...>` (the
  `functions/union_type.py` convention) with each variant NULL unless
  the tag selects it. The PRESENT stream is decoded, so a NULL union
  stays NULL, as in the reference's `UnionTreeReader`.

A file without a row index (`rowIndexStride` 0) raises the planned
scan's "no row index" error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import orc_files
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import parse_tail_of_file
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.stream_decode import (
    _reader_schema,
    read_planned_lake,
)


def read_orc_tagged(spark: SparkSession, path: str) -> DataFrame:
    """Distributed native ORC read of every top-level column, unions
    in the tagged-struct convention. The driver elects the reader
    schema from the file tails; row data is decoded inside executor
    tasks, one file per task. A file whose root type is not a struct
    raises: the Spark data model has no row type for it."""
    files = orc_files(path)
    reader_path, reader_meta = _reader_schema(files, None, False, spark)
    root = reader_meta["types"][0]["kind"]
    if root != "struct":
        raise ValueError(f"{reader_path}: the root type is {root}, not a struct")
    columns = [c["name"] for c in reader_meta["columns"]]
    if not columns:
        return spark.range(sum(parse_tail_of_file(f)["n_rows"] for f in files)).select()
    return read_planned_lake(spark, files, None, columns, reader_path=reader_path)


def read_orc_permissive(spark: SparkSession, path: str) -> DataFrame:
    """Tolerant ORC read: Spark's native reader first, the engine's
    decoder on rejection (uniontype columns, future writer versions).
    Missing or empty paths re-raise Spark's own error rather than
    masking it behind the listing's."""
    try:
        df = spark.read.orc(path)
        df.schema  # force analysis so unsupported types surface here
        return df
    except Exception as native_error:
        try:
            return read_orc_tagged(spark, path)
        except FileNotFoundError:
            # nothing to decode either — surface the real cause
            raise native_error from None

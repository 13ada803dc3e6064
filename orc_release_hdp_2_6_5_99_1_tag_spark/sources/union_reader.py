"""Read reference-written ORC `uniontype` files into the engine's
tagged-struct convention, and read files from unknown future writer
versions permissively.

Spark's ORC reader supports neither (SURVEY §1.2): it rejects
uniontype columns outright and refuses postscripts stamped with a
future writer version, while the reference decodes unions via a
byte-tag stream + sparse child columns (`TreeReaderFactory.java:
1865-1949`) and reads unknown future versions permissively
(`ReaderImpl.java` postscript handling). pyarrow's ORC reader does
both, so the shim distributes pyarrow decoding over executors:

- one task per file through the per-file job (`file_job.map_files`):
  footer and stripe bytes are read inside the task, never on the
  driver, so the shim scales like any file-parallel scan, and the data
  stays Arrow end to end;
- `sparse_union<T0,T1,...>` columns become
  `struct<_tag: tinyint, f0: T0, f1: T1, ...>` (the
  `functions/union_type.py` convention) with each variant masked to
  NULL unless the tag selects it;
- `timestamp[ns]` narrows to Spark's microsecond timestamps.

Known information loss, asserted in tests: Arrow union arrays carry no
validity bitmap, so a union written as NULL collapses to (tag 0,
NULL-valued variant) — indistinguishable from an explicitly NULL
variant 0.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as pa_orc
from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import map_files, orc_files


def _tagged_type(t: pa.DataType) -> pa.DataType:
    """Map an arrow type to its Spark-compatible shim type."""
    if pa.types.is_union(t):
        fields = [pa.field("_tag", pa.int8())]
        fields += [
            pa.field(f"f{i}", _tagged_type(t.field(i).type)) for i in range(t.num_fields)
        ]
        return pa.struct(fields)
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return pa.timestamp("us", tz=t.tz)
    if pa.types.is_struct(t):
        return pa.struct(
            [pa.field(f.name, _tagged_type(f.type)) for f in t]
        )
    if pa.types.is_list(t):
        return pa.list_(_tagged_type(t.value_type))
    if pa.types.is_map(t):
        return pa.map_(_tagged_type(t.key_type), _tagged_type(t.item_type))
    return t


def _convert_array(a: pa.ChunkedArray | pa.Array) -> pa.Array:
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    t = a.type
    if pa.types.is_union(t):
        codes = a.type_codes.cast(pa.int8())
        arrays = [codes]
        names = ["_tag"]
        for i in range(t.num_fields):
            child = _convert_array(a.field(i))
            masked = pc.if_else(
                pc.equal(codes, pa.scalar(i, pa.int8())),
                child,
                pa.nulls(len(a), child.type),
            )
            arrays.append(masked)
            names.append(f"f{i}")
        return pa.StructArray.from_arrays(arrays, names)
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return a.cast(pa.timestamp("us", tz=t.tz), safe=False)
    if pa.types.is_struct(t):
        return pa.StructArray.from_arrays(
            [_convert_array(a.field(i)) for i in range(t.num_fields)],
            [t.field(i).name for i in range(t.num_fields)],
            mask=a.is_null(),  # from_arrays drops the validity bitmap
        )
    if pa.types.is_list(t):
        if _contains_union(t):
            return pa.ListArray.from_arrays(
                _null_marked_offsets(a), _convert_array(a.flatten())
            )
        target = _tagged_type(t)
        return a.cast(target, safe=False) if target != t else a
    if pa.types.is_map(t):
        if _contains_union(t):
            return pa.MapArray.from_arrays(
                _null_marked_offsets(a),
                _convert_array(a.keys),
                _convert_array(a.items),
            )
        target = _tagged_type(t)
        return a.cast(target, safe=False) if target != t else a
    return a


def _contains_union(t: pa.DataType) -> bool:
    if pa.types.is_union(t):
        return True
    if pa.types.is_struct(t) or pa.types.is_list(t) or pa.types.is_map(t):
        return any(_contains_union(t.field(i).type) for i in range(t.num_fields))
    return False


def _null_marked_offsets(a: pa.Array) -> pa.Array:
    """List/map offsets with NULLs at null slots — the from_arrays
    convention for carrying the validity bitmap."""
    offs = a.offsets.to_pylist()
    nulls = a.is_null().to_pylist()
    vals = [None if nulls[i] else offs[i] for i in range(len(a))]
    return pa.array(vals + [offs[len(a)]], type=pa.int32())


def read_orc_tagged(spark: SparkSession, path: str) -> DataFrame:
    """Distributed pyarrow ORC read with union→tagged-struct decoding.

    The driver opens one footer to derive the shim schema; row data is
    decoded inside executor tasks, one file per task.
    """
    files = orc_files(path)
    probe = pa_orc.ORCFile(files[0]).schema
    arrow_schema = pa.schema([pa.field(f.name, _tagged_type(f.type)) for f in probe])
    if not arrow_schema.names:
        return spark.range(0).select()

    def decode(p: str):
        tbl = pa_orc.ORCFile(p).read()
        yield dict(zip(arrow_schema.names, map(_convert_array, tbl.columns)))

    return map_files(spark, files, decode, arrow_schema)


def read_orc_permissive(spark: SparkSession, path: str) -> DataFrame:
    """Tolerant ORC read: Spark's native reader first, pyarrow shim on
    rejection (uniontype columns, future writer versions). Missing or
    empty paths re-raise the native reader's error rather than masking
    it behind an unrelated shim failure."""
    try:
        df = spark.read.orc(path)
        df.schema  # force analysis so unsupported types surface here
        return df
    except Exception as native_error:
        try:
            return read_orc_tagged(spark, path)
        except FileNotFoundError:
            # nothing for the shim either — surface the real cause
            raise native_error from None

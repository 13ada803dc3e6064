"""One Spark task per ORC file: the ORC tier's per-file job.

Every distributed read in the tier is this one shape. That covers
footer and row-group statistics (`footer_stats`), `orc_meta` (`meta`),
the planned lake scan (`stream_decode.read_planned_lake`, which
`union_reader` reads through) and the schema-election sweep
(`evolution_native`):

- `orc_files(path)` is the one listing rule;
- `ship_package(spark)` puts the engine package on the executors as
  one zip, so task code imports it by its real name;
- `map_files(spark, files, per_file, schema)` runs `per_file(path)`
  in one task per file (up to `MAX_TASKS`) and turns what it yields
  into Arrow record batches of the declared Arrow schema. The
  exchange is Arrow end to end (`mapInArrow`). No pandas frame sits in
  between, so a nullable int64 stays exact; pandas would store it as
  float64 and round values past 2^53. A map also stays a map.

The Python DataSources (`pyds`) plan the same one-partition-per-file
shape through Spark's DataSource API, with the same listing, shipping
and type mapping.

The ORC type tree (`Footer.types`, proto/orc_proto.proto) maps to
Arrow in one place, `arrow_type`. Spark schemas are derived from the
Arrow schema. A tz-naive `timestamp[us]` becomes Spark TIMESTAMP,
whose values read back unchanged under the engine's UTC session.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from typing import Callable, Iterable

import pyarrow as pa

MAX_TASKS = 256  # tasks per job; a larger file list shares tasks

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def orc_files(path: str) -> list[str]:
    """The ORC files a path names. A file path stands for itself. A
    directory lists the non-hidden `*.orc` regular files directly under
    it, sorted: Spark's and the engine's part files, torn members
    included, but not a growing file's `.flush_length` side file. An
    empty or missing path raises."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path) if os.path.isdir(path) else []
    files = sorted(
        os.path.join(path, n)
        for n in names
        if n.endswith(".orc")
        and not n.startswith(("_", "."))
        and os.path.isfile(os.path.join(path, n))
    )
    if not files:
        raise FileNotFoundError(f"no .orc files under {path}")
    return files


def package_zip(pkg_dir: str) -> str:
    """A zip of the package at `pkg_dir`, built once per source state
    and named `<pkg>-<dirhash>-<statehash>.zip`. The first hash is of
    the package directory, so two checkouts never share a zip. The
    second covers each `.py` file's relative path, size and
    st_mtime_ns, so an edit within the same second gets a new zip.
    Building one removes the same checkout's older zips and leaves
    other checkouts' alone."""
    pkg_dir = os.path.abspath(pkg_dir)
    sources = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    state = hashlib.sha256()
    for full in sources:
        st = os.stat(full)
        rel = os.path.relpath(full, pkg_dir)
        state.update(f"\0{rel}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    tmp_dir = tempfile.gettempdir()
    prefix = (
        f"{os.path.basename(pkg_dir)}-"
        f"{hashlib.sha256(pkg_dir.encode()).hexdigest()[:12]}-"
    )
    zip_path = os.path.join(tmp_dir, f"{prefix}{state.hexdigest()[:20]}.zip")
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full in sources:
                zf.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        os.replace(tmp, zip_path)
        for name in os.listdir(tmp_dir):
            old = os.path.join(tmp_dir, name)
            if name.startswith(prefix) and name.endswith(".zip") and old != zip_path:
                try:
                    os.remove(old)
                except OSError:
                    pass  # a concurrent build removed it first
    return zip_path


def ship_package(spark) -> None:
    """Put the engine package on the executors' import path. Vanilla
    sessions' Python workers do not have the repo on sys.path. A
    re-add of the same zip is a no-op."""
    spark.sparkContext.addPyFile(package_zip(_PKG_DIR))


def map_files(
    spark,
    files: list[str],
    per_file: Callable[[str], Iterable],
    schema: pa.Schema,
):
    """Run `per_file(path)` on executors, one task per file up to
    MAX_TASKS. `per_file` yields batches: a `pa.RecordBatch` of
    `schema` passes through as is; a column mapping `{name: values}` or
    a list of row dicts becomes one. The DataFrame's Spark schema is
    derived from `schema`."""
    from pyspark.sql.pandas.types import from_arrow_schema

    if not files:
        raise ValueError("map_files: empty file list")
    ship_package(spark)

    def run(batches):
        for rb in batches:
            for path in rb.column(0).to_pylist():
                for out in per_file(path):
                    if isinstance(out, pa.RecordBatch):
                        yield out
                    elif isinstance(out, list):
                        yield pa.RecordBatch.from_pylist(out, schema=schema)
                    else:
                        yield pa.RecordBatch.from_pydict(out, schema=schema)

    return (
        spark.createDataFrame([(f,) for f in files], "path string")
        .repartition(min(len(files), MAX_TASKS))
        .mapInArrow(run, from_arrow_schema(schema))
    )


_ARROW_PRIMITIVES = {
    "boolean": pa.bool_(), "tinyint": pa.int8(), "smallint": pa.int16(),
    "int": pa.int32(), "bigint": pa.int64(), "float": pa.float32(),
    "double": pa.float64(), "date": pa.date32(), "string": pa.string(),
    "char": pa.string(), "varchar": pa.string(), "binary": pa.binary(),
    "timestamp": pa.timestamp("us"),
}  # fmt: skip


def arrow_type(types: list[dict], cid: int, included=None) -> pa.DataType:
    """ORC type-tree node -> Arrow type, recursively: the full
    include-tree mapping (nested projection, reference
    `c++/include/orc/Reader.hh:260-281`; `mapred/OrcInputFormat.
    parseInclude:61-88` resolves the same subtree closure). A struct
    keeps only its `included` fields. A union is the engine's tagged
    struct {_tag, f0, f1, ...} (`stream_decode._Union`). The native
    decoder builds arrays of exactly these types. Unknown future kinds
    raise."""
    t = types[cid]
    k = t["kind"]
    if k == "decimal":
        # v0.11 files carry no precision/scale attributes;
        # (38, 6) is the reference reader's default
        p, s = t.get("precision"), t.get("scale")
        return pa.decimal128(38 if p is None else p, 6 if s is None else s)
    if k == "list":
        return pa.list_(arrow_type(types, t["subtypes"][0], included))
    if k == "map":
        mk, mv = t["subtypes"]
        return pa.map_(arrow_type(types, mk, included), arrow_type(types, mv, included))
    if k == "struct":
        return pa.struct(
            [
                (fn, arrow_type(types, sub, included))
                for fn, sub in zip(t["field_names"], t["subtypes"])
                if included is None or sub in included
            ]
        )
    if k == "union":
        return pa.struct(
            [("_tag", pa.int8())]
            + [
                (f"f{i}", arrow_type(types, sub, included))
                for i, sub in enumerate(t["subtypes"])
            ]
        )
    if k in _ARROW_PRIMITIVES:
        return _ARROW_PRIMITIVES[k]
    raise ValueError(f"ORC kind {k!r} has no arrow mapping")


def arrow_schema(meta: dict, columns: list[str]) -> pa.Schema:
    """Arrow schema of `columns` read against the tail parse `meta`.
    A dotted sub-path renders its top-level column as a struct pruned
    to the included fields."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import (
        _column_ids,
        _included_ids,
        output_columns,
    )

    ids = _column_ids(meta)
    included = _included_ids(meta, columns)
    return pa.schema(
        [
            (c, arrow_type(meta["types"], ids[c], included))
            for c in output_columns(columns, meta)
        ]
    )

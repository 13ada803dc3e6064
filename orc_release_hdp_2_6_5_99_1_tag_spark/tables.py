"""Table loading for the driver's TPC-H-ish parquet testdata.

At 100 TB these reads become partitioned scans over object storage; the
API stays `spark.read.parquet(dir)` — Spark's FileSourceStrategy plans
stripe/row-group-aligned splits exactly like the reference's
`Reader.Options.range` split model (reference
`RecordReaderImpl.java:220-255`).

Every read goes through one footer-derived `ReadSpec` per file (or per
directory of part files): the explicit Spark DDL, the per-column
fix-ups that turn the read into Spark TIMESTAMP, and the footer max of
the event-time column. It is the engine's twin of the reference's
once-per-file `SchemaEvolution.buildConversion`
(`SchemaEvolution.java:335`): the batch loader, the streaming reader
and the watermark sentinels all consume the same spec instead of each
re-deciding how to read `events.ts`, whose parquet type has drifted
across testdata generations (TIMESTAMP(NANOS), timestamp[us],
raw integer epochs).

Every derived artifact (ORC copies, lakes, ACID dirs, text dumps,
stream topics and sinks) lives under `scratch_dir(sf_dir)` and is built
through one protocol, `staged`: the artifact at `<path>` is current
only if `<path>` exists AND the marker file `<path>._done` next to it
holds the fingerprint of the source tables it was built from (each
parquet's path, mtime_ns and size) followed by the build's own spec
(write options, file counts, staging shape). Anything else removes the
artifact (and the siblings named with it, such as a stream's
checkpoint), rebuilds it, and writes the marker last — so regenerated
testdata, a changed build spec, an interrupted build and a deleted
artifact all rebuild, and no partial output is ever served. The same
rule guards an ORC file in the reference, which is readable only
through the tail written last and checked against the file's real
length (`ReaderImpl.extractFileTail`).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import TYPE_CHECKING

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import pyarrow as pa

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    spec = read_spec(path, "ts" if name == "events" else None)
    reader = spark.read.schema(spec.ddl) if spec.ddl else spark.read
    return spec.fix(reader.parquet(path))


@dataclass(frozen=True)
class ReadSpec:
    """How to read one parquet table, decided once from its footer.

    `ddl` is the explicit Spark schema ("" = fall back to inference);
    `fixes` maps columns to the SQL expressions that turn the raw read
    into Spark TIMESTAMP; the `ts_*` fields describe the event-time
    column (`ts_max` in raw epoch units, None when a footer lacks
    stats; `ts_epoch_type` is the integer arrow type it is read as, or
    None when it is read as a timestamp)."""

    parts: tuple[str, ...]
    ddl: str
    fixes: tuple[tuple[str, str], ...] = ()
    ts_max: int | None = None
    ts_units_per_second: int | None = None
    ts_epoch_type: pa.DataType | None = None

    def fix(self, df: DataFrame) -> DataFrame:
        """Apply the fix-ups to a batch or streaming read."""
        if not self.fixes:
            return df
        return df.withColumns({c: F.expr(e) for c, e in self.fixes})


def _parquet_parts(path: str) -> list[str]:
    """The parquet files behind a table path: the file itself, or the
    sorted part files of a directory."""
    if os.path.isdir(path):
        return [
            os.path.join(path, n) for n in sorted(os.listdir(path)) if n.endswith(".parquet")
        ]
    return [path]


def _nanos_as_long_ddl(schema) -> str:
    """Spark DDL for a pyarrow schema with TIMESTAMP(NANOS) columns
    mapped to bigint — the explicit-schema twin of the legacy
    `nanosAsLong` conf, used so readers never have to flip a
    SESSION-WIDE conf around a read (concurrent queries on the same
    session could otherwise resolve schemas under the wrong value).
    Conservative: raises on types it does not know rather than
    guessing."""
    import pyarrow as pa

    def ddl(t) -> str:
        if pa.types.is_timestamp(t):
            if t.unit == "ns":
                return "bigint"
            return "timestamp" if t.tz is not None else "timestamp_ntz"
        simple = {
            "int8": "tinyint", "int16": "smallint", "int32": "int",
            "int64": "bigint", "float": "float", "double": "double",
            "string": "string", "large_string": "string",
            "bool": "boolean", "binary": "binary", "large_binary": "binary",
            "date32[day]": "date",
        }
        if str(t) in simple:
            return simple[str(t)]
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return f"array<{ddl(t.value_type)}>"
        raise ValueError(f"unmapped parquet type for explicit-schema read: {t}")

    return ", ".join(f"`{f.name}` {ddl(f.type)}" for f in schema)


def _explicit_ddl(path: str) -> tuple[str, list[str]]:
    """(Spark DDL, nanos columns) for a table's footer schema (its
    first part file for a directory), from the pyarrow footer (~1 ms)
    — or ("", nanos columns) when the footer carries a type
    `_nanos_as_long_ddl` does not map (callers fall back to Spark's
    inference). Motivation (r13 optimization round, guide §6
    repeated-listing/planning costs): `spark.read.parquet` pays
    ~150-180 ms of JVM schema inference PER CALL, and a query
    re-resolves every table it loads on every run — q5 touches six
    tables, ~0.9 s of pure driver planning per execution. An explicit
    schema cuts the call to ~20-50 ms and was verified `==` to the
    inferred StructType for every testdata table at all three SFs
    (pinned by tests/test_00_schema_contract.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(_parquet_parts(path)[0])
    ns_cols = [
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    try:
        return _nanos_as_long_ddl(schema), ns_cols
    except ValueError:
        return "", ns_cols


_UNITS_PER_SECOND = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}
_NANOS_TO_TIMESTAMP = "timestamp_micros(`{}` div 1000)"

# (lo, hi, units per second, conversion) for a raw integer epoch's
# footer max: the bands are disjoint for any date between ~1973 and ~2500
_EPOCH_BANDS = (
    (10**17, 2 * 10**19, 1_000_000_000, _NANOS_TO_TIMESTAMP),
    (10**14, 10**17, 1_000_000, "timestamp_micros(`{}`)"),
    (10**11, 10**14, 1_000, "timestamp_millis(`{}`)"),
    (10**8, 10**11, 1, "timestamp_seconds(`{}`)"),
)

# (event-time column, (part, mtime_ns, size) per part) -> ReadSpec.
# Metadata only — a few hundred bytes per table, never row data; keyed
# on the file identities so regenerated testdata invalidates it.
_SPEC_CACHE: dict[tuple, ReadSpec] = {}


def read_spec(path: str, event_time: str | None = None) -> ReadSpec:
    """The cached `ReadSpec` of the parquet table at `path` (a file or
    a directory of parts).

    - TIMESTAMP(NANOS) columns, in any table: Spark's reader rejects
      them, so they are read as bigint and converted to micros (the
      testdata carries no sub-microsecond bits, so this is lossless vs the
      oracle).
    - `event_time` (events.ts) additionally: a raw integer epoch is
      converted by the unit its footer max falls in, and a timestamp
      without time zone (Spark TIMESTAMP_NTZ) is cast to session-tz
      TIMESTAMP (identity under the pinned UTC session tz,
      `session.py:47`, matching DuckDB's naive reading). Its max is
      taken over every part's footer, never one representative part.
    """
    parts = _parquet_parts(path)
    stats = [os.stat(p) for p in parts]
    key = (event_time, *((p, st.st_mtime_ns, st.st_size) for p, st in zip(parts, stats)))
    spec = _SPEC_CACHE.get(key)
    if spec is None:
        ddl, ns_cols = _explicit_ddl(path)
        fixes = {c: _NANOS_TO_TIMESTAMP.format(c) for c in ns_cols}
        ts = _event_time_fields(path, parts, event_time, fixes) if event_time else {}
        spec = ReadSpec(tuple(parts), ddl, tuple(fixes.items()), **ts)
        _SPEC_CACHE[key] = spec
    return spec


def _event_time_fields(path: str, parts: list[str], col: str, fixes: dict) -> dict:
    """The `ts_*` fields of a `ReadSpec` for event-time column `col`,
    adding its fix-up to `fixes`. Footer metadata only — no data pages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mds = [pq.read_metadata(p) for p in parts]
    t = mds[0].schema.to_arrow_schema().field(col).type
    idx = [mds[0].schema.column(i).path for i in range(mds[0].num_columns)].index(col)
    stats = [
        md.row_group(rg).column(idx).statistics for md in mds for rg in range(md.num_row_groups)
    ]
    maxes = [s.max_raw for s in stats if s is not None and s.has_min_max]
    maxes = [v for v in maxes if isinstance(v, int)]
    mx = max(maxes, default=None)
    # a group without stats may hold the true max: then report none
    ts_max = mx if len(maxes) == len(stats) else None
    if pa.types.is_timestamp(t):
        if t.unit != "ns" and t.tz is None:
            fixes[col] = f"CAST(`{col}` AS TIMESTAMP)"
        return dict(
            ts_max=ts_max,
            ts_units_per_second=_UNITS_PER_SECOND[t.unit],
            ts_epoch_type=pa.int64() if t.unit == "ns" else None,
        )
    if not pa.types.is_integer(t):
        return {}
    band = next((b for b in _EPOCH_BANDS if mx is not None and b[0] <= mx < b[1]), None)
    if band is None:
        raise ValueError(f"{col} at {path}: integer epoch max {mx} outside every unit band")
    fixes[col] = band[3].format(col)
    return dict(ts_max=ts_max, ts_units_per_second=band[2], ts_epoch_type=t)


_SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def scratch_dir(sf_dir: str) -> str:
    """Per-sf scratch directory for derived artifacts, under `.scratch/`
    of the checkout this package was imported from (gitignored), so a
    second checkout never serves artifacts its sibling's code built."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(_SCRATCH_ROOT, tag)
    os.makedirs(d, exist_ok=True)
    return d


def staged(
    sf_dir: str,
    rel: str,
    sources: Iterable[str],
    build: Callable[[str], None],
    *,
    spec: str = "",
    clear: Iterable[str] = (),
) -> str:
    """The derived artifact `scratch_dir(sf_dir)/rel`, built by
    `build(path)` unless it is current; returns its path.

    Current means the path exists AND its marker `<path>._done` holds
    the fingerprint: the artifact's absolute path (a copied scratch
    root rebuilds, since artifacts such as a stream sink's
    `_spark_metadata` name absolute paths), then path, mtime_ns and
    size of each `sources` table's parquet, then `spec`, the build's
    own parameters. Otherwise
    the marker, the path and each `clear` sibling (a stream's
    checkpoint; relative to the scratch dir like `rel`) are removed,
    the artifact is built, and the marker is written last: an
    interrupted build leaves no marker, and a deleted artifact is never
    vouched for by the marker it left behind.
    """
    base = scratch_dir(sf_dir)
    path = os.path.join(base, rel)
    marker = path + "._done"
    stats = ((p, os.stat(p)) for p in (os.path.join(sf_dir, f"{n}.parquet") for n in sources))
    fp = ";".join(
        [os.path.abspath(path)] + [f"{p}:{st.st_mtime_ns}:{st.st_size}" for p, st in stats]
    ) + spec
    try:
        with open(marker) as fh:
            if fh.read() == fp and os.path.exists(path):
                return path
    except OSError:
        pass
    for p in (marker, path, *(os.path.join(base, c) for c in clear)):
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p)
        elif os.path.lexists(p):
            os.remove(p)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    build(path)
    with open(marker, "w") as fh:
        fh.write(fp)
    return path

"""Metadata-only column statistics from ORC footers (SURVEY §4 custom
(c)): answer count/min/max/sum without touching data pages, the way
the reference serves `orc-tools meta` from `Footer.statistics`
(`ColumnStatisticsImpl.java`, proto `Footer.statistics:201`).

Two implementations:

- `footer_column_stats` (the query path): distributed through the
  per-file job (`file_job.map_files`). Each task parses one file's
  tail with the pure-Python parser (`footer_tail.py`) and emits typed
  per-column partial rows as Arrow batches. Spark then performs the
  final merge: min of mins, max of maxes, sum of sums, OR of hasNull.
  This is the partial/final design of the reference's
  `ColumnStatisticsImpl.merge()`, with one tail read per file.
- `footer_column_stats_py4j`: the ORC Java library via py4j, driver
  side — kept as a cross-implementation oracle for tests (our parser
  vs the reference's own reader on identical files).
"""

from __future__ import annotations

from datetime import date, datetime, timedelta
from decimal import Decimal
from functools import partial

import pandas as pd  # module-level: pandas_udf type hints resolve here
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from orc_release_hdp_2_6_5_99_1_tag_spark.sources import footer_tail as ft
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import map_files, orc_files

_INT_KINDS = ("tinyint", "smallint", "int", "bigint")
_STRLIKE_KINDS = ("string", "char", "varchar")

_PARTIAL_SCHEMA = pa.schema(
    [("column_name", pa.string()), ("kind", pa.string()),
     ("n_values", pa.int64()), ("has_null", pa.bool_())]
    + [(c, pa.int64()) for c in ("min_long", "max_long", "sum_long")]
    + [("sum_long_defined", pa.bool_())]
    + [(c, pa.float64()) for c in ("min_dbl", "max_dbl", "sum_dbl")]
    + [(c, pa.string()) for c in ("min_str", "max_str", "min_dec", "max_dec", "sum_dec")]
    + [("true_count", pa.int64())]
)  # fmt: skip


def _render_ts(ms: int | None) -> str | None:
    if ms is None:
        return None
    s, frac = divmod(ms, 1000)
    t = datetime(1970, 1, 1) + timedelta(seconds=s)
    # %Y does not zero-pad years < 1000 (glibc), which would break the
    # lexicographic cross-file min/max merge — pad every component
    out = (
        f"{t.year:04d}-{t.month:02d}-{t.day:02d}"
        f" {t.hour:02d}:{t.minute:02d}:{t.second:02d}"
    )
    if frac:
        out += ("." + f"{frac:03d}").rstrip("0")
    return out


def _file_partials(path: str):
    """One typed partial-stats row per top-level column of one file."""
    rows = []
    for c in ft.parse_tail_of_file(path)["columns"]:
        t = c.get("typed", {})
        kind = c["kind"]
        r = {
            "column_name": c["name"],
            "kind": kind,
            "n_values": int(c.get("n_values", 0)),
            "has_null": bool(c.get("has_null", False)),
            "sum_long_defined": True,
        }
        if kind in _INT_KINDS:
            r["min_long"], r["max_long"] = t.get("min"), t.get("max")
            r["sum_long"] = t.get("sum")
            # reference omits the int sum on overflow
            r["sum_long_defined"] = "sum" in t
        elif kind in ("float", "double"):
            r["min_dbl"], r["max_dbl"] = t.get("min"), t.get("max")
            r["sum_dbl"] = t.get("sum")
        elif kind in _STRLIKE_KINDS:
            r["min_str"], r["max_str"] = t.get("min"), t.get("max")
        elif kind == "decimal":
            r["min_dec"], r["max_dec"] = t.get("min"), t.get("max")
            r["sum_dec"] = t.get("sum")
        elif kind == "boolean":
            r["true_count"] = t.get("true_count", 0)
        elif kind == "date":
            for k in ("min", "max"):
                if t.get(k) is not None:
                    r[f"{k}_str"] = str(date(1970, 1, 1) + timedelta(days=t[k]))
        elif kind == "timestamp":
            r["min_str"] = _render_ts(t.get("min_utc", t.get("min")))
            r["max_str"] = _render_ts(t.get("max_utc", t.get("max")))
        elif kind == "binary":
            r["sum_long"] = t.get("sum")
        rows.append(r)
    yield rows


def _strip_dec(col):
    """Render a decimal as its minimal string ('12.50'→'12.5')."""
    s = F.col(col).cast("string")
    return F.when(
        F.col(col).isNotNull(),
        F.regexp_replace(F.regexp_replace(s, r"(\.\d*?)0+$", r"$1"), r"\.$", ""),
    )


def footer_column_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-column statistics merged across a directory's ORC footers:
    (column_name, n_values, has_null, min_val, max_val, sum_val) with
    min/max/sum rendered as strings (heterogeneous types stack into one
    result, like `orc-tools meta` output). Distributed: executors read
    tails, Spark merges partials."""
    partials = map_files(spark, orc_files(path), _file_partials, _PARTIAL_SCHEMA)
    merged = partials.groupBy("column_name", "kind").agg(
        F.sum("n_values").alias("n_values"),
        F.max("has_null").alias("has_null"),
        F.min("min_long").alias("min_long"),
        F.max("max_long").alias("max_long"),
        F.when(F.every(F.col("sum_long_defined")), F.sum("sum_long")).alias("sum_long"),
        F.min("min_dbl").alias("min_dbl"),
        F.max("max_dbl").alias("max_dbl"),
        F.sum("sum_dbl").alias("sum_dbl"),
        F.min("min_str").alias("min_str"),
        F.max("max_str").alias("max_str"),
        # decimals: no Spark decimal(38,s) type fits every ORC decimal
        # column (scale is per-column, up to 38), so the per-file string
        # partials merge with EXACT Python Decimal arithmetic in a
        # grouped pandas stage below — never through a lossy cast
        F.collect_list("min_dec").alias("min_dec_parts"),
        F.collect_list("max_dec").alias("max_dec_parts"),
        F.collect_list("sum_dec").alias("sum_dec_parts"),
        F.sum("true_count").alias("true_count"),
    )

    @F.pandas_udf("string")
    def _dec_reduce(parts: pd.Series, how: pd.Series) -> pd.Series:
        from decimal import Decimal

        def red(vals, op):
            ds = [Decimal(v) for v in vals if v is not None]
            if not ds:
                return None
            agg = {"min": min, "max": max, "sum": sum}[op](ds)
            s = str(agg)
            if "." in s:
                s = s.rstrip("0").rstrip(".")
            return s or "0"

        return pd.Series(
            [red(vals, op) for vals, op in zip(parts, how)]
        )

    merged = (
        merged.withColumn("min_dec", _dec_reduce("min_dec_parts", F.lit("min")))
        .withColumn("max_dec", _dec_reduce("max_dec_parts", F.lit("max")))
        .withColumn("sum_dec", _dec_reduce("sum_dec_parts", F.lit("sum")))
    )

    # double→string via shortest round-trip repr (what DuckDB VARCHAR
    # casts and Python str() produce); Spark's JVM cast switches to
    # scientific notation at 1e7 and would diverge. Vectorized UDF on
    # a ~#columns-row result — off the data path.
    @F.pandas_udf("string")
    def _repr_dbl(s):
        return s.map(lambda v: None if v is None or v != v else repr(float(v)))

    def pick(long_col, dbl_col, str_col, dec_col):
        return (
            F.when(F.col("kind").isin(*_INT_KINDS), F.col(long_col).cast("string"))
            .when(F.col("kind").isin("float", "double"), _repr_dbl(F.col(dbl_col)))
            .when(F.col("kind").isin(*_STRLIKE_KINDS, "date", "timestamp"), F.col(str_col))
            .when(F.col("kind") == "decimal", _strip_dec(dec_col))
        )

    sum_val = (
        F.when(F.col("kind").isin(*_INT_KINDS, "binary"), F.col("sum_long").cast("string"))
        .when(F.col("kind").isin("float", "double"), _repr_dbl(F.col("sum_dbl")))
        .when(F.col("kind") == "decimal", _strip_dec("sum_dec"))
        .when(F.col("kind") == "boolean", F.col("true_count").cast("string"))
    )
    return merged.select(
        "column_name",
        "n_values",
        "has_null",
        pick("min_long", "min_dbl", "min_str", "min_dec").alias("min_val"),
        pick("max_long", "max_dbl", "max_str", "max_dec").alias("max_val"),
        sum_val.alias("sum_val"),
    ).orderBy("column_name")


def footer_column_stats_py4j(spark: SparkSession, path: str) -> DataFrame:
    """Driver-side variant through the ORC Java library (the reference's
    own reader) — the cross-implementation oracle for the distributed
    parser. One py4j footer read per file; test-scale only."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    conf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
    merged: dict[str, dict] = {}
    for f in orc_files(path):
        jpath = jvm.org.apache.hadoop.fs.Path(f)
        reader = jvm.org.apache.orc.OrcFile.createReader(
            jpath, jvm.org.apache.orc.OrcFile.readerOptions(conf)
        )
        schema = reader.getSchema()
        children = schema.getChildren()
        stats = reader.getStatistics()
        for i, name in enumerate(schema.getFieldNames()):
            s = stats[children[i].getId()]
            entry = merged.setdefault(
                name, {"n": 0, "has_null": False, "min": None, "max": None, "sum": None}
            )
            entry["n"] += s.getNumberOfValues()
            entry["has_null"] = entry["has_null"] or s.hasNull()
            cls = s.getClass().getName()
            mn = mx = sm = None
            # Decimal64StatisticsImpl serves precision<=18 in newer ORC
            is_dec = "Decimal" in cls
            if ("IntegerStatistics" in cls or "Long" in cls) and hasattr(s, "getMinimum"):
                mn, mx = s.getMinimum(), s.getMaximum()
                sm = s.getSum() if s.isSumDefined() else None
            elif "DoubleStatistics" in cls:
                mn, mx, sm = s.getMinimum(), s.getMaximum(), s.getSum()
            elif "StringStatistics" in cls:
                mn, mx = s.getMinimum(), s.getMaximum()
            elif "TimestampStatistics" in cls or "DateStatistics" in cls:
                mn, mx = str(s.getMinimum()), str(s.getMaximum())
            elif "BooleanStatistics" in cls:
                sm = s.getTrueCount()
            elif is_dec:
                # decimals merge as Decimal, not str (string '+' would
                # concatenate; string min/max is lexicographic)
                mn, mx = Decimal(str(s.getMinimum())), Decimal(str(s.getMaximum()))
                sm = Decimal(str(s.getSum()))
            for k, v in [("min", mn), ("max", mx)]:
                if v is not None:
                    prev = entry[k]
                    entry[k] = v if prev is None else (min if k == "min" else max)(prev, v)
            if sm is not None:
                entry["sum"] = sm if entry["sum"] is None else entry["sum"] + sm
    rows = [
        (
            name,
            int(e["n"]),
            bool(e["has_null"]),
            None if e["min"] is None else str(e["min"]),
            None if e["max"] is None else str(e["max"]),
            None if e["sum"] is None else str(e["sum"]),
        )
        for name, e in merged.items()
    ]
    return spark.createDataFrame(
        rows,
        "column_name string, n_values long, has_null boolean,"
        " min_val string, max_val string, sum_val string",
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# Row-group (RowIndexEntry) statistics — the reference's THIRD stats level
# ---------------------------------------------------------------------------

_RG_SCHEMA = pa.schema(
    [("path", pa.string()), ("column_name", pa.string())]
    + [(c, pa.int32()) for c in ("stripe_idx", "group_idx", "group_ord")]
    + [(c, pa.int64()) for c in ("start_row", "rows_in_group", "n_values")]
    + [("has_null", pa.bool_()), ("min_val", pa.string()), ("max_val", pa.string())]
)  # fmt: skip


def _file_rowgroups(path: str, columns: list[str]):
    """One row per (column, row group) of one file with the
    RowIndexEntry statistics (`OrcProto.RowIndexEntry`: positions=1,
    statistics=2 — proto/orc_proto.proto:84-91, surfaced by
    `orc-tools meta --withIndex`, read by
    `RecordReaderImpl.readRowIndex`).

    start_row / rows_in_group come from stripe geometry (stripe row
    offsets + the footer's rowIndexStride), NOT from the entry's
    n_values — numberOfValues counts non-null values, so geometry is
    the only null-safe way to place a group in the file's row space.
    Every requested column's index is read in one pass over each
    stripe's index region."""
    with ft.open_tail(path) as tail:
        ids = {c["name"]: c["col_id"] for c in tail["columns"]}
        stride = tail["row_index_stride"]
        if not stride:
            # orc.create.index=false / stride 0: no row-group geometry
            # exists — zero silent rows or garbage start_row arithmetic
            # would both be wrong answers
            raise ValueError(
                f"{path}: rowIndexStride=0 (written without row "
                f"indexes); row-group statistics are undefined"
            )
        for cname in columns:
            if cname not in ids:
                raise KeyError(f"column {cname!r} not in {path}: {sorted(ids)}")
        stripes = ft.parse_stripe_footers(tail)
        row_index = ft.parse_indexes(tail, stripes, (), stats=[ids[c] for c in columns])[0]
    rows = []
    for cname in columns:
        per_stripe = row_index[ids[cname]]
        if any(not entries for entries in per_stripe):
            raise ValueError(
                f"{path}: column {cname!r} has a stripe with no "
                f"RowIndexEntry despite rowIndexStride={stride}"
            )
        row_offset = 0
        g_ord = 0
        for s_idx, (st, entries) in enumerate(zip(stripes, per_stripe)):
            for g_idx, e in enumerate(entries):
                typed = e.get("typed", {})
                mn, mx = typed.get("min"), typed.get("max")
                rows.append(
                    {
                        "path": path,
                        "column_name": cname,
                        "stripe_idx": s_idx,
                        "group_idx": g_idx,
                        "group_ord": g_ord,
                        "start_row": row_offset + g_idx * stride,
                        "rows_in_group": min(stride, st["numberOfRows"] - g_idx * stride),
                        "n_values": e.get("n_values", 0),
                        "has_null": bool(e.get("has_null")),
                        "min_val": None if mn is None else str(mn),
                        "max_val": None if mx is None else str(mx),
                    }
                )
                g_ord += 1
            row_offset += st["numberOfRows"]
    yield rows


def rowgroup_stats(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """Per-ROW-GROUP column statistics parsed from ORC ROW_INDEX
    streams — the third and finest statistics level the reference
    keeps (file -> stripe -> row group, `site/_docs/indexes.md:7-19`),
    the granularity `pickRowGroups` prunes at. `footer_column_stats`
    covers the file level, `parse_tail(include_stripe_stats=True)` the
    stripe level; this closes the inspection surface.

    Distributed like the file-stats path: one task per file, executors
    do ranged reads of each stripe's index region only (tail + index
    bytes, never data pages) — scales to million-file lakes with no
    driver-side parsing."""
    per_file = partial(_file_rowgroups, columns=list(columns))
    return map_files(spark, orc_files(path), per_file, _RG_SCHEMA)

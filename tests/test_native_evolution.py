"""Native-read-path schema evolution (round-11 verdict Next #2/#3):
reader-schema ELECTION (no caller hint), field-level NULL-fill, safe
type widening vs pyarrow parity, and PPD safety (unsafe conversions
must keep-all, never mis-prune).

Reference analogs pinned here: SchemaEvolution.java:38-130 (reader-
schema-driven per-file mapping), TreeReaderFactory.java:255-288
(NullTreeReader for missing columns/fields),
ConvertTreeReaderFactory.java:401-2100 (widening reads),
SchemaEvolution.isPPDSafeConversion:222-260 (PPD gating)."""

from __future__ import annotations

import glob
import os

import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.sources import (
    evolution_native as evo,
    stream_decode as sd,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
    parse_tail_of_file,
)


def _write_one_orc(spark, df, out, **opts):
    w = df.coalesce(1).write.mode("overwrite")
    for k, v in opts.items():
        w = w.option(k, str(v))
    w.orc(out)
    return sorted(glob.glob(os.path.join(out, "*.orc")))[0]


@pytest.fixture(scope="module")
def evolved_lake(spark, tmp_path_factory):
    """Three generations of one table, the realistic lake timeline:
    g0: id int,    v float,  st struct<a:int>
    g1: id bigint, v float,  st struct<a:int,b:string>      (+field, id widened)
    g2: id bigint, v double, st struct<a:bigint,b:string>, w string (+col, more widening)
    g2 covers g1 covers g0 — election must pick g2's file."""
    import pyspark.sql.functions as F

    base = tmp_path_factory.mktemp("evolake")
    stride = {"orc.row.index.stride": 1000}

    def gen(lo, hi, id_t, v_t, a_t, with_b, with_w):
        df = spark.range(lo, hi).select(
            F.col("id").cast(id_t),
            (F.col("id") % 97).cast(v_t).alias("v"),
            F.struct(
                *(
                    [(F.col("id") % 13).cast(a_t).alias("a")]
                    + ([F.concat(F.lit("b"), (F.col("id") % 3).cast("string")).alias("b")] if with_b else [])
                )
            ).alias("st"),
            *([F.concat(F.lit("w"), F.col("id").cast("string")).alias("w")] if with_w else []),
        )
        return df

    f0 = _write_one_orc(spark, gen(0, 3000, "int", "float", "int", False, False), str(base / "g0"), **stride)
    f1 = _write_one_orc(spark, gen(3000, 6000, "bigint", "float", "int", True, False), str(base / "g1"), **stride)
    f2 = _write_one_orc(spark, gen(6000, 9000, "bigint", "double", "bigint", True, True), str(base / "g2"), **stride)
    lake = base / "lake"
    lake.mkdir()
    import shutil

    # name g2 FIRST alphabetically so "first file by name" would pick
    # the widest only by luck — election must pick it by COVERS, and
    # the old paths[0] convention (g0 sorts after) would have failed
    shutil.copy(f0, lake / "c_gen0.orc")
    shutil.copy(f1, lake / "b_gen1.orc")
    shutil.copy(f2, lake / "a_gen2.orc")
    return {
        "lake": str(lake),
        "files": sorted(glob.glob(str(lake / "*.orc"))),
        "g0": str(lake / "c_gen0.orc"),
        "g1": str(lake / "b_gen1.orc"),
        "g2": str(lake / "a_gen2.orc"),
    }


# ---------------------------------------------------------------------------
# election
# ---------------------------------------------------------------------------


def test_elect_reader_path_picks_covering_schema(evolved_lake):
    p, meta = evo.elect_reader_path(evolved_lake["files"])
    assert p == evolved_lake["g2"]
    names = {c["name"] for c in meta["columns"]}
    assert names == {"id", "v", "st", "w"}


def test_elect_no_covering_schema_is_loud(spark, tmp_path):
    """Sibling evolutions (each file has a column the other lacks,
    neither a supertype) must raise, not silently pick one."""
    import pyspark.sql.functions as F

    a = _write_one_orc(spark, spark.range(10).select("id", F.lit(1).alias("only_a")), str(tmp_path / "a"))
    b = _write_one_orc(spark, spark.range(10).select("id", F.lit("x").alias("only_b")), str(tmp_path / "b"))
    with pytest.raises(ValueError, match="no file schema covers"):
        evo.elect_reader_path([a, b])


def test_covers_lattice():
    def t(kind, subtypes=(), field_names=(), precision=None, scale=None):
        return {
            "kind": kind, "subtypes": list(subtypes),
            "field_names": list(field_names),
            "precision": precision, "scale": scale,
        }

    # int family widens upward only
    for lo, hi in [("tinyint", "smallint"), ("smallint", "int"), ("int", "bigint"), ("float", "double")]:
        assert evo.type_covers([t(hi)], 0, [t(lo)], 0)
        assert not evo.type_covers([t(lo)], 0, [t(hi)], 0)
    # decimal: scale and integer-digit capacity must both grow
    assert evo.type_covers(
        [t("decimal", precision=12, scale=4)], 0,
        [t("decimal", precision=10, scale=2)], 0,
    )
    assert not evo.type_covers(
        [t("decimal", precision=10, scale=4)], 0,
        [t("decimal", precision=10, scale=2)], 0,
    )
    # struct: reader may ADD fields, never lose them
    r = [t("struct", [1, 2], ["a", "b"]), t("bigint"), t("string")]
    f = [t("struct", [1], ["a"]), t("int")]
    assert evo.type_covers(r, 0, f, 0)
    assert not evo.type_covers(f, 0, r, 0)


# ---------------------------------------------------------------------------
# PPD safety (reference isPPDSafeConversion parity)
# ---------------------------------------------------------------------------


def test_ppd_safe_matrix():
    def t(kind, precision=None, scale=None):
        return [{
            "kind": kind, "subtypes": [], "field_names": [],
            "precision": precision, "scale": scale,
        }]

    assert evo.ppd_safe(t("int"), 0, t("bigint"), 0)
    assert evo.ppd_safe(t("tinyint"), 0, t("int"), 0)
    assert evo.ppd_safe(t("string"), 0, t("varchar"), 0)
    assert evo.ppd_safe(t("varchar"), 0, t("string"), 0)
    # the reference's explicit NO cases
    assert not evo.ppd_safe(t("float"), 0, t("double"), 0)
    assert not evo.ppd_safe(t("char"), 0, t("string"), 0)
    assert not evo.ppd_safe(
        t("decimal", 10, 2), 0, t("decimal", 12, 4), 0
    )
    assert evo.ppd_safe(t("decimal", 10, 2), 0, t("decimal", 10, 2), 0)


def test_unsafe_conversion_keeps_all_safe_conversion_prunes(evolved_lake):
    """On the g0 file (id int, v float) read under the g2 reader
    schema (id bigint, v double): an id predicate rides the SAFE
    int->bigint conversion and still prunes row groups; a v predicate
    rides the UNSAFE float->double conversion and must fall back to
    keep-all (never mis-prune)."""
    reader_meta = parse_tail_of_file(evolved_lake["g2"])
    g0 = evolved_lake["g0"]
    # safe: prunes (g0 holds ids 0..2999 in 3 groups of 1000)
    audit = {}
    rows = 0
    for res in sd.scan_file_evolved(
        g0, ("less_than", "id", 1000), ["id"], audit, reader_meta=reader_meta
    ):
        rows += res["n_rows"]
    assert "evolution_keep_all" not in audit
    assert audit["groups_decoded"] < audit["groups_total"]
    assert rows < 3000
    # unsafe: keep-all, exact results via the residual filter upstream
    audit2 = {}
    rows2 = 0
    for res in sd.scan_file_evolved(
        g0, ("equals", "v", 5.0), ["id", "v"], audit2, reader_meta=reader_meta
    ):
        rows2 += res["n_rows"]
    assert audit2.get("evolution_keep_all") is True
    assert rows2 == 3000


# ---------------------------------------------------------------------------
# field-level NULL-fill + widening through scan_file_evolved
# ---------------------------------------------------------------------------


def test_field_level_null_fill(evolved_lake):
    reader_meta = parse_tail_of_file(evolved_lake["g2"])
    out = []
    for res in sd.scan_file_evolved(
        evolved_lake["g0"], None, ["id", "st", "w"], reader_meta=reader_meta
    ):
        st = res["columns"]["st"]
        w = res["columns"]["w"]
        out.extend(zip(res["columns"]["id"], st, w))
    assert len(out) == 3000
    for i, st, w in out:
        assert w is None  # whole column missing in g0
        assert set(st) == {"a", "b"}  # reader's field set
        assert st["b"] is None  # missing FIELD null-fills
        assert st["a"] == i % 13


def test_dotted_request_of_missing_field_present_only(evolved_lake):
    """Requesting ONLY st.b from a file whose st lacks b: the struct
    decodes PRESENT-only (no sibling stream is read) and b NULL-fills
    per non-null row."""
    reader_meta = parse_tail_of_file(evolved_lake["g2"])
    rows = 0
    for res in sd.scan_file_evolved(
        evolved_lake["g0"], None, ["st.b"], reader_meta=reader_meta
    ):
        for v in res["columns"]["st"]:
            assert v == {"b": None}
        rows += res["n_rows"]
    assert rows == 3000


def test_missing_field_without_reader_meta_stays_loud(evolved_lake):
    with pytest.raises(KeyError, match="field-level evolution"):
        list(sd.scan_file_evolved(evolved_lake["g0"], None, ["st.b"]))


def test_widening_matrix_vs_pyarrow(spark, tmp_path):
    """Every lattice direction decoded through the convert layer
    equals pyarrow's own read of the file cast to the reader type."""
    import pyarrow as pa
    import pyarrow.orc as pao
    import pyspark.sql.functions as F

    cases = [
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
        ("float", "double"),
        ("decimal(10,2)", "decimal(12,4)"),
    ]
    arrow_t = {
        "smallint": pa.int16(), "int": pa.int32(), "bigint": pa.int64(),
        "double": pa.float64(), "decimal(12,4)": pa.decimal128(12, 4),
    }
    for i, (f_t, r_t) in enumerate(cases):
        df_old = spark.range(500).select(
            "id", (F.col("id") % 100).cast(f_t).alias("x")
        )
        df_new = spark.range(500, 1000).select(
            "id", (F.col("id") % 100).cast(r_t).alias("x")
        )
        old = _write_one_orc(spark, df_old, str(tmp_path / f"old{i}"),
                             **{"orc.row.index.stride": 1000})
        new = _write_one_orc(spark, df_new, str(tmp_path / f"new{i}"),
                             **{"orc.row.index.stride": 1000})
        _, reader_meta = evo.elect_reader_path([old, new])
        got = []
        for res in sd.scan_file_evolved(old, None, ["x"], reader_meta=reader_meta):
            got.extend(res["columns"]["x"])
        expect = pao.read_table(old).column("x").cast(arrow_t[r_t]).to_pylist()
        assert got == expect, (f_t, r_t)


def test_decimal_rescale_values(spark, tmp_path):
    """Decimal widening materializes a real conversion: the decoded
    values carry the READER scale (exact rescale, reference
    ConvertTreeReaderFactory decimal->decimal)."""
    from decimal import Decimal

    import pyspark.sql.functions as F

    old = _write_one_orc(
        spark,
        spark.range(100).select(
            (F.col("id") + F.lit(0.25)).cast("decimal(10,2)").alias("d")
        ),
        str(tmp_path / "d_old"),
    )
    new = _write_one_orc(
        spark,
        spark.range(100).select(
            (F.col("id") + F.lit(0.3333)).cast("decimal(12,4)").alias("d")
        ),
        str(tmp_path / "d_new"),
    )
    _, reader_meta = evo.elect_reader_path([old, new])
    got = []
    for res in sd.scan_file_evolved(old, None, ["d"], reader_meta=reader_meta):
        got.extend(res["columns"]["d"])
    assert got[:3] == [Decimal("0.2500"), Decimal("1.2500"), Decimal("2.2500")]
    assert all(v.as_tuple().exponent == -4 for v in got)


# ---------------------------------------------------------------------------
# the Spark surfaces: read_planned_lake + orc_native, NO caller hint
# ---------------------------------------------------------------------------


def test_read_planned_lake_elects_automatically(spark, evolved_lake):
    df = sd.read_planned_lake(
        spark, evolved_lake["files"], ("less_than", "id", 7000),
        ["id", "v", "st", "w"],
    )
    rows = df.filter("id < 7000").orderBy("id").collect()
    assert len(rows) == 7000
    assert [r["id"] for r in rows] == list(range(7000))
    assert rows[0]["st"]["b"] is None and rows[0]["w"] is None
    assert rows[3000]["st"]["b"] == "b0" and rows[3000]["w"] is None
    assert rows[6000]["st"]["b"] == "b0" and rows[6000]["w"] == "w6000"
    # dtypes follow the ELECTED (widest) schema
    d = dict(df.dtypes)
    assert d["id"] == "bigint" and d["v"] == "double"


def test_orc_native_evolved_lake_no_option(spark, evolved_lake):
    """The r11 verdict's done-criterion: the evolved-lake scenario
    with NO schema_file option — election inside the DataSource."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    df = (
        spark.read.format("orc_native")
        .option("path", evolved_lake["lake"])
        .option("columns", "id,st,w")
        .load()
    )
    rows = df.filter("id >= 2000 and id < 4000").orderBy("id").collect()
    assert len(rows) == 2000
    assert rows[0]["st"].asDict() == {"a": 2000 % 13, "b": None}
    assert rows[-1]["w"] is None  # g1 predates w
    assert dict(df.dtypes)["id"] == "bigint"


def test_orc_native_literal_dot_filter_attr_degrades(spark, tmp_path):
    """r11 ADVICE: a pushed filter on a field of a top-level column
    whose NAME contains a literal dot must resolve (longest-prefix) or
    degrade to non-pruning — never KeyError at scan time."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    dest = str(tmp_path / "dotlake")
    (
        spark.range(2000)
        .select(
            "id",
            F.struct((F.col("id") % 7).alias("c")).alias("a.b"),
        )
        .coalesce(1)
        .write.option("orc.row.index.stride", "1000")
        .orc(dest)
    )
    df = (
        spark.read.format("orc_native")
        .option("path", dest)
        .option("columns", "id,a.b")  # exact-match-wins: the whole column
        .load()
    )
    rows = df.filter(F.col("`a.b`.c") == 3).collect()
    assert len(rows) == len([i for i in range(2000) if i % 7 == 3])


def test_tree_prunable_literal_dot_and_unknown():
    """Unresolvable SArg columns degrade to non-prunable (a
    keep-all reason), never raise."""
    def t(kind, subtypes=(), field_names=()):
        return {
            "kind": kind, "subtypes": list(subtypes),
            "field_names": list(field_names),
            "precision": None, "scale": None,
        }

    meta = {
        "types": [t("struct", [1], ["x"]), t("int")],
        "columns": [{"name": "x", "col_id": 1, "kind": "int"}],
    }
    assert evo.keep_all_reason(meta, meta, ("equals", "x", 1)) is None
    assert evo.keep_all_reason(meta, meta, ("equals", "nope", 1)) == "missing column"
    assert evo.keep_all_reason(meta, meta, ("equals", "x.deep", 1)) == "missing column"


# ---------------------------------------------------------------------------
# positional evolution (pre-HIVE-4243 _colN files)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def positional_lake(spark, tmp_path_factory):
    """One pre-HIVE-4243-style file (every top-level column named
    _col<N> — the reference reconciles these by POSITION,
    `SchemaEvolution.java:97-113`) + one modern file with real names
    and an added column."""
    import pyspark.sql.functions as F

    base = tmp_path_factory.mktemp("poslake")
    stride = {"orc.row.index.stride": 1000}
    old = _write_one_orc(
        spark,
        spark.range(3000).select(
            F.col("id").cast("int").alias("_col0"),
            F.concat(F.lit("n"), (F.col("id") % 5).cast("string")).alias("_col1"),
        ),
        str(base / "old"),
        **stride,
    )
    new = _write_one_orc(
        spark,
        spark.range(3000, 6000).select(
            "id",
            F.concat(F.lit("n"), (F.col("id") % 5).cast("string")).alias("name"),
            (F.col("id") % 11).cast("double").alias("extra"),
        ),
        str(base / "new"),
        **stride,
    )
    lake = base / "lake"
    lake.mkdir()
    import shutil

    shutil.copy(old, lake / "a_old.orc")
    shutil.copy(new, lake / "b_new.orc")
    return {
        "files": sorted(glob.glob(str(lake / "*.orc"))),
        "old": str(lake / "a_old.orc"),
        "new": str(lake / "b_new.orc"),
    }


def test_positional_detection_and_covers(positional_lake):
    old_meta = parse_tail_of_file(positional_lake["old"])
    new_meta = parse_tail_of_file(positional_lake["new"])
    assert evo.is_positional(old_meta)
    assert not evo.is_positional(new_meta)
    assert evo.covers(new_meta, old_meta)  # positional pairing + widening
    assert not evo.covers(old_meta, new_meta)  # narrower, no added col
    p, meta = evo.elect_reader_path(positional_lake["files"])
    assert p == positional_lake["new"]


def test_positional_scan_translates_and_prunes(positional_lake):
    reader_meta = parse_tail_of_file(positional_lake["new"])
    audit = {}
    got = []
    for res in sd.scan_file_evolved(
        positional_lake["old"], ("less_than", "id", 1000),
        ["id", "name", "extra"], audit, reader_meta=reader_meta,
    ):
        got.extend(
            zip(res["columns"]["id"], res["columns"]["name"],
                res["columns"]["extra"])
        )
    assert audit.get("evolution_positional") == 1  # one positional level
    # the reader-name predicate translated to _col0 and PRUNED (the
    # int->bigint positional conversion is PPD-safe)
    assert "evolution_keep_all" not in audit
    assert audit["groups_decoded"] < audit["groups_total"]
    assert all(e is None for _, _, e in got)  # added col NULL-fills
    assert all(n == f"n{i % 5}" for i, n, _ in got)
    assert {i for i, _, _ in got} >= set(range(1000))


def test_positional_through_read_planned_lake(spark, positional_lake):
    df = sd.read_planned_lake(
        spark, positional_lake["files"], None, ["id", "name", "extra"]
    )
    rows = df.orderBy("id").collect()
    assert len(rows) == 6000
    assert [r["id"] for r in rows] == list(range(6000))
    assert rows[0]["extra"] is None and rows[3000]["extra"] == 3000 % 11
    assert dict(df.dtypes)["id"] == "bigint"


def test_tree_rename():
    m = {"id": "_col0", "st": "_col2", "a.b": "_col3"}
    t = ("and", ("less_than", "id", 5),
         ("not", ("equals", "st.f", "x")),
         ("in", "a.b.c", [1, 2]),
         ("is_null", "other", None))
    out = evo.tree_rename(t, m)
    assert out == ("and", ("less_than", "_col0", 5),
                   ("not", ("equals", "_col2.f", "x")),
                   ("in", "_col3.c", [1, 2]),
                   ("is_null", "other", None))


def test_explain_lake_scan_evolution_aware(evolved_lake):
    """The driver-side diagnostic follows the scan's evolution rules:
    a predicate on the ADDED column keeps-all on old generations
    (never KeyError), and file-resolvable columns plan normally."""
    rep = sd.explain_lake_scan(
        evolved_lake["files"], ("equals", "w", "w6100"), ["id", "w"]
    )
    by = {os.path.basename(r["path"]): r for r in rep}
    assert by["c_gen0.orc"]["keep"] is True   # w missing: keep-all
    assert by["b_gen1.orc"]["keep"] is True
    assert by["a_gen2.orc"]["keep"] is True
    # and a SAFELY-widened predicate still prunes old generations
    rep2 = sd.explain_lake_scan(
        evolved_lake["files"], ("less_than", "id", 1000), ["id"]
    )
    by2 = {os.path.basename(r["path"]): r for r in rep2}
    assert by2["a_gen2.orc"]["keep"] is False  # ids 6000+: file skipped
    assert by2["c_gen0.orc"]["keep"] is True
    assert by2["c_gen0.orc"]["groups_kept"] < by2["c_gen0.orc"]["groups_total"]


# ---------------------------------------------------------------------------
# the FULL ConvertTreeReader matrix under an EXPLICIT reader schema,
# pinned against the reference itself: spark.read.schema(ddl).orc(file)
# drives the embedded Java ConvertTreeReaderFactory, so every direction
# below is compared value-for-value with the reference's own reader.
# ---------------------------------------------------------------------------

_CONV_CASES = [
    # (file ddl, rows, reader ddl)
    ("x int", [(250,), (-1,), (0,), (300000,), (None,)], "x tinyint"),
    ("x int", [(250,), (-1,), (70000,)], "x smallint"),
    ("x int", [(250,), (-1,), (0,)], "x bigint"),
    ("x int", [(250,), (-7,)], "x float"),
    ("x int", [(250,), (-7,)], "x double"),
    ("x int", [(250,), (-7,)], "x decimal(8,3)"),
    ("x int", [(250,), (-7,)], "x string"),
    ("x int", [(250000,), (-1000,)], "x timestamp"),
    ("x int", [(0,), (3,), (-2,)], "x boolean"),
    ("x bigint", [(2**40,), (12,)], "x int"),
    ("x double", [(1.5,), (-2.25,), (1e8,), (1.23e-4,), (0.001,), (9999999.0,), (None,)], "x string"),
    ("x double", [(1.5,), (-2.25,), (1e20,), (300.0,)], "x int"),
    ("x double", [(1.5,), (-2.25,)], "x float"),
    ("x double", [(1.5,), (-2.25,), (12345.678,)], "x decimal(12,4)"),
    ("x double", [(1.5,), (86400.25,)], "x timestamp"),
    ("x float", [(1.5,), (3.25,)], "x double"),
    ("x float", [(1.5,), (3.25,), (0.1,)], "x string"),
    ("x float", [(1.5,), (300.9,), (-300.9,)], "x int"),
    ("x decimal(10,2)", [("1.25",), ("-3.50",), ("12345.67",)], "x int"),
    ("x decimal(10,2)", [("1.25",), ("-3.50",)], "x double"),
    ("x decimal(10,2)", [("1.25",), ("-3.50",), ("12345.67",)], "x string"),
    ("x decimal(10,2)", [("1.25",), ("99999.99",)], "x decimal(6,1)"),
    ("x string", [("42",), ("abc",), ("1.5",), (" 7",), ("128",)], "x tinyint"),
    ("x string", [("42",), ("abc",), ("1.5",), ("1e3",)], "x double"),
    ("x string", [("42.5",), ("abc",), ("1.25",)], "x decimal(8,3)"),
    ("x string", [("2020-03-04 05:06:07.25",), ("2020-03-04 05:06:07",), ("nope",)], "x timestamp"),
    ("x string", [("2020-03-04",), ("nope",), ("2020-13-40",)], "x date"),
    ("x string", [("hi",), ("",)], "x binary"),
    ("x timestamp", [("2020-03-04 05:06:07.25",), ("1969-12-31 23:59:59.5",)], "x bigint"),
    ("x timestamp", [("2020-03-04 05:06:07.25",)], "x double"),
    ("x timestamp", [("2020-03-04 05:06:07.25",), ("2020-03-04 05:06:07",)], "x string"),
    ("x timestamp", [("2020-03-04 05:06:07.25",)], "x date"),
    ("x date", [("2020-03-04",)], "x string"),
    ("x date", [("2020-03-04",)], "x timestamp"),
    ("x boolean", [(True,), (False,)], "x int"),
    ("x boolean", [(True,), (False,)], "x string"),
    ("x boolean", [(True,), (False,)], "x double"),
]


def _typed_rows(file_ddl, rows, spark):
    """Build the typed single-column DataFrame (decimal/date/timestamp
    literals arrive as strings; cast them in)."""
    import pyspark.sql.functions as F

    kind = file_ddl.split(" ", 1)[1]
    if kind.startswith(("decimal", "date", "timestamp", "varchar", "char")):
        df = spark.createDataFrame(rows, "x string")
        return df.select(F.col("x").cast(kind).alias("x"))
    return spark.createDataFrame(rows, file_ddl)


@pytest.mark.parametrize("file_ddl,rows,reader_ddl", _CONV_CASES)
def test_convert_matrix_vs_embedded_java_reader(
    spark, tmp_path, file_ddl, rows, reader_ddl
):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import read_orc

    data = _typed_rows(file_ddl, rows, spark)
    path = _write_one_orc(spark, data, str(tmp_path / "f"))
    # the reference's own reader: Spark hands the declared schema to
    # the embedded Java ORC ConvertTreeReaderFactory
    expect = [
        r["x"] for r in spark.read.schema(reader_ddl).orc(path).collect()
    ]
    # reader_meta from a schema-only dummy file (what a caller's
    # schema_file/catalog supplies)
    dummy = _write_one_orc(
        spark, spark.createDataFrame([], reader_ddl), str(tmp_path / "r")
    )
    reader_meta = parse_tail_of_file(dummy)
    got = []
    for res in sd.scan_file_evolved(path, None, ["x"], reader_meta=reader_meta):
        got.extend(res["columns"]["x"])
    assert got == expect, (file_ddl, reader_ddl, got, expect)


def test_char_varchar_length_enforcement(spark, tmp_path):
    """char/varchar reader lengths bound every conversion's output —
    VARCHAR truncates (StringExpr.truncate), CHAR right-trims after
    truncating (rightTrimAndTruncate) — per
    `ConvertTreeReaderFactory.java:110-131`. Spark refuses char/varchar
    in read schemas (UNSUPPORTED_CHAR_OR_VARCHAR_AS_STRING), so these
    directions pin the CITED reference source, not the embedded
    reader. Reader metas come from Hive-style ORC files written with
    real varchar/char types via the ORC writer options."""
    import pyspark.sql.functions as F

    def reader_meta_for(ddl_kind, n, tag):
        # Spark cannot DECLARE char/varchar columns, so synthesize the
        # reader meta from a real string-typed file and patch the type
        # (what a Hive catalog's schema_file would carry)
        f = _write_one_orc(
            spark, spark.createDataFrame([], "x string"),
            str(tmp_path / f"r_{tag}"),
        )
        meta = parse_tail_of_file(f)
        meta["types"][1]["kind"] = ddl_kind
        meta["types"][1]["max_length"] = n
        meta["columns"][0]["kind"] = ddl_kind
        return meta

    cases = [
        # (file ddl, rows, reader kind, n, expected)
        ("x string", [("hello",), ("hi  ",), ("",)], "varchar", 3,
         ["hel", "hi ", ""]),
        ("x string", [("hello",), ("hi  ",), ("ab ",)], "char", 3,
         ["hel", "hi", "ab"]),
        ("x int", [(250,), (-7,)], "varchar", 2, ["25", "-7"]),
        ("x double", [(1.5,), (123.25,)], "char", 4, ["1.5", "123."]),
    ]
    for i, (file_ddl, rows, rkind, n, expected) in enumerate(cases):
        data = _typed_rows(file_ddl, rows, spark)
        path = _write_one_orc(spark, data, str(tmp_path / f"f{i}"))
        rm = reader_meta_for(rkind, n, f"{i}")
        got = []
        for res in sd.scan_file_evolved(path, None, ["x"], reader_meta=rm):
            got.extend(res["columns"]["x"])
        assert got == expected, (file_ddl, rkind, n, got, expected)
    # covers(): a narrower same-kind reader does NOT cover; a wider one does
    v5 = reader_meta_for("varchar", 5, "c5")
    v2 = reader_meta_for("varchar", 2, "c2")
    assert evo.covers(v5, v2) and not evo.covers(v2, v5)


def test_convert_matrix_illegal_pairs_raise(spark, tmp_path):
    """Pairs the reference cannot convert raise loudly (its
    IllegalEvolutionException), never silently misread."""
    path = _write_one_orc(
        spark, spark.createDataFrame([(1,)], "x int"), str(tmp_path / "f")
    )
    dummy = _write_one_orc(
        spark, spark.createDataFrame([], "x date"), str(tmp_path / "r")
    )
    reader_meta = parse_tail_of_file(dummy)
    with pytest.raises(ValueError, match="illegal schema evolution"):
        list(sd.scan_file_evolved(path, None, ["x"], reader_meta=reader_meta))


def test_orc_native_explicit_lossy_schema_file(spark, tmp_path):
    """The DataSource surface with an EXPLICIT schema_file whose types
    NARROW the file's (the reference's declared-table-type-diverges
    case): conversions ride the Arrow exchange — overflow rows read as
    NULL, in-range rows as the reader type."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    lake = tmp_path / "lake"
    lake.mkdir()
    data = _write_one_orc(
        spark,
        spark.range(300).select(F.col("id").cast("int").alias("x")),
        str(tmp_path / "d"),
    )
    rdr = _write_one_orc(
        spark, spark.createDataFrame([], "x tinyint"), str(tmp_path / "r")
    )
    import shutil

    shutil.copy(data, lake / "data.orc")
    df = (
        spark.read.format("orc_native")
        .option("path", str(lake))
        .option("schema_file", rdr)
        .option("columns", "x")
        .load()
    )
    assert dict(df.dtypes)["x"] == "tinyint"
    rows = [r["x"] for r in df.collect()]
    expect = [i if i < 128 else None for i in range(300)]
    assert sorted(rows, key=lambda v: (v is None, v)) == sorted(
        expect, key=lambda v: (v is None, v)
    )


def test_distributed_election_past_threshold(spark, tmp_path):
    """elect_reader_meta's Spark-job path (>64 files): one task per
    file ships back only (path, signature); the driver elects among
    DISTINCT schemas — exercised with 70 files across two generations
    (the path a million-file lake takes)."""
    import shutil

    import pyspark.sql.functions as F

    old = _write_one_orc(
        spark,
        spark.range(50).select(F.col("id").cast("int").alias("id")),
        str(tmp_path / "old"),
    )
    new = _write_one_orc(
        spark,
        spark.range(50, 100).select(
            "id", F.md5(F.col("id").cast("string")).alias("added")
        ),
        str(tmp_path / "new"),
    )
    lake = tmp_path / "lake"
    lake.mkdir()
    paths = []
    for i in range(69):
        dst = lake / f"old_{i:03d}.orc"
        shutil.copy(old, dst)
        paths.append(str(dst))
    dst = lake / "zz_new.orc"
    shutil.copy(new, dst)
    paths.append(str(dst))
    p, meta = evo.elect_reader_meta(paths, spark=spark, threshold=64)
    assert p == str(dst)
    assert {c["name"] for c in meta["columns"]} == {"id", "added"}
    # and the full lake reads through the elected schema
    df = sd.read_planned_lake(spark, paths, None, ["id", "added"])
    assert df.count() == 69 * 50 + 50
    assert df.filter("added is not null").count() == 50


def test_union_child_conversion_unit():
    """A union CHILD evolving (struct variant gains a field) routes
    through conv_union + struct NULL-fill — unit-level because Spark
    cannot write true ORC unions (the golden corpus's unions carry
    primitive variants only)."""
    def t(kind, subtypes=(), field_names=(), precision=None, scale=None):
        return {
            "kind": kind, "subtypes": list(subtypes),
            "field_names": list(field_names),
            "precision": precision, "scale": scale,
        }

    # reader: union<struct<a:bigint,b:string>, string>
    r_types = [
        t("union", [1, 4]),
        t("struct", [2, 3], ["a", "b"]), t("bigint"), t("string"),
        t("string"),
    ]
    # file: union<struct<a:int>, string>
    f_types = [
        t("union", [1, 3]),
        t("struct", [2], ["a"]), t("int"),
        t("string"),
    ]
    assert evo.type_covers(r_types, 0, f_types, 0)
    conv = evo.make_converter(r_types, 0, f_types, 0, None, None)
    assert conv is not None
    assert conv({"_tag": 0, "f0": {"a": 7}, "f1": None}) == {
        "_tag": 0, "f0": {"a": 7, "b": None}, "f1": None,
    }
    assert conv({"_tag": 1, "f0": None, "f1": "x"}) == {
        "_tag": 1, "f0": None, "f1": "x",
    }
    assert conv(None) is None
    # identical union schemas stay on the identity fast path
    assert evo.make_converter(f_types, 0, f_types, 0, None, None) is None


def test_java_fp_str_roundtrip_property():
    """_java_fp_str must render the SHORTEST string that round-trips:
    float(render(v)) == v exactly, across magnitudes (both the plain
    1e-3..1e7 window and scientific notation), and the float32 single
    path must round-trip through float32."""
    import struct as s

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.evolution_native import (
        _f32,
        _java_fp_str,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.floats(allow_nan=False, allow_infinity=False))
    def check_double(v):
        r = _java_fp_str(v)
        assert float(r) == v, (v, r)
        assert "E" in r or "." in r  # Java always shows a decimal form

    @settings(max_examples=300, deadline=None)
    @given(st.floats(allow_nan=False, allow_infinity=False, width=32))
    def check_single(v):
        r = _java_fp_str(v, single=True)
        assert _f32(float(r)) == v, (v, r)

    check_double()
    check_single()


def test_nested_bloom_filter_pruning(spark, tmp_path):
    """Bloom filters on NESTED columns (I2 x P2): the Java writer
    accepts dotted names in orc.bloom.filter.columns, the bloom index
    is keyed by the nested field's own column id, and a point-equals
    SArg on the sub-field engages it. Layout is UNSORTED on the
    predicate field, so min/max ranges cover everything and ONLY the
    bloom can skip row groups — the s3 isolation pattern, one level
    down."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import (
        pick_row_groups,
    )

    # id-sorted => cust.tag (id*7919 % 10007) is uniform per group
    df = spark.range(20000).select(
        "id",
        F.struct(
            ((F.col("id") * 7919) % 10007).alias("tag"),
            (F.col("id") % 5).alias("small"),
        ).alias("cust"),
    )
    out = str(tmp_path / "nested_bloom")
    (
        df.coalesce(1)
        .write.option("orc.row.index.stride", "1000")
        .option("orc.bloom.filter.columns", "cust.tag")
        .option("orc.bloom.filter.fpp", "0.01")
        .orc(out)
    )
    path = sorted(glob.glob(os.path.join(out, "*.orc")))[0]
    probe = (12345 * 7919) % 10007  # present in exactly one row group
    tree = ("equals", "cust.tag", probe)
    with_bloom = pick_row_groups(path, tree, use_bloom=True)
    without = pick_row_groups(path, tree, use_bloom=False)
    kept_b = sum(d["keep"] for per in with_bloom for d in per)
    kept_n = sum(d["keep"] for per in without for d in per)
    total = sum(len(per) for per in without)
    # min/max cannot prune the uniform groups; the nested bloom must
    assert kept_n == total
    assert kept_b < total
    # zero false negatives: the group holding the probe row survives,
    # and the decoded scan returns exactly the planted row
    rows = []
    for res in sd.scan_file_evolved(path, tree, ["id", "cust.tag"]):
        rows.extend(
            (i, c["tag"]) for i, c in
            zip(res["columns"]["id"], res["columns"]["cust"])
        )
    assert (12345, probe) in rows
    assert all(t == probe for i, t in rows if i == 12345)


# ---------------------------------------------------------------------------
# FORCED + ACID positional evolution (round-12 verdict Next #3):
# `orc.force.positional.evolution` (OrcConf.java:141-145) reconciles
# by index even when files carry real names, and ACID files reconcile
# TWO structure levels — the event wrapper plus the `row` struct
# (SchemaEvolution.java:93-96 `positionalLevels = isAcid ? 2 : 1`,
# recursion at buildConversion:398-424).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def legacy_named_lake(spark, tmp_path_factory):
    """Two generations with REAL but DIFFERENT names — the Hive 2.1
    compatibility case force-positional exists for: name-based
    evolution would read the old generation as all-missing."""
    import pyspark.sql.functions as F

    base = tmp_path_factory.mktemp("forcelake")
    stride = {"orc.row.index.stride": 1000}
    old = _write_one_orc(
        spark,
        spark.range(3000).select(
            F.col("id").cast("int").alias("order_id"),
            F.concat(F.lit("n"), (F.col("id") % 5).cast("string")).alias("stat"),
        ),
        str(base / "old"),
        **stride,
    )
    new = _write_one_orc(
        spark,
        spark.range(3000, 6000).select(
            "id",
            F.concat(F.lit("n"), (F.col("id") % 5).cast("string")).alias("name"),
            (F.col("id") % 11).cast("double").alias("extra"),
        ),
        str(base / "new"),
        **stride,
    )
    lake = base / "lake"
    lake.mkdir()
    import shutil

    shutil.copy(old, lake / "a_old.orc")
    shutil.copy(new, lake / "b_new.orc")
    return {
        "files": sorted(glob.glob(str(lake / "*.orc"))),
        "old": str(lake / "a_old.orc"),
        "new": str(lake / "b_new.orc"),
    }


@pytest.fixture(scope="module")
def acid_positional_lake(spark, tmp_path_factory):
    """An ACID table (root struct = the exact acidEventFieldNames,
    SchemaEvolution.checkAcidSchema:468-476) whose OLD delta was
    written by a pre-HIVE-4243 writer — the inner `row` struct has
    `_colN` placeholders (hasColumnNames on getBaseRow is false,
    SchemaEvolution.java:97) — and whose NEW delta carries real row
    names plus an added field."""
    import pyspark.sql.functions as F

    base = tmp_path_factory.mktemp("acidposlake")
    stride = {"orc.row.index.stride": 1000}

    def events(lo, hi, txn, row_cols):
        return spark.range(lo, hi).select(
            F.lit(0).alias("operation"),
            F.lit(txn).cast("bigint").alias("originalTransaction"),
            (F.col("id") % 4).cast("int").alias("bucket"),
            F.col("id").alias("rowId"),
            F.lit(txn).cast("bigint").alias("currentTransaction"),
            F.struct(*row_cols).alias("row"),
        )

    old = _write_one_orc(
        spark,
        events(
            0, 3000, 1,
            [
                F.col("id").cast("int").alias("_col0"),
                F.concat(F.lit("n"), (F.col("id") % 5).cast("string")).alias("_col1"),
            ],
        ),
        str(base / "old"),
        **stride,
    )
    new = _write_one_orc(
        spark,
        events(
            3000, 6000, 2,
            [
                F.col("id").alias("id"),
                F.concat(F.lit("n"), (F.col("id") % 5).cast("string")).alias("name"),
                (F.col("id") % 11).cast("double").alias("extra"),
            ],
        ),
        str(base / "new"),
        **stride,
    )
    lake = base / "lake"
    lake.mkdir()
    import shutil

    shutil.copy(old, lake / "a_old.orc")
    shutil.copy(new, lake / "b_new.orc")
    return {
        "files": sorted(glob.glob(str(lake / "*.orc"))),
        "old": str(lake / "a_old.orc"),
        "new": str(lake / "b_new.orc"),
    }


def test_positional_levels_rules(positional_lake, legacy_named_lake,
                                 acid_positional_lake):
    """SchemaEvolution.java:93-113 parity for the level count."""
    flat_pos = parse_tail_of_file(positional_lake["old"])
    flat_named = parse_tail_of_file(legacy_named_lake["old"])
    acid_pos = parse_tail_of_file(acid_positional_lake["old"])
    acid_named = parse_tail_of_file(acid_positional_lake["new"])
    assert evo.positional_levels(flat_pos) == 1
    assert evo.positional_levels(flat_named) == 0
    assert evo.positional_levels(flat_named, force=True) == 1
    assert evo.is_acid(acid_pos) and evo.is_acid(acid_named)
    # the missing-names check runs on the BASE ROW for ACID files
    assert evo.positional_levels(acid_pos) == 2
    assert evo.positional_levels(acid_named) == 0
    assert evo.positional_levels(acid_named, force=True) == 2


def test_positional_name_map_two_levels(acid_positional_lake):
    reader = parse_tail_of_file(acid_positional_lake["new"])
    file = parse_tail_of_file(acid_positional_lake["old"])
    m = evo.positional_name_map(reader, file, levels=2)
    # wrapper names are identical (identity pairs are omitted); only
    # the row-struct pairs materialize, dotted
    assert m == {"row.id": "row._col0", "row.name": "row._col1"}
    assert evo.rename_path("row.id", m) == "row._col0"
    assert evo.rename_path("rowId", m) == "rowId"  # not a prefix match


def test_forced_positional_covers_and_election(legacy_named_lake):
    old_meta = parse_tail_of_file(legacy_named_lake["old"])
    new_meta = parse_tail_of_file(legacy_named_lake["new"])
    # name-based: neither side covers the other (disjoint names)
    assert not evo.covers(new_meta, old_meta)
    # forced: positional pairing + int->bigint widening covers
    assert evo.covers(new_meta, old_meta, force_positional=True)
    assert not evo.covers(old_meta, new_meta, force_positional=True)
    p, _ = evo.elect_reader_path(
        legacy_named_lake["files"], force_positional=True
    )
    assert p == legacy_named_lake["new"]


def test_forced_positional_scan_translates_and_prunes(legacy_named_lake):
    reader_meta = parse_tail_of_file(legacy_named_lake["new"])
    audit = {}
    got = []
    for res in sd.scan_file_evolved(
        legacy_named_lake["old"], ("less_than", "id", 1000),
        ["id", "name", "extra"], audit, reader_meta=reader_meta,
        force_positional=True,
    ):
        got.extend(
            zip(res["columns"]["id"], res["columns"]["name"],
                res["columns"]["extra"])
        )
    assert audit.get("evolution_positional") == 1
    # the reader-name predicate translated to order_id and PRUNED
    assert "evolution_keep_all" not in audit
    assert audit["groups_decoded"] < audit["groups_total"]
    assert all(e is None for _, _, e in got)
    assert all(n == f"n{i % 5}" for i, n, _ in got)
    assert {i for i, _, _ in got} >= set(range(1000))


def test_forced_positional_off_refuses_unresolvable(legacy_named_lake):
    """Without force, name-based evolution treats the legacy names as
    MISSING reader columns (the reference default; force is an
    explicit opt-in) — and since here NONE of the requested columns
    resolve, the scan refuses loudly via the all-columns-missing guard
    rather than returning an all-NULL frame or positional values."""
    reader_meta = parse_tail_of_file(legacy_named_lake["new"])
    with pytest.raises(ValueError, match="none of the requested"):
        list(
            sd.scan_file_evolved(
                legacy_named_lake["old"], None, ["id", "name", "extra"],
                reader_meta=reader_meta,
            )
        )


def test_forced_positional_through_read_planned_lake(spark, legacy_named_lake):
    df = sd.read_planned_lake(
        spark, legacy_named_lake["files"], None, ["id", "name", "extra"],
        force_positional=True,
    )
    rows = df.orderBy("id").collect()
    assert len(rows) == 6000
    assert [r["id"] for r in rows] == list(range(6000))
    assert rows[0]["extra"] is None and rows[3000]["extra"] == 3000 % 11
    assert rows[17]["name"] == "n2"


def test_read_planned_lake_explicit_reader_path(spark, legacy_named_lake):
    """`reader_path` (the table-catalog case) skips the election and
    reads every file under the NAMED file's schema — same results as
    the elected path here, since election picks that file anyway."""
    import pyspark.sql.functions as F

    df = sd.read_planned_lake(
        spark, legacy_named_lake["files"],
        ("between", "id", [100, 299]), ["id", "name", "extra"],
        reader_path=legacy_named_lake["new"], force_positional=True,
    )
    rows = (
        df.filter(F.col("id").between(100, 299)).orderBy("id").collect()
    )
    assert [r["id"] for r in rows] == list(range(100, 300))
    assert all(r["extra"] is None for r in rows)  # old generation band


def test_acid_two_level_scan(acid_positional_lake):
    """The old delta's row struct reconciles by POSITION under the
    reader (new delta) schema: values surface under the reader's row
    field names, the added field NULL-fills, and a predicate on the
    ROW FIELD translates into the _colN namespace and still prunes
    row groups (int->bigint is PPD-safe)."""
    reader_meta = parse_tail_of_file(acid_positional_lake["new"])
    audit = {}
    got = []
    cols = ["operation", "rowId", "currentTransaction", "row"]
    for res in sd.scan_file_evolved(
        acid_positional_lake["old"], ("less_than", "row.id", 1000),
        cols, audit, reader_meta=reader_meta,
    ):
        got.extend(
            zip(res["columns"]["rowId"], res["columns"]["row"],
                res["columns"]["currentTransaction"])
        )
    assert audit.get("evolution_positional") == 2
    assert "evolution_keep_all" not in audit
    assert audit["groups_decoded"] < audit["groups_total"]
    for rid, row, txn in got:
        assert set(row) == {"id", "name", "extra"}
        assert row["id"] == rid and txn == 1
        assert row["name"] == f"n{rid % 5}"
        assert row["extra"] is None
    assert {rid for rid, _, _ in got} >= set(range(1000))


def test_acid_two_level_election_and_lake(spark, acid_positional_lake):
    """No force needed: the pre-HIVE-4243 ACID delta auto-detects
    (missing names on the base row), the new delta's schema covers it
    positionally at two levels, and the lake reads merged."""
    old_meta = parse_tail_of_file(acid_positional_lake["old"])
    new_meta = parse_tail_of_file(acid_positional_lake["new"])
    assert evo.covers(new_meta, old_meta)
    p, _ = evo.elect_reader_path(acid_positional_lake["files"])
    assert p == acid_positional_lake["new"]
    df = sd.read_planned_lake(
        spark, acid_positional_lake["files"], None,
        ["rowId", "currentTransaction", "row"],
    )
    rows = df.orderBy("rowId").collect()
    assert len(rows) == 6000
    assert rows[10]["row"]["id"] == 10 and rows[10]["row"]["extra"] is None
    assert rows[4000]["row"]["extra"] == 4000 % 11
    assert rows[10]["currentTransaction"] == 1
    assert rows[4000]["currentTransaction"] == 2


def test_union_branch_count_mismatch_raises():
    """r12 ADVICE: an explicit reader schema whose union has a
    different branch count must fail loudly (canConvert parity), not
    silently truncate the zip."""
    def union_meta(n):
        types = [
            {"kind": "struct", "field_names": ["u"], "subtypes": [1],
             "precision": None, "scale": None, "max_length": None},
            {"kind": "union", "field_names": None,
             "subtypes": list(range(2, 2 + n)),
             "precision": None, "scale": None, "max_length": None},
        ]
        for _ in range(n):
            types.append(
                {"kind": "int", "field_names": None, "subtypes": None,
                 "precision": None, "scale": None, "max_length": None}
            )
        return {"types": types}

    with pytest.raises(ValueError, match="union branch counts differ"):
        evo.make_converter(
            union_meta(2)["types"], 1, union_meta(3)["types"], 1, None, None
        )


def test_explain_lake_scan_positional_translation(positional_lake):
    """r12 ADVICE: the diagnostic must mirror the scan's positional
    map — a _colN file reports REAL pruning and planned bytes, not a
    false keep-all with no columns."""
    rep = sd.explain_lake_scan(
        positional_lake["files"], ("less_than", "id", 1000),
        ["id", "name", "extra"],
    )
    by = {os.path.basename(r["path"]): r for r in rep}
    old, new = by["a_old.orc"], by["b_new.orc"]
    # the predicate translated into _col0's namespace and prunes
    assert old["keep"] is True
    assert old["groups_kept"] < old["groups_total"]
    assert old["bytes_planned"] > 0  # columns resolved via the map
    assert new["keep"] is False  # ids 3000+ — whole file skipped


def test_election_cache_across_loads(spark, positional_lake, monkeypatch):
    """r12 ADVICE: the orc_native election runs ONCE per (path,
    fingerprint) across loads — a second plan over an unchanged lake
    must not repeat the O(files) tail sweep."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import pyds

    calls = {"n": 0}
    real = evo.elect_reader_path

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(evo, "elect_reader_path", counting)
    pyds._ELECTION_CACHE.clear()
    cls = pyds._build_orc_native_class()
    lake_dir = os.path.dirname(positional_lake["old"])
    for _ in range(2):
        src = cls(options={"path": lake_dir})
        assert "bigint" in src.schema().simpleString()
    assert calls["n"] == 1
    # a changed lake re-elects
    import shutil

    shutil.copy(positional_lake["new"], os.path.join(lake_dir, "c_copy.orc"))
    try:
        src = cls(options={"path": lake_dir})
        src.schema()
        assert calls["n"] == 2
    finally:
        os.remove(os.path.join(lake_dir, "c_copy.orc"))
        pyds._ELECTION_CACHE.clear()


def test_s29_acid_positional_prunes_translated(spark):
    """The graded ACID-positional query's pushdown PROOF: the
    `row.o_orderkey BETWEEN` predicate translates into the old delta's
    `row._col0` namespace and skips at least one whole old file on the
    nested footer stats (the old delta is range-partitioned by _col0,
    and 400..1100 misses the low range entirely), while the ACID
    wrapper columns ride along untouched."""
    import glob as g

    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import (
        _S29_HI,
        _S29_LO,
        _s29_stage,
    )

    dest = _s29_stage(spark, "/root/testdata/sf0.01")
    files = sorted(g.glob(os.path.join(dest, "*.orc")))
    assert len(files) == 5  # 2 old + 2 new + 1 delete
    rep = sd.explain_lake_scan(
        files, ("between", "row.o_orderkey", [_S29_LO, _S29_HI]),
        ["operation", "rowId", "currentTransaction", "row"],
    )
    by = {os.path.basename(r["path"]): r for r in rep}
    old = [v for k, v in by.items() if k.startswith("a_d1")]
    new = [v for k, v in by.items() if k.startswith("b_d2")]
    # the low-range _colN file skips WHOLE on the translated predicate
    assert any(not v["keep"] for v in old)
    # the high-range new file skips too (plain nested stats)
    assert any(not v["keep"] for v in new)
    # survivors plan real bytes (columns resolved through the map)
    kept = [v for v in rep if v["keep"]]
    assert kept and all(v["bytes_planned"] > 0 for v in kept)


def test_tolerate_missing_schema_off_raises(positional_lake):
    """`orc.tolerate.missing.schema` parity (OrcConf.java:85-89,
    default true; SchemaEvolution.java:98-110): with tolerance OFF an
    auto-detected pre-HIVE-4243 file whose schema differs from the
    reader's fails loudly instead of best-effort positional
    reconciliation; force_positional remains an explicit opt-in and
    is exempt."""
    reader_meta = parse_tail_of_file(positional_lake["new"])
    with pytest.raises(RuntimeError, match="schema metadata is missing"):
        list(
            sd.scan_file_evolved(
                positional_lake["old"], None, ["id", "name"],
                reader_meta=reader_meta, tolerate_missing_schema=False,
            )
        )
    # force is exempt (the reference gates the RuntimeException on the
    # NON-forced branch only)
    got = []
    for res in sd.scan_file_evolved(
        positional_lake["old"], None, ["id", "name"],
        reader_meta=reader_meta, force_positional=True,
        tolerate_missing_schema=False,
    ):
        got.extend(res["columns"]["id"])
    assert len(got) == 3000


def test_positional_pairing_property():
    """Property pin for the positional machinery against a naive
    model: for random reader/file struct shapes, (a) positional_name_map
    pairs exactly the joint-width index pairs at each positional
    level, (b) rename_path carries deeper name-based segments through
    the longest mapped prefix, and (c) the make_converter positional
    struct arm reproduces a naive index-paired rekey + NULL-fill."""
    import random

    rng = random.Random(13)

    def t_struct(names, subtypes):
        return {"kind": "struct", "field_names": list(names),
                "subtypes": list(subtypes), "precision": None,
                "scale": None, "max_length": None}

    def t_int():
        return {"kind": "int", "field_names": None, "subtypes": None,
                "precision": None, "scale": None, "max_length": None}

    for trial in range(50):
        n_r = rng.randint(1, 5)
        n_f = rng.randint(1, 5)
        # reader: real names; file: sometimes _colN, sometimes legacy
        r_names = [f"c{i}" for i in range(n_r)]
        f_names = (
            [f"_col{i}" for i in range(n_f)]
            if rng.random() < 0.5
            else [f"legacy{i}" for i in range(n_f)]
        )
        r_types = [t_struct(r_names, range(1, n_r + 1))] + [t_int()] * n_r
        f_types = [t_struct(f_names, range(1, n_f + 1))] + [t_int()] * n_f
        reader = {"types": r_types}
        file = {"types": f_types}
        m = evo.positional_name_map(reader, file, levels=1)
        joint = min(n_r, n_f)
        expect = {
            rn: fn for rn, fn in zip(r_names[:joint], f_names[:joint])
            if rn != fn
        }
        assert m == expect, (trial, m, expect)
        # dotted passthrough below the positional level
        for i in range(joint):
            assert evo.rename_path(f"{r_names[i]}.x.y", m) == f"{f_names[i]}.x.y"
        # converter model: index-paired rekey, NULL-fill past the width
        conv = evo.make_converter(
            r_types, 0, f_types, 0, None, None, positional_levels=1
        )
        row = {fn: i * 10 for i, fn in enumerate(f_names)}
        want = {
            rn: (i * 10 if i < n_f else None)
            for i, rn in enumerate(r_names)
        }
        # reader and file name pools are disjoint here, so the rekey
        # always materializes (the identity fast path is pinned by
        # test_acid_two_level_election_and_lake on same-schema files)
        assert conv is not None
        assert conv(row) == want, (trial, conv(row), want)
        assert conv(None) is None


def test_acid_positional_through_orc_native(spark, acid_positional_lake):
    """The ACID two-level positional lake through the orc_native
    DataSource surface: election pairs the _colN row struct with the
    named delta positionally (no option needed — auto-detect on the
    base row), the row struct surfaces under reader field names, and
    a pushed row-field predicate still returns exact results."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    lake = os.path.dirname(acid_positional_lake["old"])
    df = (
        spark.read.format("orc_native")
        .option("path", lake)
        .option("columns", "rowId,currentTransaction,row")
        .load()
    )
    assert dict(df.dtypes)["row"].startswith("struct<id:bigint")
    rows = (
        df.filter(F.col("row.id") < 100).orderBy("rowId").collect()
    )
    assert len(rows) == 100
    assert all(r["row"]["id"] == r["rowId"] for r in rows)
    assert all(r["row"]["extra"] is None for r in rows)  # old delta
    assert all(r["currentTransaction"] == 1 for r in rows)
    new_rows = df.filter(F.col("row.id").between(3000, 3009)).collect()
    assert len(new_rows) == 10
    assert all(r["row"]["extra"] is not None for r in new_rows)


def test_tolerate_missing_schema_checks_file_not_reader(spark, tmp_path):
    """Review finding (r13): the reference's strict-mode check runs on
    the FILE schema regardless of the reader's own names
    (SchemaEvolution.java:97-110) — so a lake whose elected reader is
    ITSELF a _colN schema must still refuse best-effort positional
    reconciliation of a differing _colN file when tolerance is off."""
    import pyspark.sql.functions as F

    narrow = _write_one_orc(
        spark,
        spark.range(100).select(
            F.col("id").cast("int").alias("_col0"),
        ),
        str(tmp_path / "narrow"),
    )
    wide = _write_one_orc(
        spark,
        spark.range(100, 200).select(
            F.col("id").alias("_col0"),
            (F.col("id") % 5).alias("_col1"),
        ),
        str(tmp_path / "wide"),
    )
    reader_meta = parse_tail_of_file(wide)
    assert evo.is_positional(reader_meta)
    with pytest.raises(RuntimeError, match="schema metadata is missing"):
        list(
            sd.scan_file_evolved(
                narrow, None, ["_col0", "_col1"],
                reader_meta=reader_meta, tolerate_missing_schema=False,
            )
        )
    # tolerant default: names align (both _colN), reads fine
    got = []
    for res in sd.scan_file_evolved(
        narrow, None, ["_col0", "_col1"], reader_meta=reader_meta
    ):
        got.extend(zip(res["columns"]["_col0"], res["columns"]["_col1"]))
    assert len(got) == 100 and all(c1 is None for _, c1 in got)


def test_bloom_pruning_through_positional_translation(spark, tmp_path):
    """I2 × positional-C1 intersection: a bloom filter written on a
    pre-HIVE-4243 file's `_col0` engages when the predicate arrives
    under the READER's column name — the positional rename happens
    before row-group picking, so bloom indexes (keyed by the file's
    own column ids) prune exactly as on named files."""
    import pyspark.sql.functions as F

    # values spaced so min/max can never prune (uniform per group);
    # only the bloom can reject the absent probe
    old = _write_one_orc(
        spark,
        spark.range(4000).select(
            ((F.col("id") * 7919) % 10007).cast("int").alias("_col0"),
            (F.col("id") % 3).cast("string").alias("_col1"),
        ),
        str(tmp_path / "old"),
        **{"orc.row.index.stride": 1000,
           "orc.bloom.filter.columns": "_col0",
           "orc.bloom.filter.fpp": "0.01"},
    )
    new = _write_one_orc(
        spark,
        spark.range(10).select(
            F.col("id").cast("bigint").alias("k"),
            F.lit("x").alias("tag"),
        ),
        str(tmp_path / "new"),
        **{"orc.row.index.stride": 1000},
    )
    reader_meta = parse_tail_of_file(new)
    probe = (123 * 7919) % 10007  # present in exactly one row group
    audit = {}
    got = []
    for res in sd.scan_file_evolved(
        old, ("equals", "k", probe), ["k", "tag"], audit,
        reader_meta=reader_meta,
    ):
        got.extend(res["columns"]["k"])
    assert audit.get("evolution_positional") == 1
    # min/max cannot prune the uniform layout; the bloom must
    assert audit["groups_decoded"] < audit["groups_total"]
    assert probe in got  # zero false negatives through the rename


# ---------------------------------------------------------------------------
# explain == scan: both run off one FileScanPlan per file
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def s29_acid_lake(spark):
    """s29's graded ACID lake: an old `_colN` delta, a named new delta
    and a delete delta, staged at sf0.01."""
    import glob as g

    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import (
        _s29_stage,
    )

    dest = _s29_stage(spark, "/root/testdata/sf0.01")
    return {"files": sorted(g.glob(os.path.join(dest, "*.orc")))}


_ACID_COLS = ["operation", "rowId", "currentTransaction", "row"]
_EXPLAIN_CASES = [
    ("evolved_lake", ("equals", "w", "w6100"), ["id", "w"], False),
    ("evolved_lake", ("less_than", "id", 1000), ["id", "st"], False),
    ("evolved_lake", ("equals", "v", 5.0), ["id", "v"], False),
    ("positional_lake", ("less_than", "id", 1000),
     ["id", "name", "extra"], False),
    ("legacy_named_lake", ("less_than", "id", 1000), ["id", "name"], True),
    ("acid_positional_lake", ("less_than", "row.id", 1000), _ACID_COLS,
     False),
    ("s29_acid_lake", ("between", "row.o_orderkey", [400, 1100]),
     _ACID_COLS, False),
    ("range_lake", ("between", "id", [12000, 13999]), ["id", "v", "s"],
     False),
]  # fmt: skip


@pytest.mark.parametrize("lake,tree,cols,force", _EXPLAIN_CASES)
def test_explain_equals_scan(request, lake, tree, cols, force):
    """explain_lake_scan reports exactly the plan each file's scan
    executes: its summary equals the per-file scan plan field for
    field, the scan decodes exactly the groups the plan keeps, and it
    fetches no more bytes than the plan planned."""
    files = request.getfixturevalue(lake)["files"]
    rep = sd.explain_lake_scan(files, tree, cols, force_positional=force)
    _, reader_meta = evo.elect_reader_meta(files, force_positional=force)
    assert [r["path"] for r in rep] == files
    for r in rep:
        plan = sd.plan_file_scan(
            r["path"], tree, cols, reader_meta=reader_meta,
            force_positional=force,
        )
        assert r == plan.summary()
        audit: dict = {}
        for _ in sd.scan_file_evolved(
            r["path"], tree, cols, audit, reader_meta=reader_meta,
            force_positional=force,
        ):
            pass
        assert audit["file_kept"] is r["keep"]
        assert audit.get("evolution_keep_all", False) is (
            r["keep_all_reason"] is not None
        )
        if r["keep"]:
            assert audit["groups_decoded"] == r["groups_kept"]
            assert audit["groups_total"] == r["groups_total"]
            assert audit["bytes_fetched"] <= r["bytes_planned"]
    if tree == ("equals", "v", 5.0):
        # float->double is PPD-unsafe: the older generations keep all
        reasons = {os.path.basename(r["path"]): r["keep_all_reason"] for r in rep}
        assert reasons["c_gen0.orc"] == "ppd-unsafe conversion"
        assert reasons["a_gen2.orc"] is None


@pytest.mark.parametrize("lake,tree,cols,force", _EXPLAIN_CASES)
def test_scan_explain_is_the_plan_of_the_predicate_columns(request, lake, tree, cols, force):
    """`orc_scan_explain` reports each file's own scan plan over the
    predicate's columns: its file verdict, row groups and bytes are
    the plan's. A file that cannot prune on the predicate raises, as
    `scan_file` does."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import _tree_columns
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import orc_scan_explain

    pred = sorted(_tree_columns(tree))
    explained = 0
    for path in request.getfixturevalue(lake)["files"]:
        try:
            plan = sd.plan_file_scan(path, tree, pred)
        except (KeyError, ValueError) as e:  # the predicate does not resolve here
            with pytest.raises(type(e)):
                orc_scan_explain(path, tree)
            continue
        if plan.keep_all_reason:
            with pytest.raises(KeyError):
                orc_scan_explain(path, tree)
            continue
        rep = orc_scan_explain(path, tree)
        summary = plan.summary()
        assert (rep["truth"], rep["keep"]) == (summary["truth"], summary["keep"])
        assert rep["row_groups"] == plan.picks
        assert rep["n_row_groups_kept"] == summary.get("groups_kept", 0)
        assert (rep["bytes_planned"], rep["bytes_total_data"]) == (
            summary.get("bytes_planned", 0), summary.get("bytes_total_data", 0)
        )
        explained += 1
    assert explained


# ---------------------------------------------------------------------------
# declared Spark schema: pinned per lake fixture, for both native readers
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def typed_lake(spark, tmp_path_factory):
    """Two files covering every primitive kind the Arrow exchange maps,
    timestamps included (also nested), plus struct/list/map."""
    import pyspark.sql.functions as F

    out = str(tmp_path_factory.mktemp("typedlake") / "lake")
    ts = F.lit("2013-06-01 01:02:03.456789").cast("timestamp") + F.make_interval(
        hours=F.col("id").cast("int")
    )
    (
        spark.range(4000)
        .select(
            "id",
            F.col("id").cast("int").alias("i32"),
            (F.col("id") % 100).cast("smallint").alias("i16"),
            (F.col("id") % 64).cast("tinyint").alias("i8"),
            (F.col("id") % 2 == 0).alias("flag"),
            (F.col("id") * F.lit(0.25)).cast("float").alias("f32"),
            (F.col("id") / F.lit(7.0)).alias("f64"),
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 500).cast("int")).alias("d"),
            F.when(F.col("id") % 5 != 0, ts).alias("ts"),
            (F.col("id") * F.lit(7) / F.lit(4)).cast("decimal(14,3)").alias("dec"),
            F.md5(F.col("id").cast("string")).alias("s"),
            F.col("id").cast("string").cast("binary").alias("b"),
            F.struct(F.col("id").cast("int").alias("a"), ts.alias("t")).alias("st"),
            F.array(ts, ts).alias("arr"),
            F.create_map(F.lit("k"), (F.col("id") / 4).cast("decimal(10,2)")).alias("m"),
        )
        .repartitionByRange(2, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .orc(out)
    )
    return {"files": sorted(glob.glob(os.path.join(out, "*.orc")))}


_TYPED_COLS = [
    "id", "i32", "i16", "i8", "flag", "f32", "f64", "d", "ts", "dec", "s",
    "b", "st", "arr", "m",
]  # fmt: skip
_ACID_ROW = "struct<operation:int,rowId:bigint,currentTransaction:bigint,row:struct<{}>>"
# (columns, force_positional, simpleString the DDL mapping declared)
_SCHEMA_CASES = {
    "evolved_lake": (
        ["id", "v", "st", "w"], False,
        "struct<id:bigint,v:double,st:struct<a:bigint,b:string>,w:string>",
    ),
    "positional_lake": (
        ["id", "name", "extra"], False,
        "struct<id:bigint,name:string,extra:double>",
    ),
    "legacy_named_lake": (["id", "name"], True, "struct<id:bigint,name:string>"),
    "acid_positional_lake": (
        _ACID_COLS, False, _ACID_ROW.format("id:bigint,name:string,extra:double"),
    ),
    "s29_acid_lake": (
        _ACID_COLS, False,
        _ACID_ROW.format(
            "o_orderkey:bigint,o_orderstatus:string,o_totalprice:double,o_custkey:bigint"
        ),
    ),
    "range_lake": (["id", "v", "s"], False, "struct<id:bigint,v:int,s:string>"),
    "typed_lake": (
        _TYPED_COLS, False,
        "struct<id:bigint,i32:int,i16:smallint,i8:tinyint,flag:boolean,f32:float,"
        "f64:double,d:date,ts:timestamp,dec:decimal(14,3),s:string,b:binary,"
        "st:struct<a:int,t:timestamp>,arr:array<timestamp>,m:map<string,decimal(10,2)>>",
    ),
}  # fmt: skip


@pytest.mark.parametrize("lake", sorted(_SCHEMA_CASES))
def test_declared_schema_unchanged(request, spark, lake):
    """The Spark schema both native readers declare, derived from the
    one ORC-type → Arrow mapping, renders exactly as the DDL mapping
    it replaced did; tz-naive ORC timestamps stay Spark `timestamp`."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    cols, force, want = _SCHEMA_CASES[lake]
    files = request.getfixturevalue(lake)["files"]
    planned = sd.read_planned_lake(spark, files, None, cols, force_positional=force)
    register_orc_native(spark)
    native = (
        spark.read.format("orc_native")
        .option("path", os.path.dirname(files[0]))
        .option("columns", ",".join(cols))
        .option("force_positional", str(force).lower())
        .load()
    )
    assert planned.schema.simpleString() == native.schema.simpleString() == want


def test_typed_lake_values_match_spark_reader(spark, typed_lake):
    """Every kind, timestamps included, keeps its value through the
    Arrow exchange of both native readers under the UTC session."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    files = typed_lake["files"]
    register_orc_native(spark)
    want = sorted(spark.read.orc(files).select(*_TYPED_COLS).collect())
    planned = sd.read_planned_lake(spark, files, None, _TYPED_COLS).collect()
    native = (
        spark.read.format("orc_native")
        .option("path", os.path.dirname(files[0]))
        .option("columns", ",".join(_TYPED_COLS))
        .load()
        .collect()
    )
    assert len(want) == 4000
    assert sorted(planned) == want
    assert sorted(native) == want


@pytest.mark.parametrize("lake", sorted(_SCHEMA_CASES))
def test_arrow_parity_lakes(request, lake):
    """Every file of every declared-schema lake decodes to pyarrow's
    values under all / alternating / contiguous row-group picks, and
    the batches carry the elected reader's Arrow schema."""
    from tests.arrow_parity import check_file

    cols, force, _ = _SCHEMA_CASES[lake]
    files = request.getfixturevalue(lake)["files"]
    _, reader_meta = sd._reader_schema(files, None, force)
    assert sum(check_file(f, cols, reader_meta, force) for f in files) > 0

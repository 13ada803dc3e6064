"""Cross-implementation golden-file tests (reference §5.4 strategy:
`examples/*.orc` + `examples/expected/*.jsn.gz`): the engine reads the
reference's own canonical ORC files — written by ORC 1.4-era Java and
C++ writers, v0.11 and v0.12 formats, zlib/snappy codecs — and
matches the published expected contents.

Spark's native reader rejects `uniontype` files and future writer
versions; `sources/union_reader.read_orc_permissive` closes both gaps
by falling back to the engine's native decoder — unions decode into
the tagged-struct convention (functions/union_type.py), a NULL union
stays NULL, and future versions read permissively.
"""

from __future__ import annotations

import gzip
import json
import os

import pytest

EX = "/root/reference/examples"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(EX), reason="reference examples not present"
)

GOLDEN_ROWS = [
    ("demo-11-zlib.orc", 1_920_800, 9),   # v0.11 format (RLEv1 era)
    ("demo-12-zlib.orc", 1_920_800, 9),   # v0.12 format
    ("orc-file-11-format.orc", 7_500, 14),
    ("orc_split_elim.orc", 25_000, 5),
    ("orc_split_elim_new.orc", 25_000, 5),
    ("over1k_bloom.orc", 2_098, 11),
    ("decimal.orc", 6_000, 1),
    ("nulls-at-end-snappy.orc", 70_000, 7),
    ("TestOrcFile.testSnappy.orc", 10_000, 2),
    ("TestOrcFile.testDate1900.orc", 70_000, 2),
    ("TestOrcFile.testDate2038.orc", 212_000, 2),
    ("TestOrcFile.emptyFile.orc", 0, 12),
    ("TestOrcFile.columnProjection.orc", 21_000, 2),
    ("TestOrcFile.metaData.orc", 1, 12),
    ("TestOrcFile.testMemoryManagementV11.orc", 2_500, 2),
    ("TestOrcFile.testMemoryManagementV12.orc", 2_500, 2),
    ("TestOrcFile.testPredicatePushdown.orc", 3_500, 2),
    ("TestOrcFile.testSeek.orc", 32_768, 12),
    ("TestOrcFile.testStringAndBinaryStatistics.orc", 4, 2),
    ("TestOrcFile.testStripeLevelStats.orc", 11_000, 2),
    ("TestOrcFile.testWithoutIndex.orc", 50_000, 2),
    ("TestVectorOrcFile.testLz4.orc", 10_000, 3),
    # LZO: Spark's embedded Java ORC reads it; pyarrow's C++ ORC cannot
    ("TestVectorOrcFile.testLzo.orc", 10_000, 3),
]


@pytest.mark.parametrize("fname,rows,cols", GOLDEN_ROWS)
def test_reads_reference_golden(spark, fname, rows, cols):
    df = spark.read.orc(os.path.join(EX, fname))
    assert len(df.columns) == cols
    assert df.count() == rows


def test_test1_matches_expected_json(spark):
    """Deep value compare against the published expected dump
    (`examples/expected/TestOrcFile.test1.jsn.gz`)."""
    df = spark.read.orc(os.path.join(EX, "TestOrcFile.test1.orc"))
    got = sorted(
        (r.asDict(recursive=True) for r in df.collect()), key=lambda r: r["int1"]
    )
    with gzip.open(os.path.join(EX, "expected", "TestOrcFile.test1.jsn.gz")) as fh:
        want = sorted((json.loads(line) for line in fh), key=lambda r: r["int1"])
    assert len(got) == len(want) == 2
    for g, w in zip(got, want):
        for k in ["boolean1", "byte1", "short1", "int1", "long1", "float1", "double1", "string1"]:
            assert g[k] == w[k], (k, g[k], w[k])
        assert [e["int1"] for e in g["list"]] == [e["int1"] for e in w["list"]]


def test_decimal_golden_contents(spark):
    """decimal.orc: 6000 decimal(10,5) values; checksum vs the
    expected dump."""
    import pyspark.sql.functions as F

    df = spark.read.orc(os.path.join(EX, "decimal.orc"))
    got = df.agg(F.sum(F.col("_col0")).cast("string").alias("s")).collect()[0].s
    from decimal import Decimal

    with gzip.open(os.path.join(EX, "expected", "decimal.jsn.gz")) as fh:
        vals = [json.loads(line, parse_float=str)["_col0"] for line in fh]
    want = sum(Decimal(v) for v in vals if v is not None)
    assert Decimal(got) == want


def test_zero_rows_golden_with_explicit_schema(spark):
    """zero.orc: schema inference fails on a 0-row file, but an
    explicit reader schema (C1 evolution path) reads it — the
    reference's `zero.orc` case."""
    ddl = (
        "boolean1 boolean, byte1 tinyint, short1 smallint, int1 int,"
        " long1 bigint, float1 float, double1 double, bytes1 binary,"
        " string1 string,"
        " middle struct<list: array<struct<int1: int, string1: string>>>,"
        " list array<struct<int1: int, string1: string>>,"
        " map map<string, struct<int1: int, string1: string>>"
    )
    df = spark.read.schema(ddl).orc(os.path.join(EX, "zero.orc"))
    assert df.count() == 0
    assert len(df.columns) == 12


def test_split_elim_golden_layout(spark):
    """orc_split_elim.orc: the reference's split-elimination fixture —
    25k rows, disjoint userid ranges per row group; a point predicate
    must surface only one row-group's worth of rows from the scan."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.plans.inspect import scan_output_rows

    path = os.path.join(EX, "orc_split_elim.orc")
    df = spark.read.orc(path)
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("userid").alias("mn"),
        F.max("userid").alias("mx"),
    ).collect()[0]
    assert (stats.n, stats.mn, stats.mx) == (25_000, 2, 100)
    surfaced = scan_output_rows(
        spark.read.orc(path).filter(F.col("userid") == 2).select("userid")
    )
    assert 0 <= surfaced <= 10_000, surfaced


CHECKSUM_GOLDENS = [
    "TestOrcFile.columnProjection.orc",
    "TestOrcFile.testStripeLevelStats.orc",
    "TestOrcFile.testPredicatePushdown.orc",
    "TestOrcFile.testWithoutIndex.orc",
    "TestOrcFile.testMemoryManagementV11.orc",
    "TestOrcFile.testMemoryManagementV12.orc",
    "TestOrcFile.testSeek.orc",
    "TestOrcFile.metaData.orc",
]


@pytest.mark.parametrize("fname", CHECKSUM_GOLDENS)
def test_golden_int_string_checksums(spark, fname):
    """Value-level compare vs the published expected dumps for every
    (int1, string1)-bearing golden: row count, int1 sum + null count,
    string1 codepoint-length sum + distinct count must all match."""
    import pyspark.sql.functions as F

    df = spark.read.orc(os.path.join(EX, fname))
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("int1").cast("decimal(38,0)")).alias("s_int"),
        F.count("int1").alias("nn_int"),
        F.sum(F.length("string1")).alias("s_len"),
        F.count_distinct("string1").alias("nd_str"),
    ).collect()[0]
    exp_name = fname.replace(".orc", ".jsn.gz")
    with gzip.open(os.path.join(EX, "expected", exp_name)) as fh:
        rows = [json.loads(line) for line in fh]
    ints = [r["int1"] for r in rows if r["int1"] is not None]
    strs = [r["string1"] for r in rows if r["string1"] is not None]
    assert got.n == len(rows)
    assert (int(got.s_int) if got.s_int is not None else 0) == sum(ints)
    assert got.nn_int == len(ints)
    assert (got.s_len or 0) == sum(len(s) for s in strs)
    assert got.nd_str == len(set(strs))


DEEP_GOLDENS = [
    "TestOrcFile.testSnappy.orc",
    "TestOrcFile.testDate1900.orc",
    "nulls-at-end-snappy.orc",
    "over1k_bloom.orc",
    "orc_split_elim.orc",
    "orc_split_elim_new.orc",
    "orc-file-11-format.orc",
]


@pytest.mark.parametrize("fname", DEEP_GOLDENS)
def test_golden_schema_driven_checksums(spark, fname):
    """Schema-driven value compare against the expected dump for every
    remaining file with a published dump: integral/boolean columns by
    exact sum + null count, strings by codepoint-length sum + distinct
    count, date by min/max string, float/double/timestamp by non-null
    count (their rendering/summation is engine-specific)."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    df = spark.read.orc(os.path.join(EX, fname))
    exp_name = fname.replace(".orc", ".jsn.gz")
    with gzip.open(os.path.join(EX, "expected", exp_name)) as fh:
        rows = [json.loads(line) for line in fh]
    assert df.count() == len(rows)

    for field in df.schema.fields:
        c = field.name
        vals = [r.get(c) for r in rows]
        nn = [v for v in vals if v is not None]
        t = field.dataType
        if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            got = df.agg(
                F.sum(F.col(c).cast("decimal(38,0)")).alias("s"),
                F.count(c).alias("n"),
            ).collect()[0]
            assert got.n == len(nn), (fname, c)
            assert (int(got.s) if got.s is not None else 0) == sum(nn), (fname, c)
        elif isinstance(t, T.BooleanType):
            got = df.agg(
                F.count(F.when(F.col(c), 1)).alias("t"), F.count(c).alias("n")
            ).collect()[0]
            assert (got.t, got.n) == (sum(1 for v in nn if v), len(nn)), (fname, c)
        elif isinstance(t, T.StringType):
            got = df.agg(
                F.sum(F.length(c)).alias("l"),
                F.count_distinct(c).alias("d"),
                F.count(c).alias("n"),
            ).collect()[0]
            assert got.n == len(nn), (fname, c)
            assert (got.l or 0) == sum(len(v) for v in nn), (fname, c)
            assert got.d == len(set(nn)), (fname, c)
        elif isinstance(t, T.DateType):
            got = df.agg(
                F.min(F.col(c).cast("string")).alias("mn"),
                F.max(F.col(c).cast("string")).alias("mx"),
                F.count(c).alias("n"),
            ).collect()[0]
            assert (got.mn, got.mx, got.n) == (min(nn), max(nn), len(nn)), (fname, c)
        else:  # float/double/timestamp/decimal/nested: count parity only
            got = df.agg(F.count(c).alias("n")).collect()[0]
            assert got.n == len(nn), (fname, c)


def test_lzo_golden_contents(spark):
    """TestVectorOrcFile.testLzo.orc deep value compare — exercises the
    LZO codec path pyarrow lacks (reference
    `TestVectorOrcFile.testLzo`); checksums all 10k (x, y, z) rows
    against the expected dump."""
    import pyspark.sql.functions as F

    df = spark.read.orc(os.path.join(EX, "TestVectorOrcFile.testLzo.orc"))
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("z").cast("decimal(38,0)")).alias("sz"),  # z sums past int64
    ).collect()[0]
    with gzip.open(os.path.join(EX, "expected", "TestVectorOrcFile.testLzo.jsn.gz")) as fh:
        rows = [json.loads(line) for line in fh]
    assert got.n == len(rows) == 10_000
    assert got.sx == sum(r["x"] for r in rows)
    assert got.sy == sum(r["y"] for r in rows)
    assert int(got.sz) == sum(r["z"] for r in rows)


def test_date2038_golden_contents(spark):
    """TestOrcFile.testDate2038.orc: post-2038 timestamps and dates
    (32-bit-epoch hazard); count distinct dates and the min/max date
    vs the expected dump."""
    import pyspark.sql.functions as F

    df = spark.read.orc(os.path.join(EX, "TestOrcFile.testDate2038.orc"))
    got = df.agg(
        F.min(F.col("date").cast("string")).alias("mn"),
        F.max(F.col("date").cast("string")).alias("mx"),
        F.count_distinct("date").alias("nd"),
    ).collect()[0]
    with gzip.open(os.path.join(EX, "expected", "TestOrcFile.testDate2038.jsn.gz")) as fh:
        dates = {json.loads(line)["date"] for line in fh}
    assert (got.mn, got.mx, got.nd) == (min(dates), max(dates), len(dates))


def test_non_struct_toplevel_unsupported_everywhere(spark):
    """TestOrcFile.testTimestamp.orc has a bare top-level timestamp
    (not a struct) — rejected by Spark's reader AND the native
    fallback; the
    Java reference can write such files but the Hive/Spark data model
    cannot represent them. Documented divergence."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.union_reader import (
        read_orc_permissive,
    )

    path = os.path.join(EX, "TestOrcFile.testTimestamp.orc")
    with pytest.raises(Exception):
        read_orc_permissive(spark, path).count()


def test_union_type_file_via_shim(spark):
    """Spark's native reader rejects ORC uniontype files;
    read_orc_permissive decodes them with the native decoder into the
    tagged-struct convention. Deep value compare vs the published
    expected dump (`TestOrcFile.testUnionAndTimestamp.jsn.gz`,
    reference reader `TreeReaderFactory.java:1865-1949`): a NULL union
    is NULL, and a NULL-valued variant keeps its tag."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.union_reader import (
        read_orc_permissive,
    )

    path = os.path.join(EX, "TestOrcFile.testUnionAndTimestamp.orc")
    with pytest.raises(Exception):
        spark.read.orc(path).count()

    df = read_orc_permissive(spark, path)
    got = df.collect()
    with gzip.open(
        os.path.join(EX, "expected", "TestOrcFile.testUnionAndTimestamp.jsn.gz")
    ) as fh:
        want = [json.loads(line) for line in fh]
    assert len(got) == len(want) == 5077
    for g, w in zip(got, want):
        wu = w["union"]
        if wu is None:
            assert g.union is None
        elif wu["tag"] == 0:
            assert (g.union._tag, g.union.f0, g.union.f1) == (0, wu["value"], None)
        else:
            assert (g.union._tag, g.union.f0, g.union.f1) == (1, None, wu["value"])


def test_future_version_file_permissive(spark):
    """version1999.orc (writer version stamped 1999.0.999): Spark's
    native reader rejects it, the reference reads it permissively
    (`ReaderImpl.java` postscript handling) — as does the native
    fallback in read_orc_permissive."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.union_reader import (
        read_orc_permissive,
    )

    path = os.path.join(EX, "version1999.orc")
    with pytest.raises(Exception):
        spark.read.orc(path).count()
    assert read_orc_permissive(spark, path).count() == 0

"""Pure-Python ORC tail parser vs the reference's own Java reader
(cross-implementation check), plus the multi-file merge semantics the
round-1 review flagged (decimal sums must add numerically, not
string-concatenate; decimal min/max must compare numerically)."""

from __future__ import annotations

import glob
import os

import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import (
    footer_column_stats,
    footer_column_stats_py4j,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import parse_tail_of_file

EXAMPLES = "/root/reference/examples"


def test_parse_tail_reference_goldens():
    """Footer facts parsed from the reference's canonical files match
    the values its own tooling documents."""
    t = parse_tail_of_file(os.path.join(EXAMPLES, "orc_split_elim.orc"))
    assert t["n_rows"] == 25000 and t["compression"] == "NONE"
    cols = {c["name"]: c for c in t["columns"]}
    assert cols["userid"]["typed"] == {"min": 2, "max": 100, "sum": 2499619}
    assert cols["string1"]["typed"]["min"] == "bar"
    assert cols["string1"]["typed"]["max"] == "zebra"
    assert cols["subtype"]["typed"]["min"] == 0.8

    t = parse_tail_of_file(os.path.join(EXAMPLES, "demo-12-zlib.orc"))
    assert t["n_rows"] == 1920800 and t["compression"] == "ZLIB"

    t = parse_tail_of_file(os.path.join(EXAMPLES, "decimal.orc"))
    col = t["columns"][0]
    assert col["kind"] == "decimal"
    assert col["typed"] == {"min": "-1000.5", "max": "1999.2", "sum": "1998301.099"}
    # 6000 rows / 4000 values → nulls exist, but this pre-1.x writer
    # predates the hasNull footer field (proto field 10), so the footer
    # honestly reports the proto default
    assert col["n_values"] == 4000


def test_parse_tail_snappy_and_unsupported_codecs():
    t = parse_tail_of_file(os.path.join(EXAMPLES, "TestOrcFile.testSnappy.orc"))
    assert t["compression"] == "SNAPPY" and t["n_rows"] == 10000
    # LZ4 now decodes via the pure-Python block decoder
    t4 = parse_tail_of_file(os.path.join(EXAMPLES, "TestVectorOrcFile.testLz4.orc"))
    assert t4["compression"] == "LZ4" and t4["n_rows"] == 10000
    # LZO also decodes natively now (pure-Python LZO1X block decoder;
    # test_golden_corpus pins full value parity)
    tlzo = parse_tail_of_file(os.path.join(EXAMPLES, "TestVectorOrcFile.testLzo.orc"))
    assert tlzo["compression"] == "LZO" and tlzo["n_rows"] == 10000


def _norm(rows):
    # java.sql.Timestamp renders '... 00:00:00.0'; the Python parser
    # trims the zero fraction — normalize before comparing
    def cell(v):
        return v[:-2] if isinstance(v, str) and v.endswith(".0") and " " in v else v

    return sorted(tuple(cell(v) for v in r) for r in rows)


def test_distributed_stats_match_java_reader(spark, sf_dir):
    """The distributed pure-Python path and the ORC Java library agree
    on merged per-column stats over a multi-file lineitem directory
    (ints, doubles, strings, timestamp)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table, staged

    dest = staged(
        sf_dir,
        "orc/lineitem_tailtest",
        ["lineitem"],
        lambda p: write_orc(load_table(spark, sf_dir, "lineitem").repartition(3), p),
    )
    a = footer_column_stats(spark, dest).collect()
    b = footer_column_stats_py4j(spark, dest).collect()
    assert _norm(a) == _norm(b)


def test_decimal_multi_file_merge(spark, tmp_path):
    """Decimal sums across files add numerically and min/max compare
    numerically ('9.5' < '12.5' despite lexicographic order)."""
    import pyspark.sql.functions as F

    dest = str(tmp_path / "dec_orc")
    df = spark.range(0, 200).select(
        F.when(F.col("id") < 100, F.col("id") - 50)
        .otherwise(F.col("id") * 10)
        .cast("decimal(12,2)")
        .alias("d")
    )
    df.repartition(4).write.orc(dest)
    got = {r["column_name"]: r for r in footer_column_stats(spark, dest).collect()}
    exp = df.agg(
        F.min("d").alias("mn"), F.max("d").alias("mx"), F.sum("d").alias("sm")
    ).collect()[0]

    def canon(x):
        from decimal import Decimal

        return Decimal(str(x))

    assert canon(got["d"]["min_val"]) == canon(exp["mn"])
    assert canon(got["d"]["max_val"]) == canon(exp["mx"])
    assert canon(got["d"]["sum_val"]) == canon(exp["sm"])
    # the distributed and py4j paths agree on decimals too
    a = footer_column_stats(spark, dest).collect()
    b = footer_column_stats_py4j(spark, dest).collect()
    assert _norm(a) == _norm(b)


def test_parse_tail_multifile_formats():
    """Every NONE/ZLIB reference example parses without error and
    reports a plausible tail."""
    parsed = skipped = 0
    for f in sorted(glob.glob(os.path.join(EXAMPLES, "*.orc"))):
        try:
            t = parse_tail_of_file(f)
        except Exception:
            skipped += 1  # snappy/lzo/corrupt fixtures
            continue
        parsed += 1
        assert t["n_rows"] >= 0
        assert isinstance(t["columns"], list)
    assert parsed >= 15, f"only parsed {parsed} of the reference corpus"


def test_stripe_stats_golden_layout():
    """Metadata-section (per-stripe) statistics on the reference's
    stripe-stats fixture: 3 stripes of 5000/5000/1000 rows with int1
    min=max= 1/2/3 per stripe (`TestOrcFile.testStripeLevelStats`,
    reference `TestFileDump` expectations)."""
    t = parse_tail_of_file(
        os.path.join(EXAMPLES, "TestOrcFile.testStripeLevelStats.orc"),
        include_stripe_stats=True,
    )
    assert len(t["stripe_stats"]) == 3
    rows = [s[0]["n_values"] for s in t["stripe_stats"]]
    assert rows == [5000, 5000, 1000]
    int1 = [(s[1]["typed"]["min"], s[1]["typed"]["max"]) for s in t["stripe_stats"]]
    assert int1 == [(1, 1), (2, 2), (3, 3)]


def test_stripe_stats_merge_invariant(spark, sf_dir, tmp_path):
    """A4 partial+final merge against REAL ORC stripe statistics (not
    synthetic ones): on an engine-written multi-stripe file, per-stripe
    n_values sum to the file-level count and per-stripe min/max fold to
    the file-level min/max for every top-level column — the exact
    invariant `ColumnStatisticsImpl.merge()` maintains."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    dest = str(tmp_path / "multi_stripe")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    # small stripes + no compression => several stripes in one file
    write_orc(
        l.repartition(1), dest, compression="none", stripe_size=32 * 1024
    )
    f = glob.glob(os.path.join(dest, "*.orc"))[0]
    t = parse_tail_of_file(f, include_stripe_stats=True)
    assert len(t["stripe_stats"]) >= 2, "expected a multi-stripe file"
    for i, col in enumerate(t["columns"], start=1):
        per_stripe = [s[i] for s in t["stripe_stats"]]
        assert sum(p["n_values"] for p in per_stripe) == col["n_values"], col["name"]
        mins = [p["typed"].get("min") for p in per_stripe if p["typed"].get("min") is not None]
        maxs = [p["typed"].get("max") for p in per_stripe if p["typed"].get("max") is not None]
        if mins and col["typed"].get("min") is not None:
            assert min(mins) == col["typed"]["min"], col["name"]
            assert max(maxs) == col["typed"]["max"], col["name"]


def test_decimal_scale18_stats_exact(spark, tmp_path):
    """Regression: decimal(38,18) footer stats must merge exactly —
    a decimal(38,10) cast would round 18-scale values (review finding).
    Cross-checked against the ORC Java reader."""
    from decimal import Decimal

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import (
        footer_column_stats,
        footer_column_stats_py4j,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc

    rows = [
        (Decimal("0.000000000000000001"),),
        (Decimal("1.123456789012345678"),),
        (Decimal("-7.999999999999999999"),),
    ]
    df = spark.createDataFrame(rows, "d decimal(38,18)")
    dest = str(tmp_path / "dec18")
    write_orc(df.repartition(1), dest)
    got = {r.column_name: r for r in footer_column_stats(spark, dest).collect()}
    assert Decimal(got["d"].min_val) == Decimal("-7.999999999999999999")
    assert Decimal(got["d"].max_val) == Decimal("1.123456789012345678")
    assert Decimal(got["d"].sum_val) == sum(r[0] for r in rows)
    oracle = {r.column_name: r for r in footer_column_stats_py4j(spark, dest).collect()}
    assert Decimal(oracle["d"].min_val) == Decimal(got["d"].min_val)
    assert Decimal(oracle["d"].sum_val) == Decimal(got["d"].sum_val)


def test_rowgroup_stats_multifile_with_nulls(spark, tmp_path):
    """rowgroup_stats (the third stats level, RowIndexEntry —
    proto/orc_proto.proto:84-91) against Python-computed truth on a
    multi-file, null-bearing layout with short final row groups:
    per-group geometry (start_row/rows_in_group from stripe geometry,
    NOT n_values — n_values counts non-null), null accounting, and
    int min/max."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import rowgroup_stats

    stride = 1000
    n = 2500  # 3 groups per file: 1000 + 1000 + 500 (short final group)
    rows = [(i, None if i % 10 == 0 else i * 3) for i in range(n)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    dest = str(tmp_path / "rg_multi")
    # two files, each totally ordered on k
    (
        df.repartitionByRange(2, "k")
        .sortWithinPartitions("k")
        .write.format("orc")
        .option("orc.row.index.stride", str(stride))
        .mode("overwrite")
        .save(dest)
    )
    got = rowgroup_stats(spark, dest, ["k", "v"]).collect()
    by_file: dict = {}
    for r in got:
        by_file.setdefault(r.path, []).append(r)
    assert len(by_file) == 2
    total_rows = 0
    for path, rs in by_file.items():
        ks = sorted((r for r in rs if r.column_name == "k"), key=lambda r: r.group_ord)
        vs = sorted((r for r in rs if r.column_name == "v"), key=lambda r: r.group_ord)
        file_rows = sum(r.rows_in_group for r in ks)
        total_rows += file_rows
        # geometry: contiguous stride-aligned groups, short tail allowed
        for g, r in enumerate(ks):
            assert r.group_ord == g
            assert r.start_row == sum(p.rows_in_group for p in ks[:g])
            assert r.rows_in_group <= stride
        # k has no nulls: n_values == rows_in_group and exact min/max
        # (file is sorted on k, so each group's range is [start, end])
        kmin_file = min(int(r.min_val) for r in ks)
        for r in ks:
            assert not r.has_null
            assert r.n_values == r.rows_in_group
            assert int(r.min_val) == kmin_file + r.start_row
            assert int(r.max_val) == kmin_file + r.start_row + r.rows_in_group - 1
        # v: every-10th row is NULL; groups with nulls are flagged and
        # n_values counts only the non-null rows
        for r in vs:
            k_lo = kmin_file + r.start_row
            expect_nonnull = sum(
                1 for k in range(k_lo, k_lo + r.rows_in_group) if k % 10 != 0
            )
            assert r.n_values == expect_nonnull
            assert r.has_null == (expect_nonnull < r.rows_in_group)
            nn = [k * 3 for k in range(k_lo, k_lo + r.rows_in_group) if k % 10 != 0]
            assert int(r.min_val) == min(nn) and int(r.max_val) == max(nn)
    assert total_rows == n


def test_rowgroup_stats_string_column(spark, tmp_path):
    """StringStatistics in RowIndexEntry: min/max per group."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import rowgroup_stats

    rows = [(i, f"s{i:05d}") for i in range(3000)]
    df = spark.createDataFrame(rows, "k bigint, s string")
    dest = str(tmp_path / "rg_str")
    (
        df.repartition(1)
        .sortWithinPartitions("k")
        .write.format("orc")
        # 1000 is the ORC writer's minimum legal stride
        # (WriterImpl.java:197 "Row stride must be at least 1000")
        .option("orc.row.index.stride", "1000")
        .mode("overwrite")
        .save(dest)
    )
    got = sorted(
        (r for r in rowgroup_stats(spark, dest, ["s"]).collect()),
        key=lambda r: r.group_ord,
    )
    assert [r.rows_in_group for r in got] == [1000, 1000, 1000]
    for g, r in enumerate(got):
        assert r.min_val == f"s{g * 1000:05d}"
        assert r.max_val == f"s{g * 1000 + 999:05d}"


def test_rowgroup_stats_refuses_index_free_file(spark, tmp_path):
    """A file written with orc.row.index.stride=0 (orc.create.index
    off) has no row-group geometry: rowgroup_stats must raise loudly
    in the mapper, not yield zero rows or garbage start_row math."""
    import pytest
    from py4j.protocol import Py4JJavaError  # noqa: F401 (spark wraps)

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import rowgroup_stats

    dest = str(tmp_path / "noindex")
    (
        spark.range(5000)
        .selectExpr("id as k")
        .coalesce(1)
        .write.format("orc")
        .option("orc.row.index.stride", "0")
        .mode("overwrite")
        .save(dest)
    )
    with pytest.raises(Exception, match="rowIndexStride=0"):
        rowgroup_stats(spark, dest, ["k"]).collect()


def test_orc_seek_explain_addresses_and_positions(spark, tmp_path):
    """seekToRow address computation (stripe / row group / offset in
    group) + the per-column seek positions for that entry: row 0 maps
    to all-zero positions (stream starts), later groups carry strictly
    non-decreasing stream offsets, and a multi-stripe file resolves
    rows past the first stripe into the right (stripe, group) pair."""
    import pyspark.sql.functions as F
    import pytest

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_stripe_footers,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import orc_seek_explain

    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("u"), F.col("id").cast("string"), F.lit("x" * 40)).alias("pad"),
    )
    dest = str(tmp_path / "seek")
    write_orc(df.coalesce(1).sortWithinPartitions("k"), dest, stripe_size=256 * 1024)
    path = os.path.join(dest, [f for f in os.listdir(dest) if f.startswith("part")][0])

    first = orc_seek_explain(path, 0)
    assert first["stripe"] == 0 and first["row_group"] == 0
    assert all(all(p == 0 for p in ps) for ps in first["positions"].values()), (
        "row 0 seeks to the start of every stream"
    )

    stripes = parse_stripe_footers(path)
    assert len(stripes) >= 2, "small stripe size must yield a multi-stripe file"
    s0_rows = stripes[0]["numberOfRows"]
    stride = 10_000
    # a row 7 past a row-group boundary inside the SECOND stripe (when
    # the small stripes flush under one stride, that is group 0)
    in_stripe = min(stride, stripes[1]["numberOfRows"] - 1)
    target = s0_rows + in_stripe + 7 if in_stripe == stride else s0_rows + 7
    got = orc_seek_explain(path, target, columns=["k"])
    assert got["stripe"] == 1
    assert got["row_group"] == (1 if in_stripe == stride else 0)
    assert got["row_in_group"] == 7

    with pytest.raises(IndexError):
        orc_seek_explain(path, n)

    # positions monotonicity needs several row groups in ONE stripe:
    # default stripe size, 50k rows -> 5 groups of stride 10k
    dest2 = str(tmp_path / "seek_pos")
    write_orc(
        spark.range(50_000).selectExpr("id as k", "repeat('p', 40) as pad")
        .coalesce(1).sortWithinPartitions("k"),
        dest2,
    )
    p2 = os.path.join(dest2, [f for f in os.listdir(dest2) if f.startswith("part")][0])
    a = orc_seek_explain(p2, 1, columns=["k"])["positions"]["k"]
    b = orc_seek_explain(p2, 10_001, columns=["k"])["positions"]["k"]
    c = orc_seek_explain(p2, 40_001, columns=["k"])["positions"]["k"]
    assert a and len(a) == len(b) == len(c)
    assert all(x == 0 for x in a), "group 0 starts at the head of every stream"
    # later groups sit deeper in the byte streams: the (compressed
    # chunk, decompressed offset) slots are non-decreasing and at
    # least one strictly grows; the trailing RLE run-offset slot
    # legitimately RESETS per run (e.g. 272 -> 32), so it is excluded
    for lo, hi in [(a, b), (b, c)]:
        assert all(x <= y for x, y in zip(lo[:2], hi[:2]))
        assert any(x < y for x, y in zip(lo[:2], hi[:2]))


def test_get_index_position_reference_table():
    """The reference's testGetIndexPosition table, cell for cell
    (RecordReaderUtils.getIndexPosition; TestRecordReaderImpl:1128):
    slot offsets of each stream's seek positions inside a
    RowIndexEntry, by encoding x type x stream x compressed x nulls."""
    import pytest as _pytest

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        get_index_position as g,
    )

    cells = [
        ("DIRECT", "int", "PRESENT", True, True, 0),
        ("DIRECT", "int", "DATA", True, True, 4),
        ("DIRECT", "int", "DATA", False, True, 3),
        ("DIRECT", "int", "DATA", True, False, 0),
        ("DICTIONARY", "string", "DATA", True, True, 4),
        ("DIRECT", "binary", "DATA", True, True, 4),
        ("DIRECT", "binary", "DATA", False, True, 3),
        ("DIRECT", "binary", "LENGTH", True, True, 6),
        ("DIRECT", "binary", "LENGTH", False, True, 4),
        ("DIRECT", "decimal", "DATA", True, True, 4),
        ("DIRECT", "decimal", "DATA", False, True, 3),
        ("DIRECT", "decimal", "SECONDARY", True, True, 6),
        ("DIRECT", "decimal", "SECONDARY", False, True, 4),
        ("DIRECT", "timestamp", "DATA", True, True, 4),
        ("DIRECT", "timestamp", "DATA", False, True, 3),
        ("DIRECT", "timestamp", "SECONDARY", True, True, 7),
        ("DIRECT", "timestamp", "SECONDARY", False, True, 5),
    ]
    for enc, typ, stream, comp, nulls, expected in cells:
        assert g(enc, typ, stream, comp, nulls) == expected, (
            enc, typ, stream, comp, nulls,
        )
    with _pytest.raises(ValueError):
        g("DIRECT", "no_such_type", "DATA", True, True)


def test_orc_seek_explain_stream_labels(spark, tmp_path):
    """The labeled position segments account for every slot and match
    the reference layout: a no-null bigint column is all DATA; a
    DIRECT string column splits into DATA + LENGTH at the
    getIndexPosition boundary."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import orc_seek_explain

    df = spark.range(30_000).select(
        F.col("id").alias("k"),
        # unique values -> DIRECT (no dictionary), so LENGTH has slots
        F.format_string("s%07d", F.col("id")).alias("s"),
    )
    dest = str(tmp_path / "lbl")
    write_orc(df.coalesce(1).sortWithinPartitions("k"), dest)
    path = os.path.join(dest, [f for f in os.listdir(dest) if f.startswith("part")][0])

    got = orc_seek_explain(path, 12_345)
    assert got["row_group"] == 1 and got["row_in_group"] == 2_345
    k = got["streams"]["k"]
    assert set(k) == {"DATA"} and k["DATA"] == got["positions"]["k"]
    s = got["streams"]["s"]
    assert set(s) == {"DATA", "LENGTH"}
    assert s["DATA"] + s["LENGTH"] == got["positions"]["s"]
    # compressed raw byte stream = (chunk, offset); compressed RLE
    # LENGTH = (chunk, offset, run) — the getIndexPosition widths
    assert len(s["DATA"]) == 2 and len(s["LENGTH"]) == 3


def test_plan_read_ranges_partial_plan(spark, tmp_path):
    """planReadPartialDataStreams parity on a real file: a one-group
    point predicate over a sorted 10-group stripe plans a small
    fraction of the data section, every range stays inside the
    stripe's index+data region past the index section, the kept
    group's DATA seek offset is covered, and a keep-everything
    predicate plans (merged) the whole data section."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_stripe_footers,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import (
        orc_seek_explain,
        plan_read_ranges,
    )

    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.format_string("v%09d", F.col("id")).alias("v"),
    )
    dest = str(tmp_path / "ranges")
    # uncompressed: offsets are plain byte positions, slop is the
    # fixed WORST_UNCOMPRESSED_SLOP — easiest to reason about
    write_orc(df.coalesce(1).sortWithinPartitions("k"), dest, compression="none")
    path = os.path.join(dest, [f for f in os.listdir(dest) if f.startswith("part")][0])

    plan = plan_read_ranges(path, ("equals", "k", 54_321), columns=["k", "v"])
    assert len(plan) == 1
    p = plan[0]
    st = parse_stripe_footers(path)[0]
    index_len = st["indexLength"]
    assert p["bytes_total_data"] > 0
    # one of ten groups + slop: well under half the data section
    assert p["bytes_planned"] < 0.5 * p["bytes_total_data"], p
    for a, b in p["ranges"]:
        assert index_len <= a < b, "ranges sit past the index section"
    # the plan's kept group agrees with the seek address computation
    seek = orc_seek_explain(path, 54_321, columns=["k"])
    assert seek["row_group"] == 5
    # keep-everything predicate: merged ranges cover the entire data
    # section of the included columns' streams contiguously
    full = plan_read_ranges(path, ("less_than_equals", "k", n), columns=["k", "v"])[0]
    assert full["bytes_planned"] >= p["bytes_planned"] * 5
    assert full["bytes_planned"] <= full["bytes_total_data"]

    # projection matters: planning only k touches fewer bytes than k+v
    k_only = plan_read_ranges(path, ("equals", "k", 54_321), columns=["k"])[0]
    assert k_only["bytes_planned"] < p["bytes_planned"]


def test_bounded_tail_reads_last_durable_footer(spark, tmp_path):
    """max_file_length (OrcConf.MAX_FILE_LENGTH, extractFileTail:515):
    a reader bounded at the published durable length parses the
    committed footer of a still-growing file; unbounded, the torn
    suffix is garbage and must fail loudly, not return wrong data."""
    import glob

    import pyspark.sql.functions as F
    import pytest as _pytest

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )

    dest = str(tmp_path / "grow_base")
    df = spark.range(2500).select(
        "id", F.concat(F.lit("s"), (F.col("id") % 9).cast("string")).alias("s")
    )
    df.coalesce(1).write.mode("overwrite").orc(dest)
    src = sorted(glob.glob(os.path.join(dest, "*.orc")))[0]
    durable = os.path.getsize(src)
    grown = str(tmp_path / "growing.orc")
    with open(src, "rb") as f_in, open(grown, "wb") as f_out:
        blob = f_in.read()
        f_out.write(blob)
        # torn suffix: the file's own first half — valid-looking ORC
        # bytes, guaranteed to contain no tail
        f_out.write(blob[: durable // 2])

    meta = parse_tail_of_file(grown, max_file_length=durable)
    assert meta["magic"] == "ORC"
    assert meta["n_rows"] == 2500
    assert [c["name"] for c in meta["columns"]] == ["id", "s"]
    # any other view is torn: wrong bound or unbounded EOF must either
    # raise or come back visibly invalid (magic mismatch / zero rows) —
    # protobuf over noise can "parse" vacuously, so the guard callers
    # rely on is the magic + row-count check, as in extractFileTail
    for parse in (
        lambda: parse_tail_of_file(grown, max_file_length=durable - 7),
        lambda: parse_tail_of_file(grown),
    ):
        try:
            bad = parse()
        except Exception:
            continue
        assert not (bad["magic"] == "ORC" and bad["n_rows"] == 2500)

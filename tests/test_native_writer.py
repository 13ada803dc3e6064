"""Native ORC WRITER parity: files emitted by sources/orc_encode.py are
read back by THREE independent readers — the embedded Java ORC reader
(`spark.read.orc`, what production sits on), pyarrow's C++ ORC reader,
and the engine's own native decoder — and the written metadata
(file/stripe/row-group stats, encodings, bloom filters, positions) is
verified both structurally and against what the JVM writer emits for
the same data (WriterImpl analog behavior, not code).

The writer's sharpest invariant is position recording: every stream
flushes its RLE state and closes its compression chunk at row-group
boundaries, so recorded positions always have zero run/decompressed
offsets. The JVM PPD point-lookup test and the native scan_file
group-skip test both fail loudly if any slot lies.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.sources import bloom as bl
from orc_release_hdp_2_6_5_99_1_tag_spark.sources import footer_tail as ft
from orc_release_hdp_2_6_5_99_1_tag_spark.sources import stream_decode as sd
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import (
    parse_schema,
    write_orc_native,
)

N = 25_000
SCHEMA = (
    "i bigint, b boolean, t tinyint, s string, s2 string, d double, "
    "f float, dt date, ts timestamp, dec decimal(12,2), bin binary"
)


def _columns(n: int = N) -> dict:
    return {
        "i": [None if k % 97 == 5 else k for k in range(n)],
        "b": [k % 2 == 0 for k in range(n)],
        "t": [None if k % 11 == 3 else k % 128 - 64 for k in range(n)],
        "s": [None if k % 13 == 7 else f"val_{k % 50}" for k in range(n)],
        "s2": [f"unique_{k}" for k in range(n)],
        "d": [k * 0.5 for k in range(n)],
        "f": [float(k % 100) for k in range(n)],
        "dt": [dt.date(2020, 1, 1) + dt.timedelta(days=k % 1000) for k in range(n)],
        "ts": [
            dt.datetime(2021, 3, 4, 5, 6, 7, microsecond=(k % 1000) * 1000)
            + dt.timedelta(seconds=k)
            for k in range(n)
        ],
        "dec": [Decimal(k) / 100 for k in range(n)],
        "bin": [
            None if k % 17 == 2 else bytes([k % 256, (k + 1) % 256])
            for k in range(n)
        ],
    }


@pytest.fixture(scope="module")
def native_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nw") / "all_types.orc")
    summary = write_orc_native(
        path,
        _columns(),
        SCHEMA,
        compression="zlib",
        stripe_rows=12_000,
        row_index_stride=2_000,
        bloom_filter_columns=("s2", "i"),
    )
    return path, summary


def _native_columns(path, cols, tree=None, audit=None):
    out: dict[str, list] = {}
    for batch in sd.scan_file(path, tree, cols, audit=audit):
        for k, v in batch["columns"].items():
            out.setdefault(k, []).extend(v)
    return out


# ---------------------------------------------------------------------------
# reader agreement
# ---------------------------------------------------------------------------


def test_pyarrow_reads_native_file(native_file):
    import pyarrow.orc as po

    path, summary = native_file
    assert summary["n_stripes"] == 3
    got = po.ORCFile(path).read().to_pydict()
    exp = _columns()
    for name in ("i", "b", "t", "s", "s2", "d", "f", "dt", "ts", "bin"):
        assert got[name] == exp[name], name
    assert [str(x) for x in got["dec"]] == [f"{x:.2f}" for x in exp["dec"]]


def test_native_decoder_reads_native_file(native_file):
    path, _ = native_file
    got = _native_columns(path, list(_columns()))
    exp = _columns()
    for name, vals in exp.items():
        if name == "dec":
            assert [str(x) for x in got[name]] == [f"{x:.2f}" for x in vals]
        else:
            assert got[name] == vals, name


def test_jvm_reads_native_file(native_file, spark):
    from pyspark.sql import functions as F

    path, _ = native_file
    df = spark.read.orc(path)
    assert df.count() == N
    agg = df.agg(
        F.sum("i"), F.sum("d"), F.count("s"), F.countDistinct("s"),
        F.max("s2"), F.sum(F.dayofyear("dt")), F.max("ts"), F.sum("dec"),
        F.sum(F.length("bin")), F.sum(F.col("b").cast("int")),
    ).collect()[0]  # fmt: skip
    exp = _columns()
    assert agg[0] == sum(v for v in exp["i"] if v is not None)
    assert agg[1] == sum(exp["d"])
    assert agg[2] == sum(v is not None for v in exp["s"])
    assert agg[3] == 50
    assert agg[4] == "unique_9999"  # lexicographic max
    assert agg[6] == max(exp["ts"])
    assert agg[7] == sum(exp["dec"])
    assert agg[8] == sum(len(v) for v in exp["bin"] if v is not None)
    assert agg[9] == N // 2


def test_jvm_ppd_point_lookup_seeks_correctly(native_file, spark):
    """A pushed-down point predicate makes the JVM reader skip to
    specific row groups via the recorded positions — wrong position
    slots produce garbage or an exception here, not a soft miss."""
    path, _ = native_file
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    df = spark.read.orc(path)
    row = df.filter("s2 = 'unique_20123'").select("i", "s", "ts").collect()
    assert len(row) == 1
    assert row[0]["i"] == 20123 and row[0]["s"] == "val_23"
    band = df.filter("i >= 13000 and i < 13050").agg({"i": "sum"}).collect()[0][0]
    exp = sum(
        k for k in range(13000, 13050) if k % 97 != 5
    )
    assert band == exp


# ---------------------------------------------------------------------------
# metadata: encodings, stats, blooms
# ---------------------------------------------------------------------------


def test_dictionary_cutover_election(native_file):
    """50-distinct/12k-row column elects DICTIONARY_V2; all-unique
    column stays DIRECT_V2 (checkDictionaryEncoding threshold)."""
    path, summary = native_file
    assert summary["encodings"]["s"] == "DICTIONARY_V2"
    assert summary["encodings"]["s2"] == "DIRECT_V2"
    sf = ft.parse_stripe_footers(path)[0]
    meta = ft.parse_tail_of_file(path)
    ids = {c["name"]: c["col_id"] for c in meta["columns"]}
    assert sf["encodings"][ids["s"]]["kind"] == "DICTIONARY_V2"
    assert sf["encodings"][ids["s"]]["dictionary_size"] == 50
    assert sf["encodings"][ids["s2"]]["kind"] == "DIRECT_V2"


def test_file_and_stripe_stats(native_file):
    path, _ = native_file
    meta = ft.parse_tail_of_file(path, include_stripe_stats=True)
    cols = {c["name"]: c for c in meta["columns"]}
    exp = _columns()
    i_vals = [v for v in exp["i"] if v is not None]
    assert cols["i"]["n_values"] == len(i_vals)
    assert cols["i"]["has_null"] is True
    assert cols["i"]["typed"] == {
        "min": 0, "max": N - 1, "sum": sum(i_vals)
    }  # fmt: skip
    assert cols["b"]["typed"]["true_count"] == N // 2
    assert cols["s"]["typed"]["min"] == "val_0"
    assert cols["s"]["typed"]["max"] == "val_9"
    assert cols["d"]["typed"]["max"] == (N - 1) * 0.5
    max_day = (dt.date(2020, 1, 1) + dt.timedelta(days=999) - dt.date(1970, 1, 1)).days
    assert cols["dt"]["typed"]["max"] == max_day  # epoch days
    assert len(meta["stripe_stats"]) == 3
    # stripe stats fold to file stats (A4 merge direction)
    s_n = sum(st[cols["i"]["col_id"]]["n_values"] for st in meta["stripe_stats"])
    assert s_n == cols["i"]["n_values"]


def test_bloom_zero_false_negatives(native_file):
    path, _ = native_file
    meta = ft.parse_tail_of_file(path)
    ids = {c["name"]: c["col_id"] for c in meta["columns"]}
    blooms = bl.parse_bloom_index(path, ids["s2"])
    # every value present in its row group must probe True
    for k in (0, 1999, 2000, 11999, 12000, 24999):
        stripe, rg = divmod(k, 12_000)
        assert bl.might_contain(blooms[stripe][rg // 2_000], f"unique_{k}")
    # absent probes should overwhelmingly miss at fpp 0.05
    misses = sum(
        not bl.might_contain(blooms[0][0], f"unique_{k}")
        for k in range(100_000, 100_100)
    )
    assert misses >= 90


def test_stats_parity_with_jvm_writer(native_file, spark, tmp_path):
    """The same rows written by the embedded Java writer produce the
    same file-level column statistics (min/max/n_values/has_null and
    the integer/double sums) — writer-side behavior parity with
    WriterImpl's ColumnStatisticsImpl, checked value-for-value."""
    path, _ = native_file
    exp = _columns(3_000)
    rows = list(zip(*exp.values()))
    df = spark.createDataFrame(rows, SCHEMA.replace(" tinyint", " tinyint"))
    jvm_dir = str(tmp_path / "jvm_orc")
    df.coalesce(1).write.option("compression", "zlib").orc(jvm_dir)
    import glob

    jvm_file = glob.glob(jvm_dir + "/part-*.orc")[0]
    ours_path = str(tmp_path / "ours.orc")
    write_orc_native(ours_path, exp, SCHEMA)
    jm = {c["name"]: c for c in ft.parse_tail_of_file(jvm_file)["columns"]}
    om = {c["name"]: c for c in ft.parse_tail_of_file(ours_path)["columns"]}
    for name in ("i", "t", "s", "s2", "d", "dt", "b"):
        assert om[name]["n_values"] == jm[name]["n_values"], name
        assert om[name]["has_null"] == jm[name]["has_null"], name
        for key in ("min", "max", "sum", "true_count"):
            if key in jm[name]["typed"] or key in om[name]["typed"]:
                assert om[name]["typed"].get(key) == jm[name]["typed"].get(
                    key
                ), f"{name}.{key}"


# ---------------------------------------------------------------------------
# pruning on self-written layouts
# ---------------------------------------------------------------------------


def test_native_scan_skips_row_groups(native_file):
    path, _ = native_file
    audit: dict = {}
    got = _native_columns(
        path, ["i", "s2"], tree=("equals", "i", 4_321), audit=audit
    )
    assert audit["groups_total"] == 13  # 6 + 6 + 1 (last stripe 1k rows)
    assert audit["groups_decoded"] == 1
    idx = got["i"].index(4_321)
    assert got["s2"][idx] == "unique_4321"


def test_bloom_refines_minmax_keeps(tmp_path):
    """Even-only values: min/max keeps the group for an odd probe in
    range; the bloom filter kills it (I2 write side, reference
    pickRowGroups refinement)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import (
        pick_row_groups,
    )

    path = str(tmp_path / "even.orc")
    write_orc_native(
        path,
        {"k": [2 * v for v in range(8_000)]},
        "k bigint",
        row_index_stride=2_000,
        bloom_filter_columns=("k",),
    )
    tree = ("equals", "k", 1_001)  # odd, inside group 0's [0, 3998]
    no_bloom = pick_row_groups(path, tree, use_bloom=False)
    with_bloom = pick_row_groups(path, tree, use_bloom=True)
    assert no_bloom[0][0]["keep"] is True
    assert with_bloom[0][0]["keep"] is False
    assert all(not d["keep"] for per in with_bloom for d in per)


def test_nan_stats_match_embedded_writer(tmp_path, spark):
    """NaN handling pins the EMBEDDED writer (the runtime users sit
    on): min/max exclude NaN, the sum stays NaN-poisoned — probed
    value-for-value against spark.write.orc on the same rows. An
    all-NaN group omits min/max entirely (the all-null serialization
    shape both readers already understand)."""
    import glob

    vals = [float(v) for v in range(4_000)]
    vals[100] = math.nan
    path = str(tmp_path / "nan.orc")
    write_orc_native(path, {"d": vals}, "d double", row_index_stride=2_000)
    spark.createDataFrame([(v,) for v in vals], "d double").coalesce(
        1
    ).write.option("compression", "zlib").orc(str(tmp_path / "jvm"))
    jvm_file = glob.glob(str(tmp_path / "jvm/part-*.orc"))[0]
    ours = ft.parse_tail_of_file(path)["columns"][0]["typed"]
    jvm = ft.parse_tail_of_file(jvm_file)["columns"][0]["typed"]
    assert ours["min"] == jvm["min"] == 0.0
    assert ours["max"] == jvm["max"] == 3_999.0
    assert math.isnan(ours["sum"]) and math.isnan(jvm["sum"])
    # NaN group keeps its real min/max; PPD stays live and exact
    ri = ft.parse_row_index(path, 1)
    assert ri[0][0]["typed"]["min"] == 0.0
    assert ri[0][0]["typed"]["max"] == 1_999.0
    assert ri[0][1]["typed"]["min"] == 2_000.0
    audit: dict = {}
    got = _native_columns(path, ["d"], tree=("less_than", "d", 50.0), audit=audit)
    assert audit["groups_decoded"] == 1  # NaN group kept, clean group skipped
    assert got["d"][:50] == [float(v) for v in range(50)]
    # all-NaN column: min/max omitted, like an all-null column's stats
    allnan = str(tmp_path / "allnan.orc")
    write_orc_native(allnan, {"d": [math.nan] * 10}, "d double")
    typed = ft.parse_tail_of_file(allnan)["columns"][0]["typed"]
    assert "min" not in typed and math.isnan(typed["sum"])


# ---------------------------------------------------------------------------
# codecs, chunking, edge shapes
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy", "lz4", "zstd"])
def test_codecs_roundtrip(tmp_path, codec):
    import pyarrow.orc as po

    path = str(tmp_path / f"{codec}.orc")
    cols = {
        "k": list(range(500)),
        "s": [f"string value {v % 7}" for v in range(500)],
    }
    write_orc_native(path, cols, "k int, s string", compression=codec)
    got = po.ORCFile(path).read().to_pydict()
    assert got["k"] == cols["k"] and got["s"] == cols["s"]
    native = _native_columns(path, ["k", "s"])
    assert native["k"] == cols["k"] and native["s"] == cols["s"]


def test_multichunk_values_cross_compression_blocks(tmp_path, spark):
    """Values larger than the compression block force multi-chunk
    streams; positions (chunk offset, 0) must still seek exactly."""
    path = str(tmp_path / "chunky.orc")
    cols = {"s": ["x" * 300 + f"tail{v}" for v in range(2_000)],
            "k": list(range(2_000))}  # fmt: skip
    write_orc_native(
        path, cols, "s string, k int",
        compression="zlib", compression_block_size=256, row_index_stride=500,
    )  # fmt: skip
    native = _native_columns(path, ["s", "k"], tree=("equals", "k", 1_700))
    idx = native["k"].index(1_700)
    assert native["s"][idx] == "x" * 300 + "tail1700"
    df = spark.read.orc(path)
    assert df.filter("k = 1700").collect()[0]["s"] == "x" * 300 + "tail1700"


def test_empty_file(tmp_path, spark):
    import pyarrow.orc as po

    path = str(tmp_path / "zero.orc")
    summary = write_orc_native(path, {"a": [], "b": []}, "a int, b string")
    assert summary["n_rows"] == 0 and summary["n_stripes"] == 0
    meta = ft.parse_tail_of_file(path)
    assert meta["n_rows"] == 0
    assert po.ORCFile(path).read().num_rows == 0
    assert spark.read.orc(path).count() == 0


def test_all_null_and_single_row(tmp_path, spark):
    path = str(tmp_path / "nulls.orc")
    write_orc_native(
        path,
        {"a": [None] * 100, "b": ["only" if v == 50 else None for v in range(100)]},
        "a int, b string",
    )
    df = spark.read.orc(path)
    assert df.count() == 100
    assert df.where("b is not null").collect()[0]["b"] == "only"
    meta = ft.parse_tail_of_file(path)
    cols = {c["name"]: c for c in meta["columns"]}
    assert cols["a"]["n_values"] == 0 and cols["a"]["has_null"] is True

    single = str(tmp_path / "one.orc")
    write_orc_native(single, {"a": [7], "b": ["x"]}, "a int, b string")
    assert spark.read.orc(single).collect() == [(7, "x")]


def test_pre_epoch_dates_and_timestamps(tmp_path, spark):
    """Negative epoch values roundtrip (the single known Java-parity
    edge — fractional timestamps inside 1969-12-31T23:59:59 — is a
    reference reader bug and deliberately not exercised)."""
    path = str(tmp_path / "preepoch.orc")
    dts = [dt.date(1900, 1, 1), dt.date(1969, 12, 31), dt.date(2100, 6, 1)]
    tss = [
        dt.datetime(1950, 5, 5, 10, 20, 30, 123000),
        dt.datetime(1969, 12, 31, 23, 59, 58, 500000),
        dt.datetime(2024, 2, 29, 1, 2, 3, 4000),
    ]
    write_orc_native(path, {"d": dts, "ts": tss}, "d date, ts timestamp")
    native = _native_columns(path, ["d", "ts"])
    assert native["d"] == dts and native["ts"] == tss
    got = spark.read.orc(path).orderBy("d").collect()
    assert [r["d"] for r in got] == dts
    assert [r["ts"] for r in got] == tss


def test_decimal_and_char_varchar_native(tmp_path):
    """char/varchar types carry maximumLength in the type tree and
    decode through the native reader (the JVM surface maps them to
    string with Spark-side length semantics — covered by the
    evolution tier's char/varchar tests)."""
    path = str(tmp_path / "cv.orc")
    write_orc_native(
        path,
        {"c": ["ab", "cd", "ef"], "v": ["x", "yz", "w"],
         "m": [Decimal("1.5"), Decimal("-2.25"), Decimal("0")]},  # fmt: skip
        "c char(2), v varchar(3), m decimal(10,2)",
    )
    meta = ft.parse_tail_of_file(path)
    cols = {c["name"]: c for c in meta["columns"]}
    assert cols["c"]["kind"] == "char" and cols["c"]["max_length"] == 2
    assert cols["v"]["kind"] == "varchar" and cols["v"]["max_length"] == 3
    assert cols["m"]["precision"] == 10 and cols["m"]["scale"] == 2
    native = _native_columns(path, ["c", "v", "m"])
    assert native["c"] == ["ab", "cd", "ef"]
    assert native["m"] == [Decimal("1.50"), Decimal("-2.25"), Decimal("0.00")]
    # write-side length enforcement (WriterImpl.java:1487-1616): char
    # pads/truncates to EXACTLY max_length bytes, varchar truncates
    p2 = str(tmp_path / "cv2.orc")
    write_orc_native(
        p2,
        {"c": ["x", "abcdef", None], "v": ["toolong", "ok", "ü¢€"]},
        "c char(3), v varchar(4)",
    )
    n2 = _native_columns(p2, ["c", "v"])
    assert n2["c"] == ["x  ", "abc", None]
    # "ü¢€" is 2+2+3 utf-8 bytes; a 4-byte cut would split "¢" — the
    # str surface backs off to the character boundary
    assert n2["v"] == ["tool", "ok", "ü¢"]
    # decimal stats are HiveDecimal.toString (trailing zeros stripped)
    assert cols["m"]["typed"] == {"min": "-2.25", "max": "1.5", "sum": "-0.75"}


def test_rlev2_subencodings_are_exercised(tmp_path):
    """The writer's SHORT_REPEAT / fixed-DELTA / DIRECT selection is
    observable through the decoder's RUN_COUNTER accounting."""
    path = str(tmp_path / "rle.orc")
    vals = (
        [7] * 5              # SHORT_REPEAT (3..10)
        + [9] * 100          # fixed DELTA, delta 0
        + list(range(0, 600, 3))  # fixed DELTA, delta 3
        + [v * v * 7919 % 1009 for v in range(300)]  # DIRECT literals
    )
    write_orc_native(path, {"k": vals}, "k bigint", compression="none")
    sd.RUN_COUNTER.clear()
    native = _native_columns(path, ["k"])
    assert native["k"] == vals
    assert sd.RUN_COUNTER.get("SHORT_REPEAT", 0) >= 1
    assert sd.RUN_COUNTER.get("DELTA", 0) >= 2
    assert sd.RUN_COUNTER.get("DIRECT", 0) >= 1


def test_hypothesis_style_random_roundtrip(tmp_path):
    """Deterministic pseudo-random battery over the native loop (the
    JVM-backed hypothesis roundtrip lives in test_random_roundtrip;
    this one stresses writer/reader agreement cheaply)."""
    import random

    rng = random.Random(0xC0FFEE)
    for trial in range(6):
        n = rng.randrange(1, 700)
        cols = {
            "a": [
                None if rng.random() < 0.1 else rng.randrange(-(2**40), 2**40)
                for _ in range(n)
            ],
            "s": [
                None
                if rng.random() < 0.1
                else "".join(chr(rng.randrange(32, 0x2FF)) for _ in range(rng.randrange(0, 12)))
                for _ in range(n)
            ],
            "d": [rng.uniform(-1e6, 1e6) for _ in range(n)],
        }
        path = str(tmp_path / f"rr{trial}.orc")
        write_orc_native(
            path, cols, "a bigint, s string, d double",
            compression=rng.choice(["none", "zlib"]),
            row_index_stride=rng.choice([8, 64, 1_000]),
            stripe_rows=rng.choice([50, 500, 10_000]),
        )  # fmt: skip
        native = _native_columns(path, ["a", "s", "d"])
        assert native["a"] == cols["a"], f"trial {trial}"
        assert native["s"] == cols["s"], f"trial {trial}"
        assert native["d"] == cols["d"], f"trial {trial}"


def test_schema_parser_nested_and_rejects():
    top = parse_schema("a struct<x:int,y:array<string>>, m map<string,int>")
    assert top[0][1]["kind"] == "struct"
    assert top[0][1]["children"][1][1]["kind"] == "list"
    assert top[1][1]["kind"] == "map"
    with pytest.raises(ValueError):
        parse_schema("a intt")
    with pytest.raises(ValueError):
        parse_schema("a struct")  # bare composite without <...>


def test_composite_types_three_reader_roundtrip(tmp_path, spark):
    """struct / array / map columns (with NULLs at both the composite
    and the element level, empty collections, and a struct nested
    inside an array) write natively and read back identically through
    pyarrow, the embedded Java reader, and the native decoder."""
    import pyarrow.orc as po

    n = 3_000
    cols = {
        "k": list(range(n)),
        "st": [
            None if v % 19 == 4 else {"a": None if v % 7 == 2 else v, "b": f"s{v % 5}"}
            for v in range(n)
        ],
        "arr": [
            None if v % 23 == 3 else list(range(v % 4))
            for v in range(n)
        ],
        "mp": [
            None if v % 29 == 6 else [(f"k{j}", v + j) for j in range(v % 3)]
            for v in range(n)
        ],
        "nested": [
            {"inner": [{"p": v * 2, "q": None if v % 11 == 5 else float(v)}]}
            for v in range(n)
        ],
    }
    schema = (
        "k int, st struct<a:int,b:string>, arr array<int>, "
        "mp map<string,int>, "
        "nested struct<inner:array<struct<p:bigint,q:double>>>"
    )
    path = str(tmp_path / "composite.orc")
    write_orc_native(path, cols, schema, row_index_stride=1_000)

    # pyarrow
    got = po.ORCFile(path).read().to_pydict()
    assert got["k"] == cols["k"]
    assert got["st"] == cols["st"]
    assert got["arr"] == cols["arr"]
    assert got["mp"] == cols["mp"]
    assert got["nested"] == cols["nested"]

    # embedded Java reader
    df = spark.read.orc(path)
    assert df.count() == n
    r = df.filter("k = 43").collect()[0]
    assert r["st"].asDict() == cols["st"][43]
    assert r["arr"] == cols["arr"][43]
    assert r["mp"] == dict(cols["mp"][43])
    assert r["nested"]["inner"][0]["p"] == 86
    agg = df.selectExpr(
        "sum(st.a) sa", "sum(size(arr)) sl", "sum(nested.inner[0].p) sp"
    ).collect()[0]
    assert agg["sa"] == sum(
        v["a"] for v in cols["st"] if v is not None and v["a"] is not None
    )
    assert agg["sl"] == sum(len(v) for v in cols["arr"] if v is not None)
    assert agg["sp"] == sum(v * 2 for v in range(n))

    # native decoder (full composite shapes)
    native = _native_columns(path, ["k", "st", "arr", "mp", "nested"])
    assert native["st"] == cols["st"]
    assert native["arr"] == cols["arr"]
    assert native["mp"] == cols["mp"]
    assert native["nested"] == cols["nested"]


def test_union_write_native_roundtrip(tmp_path):
    """uniontype columns in the engine's tagged-struct convention
    ({_tag, f0, f1}) round-trip through the native decoder (the JVM
    surface has no union analog — same boundary as the read side)."""
    vals = [
        None if v % 13 == 7 else (
            {"_tag": 0, "f0": v, "f1": None} if v % 2 == 0
            else {"_tag": 1, "f0": None, "f1": f"u{v}"}
        )
        for v in range(2_000)
    ]
    path = str(tmp_path / "union.orc")
    write_orc_native(
        path, {"u": vals}, "u uniontype<int,string>", row_index_stride=500
    )
    meta = ft.parse_tail_of_file(path)
    assert meta["types"][1]["kind"] == "union"
    native = _native_columns(path, ["u"])
    assert native["u"] == vals


# ---------------------------------------------------------------------------
# the distributed sink (orc_native_sink DataSource)
# ---------------------------------------------------------------------------


def test_orc_native_sink_two_phase_commit(spark, tmp_path):
    """Executor-side native writes under the two-phase protocol: each
    partition becomes one part-NNNNN.orc, published atomically, and
    the EMBEDDED JAVA reader round-trips the values exactly."""
    import os

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native_sink,
    )

    register_orc_native_sink(spark)
    out = str(tmp_path / "sink")
    rows = [(k, f"name_{k % 9}", float(k) / 4) for k in range(2_000)]
    src = spark.createDataFrame(rows, "k bigint, s string, d double")
    (
        src.repartition(3)
        .write.format("orc_native_sink")
        .option("path", out)
        .option("row_index_stride", "500")
        .mode("append")
        .save()
    )
    names = sorted(f for f in os.listdir(out) if f.endswith(".orc"))
    assert names == ["part-00000.orc", "part-00001.orc", "part-00002.orc"]
    back = spark.read.orc(out)
    assert sorted(map(tuple, back.collect())) == sorted(rows)
    # files carry real indexes + stats (not just data streams)
    meta = ft.parse_tail_of_file(os.path.join(out, names[0]))
    assert meta["row_index_stride"] == 500
    assert meta["columns"][0]["n_values"] > 0


def test_orc_native_sink_abort_leaves_no_partials(spark, tmp_path):
    import os

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native_sink,
    )

    register_orc_native_sink(spark)
    out = str(tmp_path / "sink_abort")
    src = spark.range(100).selectExpr("id as k", "cast(id as string) s")
    with pytest.raises(Exception):
        (
            src.repartition(2)
            .write.format("orc_native_sink")
            .option("path", out)
            .option("fail_partition", "1")
            .mode("append")
            .save()
        )
    # the two-phase contract: nothing PUBLISHED. A task killed before
    # its commit message reached the driver may orphan a temp, but
    # "_tmp-" names are hidden to Spark/Hadoop readers (the leading
    # underscore), so no reader can observe a half-written output.
    leftover = os.listdir(out) if os.path.isdir(out) else []
    assert not [f for f in leftover if f.startswith("part-")], leftover
    if leftover:
        # an orphaned "_tmp-" file is hidden to readers; depending on
        # kill timing the directory may hold ONLY hidden files, in
        # which case Spark raises UNABLE_TO_INFER_SCHEMA — which
        # proves the same contract (no reader observes any rows).
        # r13-verdict tightening: the exception arm is only acceptable
        # when every surviving file IS hidden — a bare except-pass
        # would also have masked an unrelated AnalysisException over a
        # visible half-written file.
        from pyspark.errors import AnalysisException

        try:
            assert spark.read.orc(out).count() == 0
        except AnalysisException:
            assert all(
                f.startswith(("_tmp-", ".", "_")) for f in leftover
            ), leftover


def test_orc_native_sink_empty_partitions(spark, tmp_path):
    import os

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native_sink,
    )

    register_orc_native_sink(spark)
    out = str(tmp_path / "sink_empty")
    src = spark.createDataFrame([(1, "a")], "k bigint, s string").repartition(4)
    src.write.format("orc_native_sink").option("path", out).mode("append").save()
    files = [f for f in os.listdir(out) if f.endswith(".orc")]
    assert len(files) == 1  # empty partitions publish nothing
    assert spark.read.orc(out).collect() == [(1, "a")]


def test_patched_base_write_roundtrip(tmp_path, spark):
    """PATCHED_BASE write side: mostly-narrow runs with a few wide
    outliers take the patched encoding (observable via RUN_COUNTER),
    and all three readers agree on the values — including negative
    bases (sign-magnitude) and outliers at gap > 255."""
    import pyarrow.orc as po

    vals = []
    for v in range(480):
        vals.append(-50 + (v * v * 7919) % 500)  # narrow band, negative base
    vals[3] = 2**40 + 123     # wide outliers
    vals[270] = -50 + 2**33   # gap 267 > 255 → (255,0) filler entry
    path = str(tmp_path / "pb.orc")
    write_orc_native(path, {"k": vals}, "k bigint", compression="none")
    sd.RUN_COUNTER.clear()
    native = _native_columns(path, ["k"])
    assert native["k"] == vals
    assert sd.RUN_COUNTER.get("PATCHED_BASE", 0) >= 1
    assert po.ORCFile(path).read().to_pydict()["k"] == vals
    assert [r["k"] for r in spark.read.orc(path).collect()] == vals


def test_orc_native_sink_nested_columns(spark, tmp_path):
    """The sink carries composite columns end-to-end: Spark Rows
    (struct=Row, array=list, map=dict) through the distributed native
    writer and back through the embedded Java reader."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native_sink,
    )

    register_orc_native_sink(spark)
    out = str(tmp_path / "sink_nested")
    df = spark.sql("""
        SELECT id AS k,
               named_struct('a', id * 2, 'b', concat('v', id % 3)) AS st,
               sequence(0, CAST(id % 4 AS INT)) AS arr,
               map('m', id) AS mp
        FROM range(500)
    """)
    (
        df.repartition(2).write.format("orc_native_sink")
        .option("path", out).mode("append").save()
    )
    back = spark.read.orc(out)
    assert back.count() == 500
    agg = back.selectExpr(
        "sum(st.a) sa", "sum(size(arr)) sl", "sum(mp['m']) sm"
    ).collect()[0]
    assert agg["sa"] == sum(v * 2 for v in range(500))
    assert agg["sl"] == sum(v % 4 + 1 for v in range(500))
    assert agg["sm"] == sum(range(500))


# ---------------------------------------------------------------------------
# golden-corpus rewrite: decode ANY historical writer's file natively,
# re-encode with this writer, decode again — values must be identical
# ---------------------------------------------------------------------------

_EX = "/root/reference/examples"
_FULL_SWEEP = os.environ.get("SPARK_GRAFT_FULL_SWEEP") == "1"

# default battery: one file per interesting format cell (v0.11 full
# type palette, unions+timestamps, bloom-era, split-elim stats, each
# codec); FULL_SWEEP adds the cells another member already covers.
# Excluded by design: non-struct root (testTimestamp), index-less
# files (scan_file refuses partial-read planning), and the 70k+-row
# demo/date files (volume — the per-value parity loop is the
# documented cost; nothing format-unique in them is uncovered).
_REWRITE_CORPUS = [
    "TestOrcFile.emptyFile.orc",
    "TestOrcFile.test1.orc",
    "TestOrcFile.testStringAndBinaryStatistics.orc",
    "TestOrcFile.testUnionAndTimestamp.orc",
    "TestOrcFile.testSnappy.orc",
    "TestVectorOrcFile.testLz4.orc",
    "decimal.orc",
    "orc-file-11-format.orc",
    "orc_split_elim_new.orc",
    "over1k_bloom.orc",
] + [
    pytest.param(f, marks=pytest.mark.skipif(
        not _FULL_SWEEP, reason="cell covered; SPARK_GRAFT_FULL_SWEEP=1 runs it"
    ))
    for f in (
        "TestOrcFile.columnProjection.orc",
        "TestOrcFile.testSeek.orc",
        "TestOrcFile.testStripeLevelStats.orc",
        "TestOrcFile.testPredicatePushdown.orc",
        "TestVectorOrcFile.testLzo.orc",
        "orc_split_elim.orc",
        "TestOrcFile.metaData.orc",
    )
]


def _fold_nan(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return {k: _fold_nan(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return type(v)(_fold_nan(x) for x in v)
    return v


@pytest.mark.skipif(not os.path.isdir(_EX), reason="reference examples absent")
@pytest.mark.parametrize("fname", _REWRITE_CORPUS)
def test_golden_corpus_native_rewrite(tmp_path, fname):
    import os as _os

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import (
        rewrite_orc_native,
    )

    src = _os.path.join(_EX, fname)
    dst = str(tmp_path / ("rw_" + fname))
    summary = rewrite_orc_native(src, dst, compression="zlib")
    src_meta = ft.parse_tail_of_file(src)
    assert summary["n_rows"] == src_meta["n_rows"]
    names = [c["name"] for c in src_meta["columns"]]
    if not src_meta["n_rows"]:
        assert ft.parse_tail_of_file(dst)["n_rows"] == 0
        return
    before = _native_columns(src, names)
    after = _native_columns(dst, names)
    for n in names:
        assert _fold_nan(after[n]) == _fold_nan(before[n]), n


def test_appender_readable_while_writing(tmp_path, spark):
    """NativeOrcAppender mirrors the reference's streaming-write
    mechanics, APPEND-ONLY like HDFS: publish() appends a durable
    intermediate tail and returns the side-file length; the next
    add_stripe continues PAST it (the stale tail stays as dead bytes
    the next footer's explicit stripe offsets skip). Every published
    length stays valid: a reader bounded by an OLD length parses its
    committed prefix even while newer stripes (or a torn write) sit
    past it — the write half of the bounded-tail read path."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import (
        NativeOrcAppender,
    )

    path = str(tmp_path / "growing.orc")
    ap = NativeOrcAppender(path, "k bigint, s string", row_index_stride=500)
    ap.add_stripe({"k": list(range(1_000)), "s": [f"a{v}" for v in range(1_000)]})
    len1 = ap.publish()
    ap.add_stripe(
        {"k": list(range(1_000, 2_500)), "s": [f"b{v}" for v in range(1_500)]}
    )
    len2 = ap.publish()
    assert len2 > len1

    # bounded readers see exactly their committed prefix
    m1 = ft.parse_tail_of_file(path, max_file_length=len1)
    assert m1["n_rows"] == 1_000
    m2 = ft.parse_tail_of_file(path, max_file_length=len2)
    assert m2["n_rows"] == 2_500

    # append a third stripe WITHOUT publishing: the file now ends in
    # raw stripe bytes (a torn tail for any naive reader), but the
    # len2-bounded reader still parses the committed prefix
    ap.add_stripe({"k": [9_999], "s": ["tail"]})
    m2b = ft.parse_tail_of_file(path, max_file_length=len2)
    assert m2b["n_rows"] == 2_500
    # an UNBOUNDED read of the torn file is undefined — it either
    # raises or parses garbage; only the side-file length is
    # trustworthy mid-write (exactly why the protocol exists)
    try:
        torn = ft.parse_tail_of_file(path)
        assert torn["n_rows"] != 2_501
    except Exception:
        pass

    summary = ap.close()
    assert summary["n_rows"] == 2_501 and summary["n_stripes"] == 3
    # the closed file is a normal ORC file for every reader
    assert ft.parse_tail_of_file(path)["n_rows"] == 2_501
    got = spark.read.orc(path)
    assert got.count() == 2_501
    assert got.filter("k = 9999").collect()[0]["s"] == "tail"
    native = _native_columns(path, ["k"])
    assert native["k"] == list(range(2_500)) + [9_999]


def test_unaligned_stride_bit_offsets_seek_exactly(tmp_path, spark):
    """Row-group strides NOT divisible by 8 make the PRESENT and
    boolean-DATA bitfields record NONZERO bit-offset position slots
    (the partial byte at a boundary is emitted with the NEXT group).
    Both the native decoder's seeks and the JVM reader's PPD must land
    exactly — this is the only layout that exercises that slot."""
    n = 2_000
    stride = 300  # 300 % 8 == 4 -> nonzero bit offsets at boundaries
    cols = {
        "k": list(range(n)),
        "b": [None if v % 5 == 3 else (v % 3 == 0) for v in range(n)],
        "flag": [v % 7 == 2 for v in range(n)],  # no nulls: DATA bitfield
    }
    path = str(tmp_path / "unaligned.orc")
    write_orc_native(
        path, cols, "k int, b boolean, flag boolean",
        compression="zlib", row_index_stride=stride,
    )  # fmt: skip
    # positions of group 1+ must carry a bit-offset slot != 0
    meta = ft.parse_tail_of_file(path)
    ids = {c["name"]: c["col_id"] for c in meta["columns"]}
    entry1 = ft.parse_row_index(path, ids["b"])[0][1]["positions"]
    assert any(s != 0 for s in entry1), entry1
    # native seek into a middle group decodes the right values
    audit: dict = {}
    got = _native_columns(path, ["k", "b", "flag"],
                          tree=("equals", "k", 1_234), audit=audit)  # fmt: skip
    assert audit["groups_decoded"] == 1
    idx = got["k"].index(1_234)
    assert got["b"][idx] == cols["b"][1_234]
    assert got["flag"][idx] == cols["flag"][1_234]
    # whole-group equality around the seek point
    g0 = (1_234 // stride) * stride
    assert got["k"] == list(range(g0, min(g0 + stride, n)))
    assert got["b"] == cols["b"][g0 : g0 + stride]
    assert got["flag"] == cols["flag"][g0 : g0 + stride]
    # JVM PPD point lookup through the same positions
    spark.conf.set("spark.sql.orc.filterPushdown", "true")
    r = spark.read.orc(path).filter("k = 1111").collect()[0]
    assert r["b"] == cols["b"][1_111] and r["flag"] == cols["flag"][1_111]
    # full-file agreement
    assert spark.read.orc(path).count() == n


def test_orc_native_datasource_reads_growing_appender_file(spark, tmp_path):
    """Live readable-while-writing, native both ways: the appender
    grows one file with published intermediate tails + a
    `.flush_length` side file; `spark.read.format("orc_native")` with
    `use_side_file=true` scans exactly the committed prefix while torn
    bytes sit past it — and sees MORE rows after the next publish."""
    import os as _os

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import (
        NativeOrcAppender,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    d = tmp_path / "growing_lake"
    d.mkdir()
    path = str(d / "g.orc")
    side = path + ".flush_length"
    ap = NativeOrcAppender(path, "k bigint, s string", row_index_stride=200)
    ap.add_stripe({"k": list(range(400)), "s": [f"a{v}" for v in range(400)]})
    with open(side, "w") as fh:
        fh.write(str(ap.publish()))
    # torn growth past the committed tail
    ap.add_stripe({"k": [10_000], "s": ["torn"]})

    df = (
        spark.read.format("orc_native")
        .option("path", str(d))
        .option("use_side_file", "true")
        .load()
    )
    assert df.count() == 400
    assert df.agg({"k": "max"}).collect()[0][0] == 399

    # the writer publishes again: the side file advances, readers see
    # the new prefix (fresh load — DataSource planning is per-load)
    with open(side, "w") as fh:
        fh.write(str(ap.publish()))
    df2 = (
        spark.read.format("orc_native")
        .option("path", str(d))
        .option("use_side_file", "true")
        .load()
    )
    assert df2.count() == 401
    assert df2.filter("k = 10000").collect()[0]["s"] == "torn"
    ap.close()
    _os.remove(side)  # closed file: a plain lake again
    assert (
        spark.read.format("orc_native").option("path", str(d)).load().count()
        == 401
    )


def test_bounded_views_removed_once_file_complete(tmp_path, monkeypatch):
    """`pyds._bounded_view` copies a growing file's committed prefix
    into `<tmp>/orc_native_views`. The copies of one file go once that
    file is complete: an appender publishes twice with a read between,
    closes, and the final read leaves no view behind. A view whose
    file is gone goes at the next planning call."""
    import tempfile

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import (
        NativeOrcAppender,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import _bounded_view

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    views = tmp_path / "tmp" / "orc_native_views"

    def read(path):
        view = _bounded_view(path)
        return view, _native_columns(view, ["k"]).get("k", [])

    path = str(tmp_path / "g.orc")
    side = path + ".flush_length"
    ap = NativeOrcAppender(path, "k bigint", row_index_stride=100)
    ap.add_stripe({"k": list(range(300))})
    with open(side, "w") as fh:
        fh.write(str(ap.publish()))
    torn = [(v * 7919) % 100_003 for v in range(20_000)]
    ap.add_stripe({"k": torn})  # growth past the committed tail
    view, got = read(path)
    assert view != path and got == list(range(300))
    assert len(list(views.iterdir())) == 2  # the view and its .src note
    with open(side, "w") as fh:
        fh.write(str(ap.publish()))
    ap.close()
    view, got = read(path)  # the bound now covers the whole file
    assert view == path and got == list(range(300)) + torn
    assert list(views.iterdir()) == []

    # a view whose file disappears goes at the next call for any file
    gone = str(tmp_path / "gone.orc")
    ap = NativeOrcAppender(gone, "k bigint")
    ap.add_stripe({"k": [1, 2]})
    with open(gone + ".flush_length", "w") as fh:
        fh.write(str(ap.publish()))
    ap.add_stripe({"k": torn})
    assert _bounded_view(gone) != gone
    ap.close()
    os.remove(gone)
    os.remove(gone + ".flush_length")
    assert _bounded_view(path) == path
    assert list(views.iterdir()) == []


# ---------------------------------------------------------------------------
# property fuzz: write -> native read is the identity
# ---------------------------------------------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hst

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:
    _ints = hst.one_of(
        hst.none(),
        hst.integers(min_value=-(2**63), max_value=2**63 - 1),
        hst.sampled_from([0, -1, 1, 2**62, -(2**62), 255, -256]),
    )
    _strs = hst.one_of(
        hst.none(), hst.text(max_size=20), hst.sampled_from(["", "\x00", "é∂"])
    )
    _dbls = hst.floats(allow_nan=True, allow_infinity=True, width=64)
    _dates = hst.dates(min_value=dt.date(1, 1, 1), max_value=dt.date(9999, 12, 31))

    @settings(
        max_examples=20, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )  # fmt: skip
    @given(
        rows=hst.lists(
            hst.tuples(_ints, _strs, _dbls, hst.one_of(hst.none(), _dates)),
            min_size=0, max_size=250,
        ),
        stride=hst.sampled_from([1, 3, 7, 100, 10_000]),
        stripe_rows=hst.sampled_from([5, 64, 10_000]),
        comp=hst.sampled_from(["none", "zlib"]),
        version=hst.sampled_from(["0.11", "0.12"]),
    )  # fmt: skip
    def test_writer_roundtrip_property(rows, stride, stripe_rows, comp, version):
        """write_orc_native → scan_file is the identity over random
        rows, int64 boundary values, unicode strings, NaN/inf doubles,
        extreme dates, and DEGENERATE layouts (stride 1 = one row
        group per row — maximal position-record pressure)."""
        import tempfile

        cols = {
            "a": [r[0] for r in rows],
            "s": [r[1] for r in rows],
            "d": [r[2] for r in rows],
            "dt": [r[3] for r in rows],
        }
        with tempfile.TemporaryDirectory() as td:
            path = os.path.join(td, "prop.orc")
            write_orc_native(
                path, cols, "a bigint, s string, d double, dt date",
                compression=comp, row_index_stride=stride,
                stripe_rows=stripe_rows, version=version,
            )  # fmt: skip
            if not rows:
                assert ft.parse_tail_of_file(path)["n_rows"] == 0
                return
            got = _native_columns(path, ["a", "s", "d", "dt"])
        assert got["a"] == cols["a"]
        assert got["s"] == cols["s"]
        assert got["dt"] == cols["dt"]
        assert _fold_nan(got["d"]) == _fold_nan(cols["d"])


def test_v011_write_mode_three_readers(tmp_path, spark):
    """version="0.11" emits the pre-RLEv2 format: RLEv1 integer
    streams under plain DIRECT/DICTIONARY encodings and a 0.11
    postscript — the shape the golden orc-file-11-format.orc carries.
    The native decoder's RLEv1 path (RUN_COUNTER v1_*), pyarrow, and
    the embedded Java reader all agree."""
    import pyarrow.orc as po

    n = 5_000
    cols = {
        "k": list(range(n)),
        "s": [None if v % 13 == 7 else f"name_{v % 20}" for v in range(n)],
        "u": [f"uniq{v}" for v in range(n)],
        "d": [Decimal(v) / 4 for v in range(n)],
        "ts": [
            dt.datetime(2010, 6, 1, 8, 0, 0) + dt.timedelta(seconds=v)
            for v in range(n)
        ],
        "b": [v % 3 == 1 for v in range(n)],
    }
    path = str(tmp_path / "v011.orc")
    summary = write_orc_native(
        path, cols, "k bigint, s string, u string, d decimal(10,2), "
        "ts timestamp, b boolean",
        version="0.11", row_index_stride=1_000,
    )  # fmt: skip
    assert summary["encodings"]["k"] == "DIRECT"
    assert summary["encodings"]["s"] == "DICTIONARY"
    assert summary["encodings"]["u"] == "DIRECT"
    meta = ft.parse_tail_of_file(path)
    assert meta["magic"] == "ORC" and meta["n_rows"] == n
    sf0 = ft.parse_stripe_footers(path)[0]
    kinds = {e["kind"] for e in sf0["encodings"]}
    assert "DIRECT_V2" not in kinds and "DICTIONARY_V2" not in kinds

    sd.RUN_COUNTER.clear()
    native = _native_columns(path, ["k", "s", "u", "d", "ts", "b"])
    assert native["k"] == cols["k"]
    assert native["s"] == cols["s"]
    assert native["u"] == cols["u"]
    assert [str(x) for x in native["d"]] == [f"{x:.2f}" for x in cols["d"]]
    assert native["ts"] == cols["ts"]
    assert native["b"] == cols["b"]
    assert sd.RUN_COUNTER.get("v1_run", 0) >= 1
    assert sd.RUN_COUNTER.get("v1_literal", 0) >= 1

    got = po.ORCFile(path).read().to_pydict()
    assert got["k"] == cols["k"] and got["s"] == cols["s"]
    assert got["ts"] == cols["ts"]

    df = spark.read.orc(path)
    assert df.count() == n
    assert df.filter("u = 'uniq4321'").collect()[0]["k"] == 4_321
    assert df.agg({"d": "sum"}).collect()[0][0] == sum(cols["d"])

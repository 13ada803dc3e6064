"""Executed partial read (sources/stream_decode.py): the decode layer
of the reference chain stats → picks → seeks → IO plan → **bytes →
rows** (readPartialDataStreams RecordReaderImpl.java:1089, InStream
framing InStream.java:176, row-group-aligned batching :1195-1229).

Three properties, per the round-9 verdict's done-criteria:
1. rows-equal: decoding the planned ranges of a multi-group file with
   a selective predicate + residual filter == full scan + filter;
2. bytes: the decoder fetches exactly the planned fraction and a
   RangeReader guard proves no byte outside the plan was ever needed;
3. coverage: every RLEv2 sub-encoding (and RLEv1 via the goldens),
   byte-RLE, PRESENT bitfield, float/double, date, boolean, both
   string encodings, timestamp/decimal/binary, nested composites and
   unions decode value-exactly against pyarrow or the reference's
   own dumps, across all five chunk codecs (see also
   test_golden_corpus.py for the full-corpus sweep).
"""

from __future__ import annotations

import glob
import os

import pyarrow.orc as pa_orc
import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import pick_row_groups
from orc_release_hdp_2_6_5_99_1_tag_spark.sources import stream_decode as sd
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import plan_read_ranges


def _write_one_orc(spark, df, out, **opts):
    w = df.coalesce(1).write.mode("overwrite")
    for k, v in opts.items():
        w = w.option(k, str(v))
    w.orc(out)
    return sorted(glob.glob(os.path.join(out, "*.orc")))[0]


MATCH_ALL = ("between", "id", [-(10**15), 10**15])


@pytest.fixture(scope="module")
def typed_file(spark, tmp_path_factory):
    """One sorted file covering the full supported type surface, with
    a nullable column (PRESENT stream), a low-cardinality string
    (dictionary), a unique string (direct), and an int column whose
    values force PATCHED_BASE (tiny values + rare huge outliers)."""
    import pyspark.sql.functions as F

    out = str(tmp_path_factory.mktemp("sdec") / "typed")
    n = 5000
    df = (
        spark.range(n)
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("id").cast("int").alias("i32"),
            (F.col("id") % 100).cast("smallint").alias("i16"),
            (F.col("id") % 64).cast("tinyint").alias("i8"),
            (F.col("id") % 2 == 0).alias("flag"),
            (F.col("id") * F.lit(0.25)).cast("float").alias("f32"),
            (F.col("id") * F.lit(1.0) / F.lit(7.0)).alias("f64"),
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 500).cast("int")).alias("d"),
            F.concat(F.lit("cat_"), (F.col("id") % 5).cast("string")).alias("dict_str"),
            F.concat(F.lit("uniq_"), F.col("id").cast("string")).alias("direct_str"),
            F.when(F.col("id") % 7 != 3, F.col("id") * 2).alias("with_nulls"),
            # PATCHED_BASE bait: 95% tiny, every 40th value huge
            F.when(F.col("id") % 40 == 0, F.col("id") * F.lit(2**45))
            .otherwise(F.col("id") % 16)
            .cast("bigint")
            .alias("patched"),
            # DELTA bait: strictly monotonic with constant step
            (F.col("id") * 3 + 7).alias("delta_fixed"),
            # SHORT_REPEAT bait: long constant run
            F.lit(42).cast("bigint").alias("const"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark,
        df,
        out,
        **{
            "compression": "zlib",
            "orc.row.index.stride": 1000,
            "orc.stripe.size": 256 * 1024 * 1024,
        },
    )
    return path


ALL_COLS = [
    "id", "i32", "i16", "i8", "flag", "f32", "f64", "d",
    "dict_str", "direct_str", "with_nulls", "patched",
    "delta_fixed", "const",
]  # fmt: skip


def _pyarrow_columns(path, cols):
    t = pa_orc.ORCFile(path).read().to_pydict()
    return {c: t[c] for c in cols}


def test_full_decode_all_types_value_exact(typed_file):
    sd.RUN_COUNTER.clear()
    res = sd.decode_stripe(typed_file, 0, MATCH_ALL, ALL_COLS)
    exp = _pyarrow_columns(typed_file, ALL_COLS)
    assert res["n_rows"] == 5000
    for c in ALL_COLS:
        assert res["columns"][c] == exp[c], f"column {c} diverges"
    # the bait columns must exercise their intended sub-encodings
    assert sd.RUN_COUNTER.get("PATCHED_BASE", 0) > 0
    assert sd.RUN_COUNTER.get("DELTA", 0) > 0
    assert sd.RUN_COUNTER.get("SHORT_REPEAT", 0) > 0
    assert sd.RUN_COUNTER.get("DIRECT", 0) > 0


def test_selective_decode_rows_equal_and_partial_bytes(typed_file):
    tree = ("between", "id", [1500, 2499])  # exactly groups 1 and 2
    res = sd.decode_stripe(typed_file, 0, tree, ALL_COLS)
    assert res["row_groups_decoded"] == 2
    assert res["row_groups_total"] == 5
    # bytes: strictly partial, and exactly what the plan said
    picks = pick_row_groups(typed_file, tree)
    plan = plan_read_ranges(typed_file, tree, columns=ALL_COLS, picks=picks)
    # plan honored exactly; on THIS zlib file all streams fit one 256 KiB
    # compression chunk, so every group's seek chunk offset is 0 and the
    # plan covers whole streams — chunk-granular, the reference behavior.
    # Strict byte savings are asserted on the uncompressed layout below.
    assert res["bytes_fetched"] == plan[0]["bytes_planned"]
    exp = _pyarrow_columns(typed_file, ALL_COLS)
    keep = [i for i, v in enumerate(exp["id"]) if 1500 <= v <= 2499]
    got = [
        tuple(res["columns"][c][i] for c in ALL_COLS)
        for i in range(res["n_rows"])
        if 1500 <= res["columns"]["id"][i] <= 2499
    ]
    want = [tuple(exp[c][i] for c in ALL_COLS) for i in keep]
    assert got == want


def test_uncompressed_partial_read_saves_bytes(spark, tmp_path):
    """With compression NONE the seek positions are byte-exact, so a
    2-of-20-groups read must fetch a small fraction of the data
    section (bounded by the per-stream uncompressed slop,
    RecordReaderUtils' 2 + 8*512)."""
    import pyspark.sql.functions as F

    df = (
        spark.range(20000)
        .select(
            "id",
            (F.col("id") * F.lit(0.125)).alias("x"),
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("s"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "none"),
        **{"compression": "none", "orc.row.index.stride": 1000,
           "orc.stripe.size": 256 * 1024 * 1024},
    )
    cols = ["id", "x", "s"]
    res = sd.decode_stripe(path, 0, ("between", "id", [5000, 6999]), cols)
    assert res["row_groups_decoded"] == 2
    assert res["row_groups_total"] == 20
    frac = res["bytes_fetched"] / res["bytes_total_data"]
    assert frac < 0.35, f"partial read fetched {frac:.0%} of the data section"


def test_decode_refuses_bytes_outside_plan(typed_file):
    """The executable proof that plan_read_ranges is sufficient: a
    plan for FEWER columns must make the decoder fail loudly, never
    read around the plan."""
    tree = ("between", "id", [1500, 2499])
    picks = pick_row_groups(typed_file, tree)
    starved = plan_read_ranges(typed_file, tree, columns=["id"], picks=picks)
    with pytest.raises(sd.OutOfPlanError):
        sd.decode_stripe(
            typed_file, 0, tree, ALL_COLS, picks=picks, plan=starved
        )


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
def test_codecs_roundtrip(spark, tmp_path, codec):
    import pyspark.sql.functions as F

    df = (
        spark.range(3000)
        .select(
            "id",
            (F.col("id") % 3).cast("int").alias("g"),
            F.concat(F.lit("v"), (F.col("id") % 11).cast("string")).alias("s"),
            (F.col("id") * F.lit(0.5)).alias("x"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / codec),
        **{"compression": codec, "orc.row.index.stride": 1000},
    )
    cols = ["id", "g", "s", "x"]
    res = sd.decode_stripe(path, 0, ("between", "id", [900, 1999]), cols)
    assert res["row_groups_decoded"] < res["row_groups_total"]
    exp = _pyarrow_columns(path, cols)
    got = [
        tuple(res["columns"][c][i] for c in cols)
        for i in range(res["n_rows"])
        if 900 <= res["columns"]["id"][i] <= 1999
    ]
    want = [
        tuple(exp[c][i] for c in cols)
        for i in range(3000)
        if 900 <= exp["id"][i] <= 1999
    ]
    assert got == want


def test_read_planned_distributed_multi_stripe(spark, tmp_path):
    """read_planned runs one file's scan plan across its stripes and
    the union of the decoded stripes + residual filter equals Spark's
    own ORC scan."""
    import pyspark.sql.functions as F

    df = (
        spark.range(20000)
        .select(
            "id",
            F.concat(F.lit("k"), (F.col("id") % 13).cast("string")).alias("k"),
            (F.col("id") * F.lit(1.5)).alias("v"),
        )
        .orderBy("id")
    )
    out = str(tmp_path / "multi")
    path = _write_one_orc(
        spark, df, out,
        **{
            "compression": "zlib",
            "orc.row.index.stride": 1000,
            "orc.stripe.size": 64 * 1024,
        },
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_stripe_footers,
    )

    assert len(parse_stripe_footers(path)) >= 2, "need a multi-stripe file"
    tree = ("between", "id", [4200, 11700])
    got = (
        sd.read_planned(spark, path, tree, ["id", "k", "v"])
        .filter((F.col("id") >= 4200) & (F.col("id") <= 11700))
        .orderBy("id")
        .collect()
    )
    want = (
        spark.read.orc(path)
        .filter((F.col("id") >= 4200) & (F.col("id") <= 11700))
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_timestamp_and_decimal_decode(spark, tmp_path):
    """timestamp (DATA seconds-from-2015 + SECONDARY 3-bit-coded
    nanos, UTC writer) and decimal (unbounded zigzag varint DATA +
    per-value scale SECONDARY) decode value-exactly, including a
    pre-2015 value (negative seconds) and sub-second precision."""
    import pyspark.sql.functions as F

    df = (
        spark.range(3000)
        .select(
            "id",
            (
                F.lit("2013-06-01 01:02:03.456789").cast("timestamp")
                + F.make_interval(hours=F.col("id").cast("int"))
            ).alias("ts"),
            (F.col("id") * F.lit(7) / F.lit(4)).cast("decimal(14,3)").alias("dec"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "tsdec"),
        **{"compression": "zlib", "orc.row.index.stride": 1000},
    )
    cols = ["id", "ts", "dec"]
    res = sd.decode_stripe(path, 0, ("between", "id", [800, 1999]), cols)
    assert 2 == res["row_groups_decoded"] < res["row_groups_total"]
    exp = _pyarrow_columns(path, cols)

    def us(x):  # pyarrow gives ns-precision scalars; compare at us
        return x.timestamp() if hasattr(x, "timestamp") else x

    got = [
        (res["columns"]["id"][i], us(res["columns"]["ts"][i]),
         res["columns"]["dec"][i])
        for i in range(res["n_rows"])
        if 800 <= res["columns"]["id"][i] <= 1999
    ]
    want = [
        (exp["id"][i], us(exp["ts"][i]), exp["dec"][i])
        for i in range(3000)
        if 800 <= exp["id"][i] <= 1999
    ]
    assert got == want


def test_binary_decode(spark, tmp_path):
    import pyspark.sql.functions as F

    df = (
        spark.range(2500)
        .select("id", F.col("id").cast("string").cast("binary").alias("bin"))
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "bin"), **{"orc.row.index.stride": 1000}
    )
    res = sd.decode_stripe(path, 0, ("between", "id", [1000, 1999]), ["id", "bin"])
    assert res["row_groups_decoded"] == 1
    got = {
        i: b
        for i, b in zip(res["columns"]["id"], res["columns"]["bin"])
        if 1000 <= i <= 1999
    }
    assert got == {i: str(i).encode() for i in range(1000, 2000)}


def test_nested_types_decode(spark, tmp_path):
    """Composite readers (list / struct / map, with nulls at every
    level) decode value-exactly against pyarrow under row-group
    pruning — the child streams hold FLATTENED elements and child
    PRESENT entries exist only where the parent is present."""
    import pyspark.sql.functions as F

    df = (
        spark.range(3000)
        .select(
            "id",
            F.when(
                F.col("id") % 5 != 2,
                F.array_repeat(F.col("id"), (F.col("id") % 3 + 1).cast("int")),
            ).alias("arr"),
            F.when(
                F.col("id") % 7 != 3,
                F.struct(
                    (F.col("id") * 2).alias("a"),
                    F.when(F.col("id") % 4 != 1,
                           F.concat(F.lit("s"), F.col("id").cast("string"))
                           ).alias("b"),
                ),
            ).alias("st"),
            F.when(
                F.col("id") % 6 != 4,
                F.create_map(
                    F.concat(F.lit("k"), (F.col("id") % 3).cast("string")),
                    F.col("id") * 3,
                ),
            ).alias("mp"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "nested"),
        **{"compression": "zlib", "orc.row.index.stride": 1000},
    )
    cols = ["id", "arr", "st", "mp"]
    res = sd.decode_stripe(path, 0, ("between", "id", [1000, 1999]), cols)
    assert 1 == res["row_groups_decoded"] < res["row_groups_total"]
    exp = _pyarrow_columns(path, cols)
    idx = [i for i, v in enumerate(exp["id"]) if 1000 <= v <= 1999]
    sel = [i for i in range(res["n_rows"])
           if 1000 <= res["columns"]["id"][i] <= 1999]
    assert [res["columns"]["arr"][i] for i in sel] == [exp["arr"][i] for i in idx]
    assert [res["columns"]["st"][i] for i in sel] == [exp["st"][i] for i in idx]
    assert [res["columns"]["mp"][i] for i in sel] == [exp["mp"][i] for i in idx]


def test_read_planned_nested_schema(spark, tmp_path):
    """read_planned round-trips an array column through mapInPandas
    (nested spark schema derived from the ORC type tree)."""
    import pyspark.sql.functions as F

    df = (
        spark.range(4000)
        .select(
            "id",
            F.array_repeat(F.col("id") % 10, (F.col("id") % 2 + 1).cast("int")).alias("xs"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "rp_nested"),
        **{"compression": "zlib", "orc.row.index.stride": 1000},
    )
    got = (
        sd.read_planned(spark, path, ("between", "id", [1000, 2999]), ["id", "xs"])
        .filter((F.col("id") >= 1000) & (F.col("id") <= 2999))
        .orderBy("id")
        .collect()
    )
    want = (
        spark.read.orc(path)
        .filter((F.col("id") >= 1000) & (F.col("id") <= 2999))
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


_UNION_GOLDEN = "/root/reference/examples/TestOrcFile.testUnionAndTimestamp.orc"


@pytest.mark.skipif(
    not os.path.exists(_UNION_GOLDEN), reason="reference examples absent"
)
def test_union_decode_golden_vs_reference_dump():
    """The union decoder (UnionTreeReader parity, TreeReaderFactory.java:
    1865-1949) decodes the reference-written union golden value-exactly
    against the reference reader's OWN expected dump — including the
    three-way distinction the Arrow shim cannot make: NULL union vs
    (tag 0, NULL variant) vs (tag 1, NULL variant) (the PRESENT stream
    is decoded, where Arrow union arrays carry no validity bitmap).
    The decimal(38,18) column rides along: its 20-digit values pin the
    wide-precision quantize context."""
    import gzip
    import json
    from decimal import Decimal

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import stream_decode as m

    # is_null keeps the all-null row groups a plain BETWEEN would
    # (correctly) prune — stripe 1's decimal stats are hasNull-only
    tree = (
        "or",
        ("is_null", "decimal", None),
        ("between", "decimal", [Decimal("-1e30"), Decimal("1e30")]),
    )
    got = []
    for si in range(2):
        res = m.decode_stripe(
            _UNION_GOLDEN, si, tree, ["time", "union", "decimal"]
        )
        got.extend(
            zip(
                res["columns"]["time"],
                res["columns"]["union"],
                res["columns"]["decimal"],
            )
        )

    dump = _UNION_GOLDEN.replace(
        "TestOrcFile", "expected/TestOrcFile"
    ).replace(".orc", ".jsn.gz")
    exp = [
        json.loads(line, parse_float=Decimal)
        for line in gzip.open(dump, "rt")
    ]
    assert len(got) == len(exp) == 5077
    import datetime as dt

    for (ts, u, d), e in zip(got, exp):
        eu = e["union"]
        if eu is None:
            assert u is None
        else:
            tag = eu["tag"]
            assert u["_tag"] == tag
            assert u[f"f{tag}"] == eu["value"]
            assert u[f"f{1 - tag}"] is None
        if e["decimal"] is None:
            assert d is None
        else:
            assert d == e["decimal"]
        # time: US/Pacific writerTimezone — the wall-clock rebase runs
        # through the writer zone's DST rules; dump is nanos, compare
        # at the decoder's microsecond surface
        if e["time"] is None:
            assert ts is None
        else:
            head, frac = e["time"].rsplit(".", 1)
            micros = int(frac.ljust(9, "0")[:9]) // 1000
            want = dt.datetime.strptime(
                head, "%Y-%m-%d %H:%M:%S"
            ).replace(microsecond=micros)
            assert ts == want


_V11_GOLDEN = "/root/reference/examples/orc-file-11-format.orc"


@pytest.mark.skipif(
    not os.path.exists(_V11_GOLDEN), reason="reference examples absent"
)
def test_rlev1_decode_v011_golden_vs_reference_dump():
    """The RLEv1 kernel (RunLengthIntegerReader v1 parity): the v0.11
    golden uses pre-V2 encodings (DIRECT / DICTIONARY) for every
    integer-backed stream — int DATA, string LENGTH + dictionary
    indices, timestamp DATA/SECONDARY, decimal SECONDARY, list/map
    LENGTH — and the native decoder selects the v1 reader per column
    encoding (TreeReaderFactory.createIntegerReader analog). All 7500
    rows × 14 top-level columns compare value-exactly against the
    reference reader's own expected dump, nested composites included."""
    import datetime as dt
    import gzip
    import json
    from decimal import Decimal

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import stream_decode as m

    cols = [
        "boolean1", "byte1", "short1", "int1", "long1", "float1",
        "double1", "bytes1", "string1", "middle", "list", "map",
        "ts", "decimal1",
    ]  # fmt: skip
    tree = ("or", ("is_null", "int1", None),
            ("between", "int1", [-(2**62), 2**62]))
    got = []
    for si in range(2):
        res = m.decode_stripe(_V11_GOLDEN, si, tree, cols)
        got.extend(zip(*[res["columns"][c] for c in cols]))

    exp = [
        json.loads(line, parse_float=Decimal)
        for line in gzip.open(
            "/root/reference/examples/expected/orc-file-11-format.jsn.gz",
            "rt",
        )
    ]
    assert len(got) == len(exp) == 7500

    def norm(v):
        """Fold decoder surfaces onto the dump's JSON shapes."""
        if isinstance(v, bytes):
            return list(v)
        if isinstance(v, float):
            return Decimal(repr(v))
        if isinstance(v, dt.datetime):
            return v
        if isinstance(v, list):  # list of elems or map pairs
            if v and isinstance(v[0], tuple):
                return [
                    {"key": norm(k), "value": norm(val)} for k, val in v
                ]
            return [norm(x) for x in v]
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        return v

    def norm_exp(v):
        if isinstance(v, Decimal):
            return v.normalize()
        if isinstance(v, list):
            return [norm_exp(x) for x in v]
        if isinstance(v, dict):
            return {k: norm_exp(x) for k, x in v.items()}
        return v

    for row, e in zip(got, exp):
        for c, v in zip(cols, row):
            ev = e[c]
            if c == "ts":
                if ev is None:
                    assert v is None
                    continue
                head, _, frac = ev.partition(".")
                micros = int((frac or "0").ljust(9, "0")[:9]) // 1000
                want = dt.datetime.strptime(
                    head, "%Y-%m-%d %H:%M:%S"
                ).replace(microsecond=micros)
                assert v == want, (c, v, ev)
            elif c in ("float1", "double1", "decimal1"):
                if ev is None:
                    assert v is None
                    continue
                assert Decimal(repr(float(v))) == Decimal(
                    repr(float(ev))
                ), (c, v, ev)
            else:
                assert norm(v) == norm_exp(ev), (c, v, ev)


def test_scan_file_reads_metadata_once(typed_file, monkeypatch):
    """One scan_file plans its file once: the tail and the stripe
    footers are parsed once, and each included column's row index at
    most once (the predicate column's included), however many stripes
    and columns the scan decodes."""
    import sys
    from collections import Counter

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import footer_tail as ft

    calls: Counter = Counter()
    index_reads: Counter = Counter()
    for name in ("parse_tail_of_file", "parse_stripe_footers", "parse_row_index"):
        real = getattr(ft, name)

        def counting(*a, _real=real, _name=name, **k):
            calls[_name] += 1
            if _name == "parse_row_index":
                index_reads[a[1]] += 1
            return _real(*a, **k)

        # every engine module that bound the function by name
        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith(
                    "orc_release_hdp_2_6_5_99_1_tag_spark"
                )
                and vars(mod).get(name) is real
            ):
                monkeypatch.setattr(mod, name, counting)
    tree = ("between", "id", [1000, 2999])
    rows = sum(r["n_rows"] for r in sd.scan_file(typed_file, tree, ALL_COLS))
    assert rows == 2000
    assert calls["parse_tail_of_file"] == 1
    assert calls["parse_stripe_footers"] == 1
    assert index_reads and max(index_reads.values()) == 1
    assert len(index_reads) == len(ALL_COLS)


def test_read_planned_lake_three_level_pruning(spark, range_lake):
    """read_planned_lake: one task per FILE, three pruning levels.
    A range-partitioned 4-file lake + a predicate inside one file's
    keyspace must (1) skip whole files on footer stats alone, (2) skip
    row groups inside the kept file, and (3) return rows value-equal
    to Spark's own reader + filter over the whole directory."""
    import pyspark.sql.functions as F

    out, paths = range_lake["lake"], range_lake["files"]
    assert len(paths) == 4
    lo, hi = 12000, 13999  # inside one range partition
    tree = ("between", "id", [lo, hi])

    audit = sd.explain_lake_scan(paths, tree, ["id", "v", "s"])
    kept = [a for a in audit if a["keep"]]
    assert len(kept) < len(paths), "level-1 file pruning must fire"
    assert all(
        a["groups_kept"] < a["groups_total"] for a in kept
    ), "level-2 row-group pruning must fire inside kept files"
    assert all(
        a["bytes_planned"] < a["bytes_total_data"] for a in kept
    ), "level-3 planned IO must be partial"

    got = (
        sd.read_planned_lake(spark, paths, tree, ["id", "v", "s"])
        .filter((F.col("id") >= lo) & (F.col("id") <= hi))
        .orderBy("id")
        .collect()
    )
    want = (
        spark.read.orc(out)
        .filter((F.col("id") >= lo) & (F.col("id") <= hi))
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == hi - lo + 1


def test_small_chunk_compressed_seeks_all_types(spark, tmp_path):
    """Seek correctness when streams span MANY small compression
    chunks (1 KiB): every type's RowIndexEntry positions must land on
    (chunk header offset, offset-in-chunk) pairs that decode rows
    identical to pyarrow — the multi-chunk analog of the default
    256 KiB layout where most seeks degenerate to chunk 0."""
    import pyspark.sql.functions as F

    n = 8000
    df = (
        spark.range(n)
        .select(
            "id",
            (F.col("id") % 251).cast("int").alias("i32"),
            F.md5(F.col("id").cast("string")).alias("s"),
            (F.col("id") % 5 == 0).alias("flag"),
            F.when(F.col("id") % 3 != 0, F.col("id") * F.lit(0.5)).alias("f64"),
            (F.col("id") * F.lit(13) / F.lit(8)).cast("decimal(12,4)").alias("dec"),
            (
                F.lit("2020-01-01 00:00:00").cast("timestamp")
                + F.make_interval(mins=F.col("id").cast("int"))
            ).alias("ts"),
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 900).cast("int")).alias("d"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "smallchunk"),
        **{"compression": "zlib", "orc.row.index.stride": 1000,
           "orc.compress.size": 1024},
    )
    cols = ["id", "i32", "s", "flag", "f64", "dec", "ts", "d"]
    # groups 4-5 of 8: seeks land mid-stream, far from chunk 0
    res = sd.decode_stripe(path, 0, ("between", "id", [4000, 5999]), cols)
    assert res["row_groups_decoded"] == 2 < res["row_groups_total"]
    assert res["bytes_fetched"] < res["bytes_total_data"]
    exp = _pyarrow_columns(path, cols)
    sel = [i for i in range(res["n_rows"]) if 4000 <= res["columns"]["id"][i] <= 5999]
    keep = [i for i, v in enumerate(exp["id"]) if 4000 <= v <= 5999]
    assert len(sel) == len(keep) == 2000

    def us(x):
        return x.timestamp() if hasattr(x, "timestamp") else x

    for c in cols:
        got = [res["columns"][c][i] for i in sel]
        want = [exp[c][i] for i in keep]
        if c == "ts":
            got, want = [us(v) for v in got], [us(v) for v in want]
        assert got == want, f"column {c} diverges under 1 KiB chunks"


def test_decode_fuzz_random_tables_vs_pyarrow(spark, tmp_path):
    """Seeded-random decode fuzz (the TestVectorOrcFile strategy —
    SURVEY §5.3 — pointed at the NATIVE decoder): random primitive
    columns with random null densities, codecs, and strides must
    full-decode value-exactly against pyarrow. Catches interactions
    the fixed fixtures miss (all-null columns, empty strings,
    single-group files, nulls at chunk boundaries)."""
    import random

    import pyspark.sql.functions as F

    rng = random.Random(0xC0FFEE)
    for trial in range(4):
        n = rng.choice([37, 1000, 4096])
        codec = rng.choice(["none", "zlib", "snappy"])
        stride = rng.choice([1000, 10000])
        null_mod = rng.choice([0, 2, 7])  # 0 = a fully-null column
        df = (
            spark.range(n)
            .select(
                "id",
                (
                    F.when(F.lit(null_mod) == 0, F.lit(None)).otherwise(
                        F.when(
                            F.col("id") % F.lit(max(null_mod, 1)) != 0,
                            F.col("id") * 3,
                        )
                    )
                ).cast("bigint").alias("maybe"),
                F.when(
                    F.col("id") % 5 != 0,
                    F.concat(
                        F.lit("s"), (F.col("id") % 17).cast("string")
                    ),
                ).otherwise(F.lit("")).alias("s"),
                (F.col("id") % 2 == 1).alias("b"),
                (F.col("id") / F.lit(3.0)).alias("f"),
            )
            .orderBy("id")
        )
        path = _write_one_orc(
            spark, df, str(tmp_path / f"fuzz{trial}"),
            **{"compression": codec, "orc.row.index.stride": stride},
        )
        cols = ["id", "maybe", "s", "b", "f"]
        res = sd.decode_stripe(path, 0, MATCH_ALL, cols)
        exp = _pyarrow_columns(path, cols)
        assert res["n_rows"] == n, (trial, codec, stride)
        for c in cols:
            assert res["columns"][c] == exp[c], (trial, codec, stride, c)


def test_read_planned_v011_decimal_schema(spark):
    """Regression (review finding): v0.11 decimal types carry no
    precision/scale — the derived Spark/arrow schemas must default to
    (38, 6), not render 'decimal(None,None)'. Exercised end-to-end
    through the distributed read_planned on the v0.11 golden."""
    golden = "/root/reference/examples/orc-file-11-format.orc"
    if not os.path.exists(golden):
        pytest.skip("reference examples absent")
    from pyspark.sql.pandas.types import from_arrow_schema

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.file_job import arrow_schema
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )

    schema = from_arrow_schema(arrow_schema(parse_tail_of_file(golden), ["decimal1"]))
    assert "decimal1:decimal(38,6)" in schema.simpleString()
    tree = ("or", ("is_null", "int1", None),
            ("not", ("is_null", "int1", None)))
    rows = sd.read_planned(
        spark, golden, tree, ["int1", "decimal1"]
    ).collect()
    assert len(rows) == 7500
    from decimal import Decimal

    non_null = [r["decimal1"] for r in rows if r["decimal1"] is not None]
    assert non_null and all(isinstance(v, Decimal) for v in non_null)


def test_nested_field_include_prunes_siblings(spark, tmp_path):
    """Dotted sub-path projection (nested include, P2 — reference
    `c++/include/orc/Reader.hh:260-281`): requesting `st.a` must (1)
    return a PRUNED struct with only field a, value-exact; (2) plan
    and fetch FEWER bytes than the full-struct read — the sibling
    field's streams never enter the plan; (3) raise the clear error
    for unknown fields and non-struct traversal."""
    import pyspark.sql.functions as F
    import pytest as _pt

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import (
        _included_ids,
        plan_read_ranges,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )

    df = (
        spark.range(4000)
        .select(
            "id",
            F.struct(
                (F.col("id") * 2).alias("a"),
                # the heavy sibling the pruned read must never touch
                F.sha2(F.col("id").cast("string"), 512).alias("big"),
                F.when(F.col("id") % 4 != 1, F.col("id") % 9).alias("c"),
            ).alias("st"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "ninc"),
        **{"compression": "zlib", "orc.row.index.stride": 1000},
    )
    meta = parse_tail_of_file(path)
    # include closure: ancestors structure-only, sibling excluded
    inc = _included_ids(meta, ["id", "st.a"])
    full = _included_ids(meta, ["id", "st"])
    assert inc < full  # strictly smaller: big + c excluded
    tree = ("between", "id", [1000, 1999])
    pruned_plan = plan_read_ranges(path, tree, columns=["id", "st.a"])
    full_plan = plan_read_ranges(path, tree, columns=["id", "st"])
    assert sum(p["bytes_planned"] for p in pruned_plan) < 0.5 * sum(
        p["bytes_planned"] for p in full_plan
    )
    # decode: values exact, schema pruned, fetch matches the plan
    res = sd.decode_stripe(path, 0, tree, ["id", "st.a"])
    assert res["bytes_fetched"] == pruned_plan[0]["bytes_planned"]
    exp = _pyarrow_columns(path, ["id", "st"])
    sel = [i for i in range(res["n_rows"])
           if 1000 <= res["columns"]["id"][i] <= 1999]
    idx = [i for i, v in enumerate(exp["id"]) if 1000 <= v <= 1999]
    got_st = [res["columns"]["st"][i] for i in sel]
    want_st = [
        None if exp["st"][i] is None else {"a": exp["st"][i]["a"]}
        for i in idx
    ]
    assert got_st == want_st
    # distributed surface: pruned DDL + values through read_planned
    got = (
        sd.read_planned(spark, path, tree, ["id", "st.a", "st.c"])
        .filter((F.col("id") >= 1000) & (F.col("id") <= 1999))
        .orderBy("id")
        .collect()
    )
    want = (
        spark.read.orc(path)
        .select("id", F.struct("st.a", "st.c").alias("st"))
        .filter((F.col("id") >= 1000) & (F.col("id") <= 1999))
        .orderBy("id")
        .collect()
    )
    assert [r.asDict(recursive=True) for r in got] == [
        r.asDict(recursive=True) for r in want
    ]
    # loud errors, not silent full reads
    with _pt.raises(KeyError, match="struct has fields"):
        _included_ids(meta, ["st.nope"])
    with _pt.raises(KeyError, match="structs only"):
        _included_ids(meta, ["id.x"])


def test_nested_sarg_leaf_prunes_groups_and_files(spark, tmp_path):
    """SArg leaves on dotted sub-paths ("st.a"): every column id —
    nested fields included — has its own footer stats and ROW_INDEX,
    so a predicate on a struct field prunes at BOTH levels: whole
    files via Footer.statistics[cid] and row groups via the field's
    own index entries. Values stay exact against Spark's reader."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import (
        pick_row_groups,
    )

    df = (
        spark.range(6000)
        .select(
            "id",
            F.struct(
                F.col("id").alias("a"),  # sorted -> disjoint rg ranges
                F.sha2(F.col("id").cast("string"), 256).alias("big"),
            ).alias("st"),
        )
        .orderBy("id")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "nsarg"),
        **{"compression": "zlib", "orc.row.index.stride": 1000},
    )
    tree = ("between", "st.a", [2000, 2999])
    picks = pick_row_groups(path, tree)
    kept = sum(sum(1 for d in per if d["keep"]) for per in picks)
    total = sum(len(per) for per in picks)
    assert kept < total, "nested-leaf row-group pruning did not engage"
    # file-level: a matching range keeps, a disjoint range skips
    assert sd.file_prunes(path, tree)["keep"] is True
    assert sd.file_prunes(path, ("between", "st.a", [10**7, 10**7 + 5]))[
        "keep"
    ] is False
    got = (
        sd.read_planned(spark, path, tree, ["id", "st.a"])
        .filter((F.col("st.a") >= 2000) & (F.col("st.a") <= 2999))
        .orderBy("id")
        .collect()
    )
    want = (
        spark.read.orc(path)
        .select("id", F.struct("st.a").alias("st"))
        .filter((F.col("st.a") >= 2000) & (F.col("st.a") <= 2999))
        .orderBy("id")
        .collect()
    )
    assert len(got) == 1000
    assert [r.asDict(recursive=True) for r in got] == [
        r.asDict(recursive=True) for r in want
    ]


def test_scan_file_evolved_mixed_lake(spark, tmp_path):
    """Name-based schema evolution on the lake read path (C1,
    `SchemaEvolution.java:460-514` null-fill semantics): a lake where
    file A predates an added column — requested columns missing from
    a file yield typed NULLs for its rows; a PREDICATE on the missing
    column disables pruning for that file only (all-NULL domain) and
    the residual filter keeps results exact."""
    import pyspark.sql.functions as F

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    (
        spark.range(2000).select("id", (F.col("id") % 7).alias("v"))
        .orderBy("id")
        .coalesce(1)
        .write.option("orc.row.index.stride", "1000").orc(old)
    )
    (
        spark.range(2000, 4000)
        .select(
            "id", (F.col("id") % 7).alias("v"),
            (F.col("id") * 10).alias("added"),
        )
        .orderBy("id")
        .coalesce(1)
        .write.option("orc.row.index.stride", "1000").orc(new)
    )
    import glob as g

    paths = sorted(g.glob(new + "/*.orc")) + sorted(g.glob(old + "/*.orc"))
    # 1) projection only: old file's `added` null-fills
    got = (
        sd.read_planned_lake(spark, paths, None, ["id", "added"])
        .orderBy("id")
        .collect()
    )
    assert len(got) == 4000
    assert all(r["added"] is None for r in got[:2000])
    assert all(r["added"] == r["id"] * 10 for r in got[2000:])
    # 2) predicate on the missing column: old file keeps-all (cannot
    # prune an all-NULL domain), residual drops its rows — exact
    tree = ("between", "added", [25000, 29990])
    audit: dict = {}
    rows = []
    for pth in paths:
        for res in sd.scan_file_evolved(pth, tree, ["id", "added"], dict(audit)):
            rows.extend(zip(res["columns"]["id"], res["columns"]["added"]))
    kept = [(i, a) for i, a in rows if a is not None and 25000 <= a <= 29990]
    assert len(kept) == 500 and all(a == i * 10 for i, a in kept)
    # 3) no requested column exists at all -> loud error
    import pytest as _pt

    with _pt.raises(ValueError, match="not an evolution"):
        list(sd.scan_file_evolved(paths[-1], None, ["nope"]))


def test_literal_dot_column_name_resolves_whole(spark, tmp_path):
    """A top-level column whose NAME contains a literal dot (legal
    ORC) must resolve as itself — never be misread as a struct
    traversal (the dotted-path feature's one ambiguity, pinned after
    a review repro)."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import (
        parse_tail_of_file,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import (
        _included_ids,
        _resolve_dotted,
    )

    df = spark.range(2000).select(
        "id", (F.col("id") % 7).alias("a.b")
    )
    path = _write_one_orc(
        spark, df, str(tmp_path / "dotname"),
        **{"orc.row.index.stride": 1000},
    )
    meta = parse_tail_of_file(path)
    assert len(_resolve_dotted(meta, "a.b")) == 1  # whole, not a chain
    assert _included_ids(meta, ["a.b"]) < _included_ids(meta, None)
    res = sd.decode_stripe(
        path, 0, ("less_than", "id", 1000), ["id", "a.b"]
    )
    sel = [i for i in range(res["n_rows"]) if res["columns"]["id"][i] < 1000]
    assert [res["columns"]["a.b"][i] for i in sel] == [
        i % 7 for i in range(1000)
    ]
    # file-level pruning on the literal-dot name uses its own stats
    assert sd.file_prunes(path, ("less_than", "a.b", 100))["keep"] is True
    assert sd.file_prunes(path, ("less_than", "a.b", -5))["keep"] is False


def test_arrow_parity_typed_file(typed_file):
    """The columnar decode of the full type surface equals pyarrow's
    read under all / alternating / contiguous row-group picks, and the
    run walk sees every RLEv2 sub-encoding."""
    from tests.arrow_parity import check_file

    sd.RUN_COUNTER.clear()
    assert check_file(typed_file, ALL_COLS) > 5000
    for name in ("SHORT_REPEAT", "DIRECT", "PATCHED_BASE", "DELTA"):
        assert sd.RUN_COUNTER.get(name, 0) > 0, name


def test_arrow_parity_rlev1(tmp_path):
    """The same parity on a v0.11 file (RLEv1 integer streams, both
    run kinds), nulls and dictionary strings included."""
    import datetime as dt
    from decimal import Decimal

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import (
        write_orc_native,
    )
    from tests.arrow_parity import check_file

    n = 5_000
    cols = {
        "k": list(range(n)),
        "r": [(v * 7919) % 100_003 - 50_000 for v in range(n)],
        "x": [None if v % 11 == 3 else -v * 3 for v in range(n)],
        "t": [(-128, 127, 0, -1)[v % 4] for v in range(n)],
        "s": [None if v % 13 == 7 else f"name_{v % 20}" for v in range(n)],
        "u": [f"uniq{v}" for v in range(n)],
        "d": [Decimal(v) / 4 for v in range(n)],
        # after 1970: pyarrow's reader skips the `secs -= 1` rule for
        # sub-millisecond fractions (see test_scan_file_edges_exact)
        "ts": [dt.datetime(2010, 6, 1) + dt.timedelta(seconds=v, microseconds=v) for v in range(n)],
        "day": [dt.date(1969, 12, 1) + dt.timedelta(days=v % 90) for v in range(n)],
        "b": [None if v % 5 == 0 else v % 3 == 1 for v in range(n)],
        "f": [v / 8 for v in range(n)],
    }
    path = str(tmp_path / "v011.orc")
    write_orc_native(
        path, cols, "k bigint, r bigint, x int, t tinyint, s string, u string, "
        "d decimal(10,2), ts timestamp, day date, b boolean, f double",
        version="0.11", row_index_stride=1_000, stripe_rows=3_000,
    )  # fmt: skip
    sd.RUN_COUNTER.clear()
    assert check_file(path, list(cols)) > n
    assert sd.RUN_COUNTER.get("v1_run", 0) > 0
    assert sd.RUN_COUNTER.get("v1_literal", 0) > 0


_BIG = 2**53


def test_scan_file_edges_exact(tmp_path, monkeypatch):
    """scan_file's lists at the edges of the numpy/Python boundary,
    against literal values: int64 past 2^53 with nulls (also on both
    sides of a row-group boundary), tinyint -128, booleans, dates at
    years 1 and 9999, a pre-1970 timestamp with a fraction (the
    `secs -= 1` rule), a non-UTC writer zone across both DST switches,
    and a timestamp past year 9999, which must raise."""
    import datetime as dt

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import orc_encode as oe

    n = 4_000  # two stripes of two 1000-row groups
    last = dt.datetime(9999, 12, 31, 23, 59, 59)
    utc = [
        dt.datetime(1969, 12, 31, 23, 59, 58, 250_000),
        dt.datetime(1960, 1, 1, 0, 0, 0, 1),
        dt.datetime(2015, 1, 1),
        None,
    ]
    # the writer encodes against the UTC base; the second stripe claims
    # America/New_York, so each value reads back 5 h later, on the New
    # York wall clock
    written = [
        dt.datetime(2021, 3, 14, 1, 59, 59, 500_000),
        dt.datetime(2021, 3, 14, 2, 0, 0),
        dt.datetime(2021, 11, 7, 0, 59, 59),
        dt.datetime(2021, 11, 7, 1, 0, 0),
        dt.datetime(2021, 7, 1, 12, 0, 0, 1),
    ]
    new_york = [
        dt.datetime(2021, 3, 14, 1, 59, 59, 500_000),  # EST
        dt.datetime(2021, 3, 14, 3, 0, 0),  # EDT: 02:xx never happened
        dt.datetime(2021, 11, 7, 1, 59, 59),  # EDT
        dt.datetime(2021, 11, 7, 1, 0, 0),  # EST: 01:xx again
        dt.datetime(2021, 7, 1, 13, 0, 0, 1),
    ]
    big = [_BIG + 1 + i for i in range(n)]
    for i in (1, 999, 1000, 2999, 3000):
        big[i] = None
    cols = {
        "k": list(range(n)),
        "big": big,
        "tiny": [(-128, 127, 0, -1)[i % 4] for i in range(n)],
        "flag": [None if i % 5 == 4 else i % 3 == 0 for i in range(n)],
        "day": [
            (dt.date(1, 1, 1), dt.date(1969, 12, 31), dt.date(1970, 1, 1),
             dt.date(9999, 12, 31))[i % 4]
            for i in range(n)
        ],  # fmt: skip
        "ts": [utc[i % 4] for i in range(2000)] + [written[i % 5] for i in range(2000)],
        "late": [dt.datetime(2000, 1, 1)] * (n - 1) + [last],
    }
    zones = iter(["UTC", "America/New_York"])
    pb_string, ts_parts = oe._pb_string, oe._ts_parts
    monkeypatch.setattr(
        oe, "_pb_string",
        lambda f, s: pb_string(f, next(zones) if (f, s) == (3, "UTC") else s),
    )

    def one_day_late(micros):
        secs, nanos = ts_parts(micros)
        at_last = micros == (last - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
        return secs + 86_400 * at_last, nanos

    monkeypatch.setattr(oe, "_ts_parts", one_day_late)
    path = str(tmp_path / "edges.orc")
    oe.write_orc_native(
        path, cols, "k bigint, big bigint, tiny tinyint, flag boolean, day date, "
        "ts timestamp, late timestamp",
        row_index_stride=1_000, stripe_rows=2_000,
    )  # fmt: skip
    monkeypatch.undo()

    names = ["k", "big", "tiny", "flag", "day", "ts"]
    got = {c: [] for c in names}
    for res in sd.scan_file(path, None, names):
        for c in names:
            got[c].extend(res["columns"][c])
    assert got["big"][:3] == [_BIG + 1, None, _BIG + 3]
    assert got["big"][998:1002] == [_BIG + 999, None, None, _BIG + 1002]
    assert got["big"] == big
    assert got["tiny"][:4] == [-128, 127, 0, -1] and got["tiny"] == cols["tiny"]
    assert got["flag"][:5] == [True, False, False, True, None]
    assert got["flag"] == cols["flag"]
    assert got["day"][:4] == [
        dt.date(1, 1, 1), dt.date(1969, 12, 31), dt.date(1970, 1, 1), dt.date(9999, 12, 31),
    ]  # fmt: skip
    assert got["day"] == cols["day"]
    assert got["ts"][:4] == utc
    assert got["ts"][2000:2005] == new_york
    assert got["ts"] == [utc[i % 4] for i in range(2000)] + [
        new_york[i % 5] for i in range(2000)
    ]
    # one kept group on each side of the null-straddled boundary
    for lo, row in ((0, 999), (1000, 1000)):
        res = list(sd.scan_file(path, ("between", "k", [lo, lo + 999]), ["k", "big"]))
        vals = dict(zip(res[0]["columns"]["k"], res[0]["columns"]["big"]))
        assert len(vals) == 1000 and vals[row] is None
    with pytest.raises(OverflowError):
        list(sd.scan_file(path, None, ["late"]))

"""Focused pins for the Python DataSource pair (`sources/pyds.py`):
the orc_meta batch source (s21) and the synthetic_events stream source
(r12) beyond their graded aggregates — per-file task planning, wire
parity with the tail parser, loud failure on an empty dir, and stream
offset idempotency."""

import glob
import os

import pyspark.sql.functions as F
import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark import get_spark
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
    register_orc_meta,
    register_synthetic_events,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc
from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import _await
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pyds-tests")
    register_orc_meta(s)
    register_synthetic_events(s)
    return s


@pytest.fixture(scope="module")
def orc_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pyds") / "nation3")
    write_orc(
        load_table(spark, SF, "nation").repartition(3, "n_nationkey"), d
    )
    return d


def test_orc_meta_rows_match_tail_parser(spark, orc_dir):
    """The relation's values are exactly what parse_tail_of_file +
    parse_stripe_footers return for each file — the data source is
    plumbing, not a second parser."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import footer_tail as ft

    got = {
        (r["file"], r["stripe_idx"], r["column_name"]): r
        for r in spark.read.format("orc_meta")
        .option("path", orc_dir)
        .load()
        .collect()
    }
    files = sorted(f for f in os.listdir(orc_dir) if f.endswith(".orc"))
    assert files, "fixture wrote no orc files"
    n_checked = 0
    for f in files:
        path = os.path.join(orc_dir, f)
        tail = ft.parse_tail_of_file(path, include_stripe_stats=True)
        stripes = ft.parse_stripe_footers(path)
        for s_idx, st in enumerate(stripes):
            for c_idx, col in enumerate(tail["columns"]):
                r = got[(f, s_idx, col["name"])]
                stats = tail["stripe_stats"][s_idx][c_idx + 1]
                assert r["n_values"] == stats["n_values"]
                assert r["n_rows_stripe"] == st["numberOfRows"]
                assert r["compression"] == tail["compression"]
                assert r["row_index_stride"] == tail["row_index_stride"]
                typed = stats.get("typed") or {}
                if typed.get("min") is not None:
                    assert r["min_val"] == str(typed["min"])
                n_checked += 1
    assert n_checked == len(got) and n_checked >= 3 * 3  # 3 files x 3 cols


def test_orc_meta_one_task_per_file(spark, orc_dir):
    """Planning contract: the scan fans out exactly one input
    partition per file (the million-file-lake topology)."""
    df = spark.read.format("orc_meta").option("path", orc_dir).load()
    n_files = len([f for f in os.listdir(orc_dir) if f.endswith(".orc")])
    assert df.rdd.getNumPartitions() == n_files


def _source_scan(fmt):
    def scan(spark, path):
        from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
            register_orc_native,
        )

        register_orc_native(spark)
        return spark.read.format(fmt).option("path", path).load()

    return scan


def _empty_path_readers():
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_stats import (
        footer_column_stats,
        rowgroup_stats,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.meta import orc_meta
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.union_reader import (
        read_orc_tagged,
    )

    return {
        "orc_meta": orc_meta,
        "footer_column_stats": footer_column_stats,
        "rowgroup_stats": lambda spark, path: rowgroup_stats(spark, path, ["k"]),
        "read_orc_tagged": read_orc_tagged,
        "orc_meta_source": _source_scan("orc_meta"),
        "orc_native_source": _source_scan("orc_native"),
    }


@pytest.mark.parametrize("reader", sorted(_empty_path_readers()))
def test_orc_meta_empty_dir_fails_loudly(spark, tmp_path, reader):
    """Repo convention: loud guards, not silent empties. Every ORC-tier
    reader refuses a directory with no .orc files in it, and says so."""
    (tmp_path / "_SUCCESS").write_bytes(b"")
    (tmp_path / "notes.txt").write_bytes(b"not orc")
    with pytest.raises(Exception, match=f"no .orc files under {tmp_path}"):
        _empty_path_readers()[reader](spark, str(tmp_path)).collect()


def test_orc_meta_requires_path(spark):
    with pytest.raises(Exception, match="path"):
        spark.read.format("orc_meta").load().collect()


def test_stream_source_offset_idempotency(spark, tmp_path):
    """Each availableNow run commits exactly one offset range; runs
    past the fixpoint append nothing. This is the property r12's
    graded aggregate relies on, pinned here per-run."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        SYNTH_BATCH,
        SYNTH_N,
    )

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    counts = []
    for _ in range(SYNTH_N // SYNTH_BATCH + 2):
        q = (
            spark.readStream.format("synthetic_events")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q, 120)
        counts.append(spark.read.parquet(sink).count())
    expect = [
        min((i + 1) * SYNTH_BATCH, SYNTH_N)
        for i in range(SYNTH_N // SYNTH_BATCH + 2)
    ]
    assert counts == expect, f"offset ledger drifted: {counts} != {expect}"
    # exactly-once: ids are unique and dense
    dedup = spark.read.parquet(sink).select("id").distinct().count()
    assert dedup == SYNTH_N


def test_jsonl_sink_two_phase_commit_roundtrip(spark, tmp_path):
    """The write half of the plugin surface: per-task temps, driver
    commit publishes atomically, and the published files round-trip
    through spark.read.json with exact values."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    out = str(tmp_path / "nation_jsonl")
    src = load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        src.repartition(2)
        .write.format("jsonl_sink")
        .option("path", out)
        .mode("append")
        .save()
    )
    names = sorted(os.listdir(out))
    assert names == ["part-00000.jsonl", "part-00001.jsonl"], names
    back = spark.read.json(out).select("n_nationkey", "n_name", "n_regionkey")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_jsonl_sink_abort_leaves_no_partials(spark, tmp_path):
    """Abort path: one injected task failure must leave NO published
    part files and NO temp debris — a reader can never observe a
    half-written output (the reference's write-then-publish
    discipline)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    out = str(tmp_path / "aborted")
    with pytest.raises(Exception, match="injected failure"):
        (
            load_table(spark, SF, "nation")
            .repartition(2)
            .write.format("jsonl_sink")
            .option("path", out)
            .option("fail_partition", "1")
            .mode("append")
            .save()
        )
    leftovers = [
        f for f in (os.listdir(out) if os.path.isdir(out) else [])
        if f.startswith("part-")
    ]
    assert leftovers == [], f"published partials after abort: {leftovers}"


def test_orc_meta_ddl_options_limitation_pinned(spark, orc_dir):
    """Documented platform divergence, pinned so a Spark upgrade that
    fixes it flips this test: CREATE TABLE ... USING <python-source>
    OPTIONS(...) does NOT forward the OPTIONS map to the Python
    reader in this Spark build (verified: an option-dumping source
    receives {}), so orc_meta's loud missing-path guard fires. The
    spark.read.format(...).option(...) path is the supported one
    (covered above); temp-view-over-DataFrame is the SQL route."""
    spark.sql("DROP TABLE IF EXISTS orc_meta_ddl")
    spark.sql(
        f"CREATE TABLE orc_meta_ddl USING orc_meta OPTIONS (path '{orc_dir}')"
    )
    try:
        with pytest.raises(Exception, match="requires .option"):
            spark.sql("SELECT * FROM orc_meta_ddl").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS orc_meta_ddl")


def test_orc_meta_corrupt_file_fails_loudly(spark, orc_dir, tmp_path):
    """A truncated ORC file must fail the orc_meta task loudly (the
    s13 recovery tier is where tolerance lives), never yield junk
    metadata rows."""
    import shutil

    bad_dir = str(tmp_path / "corrupt")
    os.makedirs(bad_dir)
    src = [f for f in os.listdir(orc_dir) if f.endswith(".orc")][0]
    data = open(os.path.join(orc_dir, src), "rb").read()
    with open(os.path.join(bad_dir, "truncated.orc"), "wb") as fh:
        fh.write(data[: max(len(data) // 3, 16)])
    with pytest.raises(Exception):
        spark.read.format("orc_meta").option("path", bad_dir).load().collect()


def test_stream_source_replay_range_matches_read(spark):
    """Recovery contract: readBetweenOffsets(start, end) — the replay
    path Spark calls when a batch must be recomputed after a failure —
    returns exactly the rows the original read() emitted for that
    offset range."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        SYNTH_BATCH,
        _build_stream_source_class,
    )

    src_cls = _build_stream_source_class()
    reader = src_cls(options={}).simpleStreamReader(None)

    def rows(batches):
        # the source emits Arrow RecordBatches (round-10 change);
        # flatten to row tuples so the contract stays value-level
        out = []
        for rb in batches:
            out.extend(zip(*(col.to_pylist() for col in rb.columns)))
        return out

    start = reader.initialOffset()
    first, nxt = reader.read(start)
    replay = rows(reader.readBetweenOffsets(start, nxt))
    assert rows(first) == replay and len(replay) == SYNTH_BATCH
    # second batch too, from the returned offset
    second, nxt2 = reader.read(nxt)
    assert rows(second) == rows(reader.readBetweenOffsets(nxt, nxt2))
    assert nxt2["pos"] == 2 * SYNTH_BATCH


# ---------------------------------------------------------------------------
# orc_native — the native decoder as a Spark DataSource with filter pushdown
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def native_lake(spark, tmp_path_factory):
    """4-file range-partitioned key-sorted lake with a high-entropy
    payload (so planned IO is visibly partial at small scale)."""
    out = str(tmp_path_factory.mktemp("onative") / "lake")
    (
        spark.range(40000)
        .select(
            "id",
            (F.col("id") % 97).cast("int").alias("v"),
            F.md5(F.col("id").cast("string")).alias("s"),
        )
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .option("compression", "zlib")
        .option("orc.compress.size", "4096")
        .orc(out)
    )
    return out


def _audits(audit_dir):
    import glob as g
    import json

    seen = {}
    for f in g.glob(os.path.join(audit_dir, "*.json")):
        with open(f) as fh:
            a = json.load(fh)
        seen[a["file"]] = a  # dedupe: sort-sampling passes re-read
    return seen


def test_orc_native_pushdown_three_levels(spark, native_lake, tmp_path):
    """`spark.read.format("orc_native")` + a Catalyst range filter:
    pushFilters translates the typed Filters into a SArg, each file
    task prunes at file/row-group/byte level (audit proves all
    three), Spark re-applies the filter above the scan (partial
    pushdown contract), and the rows equal Spark's own ORC reader."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    audit = str(tmp_path / "audit")
    got = (
        spark.read.format("orc_native")
        .option("path", native_lake)
        .option("columns", "id,v,s")
        .option("audit_dir", audit)
        .load()
        .filter((F.col("id") >= 12000) & (F.col("id") <= 13999))
        .orderBy("id")
        .collect()
    )
    want = (
        spark.read.orc(native_lake)
        .filter((F.col("id") >= 12000) & (F.col("id") <= 13999))
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 2000

    auds = _audits(audit)
    assert len(auds) == 4
    kept = [a for a in auds.values() if a["file_kept"]]
    skipped = [a for a in auds.values() if not a["file_kept"]]
    # level 1: whole files skipped on footer stats, zero bytes fetched
    assert len(skipped) == 3 and all(a["bytes_fetched"] == 0 for a in skipped)
    # level 2: row groups pruned inside the kept file
    assert len(kept) == 1
    assert 0 < kept[0]["groups_decoded"] < kept[0]["groups_total"]


def test_orc_native_full_scan_and_unsupported_filter(spark, native_lake):
    """No filter -> full table through the native decoder; a
    non-prunable filter (LIKE) stays Spark-side (yield-back path)
    and results stay exact."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    src = (
        spark.read.format("orc_native")
        .option("path", native_lake)
        .option("columns", "id,v,s")
        .load()
    )
    assert src.count() == 40000
    got = src.filter(F.col("s").like("00%")).count()
    want = spark.read.orc(native_lake).filter(F.col("s").like("00%")).count()
    assert got == want > 0


def test_orc_native_residual_filter_in_plan(spark, native_lake):
    """Pushdown is PARTIAL: the executed plan must keep Spark's own
    Filter above the Python BatchScan (pruning skips units; it never
    claims row-exact filtering)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    df = (
        spark.read.format("orc_native")
        .option("path", native_lake)
        .option("columns", "id,v,s")
        .load()
        .filter(F.col("id") < 100)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan orc_native" in plan
    assert "Filter" in plan and "(id" in plan


def test_orc_native_isin_and_null_literals(spark, native_lake):
    """Regression (review finding): pyspark's In filter carries its
    literals in `.value`; isin() must prune, and a null IN literal is
    dropped from the SArg (it can never match) while Spark still
    applies the full filter above."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    src = (
        spark.read.format("orc_native")
        .option("path", native_lake)
        .option("columns", "id,v,s")
        .load()
    )
    got = src.filter(F.col("id").isin(7, 93, 25000)).orderBy("id").collect()
    want = (
        spark.read.orc(native_lake)
        .filter(F.col("id").isin(7, 93, 25000))
        .orderBy("id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 3
    # null literal inside IN: dropped from the pushed leaf, correct rows
    got2 = src.filter(F.col("id").isin(F.lit(None), F.lit(42))).collect()
    assert [r["id"] for r in got2] == [42]


def test_orc_native_indexless_file_raises(spark, tmp_path):
    """Regression (review finding): a file written WITHOUT a row index
    must fail loudly through orc_native — never silently return zero
    rows while Spark's own reader returns data."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    out = str(tmp_path / "noindex")
    (
        spark.range(1000)
        .write.mode("overwrite")
        .option("orc.row.index.stride", "0")
        .orc(out)
    )
    df = (
        spark.read.format("orc_native")
        .option("path", out)
        .option("columns", "id")
        .load()
    )
    with pytest.raises(Exception, match="no row index"):
        df.count()


def test_orc_native_default_columns(spark, native_lake):
    """columns option omitted -> all top-level primitive columns."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    df = spark.read.format("orc_native").option("path", native_lake).load()
    assert df.columns == ["id", "v", "s"]
    assert df.count() == 40000


def test_orc_native_typed_columns_and_date_pushdown(spark, tmp_path):
    """decimal/date/timestamp ride the orc_native arrow exchange, and
    a DATE comparison literal (datetime.date through pushFilters)
    reaches the coercion kernel without error — rows equal Spark's
    own reader."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    out = str(tmp_path / "typedlake")
    (
        spark.range(6000)
        .select(
            "id",
            (F.col("id") * F.lit(7) / F.lit(4)).cast("decimal(14,3)").alias("dec"),
            F.date_add(F.lit("2021-01-01").cast("date"), (F.col("id") % 400).cast("int")).alias("d"),
            (
                F.lit("2021-01-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=F.col("id").cast("int"))
            ).alias("ts"),
        )
        .repartitionByRange(3, "id")
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .orc(out)
    )
    src = spark.read.format("orc_native").option("path", out).load()
    assert src.columns == ["id", "dec", "d", "ts"]
    cond = (F.col("d") >= F.lit("2021-06-01").cast("date")) & (
        F.col("id") < 2000
    )
    got = src.filter(cond).orderBy("id").collect()
    want = spark.read.orc(out).filter(cond).orderBy("id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_orc_native_non_struct_root(spark, tmp_path):
    """A bare-primitive-root ORC file (pyarrow refuses these) reads
    through orc_native via the `_root` convention — default columns
    included."""
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    golden = "/root/reference/examples/TestOrcFile.testTimestamp.orc"
    if not os.path.exists(golden):
        pytest.skip("reference examples absent")
    register_orc_native(spark)
    d = str(tmp_path / "rootdir")
    os.makedirs(d)
    shutil.copy(golden, os.path.join(d, "ts.orc"))
    df = spark.read.format("orc_native").option("path", d).load()
    assert df.columns == ["_root"]
    rows = df.collect()
    assert len(rows) == 12
    assert str(rows[0]["_root"]).startswith("2037-01-01")


def test_orc_native_nested_types_roundtrip(spark, tmp_path):
    """list/struct/map (incl. nulls at every level) read through the
    orc_native Arrow exchange equal Spark's own ORC reader — the
    round-10 gap (`pyds.py` refused nested kinds) closed: the native
    decoder's composite values now map via pa.list_/pa.struct/
    pa.map_ (nested include-tree parity: reference
    `c++/include/orc/Reader.hh:260-281`)."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    out = str(tmp_path / "nested")
    (
        spark.range(3000)
        .select(
            "id",
            F.when(
                F.col("id") % 13 != 0,
                F.array_repeat(
                    F.col("id") % 7, (F.col("id") % 3 + 1).cast("int")
                ),
            ).alias("xs"),
            F.struct(
                (F.col("id") * 2).alias("a"),
                F.when(
                    F.col("id") % 5 != 0,
                    F.md5(F.col("id").cast("string")),
                ).alias("b"),
            ).alias("st"),
            F.create_map(
                F.lit("k"), F.col("id"), F.lit("j"), F.col("id") % 5
            ).alias("mp"),
        )
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .orc(out)
    )
    got = (
        spark.read.format("orc_native")
        .option("path", out)
        .load()
        .filter(F.col("id") < 1500)  # pushed: proves SArg + residual
        .orderBy("id")
        .collect()
    )
    exp = (
        spark.read.orc(out)
        .select("id", "xs", "st", "mp")
        .filter(F.col("id") < 1500)
        .orderBy("id")
        .collect()
    )
    assert len(got) == len(exp) == 1500
    for g, e in zip(got, exp):
        assert g.asDict(recursive=True) == e.asDict(recursive=True)


def test_orc_native_union_golden(spark, tmp_path):
    """The union golden through the DataSource surface: values equal
    the function-call path (scan_file), which is pinned upstream
    against the reference's own .jsn dump — so a NULL union stays
    distinguishable from (tag, NULL-variant) through the Arrow
    exchange too (union -> the tagged-struct convention)."""
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources import stream_decode as sd
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    golden = "/root/reference/examples/TestOrcFile.testUnionAndTimestamp.orc"
    d = str(tmp_path / "union")
    os.makedirs(d)
    shutil.copy(golden, d)
    register_orc_native(spark)
    got = (
        spark.read.format("orc_native")
        .option("path", d)
        .option("columns", "union,decimal")
        .load()
        .collect()
    )
    exp_union: list = []
    exp_dec: list = []
    for res in sd.scan_file(golden, None, ["union", "decimal"]):
        exp_union.extend(res["columns"]["union"])
        exp_dec.extend(res["columns"]["decimal"])
    assert len(got) == len(exp_union) > 0
    n_null_union = sum(1 for u in exp_union if u is None)
    n_null_variant = sum(
        1
        for u in exp_union
        if u is not None and u[f"f{u['_tag']}"] is None
    )
    assert n_null_union > 0 and n_null_variant > 0  # both shapes present
    for g, u, dec in zip(got, exp_union, exp_dec):
        gu = g["union"].asDict() if g["union"] is not None else None
        assert gu == u
        assert g["decimal"] == dec


def test_orc_native_timestamp_literal_pushdown(spark, tmp_path):
    """A timestamp comparison literal (datetime.datetime through
    pushFilters) rides the coercion kernel: modern engine-written
    files carry ORC-135 UTC stats, so timestamp PPD is active and the
    audit must show pruning — rows equal Spark's own reader."""
    import json as j

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    out = str(tmp_path / "tslake")
    (
        spark.range(8000)
        .select(
            "id",
            (
                F.lit("2022-01-01 00:00:00").cast("timestamp")
                + F.make_interval(mins=F.col("id").cast("int"))
            ).alias("ts"),
        )
        .coalesce(1)
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .orc(out)
    )
    audit = str(tmp_path / "audit")
    cond = F.col("ts") < F.lit("2022-01-02 00:00:00").cast("timestamp")
    src = (
        spark.read.format("orc_native")
        .option("path", out)
        .option("audit_dir", audit)
        .load()
    )
    got = src.filter(cond).orderBy("id").collect()
    want = spark.read.orc(out).filter(cond).orderBy("id").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 1440
    auds = [
        j.load(open(f))
        for f in glob.glob(os.path.join(audit, "*.json"))
    ]
    assert any(
        a["groups_decoded"] < a["groups_total"] for a in auds
    ), "timestamp PPD should prune row groups on an ORC-135 writer"


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_orc_native_nested_fuzz_roundtrip(spark, tmp_path, seed):
    """Seeded-random nested schemas (arrays/structs/maps over mixed
    primitives incl. decimal/timestamp, nulls injected at EVERY
    level) written by Spark's ORC writer and read back through the
    orc_native Arrow exchange must equal Spark's own reader row for
    row — the hardening fuzz for the round-11 nested mapping."""
    import datetime as dt
    import random
    from decimal import Decimal

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    rnd = random.Random(seed)

    prims = [
        ("bigint", lambda: rnd.randint(-(2**40), 2**40)),
        ("int", lambda: rnd.randint(-(2**31), 2**31 - 1)),
        ("double", lambda: round(rnd.uniform(-1e6, 1e6), 6)),
        ("string", lambda: "".join(rnd.choice("abß字🎈 x") for _ in range(rnd.randint(0, 9)))),
        ("boolean", lambda: rnd.random() < 0.5),
        ("date", lambda: dt.date(1970, 1, 1) + dt.timedelta(days=rnd.randint(-20000, 40000))),
        ("decimal(12,3)", lambda: Decimal(rnd.randint(-10**9, 10**9)).scaleb(-3)),
        ("timestamp", lambda: dt.datetime(2000, 1, 1) + dt.timedelta(seconds=rnd.randint(0, 10**9), microseconds=rnd.randint(0, 999999))),
    ]

    def null_or(gen):
        return None if rnd.random() < 0.2 else gen()

    def rand_field(depth):
        roll = rnd.random()
        if depth >= 2 or roll < 0.4:
            t, gen = rnd.choice(prims)
            return t, (lambda g=gen: null_or(g))
        if roll < 0.6:
            et, egen = rand_field(depth + 1)
            return f"array<{et}>", (
                lambda g=egen: null_or(lambda: [g() for _ in range(rnd.randint(0, 4))])
            )
        if roll < 0.8:
            subs = [rand_field(depth + 1) for _ in range(rnd.randint(1, 3))]
            ddl = ", ".join(f"f{i}: {t}" for i, (t, _) in enumerate(subs))
            return f"struct<{ddl}>", (
                lambda gs=[g for _, g in subs]: null_or(
                    lambda: tuple(g() for g in gs)
                )
            )
        vt, vgen = rand_field(depth + 1)
        return f"map<string,{vt}>", (
            lambda g=vgen: null_or(
                lambda: {f"k{j}": g() for j in range(rnd.randint(0, 3))}
            )
        )

    fields = [rand_field(0) for _ in range(5)]
    ddl = "id bigint, " + ", ".join(
        f"c{i} {t}" for i, (t, _) in enumerate(fields)
    )
    rows = [
        tuple([i] + [g() for _, g in fields]) for i in range(400)
    ]
    out = str(tmp_path / "fuzz")
    (
        spark.createDataFrame(rows, ddl)
        .repartition(1)
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .orc(out)
    )
    register_orc_native(spark)
    got = (
        spark.read.format("orc_native").option("path", out).load()
        .orderBy("id").collect()
    )
    exp = spark.read.orc(out).orderBy("id").collect()
    assert len(got) == len(exp) == 400
    for g, x in zip(got, exp):
        assert g.asDict(recursive=True) == x.asDict(recursive=True)


def test_orc_native_dotted_subpath_projection(spark, tmp_path):
    """`columns` option accepts dotted sub-paths: the declared schema
    is the PRUNED struct, values equal Spark's reader, and the audit
    shows fewer bytes fetched than the full-struct read (the sibling
    field's streams never enter the per-task plan)."""
    import json as j
    import glob as g

    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    out = str(tmp_path / "dotted")
    (
        spark.range(6000)
        .select(
            "id",
            F.struct(
                (F.col("id") % 11).alias("a"),
                F.sha2(F.col("id").cast("string"), 512).alias("big"),
            ).alias("st"),
        )
        .repartition(1)
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .option("compression", "zlib")
        .orc(out)
    )

    def run(cols, audit_dir):
        df = (
            spark.read.format("orc_native")
            .option("path", out)
            .option("columns", cols)
            .option("audit_dir", audit_dir)
            .load()
            .filter(F.col("id") < 2000)
        )
        rows = df.orderBy("id").collect()
        total = 0
        for f in g.glob(os.path.join(audit_dir, "*.json")):
            with open(f) as fh:
                total = max(total, j.load(fh)["bytes_fetched"])
        return df, rows, total

    pruned_df, pruned, pruned_bytes = run("id,st.a", str(tmp_path / "a1"))
    _, full, full_bytes = run("id,st", str(tmp_path / "a2"))
    assert [f.name for f in pruned_df.schema["st"].dataType.fields] == ["a"]
    assert pruned_bytes < 0.5 * full_bytes, (pruned_bytes, full_bytes)
    assert len(pruned) == len(full) == 2000
    for p, f in zip(pruned, full):
        assert p["id"] == f["id"] and p["st"]["a"] == f["st"]["a"]


def test_orc_native_nested_filter_pushdown(spark, tmp_path):
    """Spark DOES deliver multi-part attributes through pushFilters
    (probed live on this build): a Catalyst filter on st.a joins to
    the engine's dotted-path SArg, prunes row groups via the FIELD's
    own ROW_INDEX (audit-proven), and Spark's residual filter keeps
    the rows exact."""
    import glob as g
    import json as j

    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    out = str(tmp_path / "npush")
    (
        spark.range(6000)
        .select(
            "id",
            F.struct(
                F.col("id").alias("a"),
                F.sha2(F.col("id").cast("string"), 256).alias("big"),
            ).alias("st"),
        )
        .repartition(1)
        .sortWithinPartitions("id")
        .write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .option("compression", "zlib")
        .orc(out)
    )
    audit = str(tmp_path / "audit")
    rows = (
        spark.read.format("orc_native")
        .option("path", out)
        .option("columns", "id,st.a")
        .option("audit_dir", audit)
        .load()
        .filter((F.col("st.a") >= 2000) & (F.col("st.a") <= 2999))
        .orderBy("id")
        .collect()
    )
    exp = (
        spark.read.orc(out)
        .filter((F.col("st.a") >= 2000) & (F.col("st.a") <= 2999))
        .orderBy("id")
        .collect()
    )
    assert len(rows) == len(exp) == 1000
    assert rows[0]["st"].asDict() == {"a": 2000}  # pruned struct
    assert [r["id"] for r in rows] == [r["id"] for r in exp]
    audits = [j.load(open(f)) for f in g.glob(os.path.join(audit, "*.json"))]
    assert audits and all(
        a["groups_decoded"] < a["groups_total"] for a in audits
    ), f"nested-leaf pushdown did not prune: {audits}"


def test_orc_native_evolved_lake_schema_file(spark, tmp_path):
    """orc_native over a mixed-schema lake: schema_file names a
    post-evolution file for the READER schema; the pre-evolution
    file's rows null-fill the added column (C1 null-fill through the
    DataSource surface)."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    lake = tmp_path / "lake"
    lake.mkdir()
    (
        spark.range(1000).select("id", (F.col("id") % 5).alias("v"))
        .coalesce(1).write.option("orc.row.index.stride", "1000")
        .orc(str(tmp_path / "w_old"))
    )
    (
        spark.range(1000, 2000)
        .select("id", (F.col("id") % 5).alias("v"),
                F.md5(F.col("id").cast("string")).alias("added"))
        .coalesce(1).write.option("orc.row.index.stride", "1000")
        .orc(str(tmp_path / "w_new"))
    )
    import glob as g
    import shutil

    old_f = g.glob(str(tmp_path / "w_old" / "*.orc"))[0]
    new_f = g.glob(str(tmp_path / "w_new" / "*.orc"))[0]
    shutil.copy(old_f, lake / "a_old.orc")
    shutil.copy(new_f, lake / "b_new.orc")
    rows = (
        spark.read.format("orc_native")
        .option("path", str(lake))
        .option("schema_file", str(lake / "b_new.orc"))
        .option("columns", "id,v,added")
        .load()
        .orderBy("id")
        .collect()
    )
    assert len(rows) == 2000
    assert all(r["added"] is None for r in rows[:1000])
    assert all(r["added"] is not None for r in rows[1000:])
    assert [r["id"] for r in rows] == list(range(2000))


def test_s27_nested_sarg_prunes_files_and_groups(spark, tmp_path):
    """The graded nested-SArg query's pushdown PROOF (r11 verdict Next
    #4 done-criterion): the struct sub-field BETWEEN must skip whole
    files on nested footer stats AND row groups on nested ROW_INDEX
    stats — asserted from the per-task audit lines, not inferred."""
    import glob as g
    import json

    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import (
        _S27_CHI,
        _S27_CLO,
        _s27_stage,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    # sf0.01: 15000 orders over 4 files => 4 row groups per file at
    # stride 1000; the custkey band lives inside ONE file's keyspace
    dest = _s27_stage(spark, "/root/testdata/sf0.01")
    register_orc_native(spark)
    audit_dir = str(tmp_path / "audit")
    df = (
        spark.read.format("orc_native")
        .option("path", dest)
        .option("columns", "o_orderkey,status,cust")
        .option("audit_dir", audit_dir)
        .load()
        .filter(
            (F.col("cust.custkey") >= _S27_CLO)
            & (F.col("cust.custkey") <= _S27_CHI)
        )
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    n = df.count()
    expect = (
        load_table(spark, "/root/testdata/sf0.01", "orders")
        .filter(F.col("o_custkey").between(_S27_CLO, _S27_CHI))
        .count()
    )
    assert n == expect and n > 0
    audits = [json.load(open(p)) for p in g.glob(audit_dir + "/*.json")]
    assert len(audits) == 4
    skipped = [a for a in audits if not a.get("file_kept", True)]
    kept = [a for a in audits if a.get("file_kept", True)]
    # nested FOOTER stats skip whole files...
    assert len(skipped) == 3, audits
    # ...and nested ROW_INDEX stats skip row groups inside the survivor
    assert all(a["groups_decoded"] < a["groups_total"] for a in kept), audits


def test_orc_native_force_positional_and_strict_schema(spark, tmp_path):
    """The r13 DataSource options end-to-end: `force_positional`
    reconciles a legacy-REAL-named file by index under the elected
    reader (orc.force.positional.evolution parity), and
    `tolerate_missing_schema=false` refuses best-effort positional
    reconciliation of a _colN file (orc.tolerate.missing.schema
    parity) while the default reads it fine."""
    import pyspark.sql.functions as F

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import (
        register_orc_native,
    )

    register_orc_native(spark)
    # lake A: legacy real names vs modern names + added column
    lake = tmp_path / "lake_force"
    lake.mkdir()
    (
        spark.range(1000)
        .select(F.col("id").cast("int").alias("legacy_id"),
                (F.col("id") % 5).alias("old_v"))
        .coalesce(1).write.orc(str(tmp_path / "f_old"))
    )
    (
        spark.range(1000, 2000)
        .select("id", (F.col("id") % 5).alias("v"),
                F.md5(F.col("id").cast("string")).alias("added"))
        .coalesce(1).write.orc(str(tmp_path / "f_new"))
    )
    import glob as g
    import shutil

    shutil.copy(g.glob(str(tmp_path / "f_old" / "*.orc"))[0], lake / "a_old.orc")
    shutil.copy(g.glob(str(tmp_path / "f_new" / "*.orc"))[0], lake / "b_new.orc")
    rows = (
        spark.read.format("orc_native")
        .option("path", str(lake))
        .option("force_positional", "true")
        .option("columns", "id,v,added")
        .load()
        .orderBy("id")
        .collect()
    )
    assert len(rows) == 2000
    assert [r["id"] for r in rows] == list(range(2000))
    assert rows[0]["added"] is None and rows[1500]["added"] is not None
    # lake B: _colN file + named file; strict mode refuses at scan time
    lake2 = tmp_path / "lake_strict"
    lake2.mkdir()
    (
        spark.range(1000)
        .select(F.col("id").cast("int").alias("_col0"),
                (F.col("id") % 5).alias("_col1"))
        .coalesce(1).write.orc(str(tmp_path / "s_old"))
    )
    (
        spark.range(1000, 2000)
        .select("id", (F.col("id") % 5).alias("v"))
        .coalesce(1).write.orc(str(tmp_path / "s_new"))
    )
    shutil.copy(g.glob(str(tmp_path / "s_old" / "*.orc"))[0], lake2 / "a_old.orc")
    shutil.copy(g.glob(str(tmp_path / "s_new" / "*.orc"))[0], lake2 / "b_new.orc")
    ok = (
        spark.read.format("orc_native")
        .option("path", str(lake2)).option("columns", "id,v")
        .load().count()
    )
    assert ok == 2000  # default: tolerant (the reference default)
    with pytest.raises(Exception, match="schema metadata is missing"):
        (
            spark.read.format("orc_native")
            .option("path", str(lake2))
            .option("columns", "id,v")
            .option("tolerate_missing_schema", "false")
            .load()
            .count()
        )

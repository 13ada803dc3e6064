"""Schema contract: the FIRST test file to run (name-ordered).

Round-2 lesson: the driver regenerated testdata with `events.ts`
switched from parquet TIMESTAMP(NANOS) to timestamp[us], and the only
local signal was 16 opaque pytest failures deep in operator tests (plus
a silently-corrupting streaming path). This file turns any future
testdata drift into ONE loud, named failure before anything else runs.

Three layers:
1. parquet footer dtypes per table (pyarrow, no Spark) — names the
   exact drifted column;
2. the loader contract: `load_table` must hand every consumer
   events.ts as session-tz TIMESTAMP whatever the file had;
3. batch-vs-stream equivalence on min/max(ts)/count — the r2 failure
   mode was the STREAM path silently corrupting timestamps 1000× while
   the batch path failed loudly.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import _await
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import TABLE_NAMES, load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# (table, column) -> set of parquet types the repo knows how to handle.
# events.ts intentionally allows both generations of driver testdata;
# everything else is pinned exactly.
EXPECTED = {
    "region": {"r_regionkey": {"int32"}, "r_name": {"string", "large_string"}},
    "nation": {
        "n_nationkey": {"int32"},
        "n_name": {"string", "large_string"},
        "n_regionkey": {"int32"},
    },
    "customer": {
        "c_custkey": {"int64"},
        "c_name": {"string", "large_string"},
        "c_nationkey": {"int32"},
        "c_acctbal": {"double"},
        "c_mktsegment": {"string", "large_string"},
    },
    "supplier": {
        "s_suppkey": {"int64"},
        "s_name": {"string", "large_string"},
        "s_nationkey": {"int32"},
        "s_acctbal": {"double"},
    },
    "part": {
        "p_partkey": {"int64"},
        "p_name": {"string", "large_string"},
        "p_brand": {"string", "large_string"},
        "p_type": {"string", "large_string"},
        "p_size": {"int32"},
        "p_retailprice": {"double"},
    },
    "orders": {
        "o_orderkey": {"int64"},
        "o_custkey": {"int64"},
        "o_orderstatus": {"string", "large_string"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp[us]", "timestamp[ns]"},
        "o_orderpriority": {"string", "large_string"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_partkey": {"int64"},
        "l_suppkey": {"int64"},
        "l_linenumber": {"int32"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_tax": {"double"},
        "l_returnflag": {"string", "large_string"},
        "l_linestatus": {"string", "large_string"},
        "l_shipdate": {"timestamp[us]", "timestamp[ns]"},
    },
    "events": {
        "event_id": {"int64"},
        "ts": {"timestamp[us]", "timestamp[ns]", "int64"},
        "user_id": {"int64"},
        "event_type": {"string", "large_string"},
        "value": {"double"},
        "props": {"string", "large_string"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
        "lang": {"string", "large_string"},
        "source": {"string", "large_string"},
        "n_chars": {"int64"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<element: float>", "list<item: float>"},
        "label": {"int32"},
    },
}


@pytest.mark.parametrize("table", TABLE_NAMES)
def test_parquet_footer_schema(table):
    schema = pq.read_schema(os.path.join(SF_DIR, f"{table}.parquet"))
    expected = EXPECTED[table]
    got = {f.name: str(f.type) for f in schema}
    assert set(got) == set(expected), (
        f"TESTDATA DRIFT: {table} columns changed — have {sorted(got)}, "
        f"the repo expects {sorted(expected)}. Update tables.py consumers "
        "and this contract together."
    )
    for col, allowed in expected.items():
        assert got[col] in allowed, (
            f"TESTDATA DRIFT: {table}.{col} is parquet {got[col]!r}; the repo "
            f"handles {sorted(allowed)}. The last drift like this (events.ts "
            "nanos→micros) broke 9 operators and the bench — fix "
            "tables.py/streaming dispatch, then widen this contract."
        )


def test_loader_normalizes_events_ts(spark):
    df = load_table(spark, SF_DIR, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp", (
        "load_table must hand consumers events.ts as session-tz TIMESTAMP; got "
        f"{df.schema['ts'].dataType.simpleString()} — the dtype dispatch in "
        "tables.read_spec is broken for this testdata generation"
    )


def test_stream_matches_batch_on_ts(spark):
    """Stream and batch paths must agree on min/max(ts) and count — a
    silent unit mismatch (the r2 1000× corruption) fails here loudly."""
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import _events_stream
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    batch = (
        load_table(spark, SF_DIR, "events")
        .agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx"), F.count("*").alias("n")
        )
        .collect()[0]
    )
    out = os.path.join(scratch_dir(SF_DIR), "stream", "contract_probe")
    ckpt = out + "_ckpt"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        _events_stream(spark, SF_DIR)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 300)
    stream = (
        spark.read.parquet(out)
        .agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx"), F.count("*").alias("n")
        )
        .collect()[0]
    )
    assert (stream["mn"], stream["mx"], stream["n"]) == (
        batch["mn"],
        batch["mx"],
        batch["n"],
    ), (
        f"STREAM/BATCH DIVERGENCE on events.ts: stream={stream} batch={batch} — "
        "the streaming schema dispatch (streaming/ingest.py:_events_stream) "
        "disagrees with the batch loader (tables.load_table); this is the "
        "silent-corruption failure mode from round 2"
    )


_BASE = datetime.datetime(2024, 3, 1, 12, 0, 0)
_EPOCH = datetime.datetime(1970, 1, 1)


def _events_table(ts):
    n = len(ts)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
            "event_type": pa.array(["click"] * n, pa.string()),
            "value": pa.array([float(i) for i in range(n)], pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )


def _stream_with_sentinels(spark, sf):
    """Run the sentinel-staged events stream over `sf` to a parquet
    sink; return (data rows, sentinel rows) read back from it."""
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import (
        _events_stream,
        _not_sentinel,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    shutil.rmtree(scratch_dir(sf))  # a stale checkpoint would skip the files
    out = os.path.join(scratch_dir(sf), "stream", "generation_probe")
    try:
        q = (
            _events_stream(spark, sf, with_sentinel=True)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", out + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await(q, 300)
        sink = spark.read.parquet(out)
        data = sink.filter(_not_sentinel("event_type")).orderBy("event_id").collect()
        sentinels = sink.filter(~_not_sentinel("event_type")).orderBy("ts").collect()
    finally:
        shutil.rmtree(scratch_dir(sf), ignore_errors=True)
    return data, sentinels


def _ts_generation(gen: str, dts):
    """events.ts for `dts` in one testdata generation, and the
    Spark TIMESTAMP values a correct loader returns for it."""
    if gen == "ns":
        return pa.array(dts, pa.timestamp("ns")), dts
    if gen == "us_ntz":
        return pa.array(dts, pa.timestamp("us")), dts
    mult = {"int_s": 1, "int_ms": 1000, "int_us": 10**6, "int_ns": 10**9}[gen]
    raw = [(d - _EPOCH) // datetime.timedelta(microseconds=1) * mult // 10**6 for d in dts]
    want = [_EPOCH + datetime.timedelta(microseconds=r * 10**6 // mult) for r in raw]
    return pa.array(raw, pa.int64()), want


@pytest.mark.parametrize("gen", ["ns", "us_ntz", "int_s", "int_ms", "int_us", "int_ns"])
def test_loader_handles_every_ts_generation(spark, tmp_path, gen):
    """The footer-derived read spec must keep working for every
    testdata generation shipped so far or plausible next
    (TIMESTAMP(NANOS), micros NTZ, raw int64 epochs in s/ms/us/ns):
    batch values are exact, and the sentinel-staged stream returns the
    same rows as the batch plus two sentinels past the data's max."""
    sf = str(tmp_path / f"sf_{gen}")
    os.makedirs(sf, exist_ok=True)
    dts = [_BASE + datetime.timedelta(seconds=i, microseconds=137 * i) for i in range(20)]
    ts, want = _ts_generation(gen, dts)
    pq.write_table(_events_table(ts), os.path.join(sf, "events.parquet"))

    df = load_table(spark, sf, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got == want, f"{gen}: batch loader corrupted values"

    data, sentinels = _stream_with_sentinels(spark, sf)
    assert [r["ts"] for r in data] == got, f"{gen}: stream disagrees with batch"
    assert [(r["ts"].date() - max(got).date()).days for r in sentinels] == [2, 4], gen


def test_directory_source_streams_every_part(spark, tmp_path):
    """A directory-shaped events.parquet (scripts/make_mrg_fixture.py)
    must stream every part file, not zero rows: stream count and
    min/max(ts) equal the batch, and the watermark sentinels sit past
    the LAST part's max (the footer max is taken over every part)."""
    sf = str(tmp_path / "sf_parts")
    parts_dir = os.path.join(sf, "events.parquet")
    os.makedirs(parts_dir)
    dts = [_BASE + datetime.timedelta(hours=12 * i) for i in range(20)]
    table = _events_table(pa.array(dts, pa.timestamp("us")))
    for i in range(2):
        part = os.path.join(parts_dir, f"part-{i:02d}.parquet")
        pq.write_table(table.slice(10 * i, 10), part, version="2.6")
        os.utime(part, (1_700_000_000 + i, 1_700_000_000 + i))

    batch = load_table(spark, sf, "events").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx"), F.count("*").alias("n")
    ).collect()[0]
    assert (batch["mn"], batch["mx"], batch["n"]) == (dts[0], dts[-1], 20)

    data, sentinels = _stream_with_sentinels(spark, sf)
    ts = [r["ts"] for r in data]
    assert (min(ts, default=None), max(ts, default=None), len(ts)) == (
        batch["mn"], batch["mx"], batch["n"]
    ), f"directory source streamed {len(ts)} of {batch['n']} rows"
    assert [(r["ts"].date() - dts[-1].date()).days for r in sentinels] == [2, 4]


@pytest.mark.parametrize("unit,mult", [("ns", 1000000000), ("us", 1000000), ("ms", 1000), ("s", 1)])
def test_loader_handles_integer_epoch_generation(spark, tmp_path, unit, mult):
    """If events.ts ever arrives as a RAW integer epoch column, the
    loader must resolve the unit from footer-stat magnitude and
    normalize to timestamp — for nanos, micros, millis, and seconds."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq2

    sf = str(tmp_path / f"sfint_{unit}")
    os.makedirs(sf, exist_ok=True)
    base = datetime.datetime(2024, 5, 1, 8, 30, 0, tzinfo=datetime.timezone.utc)
    expect = [base + datetime.timedelta(seconds=i * 60) for i in range(10)]
    raw = [int(t.timestamp()) * mult for t in expect]
    table = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": pa.array(raw, pa.int64()),
            "user_id": pa.array([i % 3 for i in range(10)], pa.int64()),
            "event_type": pa.array(["click"] * 10, pa.string()),
            "value": pa.array([float(i) for i in range(10)], pa.float64()),
            "props": pa.array(["{}"] * 10, pa.string()),
        }
    )
    pq2.write_table(table, os.path.join(sf, "events.parquet"))
    df = load_table(spark, sf, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got == [t.replace(tzinfo=None) for t in expect], (
        f"integer-epoch {unit} dispatch wrong: {got[0]} vs {expect[0]}"
    )


def test_generic_loader_handles_nanos_in_any_table(spark, tmp_path):
    """A nanos drift in a NON-events table (e.g. lineitem.l_shipdate)
    must load through the generic nanos fallback, not crash."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq2

    sf = str(tmp_path / "sflns")
    os.makedirs(sf, exist_ok=True)
    d0 = datetime.datetime(2024, 1, 1)
    table = pa.table(
        {
            "l_orderkey": pa.array([1, 2, 3], pa.int64()),
            "l_shipdate": pa.array(
                [d0 + datetime.timedelta(days=i) for i in range(3)], pa.timestamp("ns")
            ),
        }
    )
    pq2.write_table(table, os.path.join(sf, "lineitem.parquet"))
    df = load_table(spark, sf, "lineitem")
    assert df.schema["l_shipdate"].dataType.simpleString() == "timestamp"
    got = [r["l_shipdate"] for r in df.orderBy("l_orderkey").collect()]
    assert got == [d0 + datetime.timedelta(days=i) for i in range(3)]


def test_scratch_caches_rebuild_on_source_change(spark, tmp_path):
    """The fingerprint-marker mechanism end-to-end: a derived ORC copy
    must rebuild when its source parquet changes (the round-2 failure
    was a marker surviving a testdata regeneration)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq2

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import orc_copy

    sf = str(tmp_path / "sffp")
    os.makedirs(sf, exist_ok=True)

    def write_nation(keys):
        table = pa.table(
            {
                "n_nationkey": pa.array(keys, pa.int32()),
                "n_name": pa.array([f"N{k}" for k in keys], pa.string()),
                "n_regionkey": pa.array([k % 3 for k in keys], pa.int32()),
            }
        )
        pq2.write_table(table, os.path.join(sf, "nation.parquet"))

    write_nation([1, 2, 3])
    dest = orc_copy(spark, sf, "nation")
    assert spark.read.orc(dest).count() == 3
    time.sleep(0.01)  # ensure a distinct mtime_ns
    write_nation([1, 2, 3, 4, 5])
    dest2 = orc_copy(spark, sf, "nation")
    assert dest2 == dest
    assert spark.read.orc(dest2).count() == 5, (
        "stale fingerprint marker: ORC copy did not rebuild after the "
        "source parquet changed"
    )
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    shutil.rmtree(scratch_dir(sf), ignore_errors=True)


def _orc_copy_rows(spark, sf):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import orc_copy

    return sorted(spark.read.orc(orc_copy(spark, sf, "nation")).collect())


def _s26_rows(spark, sf):
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import (
        s26_evolved_lake_scan,
    )

    return s26_evolved_lake_scan(spark, sf).collect()


def _r1_rows(spark, sf):
    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import (
        r1_streaming_orc_ingest,
    )

    return r1_streaming_orc_ingest(spark, sf).collect()


# case -> (artifact path under the sf's scratch dir, rows served from it)
_STAGED_ARTIFACTS = {
    "orc_copy": ("orc/nation_default", _orc_copy_rows),
    "s26_lake": ("orc/lineitem_evolved_lake", _s26_rows),
    "r1_sink": ("stream/events_orc", _r1_rows),
}


@pytest.mark.parametrize("case", sorted(_STAGED_ARTIFACTS))
def test_deleted_artifact_is_rebuilt(spark, tmp_path, monkeypatch, case):
    """A marker vouches only for an artifact that still exists: delete
    the artifact but keep its marker, and the next call must rebuild it
    and serve the same rows (trusting the marker alone crashed s22 on
    `files[0]` and r1 on a missing sink path). A marker also vouches
    only for its own path: copy the scratch root elsewhere (a copied
    checkout), drop the original, and the copy's artifacts rebuild
    rather than serve a sink whose `_spark_metadata` names the old
    absolute paths."""
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark import tables
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    rel, rows = _STAGED_ARTIFACTS[case]
    sf = str(tmp_path / f"sfgone_{case}")
    os.makedirs(sf)
    for t in ("nation", "lineitem", "events"):
        os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), os.path.join(sf, f"{t}.parquet"))
    old_root = str(tmp_path / "scratch_a")
    monkeypatch.setattr(tables, "_SCRATCH_ROOT", old_root)
    try:
        before = rows(spark, sf)
        assert before, f"{case}: no rows to compare"
        path = os.path.join(scratch_dir(sf), rel)
        shutil.rmtree(path)
        assert rows(spark, sf) == before, f"{case}: rebuilt artifact serves different rows"
        assert os.path.isdir(path), f"{case}: artifact was not rebuilt"

        new_root = str(tmp_path / "scratch_b")
        shutil.copytree(old_root, new_root, symlinks=True)
        shutil.rmtree(old_root)
        monkeypatch.setattr(tables, "_SCRATCH_ROOT", new_root)
        assert rows(spark, sf) == before, f"{case}: moved scratch root serves different rows"
        moved = os.path.join(scratch_dir(sf), rel)
        with open(moved + "._done") as fh:
            assert fh.read().startswith(os.path.abspath(moved) + ";"), case
    finally:
        shutil.rmtree(old_root, ignore_errors=True)
        shutil.rmtree(str(tmp_path / "scratch_b"), ignore_errors=True)


def test_explicit_ddl_matches_inference(spark):
    """r13 optimization: `_load_generic` reads through an explicit
    footer-derived schema (~20 ms) instead of JVM inference
    (~150-180 ms per call, paid per table per query execution). The
    contract is exact StructType equality with what inference would
    have produced — for every table at every SF present — so the
    planning-cost saving can never change a query's schema. The
    unmapped-type fallback path is exercised separately by
    test_generic_loader_handles_nanos_in_any_table."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import _explicit_ddl

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        if not os.path.isdir(sf_dir):
            continue
        for table in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{table}.parquet")
            ddl, ns_cols = _explicit_ddl(path)
            if not ddl or ns_cols:
                continue  # fallback/conversion generations: covered elsewhere
            inferred = spark.read.parquet(path).schema
            explicit = spark.read.schema(ddl).parquet(path).schema
            assert explicit == inferred, (
                f"{sf}/{table}: explicit schema diverges from inference\n"
                f"  explicit: {explicit}\n  inferred: {inferred}"
            )

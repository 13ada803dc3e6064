"""The benchmark's workloads.  Each one is a closed loop with one client:
`schedule` draws one round of operations from the seed, `run` executes
one operation and checks its output outside the timed interval.

Layers are named after the engine's modules.  Every call into a layer
is wrapped in a span (`trace.Tracer`); so is the benchmark's own work
around an op (`bench.reset`, `bench.check`, `bench.record`), so that the
spans of an op account for all of its wall time.  With tracing off the
wrappers record nothing, and the per-layer counters below are only
gathered in traced rounds.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import subprocess
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.orc as po
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.trace import Tracer

NATIVE_COLUMNS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                  "l_returnflag", "l_shipdate"]
NATIVE_SCHEMA = ("l_orderkey bigint, l_partkey bigint, l_quantity double, "
                 "l_extendedprice double, l_returnflag string, l_shipdate timestamp")
NATIVE_ROWS = 100_000
STREAM_OP = "r1_streaming_orc_ingest"
SLICE_POOL = 3


@dataclass
class OpResult:
    kind: str              # "read" or "write"
    latency: float
    ok: bool
    rows_in: int = 0       # table rows a read covers, before pruning
    rows_written: int = 0
    bytes_written: int = 0
    user_bytes: int = 0    # Arrow in-memory bytes of the rows written


@dataclass
class Env:
    work: str              # directory the benchmark owns; removed at exit
    seed: int
    sf: float
    tracer: Tracer
    scratch: dict          # {"root": path}: where the engine's scratch_dir points
    counters: Counter = field(default_factory=Counter)


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _sort_key(row: tuple) -> tuple:
    return tuple(f"{c:.9g}" if isinstance(c, float) else c for c in row)


def norm_rows(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive form of a result: columns by name, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in idx) for r in rows), key=_sort_key)


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Cell-by-cell equality; floats agree to 1e-12 relative.  Exact float
    equality is not required because DuckDB's HUGEINT -> DOUBLE cast is
    not correctly rounded (q1's sum_charge can differ in the last bit
    from the correctly rounded value Spark returns)."""
    return len(got) == len(want) and all(
        len(a) == len(b) and all(
            math.isclose(x, y, rel_tol=1e-12) if isinstance(x, float) and isinstance(y, float)
            else x == y for x, y in zip(a, b))
        for a, b in zip(got, want))


def _dir_bytes(path: str, suffix: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix))


class Workload:
    name = ""
    default_sf = 0.0
    tables: list[str] = []
    # Nominal seconds per round.  A run executes round(--seconds / round_s)
    # whole rounds: a fixed op count per run keeps the tail percentile at
    # the same rank in every run.  On a 4-vCPU host a scan_ppd round took
    # 7-12 s and a native_orc round 1.8-3.8 s, depending on the host's load.
    round_s = 1.0

    def __init__(self, env: Env):
        self.env = env
        self.tr = env.tracer
        self.data_dir = os.path.join(env.work, "data", f"sf{env.sf:g}")
        self.rows: dict[str, int] = {}
        self.setup_parts: dict[str, list[float]] = {}
        self.spark = None

    def _timed_part(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def make_inputs(self) -> None:
        self.rows = datagen.write_tables(self.data_dir, self.tables, self.env.sf, self.env.seed)

    def setup(self, rep: int) -> None:
        """One set-up pass; the runner repeats it and reports the median."""
        raise NotImplementedError

    def schedule(self, rng) -> list[tuple[str, dict]]:
        raise NotImplementedError

    def clear(self, op_id: int) -> None:
        """Clear the engine's caches before an operation."""

    def run(self, op_id: int, op: str, params: dict) -> OpResult:
        raise NotImplementedError

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# Spark workloads
# ---------------------------------------------------------------------------


def _plan_metrics(jdf) -> Counter:
    """Sum the executed plan's SQL metrics the execution layer reports,
    walking through AQE wrappers as plans/inspect.scan_output_rows does."""
    out: Counter = Counter()

    def walk(node) -> None:
        name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, value = kv._1(), kv._2().value()
            if "Scan" in name and key == "numOutputRows":
                out["scan_rows_out"] += value
            elif "Scan" in name and key == "filesSize":
                out["scan_bytes_read"] += value
            elif key == "shuffleBytesWritten":
                out["shuffle_bytes"] += value
            elif key == "spillSize":
                out["spill_bytes"] += value
        if "AdaptiveSparkPlan" in name:
            walk(node.executedPlan())
        elif "QueryStage" in name:
            walk(node.plan())
        else:
            children = node.children()
            for i in range(children.length()):
                walk(children.apply(i))

    walk(jdf.queryExecution().executedPlan())
    return out


class SparkWorkload(Workload):
    def __init__(self, env: Env):
        super().__init__(env)
        from orc_release_hdp_2_6_5_99_1_tag_spark import catalog

        self.qs = {**catalog.queries(), **catalog.extra_queries()}
        self.oracles = {**catalog.oracle_sql(), **catalog.extra_oracle_sql()}
        self.expected: dict = {}
        self.listener = None

    def start_session(self) -> None:
        from orc_release_hdp_2_6_5_99_1_tag_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")

    def fresh_scratch(self, rep: int) -> None:
        """Point the engine's scratch directory at a new per-rep root so
        each set-up pass rebuilds its fixtures."""
        old = self.env.scratch.get("root")
        self.env.scratch["root"] = os.path.join(self.env.work, "scratch", f"rep{rep}")
        if old:
            shutil.rmtree(old, ignore_errors=True)

    def oracle_rows(self, names: list[str]) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.tables:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            out = {}
            for n in names:
                rel = con.sql(self.oracles[n])
                out[n] = (sorted(rel.columns), norm_rows(rel.columns, rel.fetchall()))
            return out
        finally:
            con.close()

    def input_rows(self, name: str) -> int:
        """Rows of the tables a catalog query reads, from its oracle SQL."""
        sql = self.oracles[name]
        return sum(n for t, n in self.rows.items() if re.search(rf"\b{t}\b", sql))

    def clear(self, op_id: int) -> None:
        from orc_release_hdp_2_6_5_99_1_tag_spark import engine_clear_caches

        with self.tr.span("session.clear_caches", op_id):
            released = engine_clear_caches(self.spark)
        if self.tr.enabled:
            self.env.counters["session.rdds_released"] += released

    def spark_op(self, op_id: int, build, finish, build_span="operators.build",
                 finish_span="execution.collect"):
        """Time build() then finish(df) as one operation; in traced rounds
        also record Catalyst phases, jobs/stages/tasks and plan metrics."""
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        with self.tr.span("op", op_id):
            with self.tr.span(build_span, op_id):
                sc.setJobGroup(f"pb-{op_id}-build", build_span)
                df = build()
            with self.tr.span(finish_span, op_id):
                sc.setJobGroup(f"pb-{op_id}-run", finish_span)
                out = finish(df)
        latency = time.perf_counter() - t0
        if self.tr.enabled:
            with self.tr.span("bench.record", op_id):
                self._record(op_id, df, build_span, finish_span,
                             finish_span == "execution.collect")
        return df, out, latency

    def _record(self, op_id, df, build_span, finish_span, walk_plan) -> None:
        c = self.env.counters
        phases = df._jdf.queryExecution().tracker().phases()
        parents = {"analysis": self.tr.last(build_span)}
        parents["optimization"] = parents["planning"] = self.tr.last(finish_span)
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            phase = kv._1()
            if phase in parents:
                s = kv._2()
                self.tr.add(f"catalyst.{phase}", s.startTimeMs() / 1e3, s.endTimeMs() / 1e3,
                            parents[phase], op_id)
        st = self.spark.sparkContext.statusTracker()
        c["operators.build_jobs"] += len(st.getJobIdsForGroup(f"pb-{op_id}-build"))
        for jid in st.getJobIdsForGroup(f"pb-{op_id}-run"):
            c["execution.jobs"] += 1
            job = st.getJobInfo(jid)
            for sid in job.stageIds if job else []:
                stage = st.getStageInfo(sid)
                if stage:
                    c["execution.stages"] += 1
                    c["execution.tasks"] += stage.numTasks
                    c["execution.failed_tasks"] += stage.numFailedTasks
        if walk_plan:
            for k, v in _plan_metrics(df._jdf).items():
                c[f"execution.{k}"] += v

    def catalog_op(self, op_id: int, name: str, build_span="operators.build") -> OpResult:
        df, rows, latency = self.spark_op(
            op_id, lambda: self.qs[name](self.spark, self.data_dir), lambda d: d.collect(),
            build_span=build_span,
        )
        cols, expected = self.expected[name]
        with self.tr.span("bench.check", op_id):
            ok = sorted(df.columns) == cols and rows_match(norm_rows(df.columns, rows), expected)
        return OpResult("read", latency, ok, rows_in=self.input_rows(name))

    def make_write_slices(self, table: str, n_rows: int) -> None:
        """Seeded row windows of `table`, staged as parquet inputs for
        the orc_io.write_orc operations."""
        t = pq.read_table(os.path.join(self.data_dir, f"{table}.parquet"))
        rng = np.random.default_rng([self.env.seed, 17])
        self.slices = []
        for k in range(SLICE_POOL):
            off = int(rng.integers(0, max(1, t.num_rows - n_rows)))
            part = t.slice(off, n_rows)
            path = os.path.join(self.env.work, "inputs", f"{table}_slice{k}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(part, path)
            key = part.column_names[0]
            self.slices.append({"path": path, "rows": part.num_rows, "nbytes": part.nbytes,
                                "key": key, "key_sum": pc.sum(part[key]).as_py()})

    def write_op(self, op_id: int, k: int) -> OpResult:
        from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc

        sl = self.slices[k]
        dest = os.path.join(self.env.work, "writes", f"op{op_id}")
        _, _, latency = self.spark_op(
            op_id, lambda: self.spark.read.parquet(sl["path"]),
            lambda d: write_orc(d, dest, bloom_filter_columns=sl["key"]),
            finish_span="orc_io.write",
        )
        with self.tr.span("bench.check", op_id):
            nbytes = _dir_bytes(dest, ".orc")
            got = ds.dataset(dest, format="orc").to_table(columns=[sl["key"]])
            ok = got.num_rows == sl["rows"] and pc.sum(got[sl["key"]]).as_py() == sl["key_sum"]
            shutil.rmtree(dest, ignore_errors=True)
        if self.tr.enabled:
            self.env.counters["orc_io.bytes_written"] += nbytes
        return OpResult("write", latency, ok, rows_written=sl["rows"],
                        bytes_written=nbytes, user_bytes=sl["nbytes"])

    def stage_topics(self) -> None:
        from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import stage_shared_topics

        self._timed_part("streaming.stage",
                         lambda: stage_shared_topics(self.spark, self.data_dir))

    def stream_run(self, op_id: int) -> OpResult:
        """One cold availableNow run of r1: its sink, checkpoint and
        completion marker are dropped first; the shared topics staged in
        set-up stay."""
        stream = os.path.join(self.env.scratch["root"], f"sf{self.env.sf:g}", "stream")
        with self.tr.span("bench.reset", op_id):
            for p in ("events_orc", "events_orc_ckpt", "events_orc._done"):
                path = os.path.join(stream, p)
                if os.path.isdir(path):
                    shutil.rmtree(path)
                elif os.path.exists(path):
                    os.remove(path)
        traced = self.listener is not None and self.tr.enabled
        if traced:
            self.listener.begin()
        res = self.catalog_op(op_id, STREAM_OP, build_span="streaming.run")
        if traced:
            with self.tr.span("bench.record", op_id):
                self.listener.end(self.env.counters, self.tr)
        return res

    def start_listener(self) -> None:
        """Register the StreamingQueryListener behind the streaming metrics."""
        self.listener = _stream_listener_class()()
        self.spark.streams.addListener(self.listener)

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


class ScanPPD(SparkWorkload):
    """ORC-72 (full scan, projection, projection + PPD) over an ORC copy
    of lineitem, plus a bloom point lookup, q1 and q6, each three times a
    round; two orc_io.write_orc of a 100k-row slice (about one op in
    ten); and one cold r1 stream into an ORC sink, which stands in for
    the streaming workload this benchmark does not run."""

    name = "scan_ppd"
    default_sf = 0.1
    round_s = 7.0
    tables = ["lineitem", "events"]
    catalog_ops = ["q1_pricing_summary", "q6_revenue_delta"]

    def make_inputs(self) -> None:
        super().make_inputs()
        self.make_write_slices("lineitem", min(100_000, self.rows["lineitem"] // 2))
        t = pq.read_table(os.path.join(self.data_dir, "lineitem.parquet"),
                          columns=["l_orderkey", "l_linenumber", "l_quantity",
                                   "l_extendedprice", "l_returnflag"])
        self.lineitem = t

    def setup(self, rep: int) -> None:
        from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import orc_copy

        self._timed_part("session.start", self.start_session)
        self.fresh_scratch(rep)
        self.orc_path = self._timed_part("orc_io.copy", lambda: orc_copy(
            self.spark, self.data_dir, "lineitem", variant="perfbench",
            bloom_filter_columns="l_orderkey"))
        self.stage_topics()
        self._timed_part("expected", self._expected)

    def _expected(self) -> None:
        t = self.lineitem
        self.expected = self.oracle_rows(self.catalog_ops + [STREAM_OP])
        self.expected["full_scan"] = [(t.num_rows,)]
        self.expected["projection"] = [(t.num_rows, pc.sum(t["l_orderkey"]).as_py(),
                                        pc.max(t["l_extendedprice"]).as_py())]
        hit = t.filter(pc.and_(pc.greater_equal(t["l_quantity"], 45.0),
                               pc.equal(t["l_returnflag"], "R")))
        self.expected["ppd"] = [(hit.num_rows, pc.sum(hit["l_orderkey"]).as_py(),
                                 pc.sum(hit["l_quantity"]).as_py())]
        rng = np.random.default_rng([self.env.seed, 29])
        keys = rng.choice(t["l_orderkey"].to_numpy(), 32)
        self.lookups = {}
        for k in map(int, keys):
            m = t.filter(pc.equal(t["l_orderkey"], k)).select(
                ["l_orderkey", "l_linenumber", "l_quantity"])
            self.lookups[k] = sorted(zip(*(m[c].to_pylist() for c in m.column_names)))

    def schedule(self, rng) -> list[tuple[str, dict]]:
        keys = sorted(self.lookups)
        ops = [(op, {}) for op in ("full_scan", "projection", "ppd", *self.catalog_ops)] * 3
        ops += [("point_lookup", {"key": rng.choice(keys)}) for _ in range(3)]
        ops += [("write_orc", {"slice": rng.randrange(len(self.slices))}) for _ in range(2)]
        ops.append((STREAM_OP, {}))
        rng.shuffle(ops)
        return ops

    def run(self, op_id: int, op: str, params: dict) -> OpResult:
        if op in self.catalog_ops:
            return self.catalog_op(op_id, op)
        if op == "write_orc":
            return self.write_op(op_id, params["slice"])
        if op == STREAM_OP:
            return self.stream_run(op_id)
        key = params.get("key")
        _, rows, latency = self.spark_op(op_id, lambda: self._orc72(op, key),
                                         lambda d: d.collect())
        with self.tr.span("bench.check", op_id):
            got = sorted(tuple(r) for r in rows)
            want = self.lookups[key] if op == "point_lookup" else self.expected[op]
            ok = got == want
        return OpResult("read", latency, ok, rows_in=self.rows["lineitem"])

    def _orc72(self, op: str, key: int | None):
        """The ORC-72 query for `op` over the ORC copy, as a DataFrame."""
        import pyspark.sql.functions as F

        df = self.spark.read.orc(self.orc_path)
        if op == "full_scan":
            return df.agg(F.count(F.lit(1)))
        if op == "projection":
            return df.select("l_orderkey", "l_extendedprice").agg(
                F.count(F.lit(1)), F.sum("l_orderkey"), F.max("l_extendedprice"))
        if op == "ppd":
            return (df.filter((F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "R"))
                    .select("l_orderkey", "l_quantity")
                    .agg(F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_quantity")))
        return df.filter(F.col("l_orderkey") == key).select(
            "l_orderkey", "l_linenumber", "l_quantity")


def _stream_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        """Collects micro-batch progress of the streams an op starts."""

        def __init__(self):
            self.progress: list = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def begin(self) -> None:
            self.progress, self.terminated = [], 0

        def end(self, counters: Counter, tracer: Tracer) -> None:
            deadline = time.time() + 5.0
            while not self.terminated and time.time() < deadline:
                time.sleep(0.01)
            trigger = 0.0
            for p in self.progress:
                d = p.durationMs
                counters["streaming.batches"] += 1
                counters["streaming.input_rows"] += p.numInputRows
                trigger += d.get("triggerExecution", 0) / 1e3
                counters["streaming.latest_offset_s"] += d.get("latestOffset", 0) / 1e3
                counters["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                counters["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            counters["streaming.trigger_s"] += trigger
            run = tracer.spans[tracer.last("streaming.run")]
            counters["streaming.outside_trigger_s"] += run["end"] - run["start"] - trigger
            counters["streaming.ops"] += 1

    return StreamListener


# ---------------------------------------------------------------------------
# Native ORC tier (no JVM)
# ---------------------------------------------------------------------------


class NativeOrc(Workload):
    """write_orc_native of a seeded 100k-row, 6-column lineitem slice,
    then scan_file at ~100%, ~10% and ~1% key-range selectivity and an
    equality predicate on the dictionary column l_returnflag."""

    name = "native_orc"
    default_sf = NATIVE_ROWS / 6_000_000
    round_s = 3.3
    path: str | None = None  # the file the latest write produced

    def make_inputs(self) -> None:
        # twice the slice size, so seeded windows differ
        t = datagen.make_table("lineitem", 2 * self.env.sf, self.env.seed)
        self.source = t.select(NATIVE_COLUMNS).sort_by("l_orderkey")
        self.rows = {"lineitem": self.source.num_rows}

    def setup(self, rep: int) -> None:
        self._timed_part("slices", self._slices)

    def _slices(self) -> None:
        """Materialize the writer's input (Python columns) and the
        expected decode of every seeded predicate, from pyarrow alone."""
        rng = np.random.default_rng([self.env.seed, 41])
        n = self.source.num_rows // 2
        self.slices = []
        for _ in range(SLICE_POOL):
            part = self.source.slice(int(rng.integers(0, self.source.num_rows - n)), n)
            keys = part["l_orderkey"].to_numpy()
            preds = {"scan_100": [("between", "l_orderkey", (int(keys[0]), int(keys[-1])))]}
            for op, width in (("scan_10", n // 10), ("scan_1", n // 100)):
                preds[op] = []
                for i in rng.integers(0, n - width, 4):
                    preds[op].append(("between", "l_orderkey",
                                      (int(keys[i]), int(keys[i + width - 1]))))
            preds["scan_eq"] = [("equals", "l_returnflag", "R")]
            expected = {}
            for trees in preds.values():
                for tree in trees:
                    hit = part.filter(_arrow_mask(part, tree))
                    expected[tree] = (hit.num_rows, pc.sum(hit["l_orderkey"]).as_py() or 0,
                                      pc.sum(hit["l_quantity"]).as_py() or 0.0)
            self.slices.append({
                "columns": {c: part[c].to_pylist() for c in NATIVE_COLUMNS},
                "nbytes": part.nbytes, "rows": n, "preds": preds, "expected": expected,
                "key_sum": int(keys.sum()),
            })

    def schedule(self, rng) -> list[tuple[str, dict]]:
        k = rng.randrange(len(self.slices))
        reads = [(op, {"slice": k, "tree": rng.choice(self.slices[k]["preds"][op])})
                 for op in ("scan_100", "scan_10", "scan_1", "scan_eq")]
        rng.shuffle(reads)
        return [("write_orc_native", {"slice": k})] + reads

    def run(self, op_id: int, op: str, params: dict) -> OpResult:
        from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import write_orc_native
        from orc_release_hdp_2_6_5_99_1_tag_spark.sources.stream_decode import scan_file

        sl = self.slices[params["slice"]]
        if op == "write_orc_native":
            with self.tr.span("bench.reset", op_id):
                if self.path:
                    os.remove(self.path)
                self.path = os.path.join(self.env.work, "writes", f"op{op_id}.orc")
                os.makedirs(os.path.dirname(self.path), exist_ok=True)
            t0 = time.perf_counter()
            with self.tr.span("op", op_id), self.tr.span("orc_encode.write", op_id):
                summary = write_orc_native(
                    self.path, sl["columns"], NATIVE_SCHEMA, row_index_stride=1000,
                    bloom_filter_columns=("l_orderkey",))
            latency = time.perf_counter() - t0
            with self.tr.span("bench.check", op_id):
                got = po.ORCFile(self.path).read(columns=["l_orderkey"])
                ok = (got.num_rows == sl["rows"]
                      and pc.sum(got["l_orderkey"]).as_py() == sl["key_sum"])
            if self.tr.enabled:
                c = self.env.counters
                c["orc_encode.rows"] += sl["rows"]
                c["orc_encode.bytes"] += summary["bytes"]
            return OpResult("write", latency, ok, rows_written=sl["rows"],
                            bytes_written=summary["bytes"], user_bytes=sl["nbytes"])
        tree = params["tree"]
        audit: dict = {}
        cols = {c: [] for c in NATIVE_COLUMNS}
        t0 = time.perf_counter()
        with self.tr.span("op", op_id), self.tr.span("stream_decode.scan", op_id):
            for res in scan_file(self.path, tree, NATIVE_COLUMNS, audit=audit):
                for c, vals in res["columns"].items():
                    cols[c].extend(vals)
        latency = time.perf_counter() - t0
        with self.tr.span("bench.check", op_id):
            keep = _residual(tree, cols)
            got = (len(keep), sum(cols["l_orderkey"][i] for i in keep),
                   sum(cols["l_quantity"][i] for i in keep))
            ok = got == sl["expected"][tree]
        if self.tr.enabled:
            self._trace_planning(op_id, tree, audit, len(cols["l_orderkey"]))
        return OpResult("read", latency, ok, rows_in=sl["rows"])

    def _trace_planning(self, op_id: int, tree, audit: dict, rows_decoded: int) -> None:
        """scan_file calls these three internally; time them as
        standalone calls on the same file and predicate."""
        from orc_release_hdp_2_6_5_99_1_tag_spark.functions.truth import pick_row_groups
        from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import parse_tail_of_file
        from orc_release_hdp_2_6_5_99_1_tag_spark.sources.tools import plan_read_ranges

        c = self.env.counters
        with self.tr.span("footer_tail.parse", op_id):
            parse_tail_of_file(self.path)
        with self.tr.span("truth.pick", op_id):
            picks = pick_row_groups(self.path, tree)
        with self.tr.span("tools.plan", op_id):
            plan = plan_read_ranges(self.path, tree, columns=NATIVE_COLUMNS, picks=picks)
        c["truth.groups_kept"] += sum(d["keep"] for per in picks for d in per)
        c["truth.groups_total"] += sum(len(per) for per in picks)
        c["tools.bytes_planned"] += sum(p["bytes_planned"] for p in plan)
        c["tools.bytes_total_data"] += sum(p["bytes_total_data"] for p in plan)
        c["stream_decode.rows"] += rows_decoded
        c["stream_decode.groups_decoded"] += audit.get("groups_decoded", 0)
        c["stream_decode.groups_total"] += audit.get("groups_total", 0)
        c["stream_decode.bytes_fetched"] += audit.get("bytes_fetched", 0)


def _arrow_mask(t: pa.Table, tree):
    op, col, lit = tree
    if op == "between":
        return pc.and_(pc.greater_equal(t[col], lit[0]), pc.less_equal(t[col], lit[1]))
    return pc.equal(t[col], lit)


def _residual(tree, cols: dict) -> list[int]:
    op, col, lit = tree
    vals = cols[col]
    if op == "between":
        lo, hi = lit
        return [i for i, v in enumerate(vals) if v is not None and lo <= v <= hi]
    return [i for i, v in enumerate(vals) if v == lit]


WORKLOADS = {w.name: w for w in (ScanPPD, NativeOrc)}

"""Seeded, output-checked benchmark of the ORC engine.

    python3 perfbench/run.py --workload scan_ppd --seed 1 --seconds 20 --trace 0

Run from the repository root.  One workload per invocation; each is a
closed loop with one client that runs whole seeded rounds of ops, as
many as take about --seconds on a 4-core host (see perfbench/workloads.py):

  scan_ppd      ORC-72 scan / projection / projection+PPD over an ORC copy
                of lineitem, a bloom point lookup, q1 and q6, an
                orc_io.write_orc of a 100k-row slice in about one op of
                ten, and a cold r1 availableNow stream into an ORC sink
                (Spark, sf0.1)
  native_orc    write_orc_native of a 100k-row lineitem slice, scan_file
                at ~100%, ~10% and ~1% key-range selectivity and an
                equality on the dictionary column (pure Python, no JVM)

The seed generates the tables, the op order, lookup keys, key ranges and
write slices.  Set-up (session start, fixtures, expected outputs) is
repeated three times and its median is reported, plus the untimed warm
round that follows it.  The engine's caches are cleared before every op, and
every op's output is checked against DuckDB / pyarrow after its timed
interval; a wrong or failed op is counted, not fatal.

An untraced run times `round(--seconds / round_s)` rounds.  A round in
which the host lost more than 2% of its CPU time to other guests (steal,
from /proc/stat) is made up by one more round, at most half as many
extra rounds in all and none if no round was clean, and the
least-stolen rounds are timed; every round counts for correctness, and
a run left with a stolen round among its timed ones is flagged as
contended in its record.

With --trace 0 the last stdout line holds the end-to-end metrics.  With
--trace 1 the loop alternates untraced and traced rounds: traced rounds
record spans around each call into an engine layer and give the
per-layer metrics, and the difference of the two halves' median op
latency is the tracing overhead.  Per-layer `*_s` metrics are mean self
seconds per call.  A full record (machine state, sample counts, the
tail percentile) and, when traced, the spans are written to
.perfbench_out/.  Everything else the run creates lives under
.perfbench_work/ and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make the perfbench package importable
    sys.path.insert(0, ROOT)

from perfbench import measure  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Env, OpResult  # noqa: E402

DEFAULT_SEED = 1
HELD_OUT_SEED = 9173  # for verifying a claimed gain; not used while tuning
SETUP_REPS = 3
STEAL_LIMIT_PCT = 2.0  # clean rounds on a quiet 4-vCPU host lose under 1%

# layers each workload stresses (the rest should not move on it)
LAYERS = {
    "scan_ppd": ["session", "operators", "catalyst", "execution", "orc_io", "streaming", "jvm"],
    "native_orc": ["footer_tail", "truth", "tools", "stream_decode", "orc_encode"],
}

OP_TYPES = [
    "full_scan", "projection", "ppd", "point_lookup", "q1_pricing_summary",
    "q6_revenue_delta", "write_orc", "r1_streaming_orc_ingest", "write_orc_native",
    "scan_100", "scan_10", "scan_1", "scan_eq",
]

E2E_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "rows_per_s": "rows/s", "write_rows_per_s": "rows/s",
    "bytes_stored_per_user_byte": "ratio", "ok_ops_ratio": "ratio", "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s", "session.clear_caches_s": "s", "session.rdds_released": "count",
    "operators.build_s": "s", "operators.build_jobs": "count", "operators.build_share": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "execution.collect_s": "s", "execution.jobs": "count", "execution.stages": "count",
    "execution.tasks": "count", "execution.failed_tasks": "count",
    "execution.scan_rows_out": "rows", "execution.scan_kept_ratio": "ratio",
    "execution.scan_bytes_read": "bytes", "execution.shuffle_bytes": "bytes",
    "execution.spill_bytes": "bytes",
    "orc_io.copy_s": "s", "orc_io.write_s": "s", "orc_io.bytes_written": "bytes",
    "footer_tail.parse_s": "s", "truth.pick_s": "s", "truth.groups_kept_ratio": "ratio",
    "tools.plan_s": "s", "tools.bytes_planned_ratio": "ratio",
    "stream_decode.scan_s": "s", "stream_decode.rows_per_s": "rows/s",
    "stream_decode.groups_decoded_ratio": "ratio", "stream_decode.bytes_fetched": "bytes",
    "orc_encode.write_s": "s", "orc_encode.rows_per_s": "rows/s",
    "orc_encode.bytes_per_row": "bytes",
    "streaming.stage_s": "s", "streaming.batches": "count", "streaming.input_rows": "rows",
    "streaming.trigger_s": "s", "streaming.latest_offset_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.outside_trigger_s": "s",
    "jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.heap_used_mb": "MB",
    "trace.overhead_s": "s",
    **{f"op.{t}.p50_s": "s" for t in OP_TYPES},
}


def _isolate(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the work dir."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell")


def _redirect_scratch(scratch: dict) -> None:
    """Point the engine's scratch_dir (derived fixtures: ORC copies,
    stream topics and sinks, ACID dirs) at the benchmark's own work dir,
    leaving the shared `.scratch/` of bench.py and the tests untouched."""
    from orc_release_hdp_2_6_5_99_1_tag_spark import tables

    original = tables.scratch_dir

    def scratch_dir(sf_dir: str) -> str:
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        d = os.path.join(scratch["root"], tag)
        os.makedirs(d, exist_ok=True)
        return d

    for mod in list(sys.modules.values()):
        if getattr(mod, "scratch_dir", None) is original:
            mod.scratch_dir = scratch_dir


def _jvm_gc(spark) -> tuple[int, float, float]:
    """(collections, collection seconds, heap used MiB) of the Spark JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    count, ms = 0, 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        b = it.next()
        count += b.getCollectionCount()
        ms += b.getCollectionTime()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return count, ms / 1e3, heap / 2**20


def _run_op(wl, op_id, op, params, log):
    """Clear the caches, run one op and log (op id, op, result, wall):
    `wall` is everything the op cost the loop, cache clearing, output
    check and trace bookkeeping included, measured here and not by spans."""
    t0 = time.perf_counter()
    try:
        wl.clear(op_id)
        res = wl.run(op_id, op, params)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        res = OpResult("failed", 0.0, False)
    if not res.ok:
        print(f"perfbench: op {op_id} {op} {params} FAILED", file=sys.stderr)
    log.append((op_id, op, res, time.perf_counter() - t0))
    return res


def _enough(round_log: list[dict], rounds: int, trace: int) -> bool:
    """Whether the timed loop has run enough rounds.  A round in which
    the host lost more than STEAL_LIMIT_PCT of its CPU time to other
    guests times them as much as the engine, so an untraced run adds up
    to half as many rounds again until `rounds` of them are clean, and
    then times the `rounds` least-stolen ones.  When no round was clean
    the host is busy throughout, and extra rounds would only cost time."""
    clean = sum(r["steal_pct"] <= STEAL_LIMIT_PCT for r in round_log)
    if trace or not clean:
        return len(round_log) >= rounds
    return clean >= rounds or len(round_log) >= rounds + max(1, rounds // 2)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _e2e(log, loop_wall, setup_s, rss) -> dict:
    """End-to-end metrics over the timed rounds' successful ops; the
    time spent clearing caches and checking outputs is taken out of the
    rounds' wall time."""
    ok = [r for _, _, r, _ in log if r.ok]
    lat = [r.latency for r in ok]
    reads = [r for r in ok if r.kind == "read"]
    writes = [r for r in ok if r.kind == "write"]
    checking = sum(wall - r.latency for _, _, r, wall in log)
    return {
        "setup_s": setup_s,
        "op_p50_s": measure.median(lat),
        "op_tail_s": measure.tail(lat)[0],
        "ops_per_s": _ratio(len(ok), loop_wall - checking),
        "rows_per_s": _ratio(sum(r.rows_in for r in reads), sum(r.latency for r in reads)),
        "write_rows_per_s": _ratio(sum(r.rows_written for r in writes),
                                   sum(r.latency for r in writes)),
        "bytes_stored_per_user_byte": _ratio(sum(r.bytes_written for r in writes),
                                             sum(r.user_bytes for r in writes)),
        "ok_ops_ratio": len(ok) / len(log),
        "peak_rss_mb": rss,
    }


def _layers(wl, tracer, traced, untraced, gc, setup_parts) -> dict:
    """Per-layer metrics from the traced rounds' spans and counters."""
    c = wl.env.counters
    st = tracer.self_times()
    calls: dict[str, int] = {}
    for s in tracer.spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1

    def per_call(name: str) -> float:
        return _ratio(st.get(name, 0.0), calls.get(name, 0))

    median, ratio = measure.median, _ratio
    ok = [(op, r) for _, op, r, _ in traced if r.ok]
    op_wall = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "op")
    reads_in = sum(r.rows_in for _, r in ok if r.kind == "read")
    m = {
        "session.start_s": median(setup_parts.get("session.start", [])),
        "session.clear_caches_s": per_call("session.clear_caches"),
        "session.rdds_released": c["session.rdds_released"],
        "operators.build_s": per_call("operators.build"),
        "operators.build_jobs": c["operators.build_jobs"],
        "operators.build_share": ratio(st.get("operators.build", 0.0), op_wall),
        "catalyst.analysis_s": per_call("catalyst.analysis"),
        "catalyst.optimization_s": per_call("catalyst.optimization"),
        "catalyst.planning_s": per_call("catalyst.planning"),
        "execution.collect_s": per_call("execution.collect"),
        "execution.jobs": c["execution.jobs"],
        "execution.stages": c["execution.stages"],
        "execution.tasks": c["execution.tasks"],
        "execution.failed_tasks": c["execution.failed_tasks"],
        "execution.scan_rows_out": c["execution.scan_rows_out"],
        "execution.scan_kept_ratio": ratio(c["execution.scan_rows_out"], reads_in),
        "execution.scan_bytes_read": c["execution.scan_bytes_read"],
        "execution.shuffle_bytes": c["execution.shuffle_bytes"],
        "execution.spill_bytes": c["execution.spill_bytes"],
        "orc_io.copy_s": median(setup_parts.get("orc_io.copy", [])),
        "orc_io.write_s": per_call("orc_io.write"),
        "orc_io.bytes_written": c["orc_io.bytes_written"],
        "footer_tail.parse_s": per_call("footer_tail.parse"),
        "truth.pick_s": per_call("truth.pick"),
        "truth.groups_kept_ratio": ratio(c["truth.groups_kept"], c["truth.groups_total"]),
        "tools.plan_s": per_call("tools.plan"),
        "tools.bytes_planned_ratio": ratio(c["tools.bytes_planned"], c["tools.bytes_total_data"]),
        "stream_decode.scan_s": per_call("stream_decode.scan"),
        "stream_decode.rows_per_s": ratio(c["stream_decode.rows"],
                                          st.get("stream_decode.scan", 0.0)),
        "stream_decode.groups_decoded_ratio": ratio(c["stream_decode.groups_decoded"],
                                                    c["stream_decode.groups_total"]),
        "stream_decode.bytes_fetched": c["stream_decode.bytes_fetched"],
        "orc_encode.write_s": per_call("orc_encode.write"),
        "orc_encode.rows_per_s": ratio(c["orc_encode.rows"], st.get("orc_encode.write", 0.0)),
        "orc_encode.bytes_per_row": ratio(c["orc_encode.bytes"], c["orc_encode.rows"]),
        "streaming.stage_s": median(setup_parts.get("streaming.stage", [])),
        "streaming.batches": c["streaming.batches"],
        "streaming.input_rows": c["streaming.input_rows"],
        "jvm.gc_count": gc[0],
        "jvm.gc_s": gc[1],
        "jvm.heap_used_mb": gc[2],
    }
    for k in ("trigger_s", "latest_offset_s", "add_batch_s", "wal_commit_s", "outside_trigger_s"):
        m[f"streaming.{k}"] = ratio(c[f"streaming.{k}"], c["streaming.ops"])
    by_type: dict[str, list[float]] = {}
    for op, r in ok:
        by_type.setdefault(op, []).append(r.latency)
    for t in OP_TYPES:
        m[f"op.{t}.p50_s"] = median(by_type.get(t, []))
    lat_t = [r.latency for _, r in ok]
    lat_u = [r.latency for _, _, r, _ in untraced if r.ok]
    m["trace.overhead_s"] = median(lat_t) - median(lat_u)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor (default: the workload's own)")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out"),
                    help="directory for the run record and spans")
    args = ap.parse_args(argv)

    import orc_release_hdp_2_6_5_99_1_tag_spark  # noqa: F401  fail before creating anything

    # on SIGTERM, unwind through the finally below: stop the JVM, drop the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    scratch: dict = {}
    _redirect_scratch(scratch)
    tracer = Tracer(enabled=False)
    env = Env(work=work, seed=args.seed, sf=args.sf or cls.default_sf,
              tracer=tracer, scratch=scratch)
    wl = cls(env)
    record: dict = {"workload": args.workload, "seed": args.seed, "sf": env.sf,
                    "seconds": args.seconds, "trace": args.trace,
                    "layers_stressed": LAYERS[args.workload],
                    "machine_before": measure.machine_state()}
    rng = random.Random(args.seed)
    log: list = []
    try:
        wl.make_inputs()
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
        if hasattr(wl, "start_listener") and args.trace:
            wl.start_listener()
        t0 = time.perf_counter()
        # One untimed round runs every code path once, which takes the
        # JVM's JIT past the slowest first calls (2-3x the settled
        # latency); more warm rounds would not fit the time budget.
        for i, (op, params) in enumerate(wl.schedule(random.Random(args.seed + 1))):
            _run_op(wl, -1 - i, op, params, log)
        warm_s = time.perf_counter() - t0
        gc0 = _jvm_gc(wl.spark) if wl.spark else (0, 0.0, 0.0)
        # peak memory covers the timed loop only, not inputs, oracles or set-up
        procs = [os.getpid()] + ([measure.jvm_pid()] if wl.spark else [])
        procs = [p for p in procs if p]
        measure.reset_peak_rss(procs)

        ticks0 = measure.cpu_ticks()
        op_id = 0
        rounds = max(2 if args.trace else 1, round(args.seconds / wl.round_s))
        round_log: list[dict] = []
        while not _enough(round_log, rounds, args.trace):
            tracer.enabled = bool(args.trace and len(round_log) % 2)
            ops: list = []
            r0, t_r = measure.cpu_ticks(), time.perf_counter()
            for op, params in wl.schedule(rng):
                op_id += 1
                _run_op(wl, op_id, op, params, ops)
            r1 = measure.cpu_ticks()
            round_log.append({"ops": ops, "traced": tracer.enabled,
                              "wall_s": time.perf_counter() - t_r,
                              "steal_pct": 100.0 * _ratio(r1[1] - r0[1], r1[0] - r0[0])})
        ticks1 = measure.cpu_ticks()
        tracer.enabled = False
        gc1 = _jvm_gc(wl.spark) if wl.spark else (0, 0.0, 0.0)
        if wl.spark is not None:
            record["machine_after"] = measure.machine_state(wl.spark)
        else:
            record["machine_after"] = measure.machine_state()
        rss = measure.peak_rss_mb(procs)
    finally:
        wl.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns a work dir there

    setup_s = measure.median(reps) + warm_s
    loop = [e for r in round_log for e in r["ops"]]
    attempted = len(log) + len(loop)
    failed = sum(not r.ok for _, _, r, _ in log + loop)
    if args.trace:
        timed = [r for r in round_log if not r["traced"]]
        traced = [e for r in round_log if r["traced"] for e in r["ops"]]
    else:
        timed, traced = sorted(round_log, key=lambda r: r["steal_pct"])[:rounds], []
    untraced = [e for r in timed for e in r["ops"]]
    for r in round_log:
        r["timed"] = any(r is t for t in timed)
    lat = [r.latency for _, _, r, _ in untraced if r.ok]
    tail_v, tail_pct, tail_n = measure.tail(lat)
    record.update(
        setup_reps_s=reps, warm_s=warm_s, setup_parts=wl.setup_parts,
        rounds=[{k: v for k, v in r.items() if k != "ops"} | {"n_ops": len(r["ops"])}
                for r in round_log],
        warm_ops=[(op, r.latency, r.ok) for _, op, r, _ in log],
        untraced_ops=[(op, r.latency, r.ok) for _, op, r, _ in untraced],
        traced_ops=[(i, op, r.latency, r.ok, wall) for i, op, r, wall in traced],
        op_tail={"percentile": tail_pct, "n": tail_n, "value": tail_v},
        attempted=attempted, failed=failed,
    )
    if args.trace:
        metrics = _layers(wl, tracer, traced, untraced,
                          (gc1[0] - gc0[0], gc1[1] - gc0[1], gc1[2]), wl.setup_parts)
        units = LAYER_UNITS
        cov = tracer.coverage({i: wall for i, _, _, wall in traced})
        record["span_coverage"] = {"min": min(cov), "max": max(cov), "n": len(cov)} if cov else None
        record["self_time_s"] = tracer.self_times()
    else:
        metrics = _e2e(untraced, sum(r["wall_s"] for r in timed), setup_s, rss)
        units = E2E_UNITS
    record["metrics"] = metrics
    # CPU time the hypervisor gave to other guests while the loop ran
    record["loop_cpu_steal_pct"] = 100.0 * _ratio(ticks1[1] - ticks0[1], ticks1[0] - ticks0[0])
    # Flag, never drop, a run whose timed rounds could not all be clean,
    # whose host's single-thread speed moved by more than a fifth, or that
    # shared the host with other pytest, java or benchmark processes.
    probe = _ratio(record["machine_after"]["host_probe_s"],
                   record["machine_before"]["host_probe_s"])
    record["contended"] = (record["machine_before"]["contended"]
                           or record["machine_after"]["contended"]
                           or any(r["steal_pct"] > STEAL_LIMIT_PCT for r in timed)
                           or not 0.8 <= probe <= 1.25)
    if record["contended"]:
        print("perfbench: contended host, see the record's machine state", file=sys.stderr)
    os.makedirs(args.out, exist_ok=True)
    stem = os.path.join(args.out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + "-spans.json")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

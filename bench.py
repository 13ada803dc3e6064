"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Protocol mirrors the reference's ORC-72 benchmark use cases
(BASELINE.md: full scan / column projection / projection+PPD over ORC
copies) plus wall-clock for the engine's headline operators.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

from orc_release_hdp_2_6_5_99_1_tag_spark import catalog, engine_clear_caches, get_spark
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import orc_copy
from perfbench.measure import machine_state

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _jvm_state(spark) -> dict:
    """GC / heap / code-cache counters from the driver JVM's MXBeans,
    recorded into bench_last.json only (r13-verdict Next #7: make the
    in-session degradation tail ATTRIBUTABLE from the artifact — GC vs
    code cache vs allocator — instead of waited-out). Read-only beans;
    zero effect on the timed queries or the stdout contract line."""
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        heap = mf.getMemoryMXBean().getHeapMemoryUsage()
        out: dict = {
            "heap_used_mb": int(heap.getUsed() // 2**20),
            "heap_committed_mb": int(heap.getCommitted() // 2**20),
        }
        gc = {}
        it = mf.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            b = it.next()
            gc[str(b.getName())] = [int(b.getCollectionCount()), int(b.getCollectionTime())]
        out["gc_count_ms"] = gc
        pools = {}
        it = mf.getMemoryPoolMXBeans().iterator()
        while it.hasNext():
            p = it.next()
            name = str(p.getName())
            if "CodeHeap" in name or "Metaspace" in name or "Code Cache" in name:
                pools[name] = int(p.getUsage().getUsed() // 2**20)
        out["nonheap_used_mb"] = pools
        return out
    except Exception:
        return {}


# ORC-72 trio + representative operators across the engine's surface
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_delta",
    "w1_topk_per_group",
    "w2_sessionize",
    "f7_composite_3vl",
    "a1_column_stats",
    "t2_acid_merge_on_read",
    "d1_exact_dedup",
    "d2_minhash_lsh",
    "v1_cosine_topk",
    "v2_lsh_bucketed_ann",
    "x1_token_count",
    "m1_multimodal_features",
    "w3_asof_join",
    "f12_row_seek",
    "c2_cast_matrix",
    "pipe1_training_data_prep",
]

# timed and reported, but kept OUT of the headline total so the
# `value` series stays comparable across rounds (round 4: widened from
# 5 to 26 so a regression in any engine layer — ACID compaction, the
# streaming sinks, the x-suite, the extended dedup/ANN family — shows
# up in the bench series, not just in pytest)
EXTENDED = [
    "d10_dup_clusters",
    "k1_kmeans_clusters",
    "v4_pq_ann",
    "x13_tfidf_topk",
    "w5_retention_cohorts",
    # ACID / compaction
    "t3_compaction",
    "t5_minor_compaction",
    # streaming sink-build + read-back (availableNow end-to-end)
    "r1_streaming_orc_ingest",
    "r2_streaming_windowed_agg",
    "r3_stateful_running_totals",
    "r4_streaming_acid_cdc",
    "r5_session_windows",
    "r6_stream_dedup",
    "r7_stream_stream_join",
    "r8_streaming_pipeline",
    # x-suite (text/data-prep operators)
    "x2_fingerprint",
    "x3_lang_id",
    "x4_quality_score",
    "x5_train_test_split",
    "x7_pii_redaction",
    "x8_sequence_pack",
    "x9_vocab_topk",
    "x10_source_mix",
    "x11_doc_chunking",
    # extended dedup / ANN
    "d7_decontaminate",
    "d9_domain_cap",
    "d11_semdedup",
    "v3_ivf_ann",
    # round-4 second wave: temporal joins, grouping sets, incremental MV
    "w6_interval_join",
    "w7_scd2_history",
    "g2_cube",
    "mv1_incremental_agg",
    # round-4 third wave: data-selection + bloom decontamination + BPE
    "i1_importance_resampling",
    "d12_bloom_decontaminate",
    "x16_bpe_pair_stats",
    "i2_perplexity_filter",
    "r9_stream_static_enrichment",
    "s14_csv_to_orc_convert",
    "d13_substring_dedup",
    "d14_substring_scrub",
    "pipe2_curation_funnel",
    "w8_ohlc_downsample",
    "v5_scalar_quantized_topk",
    "v6_two_tier_rerank",
    "w9_window_suite",
    "x17_temperature_mix",
    # round-5 additions: overlap matrix, gap fill, Gopher battery,
    # affected-key MV refresh, KMV sketch, interval coalescing
    "d15_cross_source_overlap",
    "w10_gap_fill",
    "x18_gopher_filters",
    "mv2_affected_key_refresh",
    "sk1_kmv_distinct",
    "w11_interval_merge",
    "d16_contamination_report",
    "d17_fuzzy_token_pairs",
    "p4_unpivot",
    "g3_hierarchy_depth",
    "r10_stream_ohlc",
    "t8_snapshot_diff",
    "j2_join_strategy_parity",
    "m4_payload_dedup",
    "u4_map_in_arrow",
    # round-6 additions: funnel, bigram LM, histogram sketch,
    # stratified sample, kNN join
    "w12_event_funnel",
    "x19_bigram_lm",
    "sk2_histogram_quantiles",
    "i3_stratified_sample",
    "v7_knn_join",
    "d18_containment",
    "w13_rfm_segmentation",
    "a8_correlation_matrix",
    "j3_salted_skew_join",
    "s15_small_file_compaction",
    "pipe3_segment_funnel",
    "sk3_countmin_heavy_hitters",
    "x20_vocab_growth",
    "g4_triangle_count",
    "g5_pagerank",
    # round-6 third/fourth wave: HLL sketch, source divergence,
    # z-order layout analysis, boilerplate scrub
    "sk4_hll_distinct",
    "x21_source_divergence",
    "s16_zorder_layout",
    "d19_boilerplate_scrub",
    # round-6 fifth wave: sketch set-ops, novelty, TWAP, group-wise
    # OLS, bucketed co-located join
    "sk5_theta_intersection",
    "x22_ngram_novelty",
    "w14_twap",
    "a9_groupwise_regression",
    "s17_bucketed_join",
    # round-6 sixth wave: attribution, winsorized stats, stream-stream
    # LEFT OUTER join (watermark-proven null emission)
    "w15_last_touch_attribution",
    "a10_winsorized_stats",
    "r11_stream_outer_join",
    "s18_dynamic_partition_pruning",
    # round-7 addition: positional (Hive _colN) schema evolution
    "c3_positional_evolution",
    # round-8 addition: row-group (RowIndexEntry) statistics
    "s19_rowgroup_stats",
    # round-9 additions: AMS F2 self-join-size sketch, Markov matrix,
    # catalog-statistics (ANALYZE + CBO) join
    "sk6_ams_f2",
    "w16_markov_transitions",
    "j4_cbo_stats_join",
    # BM25 lexical retrieval (x22 rotates to extras; its code path
    # stays covered by the pytest oracle compare)
    "x23_bm25_topk",
    # VARIANT shredding (sk5 rotates to extras, same deal)
    "j5_variant_shred",
    # XML->ORC source widening (v5 rotates to extras)
    "s20_xml_to_orc_convert",
    # native WITH RECURSIVE depth histogram (d18 rotates to extras)
    "g6_recursive_cte",
    # orc_meta Python DataSource (sk4 rotates to extras)
    "s21_python_datasource_meta",
    # Python streaming source: repeated-availableNow drain (mv1
    # rotates to extras); r-prefix -> timed cold like the r tier
    "r12_python_stream_source",
    # hard-negative mining (i3 rotates to extras)
    "v8_hard_negative_mining",
    # capstone composing the round-9 surfaces (r8 rotates to extras)
    "pipe4_contrastive_pairs",
    # round-10 additions: hybrid BM25+dense RRF retrieval; the executed
    # planned partial read (pure-Python decode of pruned row groups)
    "v9_hybrid_rrf",
    "s22_partial_read",
    # readable-while-writing bounded tail (MAX_FILE_LENGTH semantics)
    "s23_bounded_tail_read",
    # round-12 additions: evolved-lake scan (reader-schema election +
    # field null-fill + widening) and the pushed struct sub-field SArg
    "s26_evolved_lake_scan",
    "s27_nested_sarg_scan",
    "s28_positional_lake_scan",
    # round-13 additions: ACID two-level positional evolution (merge-
    # on-read over the evolved scan) and forced positional evolution
    "s29_acid_positional_scan",
    "s30_forced_positional_scan",
    # late round-13: the native ORC writer as a distributed sink,
    # read back by the embedded Java reader (write-side parity)
    "s31_native_writer_lake",
]


def _count_action(df):
    # force a full materialization without driver-side collect cost
    return df.agg(F.count(F.lit(1))).collect()[0][0]


def main() -> None:
    load_before = machine_state()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.path.basename(os.path.normpath(SF_DIR)).replace("sf", "")
    timings: dict[str, float] = {}

    # ORC-72 protocol: scan / projection / projection+PPD on an ORC copy
    path = orc_copy(spark, SF_DIR, "lineitem")
    _count_action(spark.read.orc(path))  # warm JVM/reader path
    t0 = time.time()
    n_full = _count_action(spark.read.orc(path))
    timings["orc_full_scan"] = round(time.time() - t0, 3)
    t0 = time.time()
    _count_action(spark.read.orc(path).select("l_orderkey", "l_extendedprice"))
    timings["orc_projection"] = round(time.time() - t0, 3)
    t0 = time.time()
    _count_action(
        spark.read.orc(path)
        .filter((F.col("l_quantity") >= 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_quantity")
    )
    timings["orc_projection_ppd"] = round(time.time() - t0, 3)

    qs = {**catalog.queries(), **catalog.extra_queries()}
    # warmup: materialize one-time inputs (ORC copies, ACID dirs) and
    # JIT/codegen so timings reflect steady-state query cost
    for name in HEADLINE:
        qs[name](spark, SF_DIR).collect()
    # METHODOLOGY (r05, supersedes the r01-r04 series for operators
    # that cache() internally): the SQL cache is cleared before every
    # timed run, so each sample is end-to-end execution, never a read
    # of the warm run's InMemoryRelation. min of THREE timed runs
    # (r01-r04: two): long-lived-JVM GC noise can inflate a single
    # sample up to 3x on sub-second queries; the min is the honest
    # steady-state cost.
    # r08: keep ALL three samples for the headline tier too (the r7
    # driver capture ran ~1.5x inflated under ambient load and only an
    # out-of-band judge re-run could prove it; with per-headline
    # [min, median, max] spreads in bench_last.json the artifact is
    # self-diagnosing). The reported series value stays the min.
    headline_stats: dict[str, list[float]] = {}
    for name in HEADLINE:
        samples: list[float] = []
        for _ in range(3):
            engine_clear_caches(spark)
            t0 = time.time()
            qs[name](spark, SF_DIR).collect()
            samples.append(time.time() - t0)
        samples.sort()
        timings[name] = round(samples[0], 3)
        headline_stats[name] = [round(s, 3) for s in samples]

    total = round(sum(timings.values()), 3)

    # round-3 capstones + round-4 widening, timed separately so `value`
    # stays comparable with the BENCH_r01 series (warm + cache-cleared
    # min-of-3 for batch operators; streaming entries report COLD sink-build time —
    # staging + availableNow run + read-back — after clearing the
    # streaming scratch, since a cached read-back is just a parquet
    # scan and would hide regressions in the streaming layer itself)
    import shutil

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    streaming_names = {n for n in EXTENDED if n.startswith("r")}
    shutil.rmtree(os.path.join(scratch_dir(SF_DIR), "stream"), ignore_errors=True)
    shutil.rmtree(
        os.path.join(scratch_dir(SF_DIR), "acid", "users_cdc"), ignore_errors=True
    )
    extended: dict[str, float] = {}
    # r09 (round-8 verdict): the topic staging SHARED by the r* tier is
    # built and timed as its own line, so each r* line is steady-state
    # sink-build cost; previously the one-time cost (~8-10s) landed on
    # whichever r* query first rebuilt the scratch (r5 in the r8
    # capture: 12.47s on its line vs ~4.9s steady-state)
    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import (
        stage_shared_topics,
    )

    t0 = time.time()
    stage_shared_topics(spark, SF_DIR)
    extended["r0_topic_staging"] = round(time.time() - t0, 3)
    # drift methodology (r07, after the unexplained 1.35-1.5x drift
    # across unchanged extras in BENCH_r06 vs _r05): keep ALL samples,
    # not just the min, so run-to-run variance is visible in
    # bench_last.json as [min, median, max] per query. The reported
    # series value stays the min (comparable with r01..r06).
    extended_stats: dict[str, list[float]] = {}
    for name in EXTENDED:
        if name in streaming_names:
            t0 = time.time()
            qs[name](spark, SF_DIR).collect()
            extended[name] = round(time.time() - t0, 3)
            continue
        qs[name](spark, SF_DIR).collect()
        samples: list[float] = []
        for _ in range(3):
            engine_clear_caches(spark)
            t0 = time.time()
            qs[name](spark, SF_DIR).collect()
            samples.append(time.time() - t0)
        samples.sort()
        extended[name] = round(samples[0], 3)
        extended_stats[name] = [round(s, 3) for s in samples]
    load_after = machine_state(spark)
    result = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rows_lineitem": n_full,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        # compact self-adjudication markers (full before/after state in
        # bench_last.json): loadavg-1m at start/end + the concurrent-
        # work flag. An idle capture starts well under n_cpus and has
        # concurrent=false; anything else is a contended capture and
        # its numbers must not be cited as the series reference.
        "load1": [load_before["loadavg"][0], load_after["loadavg"][0]],
        "concurrent": any(load_before["concurrent"].values())
        or any(load_after["concurrent"].values()),
    }
    full = dict(result)
    full["machine_state_before"] = load_before
    full["machine_state_after"] = load_after
    full["jvm_state_end"] = _jvm_state(spark)
    full["queries_headline_stats"] = headline_stats
    full["queries_extended"] = extended
    full["queries_extended_stats"] = extended_stats
    # BENCH_r06 lesson (second failed capture): the driver parses a
    # ~2.2 KB TAIL of stdout, and the r6 "compact-and-last" line was
    # 3.1 KB — still clipped mid-line ("parsed": null). The FINAL line
    # must therefore be MINIMAL: metric/value/unit/sf/cpus + the core
    # `queries` dict only (~0.9 KB measured). r08 (ADVICE): stdout now
    # carries EXACTLY ONE JSON line — the full object (headline +
    # extended spreads) lives only in bench_last.json, so a driver that
    # scans forward from the tail-window start can't land on a clipped
    # multi-KB line first.
    full_line = json.dumps(full, separators=(",", ":"))
    line = json.dumps(result, separators=(",", ":"))
    if len(line) > 1500:
        # never fail the whole bench over line size: degrade to the
        # scalar core (the per-query map still ships in bench_last.json)
        slim = {
            k: result[k]
            for k in ("metric", "value", "unit", "sf", "cpus", "load1", "concurrent")
        }
        line = json.dumps(slim, separators=(",", ":"))
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_last.json"), "w") as fh:
            fh.write(full_line + "\n")
    except OSError:
        pass  # read-only checkout must not break the stdout contract
    spark.stop()  # no JVM shutdown chatter after the result line
    print(line, flush=True)


if __name__ == "__main__":
    main()

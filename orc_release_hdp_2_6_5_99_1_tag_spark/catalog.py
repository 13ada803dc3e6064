"""Central registry mapping query names → (callable, oracle SQL).

This is the single source of truth consumed by `__spark_entry__.py`
(`queries()` / `oracle_sql()`), `bench.py`, and the tests.

The correctness driver grades the FIRST 50 registered queries (round-1
lesson: entries 51..66 received no verdict at all), so the registry is
split in two:

- the **graded window** (exactly ≤50 entries, `queries()`): the
  flagship, one query per SURVEY §2 operator family, the core
  LLM-data-pipeline operators, and a handful of engine-completeness
  showcases (rotated per round so pytest-only extras earn driver
  verdicts);
- **extras** (`extra_queries()`): queries rotated out of the graded
  window after earning a green driver verdict (e.g. the per-stripe
  half of the A4 merge pair, the TPC-H mid-tail). These stay
  validated by pytest against the same DuckDB oracles but are not
  registered with the driver.

The rotation invariant — every query that has never been FULLY green
(rows+schema+hash) with the driver must sit in the current graded
window — is asserted mechanically by tests/test_registry_rotation.py
from CORRECTNESS_r*.json, after two rounds of hand-counted shortlists
drifting (round 7: 9 claimed vs 14 actual).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The driver grades only this many registered queries.
GRADED_WINDOW = 50

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
_EXTRA_QUERIES: dict[str, QueryFn] = {}
_EXTRA_ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None = None, graded: bool = True) -> None:
    qs, osql = (_QUERIES, _ORACLES) if graded else (_EXTRA_QUERIES, _EXTRA_ORACLES)
    qs[name] = fn
    if oracle is not None:
        osql[name] = oracle


def _build() -> None:
    if _QUERIES:
        return
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import acid as ac
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import clustering as cl
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import dedup as dd
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import encodings as en
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import evolution as ev
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import extended as ex
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import extras as xt
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import filters as f
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import graph as gr
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import incremental as inc
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import multimodal as mm
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import orc_queries as oq
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import pipeline as pl
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import relational as r
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import setops as so
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import similarity as sim
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import sql_api as sq
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import stats as st
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import sampling as smp
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import temporal as tp
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators import text as tx
    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming import cdc
    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming import ingest as ig
    from orc_release_hdp_2_6_5_99_1_tag_spark.streaming import stateful as stf

    # ---- graded window (first GRADED_WINDOW registrations) ----------
    #
    # Round-15 window: the round-13 window with 10 slots rotated. The
    # never-fully-green set is EMPTY (asserted mechanically by
    # tests/test_registry_rotation.py), and
    # tests/test_contract.py::test_rotation_plan_mandatory_in_window
    # asserts that every query scripts/rotation_plan.py lists as
    # breaching the <=6 verdict-age invariant at the next round sits
    # in this window.
    #
    # - Kept from round 13 (40): the flagship; s29, s30 and s31; w8;
    #   the r7-era cohort (a8, a10, d19, j1, m3, q7, q9-q20, s15, s16,
    #   sk2, u3, w4, w9, w12, w13, w15, x5, x6, x19, x20, x21); c3, t6
    #   and t7.
    # - MANDATORY (10; last green r8, age 7 at r15): d18, w14, x15,
    #   sk5, x22, v5, sk4, mv1, i3 and r8_streaming_pipeline.
    # - Swapped OUT (10; driver-green in CORRECTNESS_r14, age 1, still
    #   oracle-checked by pytest as extras): f1_equals..f5_between and
    #   x10-x14.
    #
    # tests/test_contract.py pins the full composition.
    #
    # flagship
    register("q1_pricing_summary", r.q1_pricing_summary, r.Q1_ORACLE)
    # round-13 additions, graded immediately (never-green invariant):
    # ACID two-level + forced positional evolution (r12 verdict #3)
    register("s29_acid_positional_scan", oq.s29_acid_positional_scan, oq.S29_ORACLE)
    register(
        "s30_forced_positional_scan", oq.s30_forced_positional_scan, oq.S30_ORACLE
    )
    # MANDATORY re-grade (breaches the <=6 invariant at r13)
    register("w8_ohlc_downsample", tp.w8_ohlc_downsample, tp.W8_ORACLE)
    # age-6 verdict refresh: the full r7-era cohort (32)
    register("a8_correlation_matrix", st.a8_correlation_matrix, st.A8_ORACLE)
    register("a10_winsorized_stats", st.a10_winsorized_stats, st.A10_ORACLE)
    register("d19_boilerplate_scrub", dd.d19_boilerplate_scrub, dd.D19_ORACLE)
    register("j1_json_path_extract", so.j1_json_path_extract, so.J1_ORACLE)
    register("m3_frame_sample", mm.m3_frame_sample, mm.M3_ORACLE)
    register("q7_volume_shipping", sq.q7_volume_shipping, sq.Q7_SQL)
    register("q9_product_profit", sq.q9_product_profit, sq.Q9_SQL)
    register("q10_returned_items", sq.q10_returned_items, sq.Q10_SQL)
    register("q11_important_stock", sq.q11_important_stock, sq.Q11_SQL)
    register("q12_priority_split", sq.q12_priority_split, sq.Q12_SQL)
    register("q13_order_distribution", sq.q13_order_distribution, sq.Q13_SQL)
    register("q14_promo_revenue", sq.q14_promo_revenue, sq.Q14_SQL)
    register("q15_top_supplier", sq.q15_top_supplier, sq.Q15_SQL)
    register("q16_parts_supplier", sq.q16_parts_supplier, sq.Q16_SQL)
    register("q17_small_qty_revenue", sq.q17_small_qty_revenue, sq.Q17_SQL)
    register("q18_large_orders", sq.q18_large_orders, sq.Q18_SQL)
    register("q19_disjunctive_revenue", sq.q19_disjunctive_revenue, sq.Q19_SQL)
    register("q20_part_promotion", sq.q20_part_promotion, sq.Q20_SQL)
    register("s15_small_file_compaction", oq.s15_small_file_compaction, oq.S15_ORACLE)
    register("s16_zorder_layout", oq.s16_zorder_layout, oq.S16_ORACLE)
    register("sk2_histogram_quantiles", st.sk2_histogram_quantiles, st.SK2_ORACLE)
    register("u3_model_inference", xt.u3_model_inference, xt.U3_ORACLE)
    register("w4_trailing_window", tp.w4_trailing_window, tp.W4_ORACLE)
    register("w9_window_suite", tp.w9_window_suite, tp.W9_ORACLE)
    register("w12_event_funnel", tp.w12_event_funnel, tp.W12_ORACLE)
    register("w13_rfm_segmentation", tp.w13_rfm_segmentation, tp.W13_ORACLE)
    register("w15_last_touch_attribution", tp.w15_last_touch_attribution, tp.W15_ORACLE)
    register("x5_train_test_split", tx.x5_train_test_split, tx.X5_ORACLE)
    register("x6_repetition_metrics", tx.x6_repetition_metrics, tx.X6_ORACLE)
    register("x19_bigram_lm", tx.x19_bigram_lm, tx.X19_ORACLE)
    register("x20_vocab_growth", tx.x20_vocab_growth, tx.X20_ORACLE)
    register("x21_source_divergence", tx.x21_source_divergence, tx.X21_ORACLE)
    # keep-warm: the rest of the r8-era cohort graded in round 13
    register("c3_positional_evolution", ev.c3_positional_evolution, ev.C3P_ORACLE)
    register("t6_original_files", ac.t6_original_files, ac.T6_ORACLE)
    register("t7_snapshot_read", ac.t7_snapshot_read, ac.T7_ORACLE)
    # late round-13 addition (never-green invariant): the native
    # writer graded through the embedded Java reader
    register("s31_native_writer_lake", oq.s31_native_writer_lake, oq.S31_ORACLE)
    # round 15 MANDATORY: last green r8, age 7 at r15 unless re-graded
    register("d18_containment", dd.d18_containment, dd.D18_ORACLE)
    register("w14_twap", tp.w14_twap, tp.W14_ORACLE)
    register("x15_corpus_shuffle_shards", tx.x15_corpus_shuffle_shards, tx.X15_ORACLE)
    register("sk5_theta_intersection", st.sk5_theta_intersection, st.SK5_ORACLE)
    register("x22_ngram_novelty", tx.x22_ngram_novelty, tx.X22_ORACLE)
    register("v5_scalar_quantized_topk", sim.v5_scalar_quantized_topk, sim.V5_ORACLE)
    register("sk4_hll_distinct", st.sk4_hll_distinct, st.SK4_ORACLE)
    register("mv1_incremental_agg", inc.mv1_incremental_agg, inc.MV1_ORACLE)
    register("i3_stratified_sample", smp.i3_stratified_sample, smp.I3_ORACLE)
    register("r8_streaming_pipeline", ig.r8_streaming_pipeline, ig.R8_ORACLE)

    # ---- extras: pytest-validated, not driver-registered ------------
    #
    # Every extra below has a green driver verdict from an earlier
    # window (CORRECTNESS_r03..r07) and stays oracle-checked by pytest
    # at three SFs. After the round-8 window lands, the never-fully-
    # green set (computed mechanically from CORRECTNESS_r*.json —
    # rows+schema+hash all green — by tests/test_registry_rotation.py)
    # is EMPTY — see that test for the authoritative count; literal
    # totals in comments drift (this one once said 177 when the
    # registry held 178).
    #
    # rotated out round 11 (driver-green in CORRECTNESS_r10): the r10
    # additions + the r10 refresh tiers, all verdict-fresh
    # rotated out round 12 (driver-green in CORRECTNESS_r11, age 1):
    # the r11 addition + the r11 refresh tiers + the r10-era keep-warm
    # block (the r12 window is consumed by the r5/r6-era age deadline)
    # rotated out round 15 (driver-green in CORRECTNESS_r14, age 1;
    # their slots go to the round-15 mandatory re-grades):
    register("f1_equals", f.f1_equals, f.F1_ORACLE, graded=False)
    register("f2_null_safe_equals", f.f2_null_safe_equals, f.F2_ORACLE, graded=False)
    register("f3_less_than", f.f3_less_than, f.F3_ORACLE, graded=False)
    register("f4_in_list", f.f4_in_list, f.F4_ORACLE, graded=False)
    register("f5_between", f.f5_between, f.F5_ORACLE, graded=False)
    register("x10_source_mix", tx.x10_source_mix, tx.X10_ORACLE, graded=False)
    register("x11_doc_chunking", tx.x11_doc_chunking, tx.X11_ORACLE, graded=False)
    register("x12_token_freq_quality", tx.x12_token_freq_quality, tx.X12_ORACLE, graded=False)
    register("x13_tfidf_topk", tx.x13_tfidf_topk, tx.X13_ORACLE, graded=False)
    register("x14_dataset_card", tx.x14_dataset_card, tx.X14_ORACLE, graded=False)
    # rotated out round 13 (driver-green in CORRECTNESS_r12, age 1):
    register("s26_evolved_lake_scan", oq.s26_evolved_lake_scan, oq.S26_ORACLE, graded=False)
    register("s27_nested_sarg_scan", oq.s27_nested_sarg_scan, oq.S27_ORACLE, graded=False)
    register("s28_positional_lake_scan", oq.s28_positional_lake_scan, oq.S28_ORACLE, graded=False)
    register("s24_lake_scan", oq.s24_lake_scan, oq.S24_ORACLE, graded=False)
    register("s25_orc_native_scan", oq.s25_orc_native_scan, oq.S25_ORACLE, graded=False)
    register("s14_csv_to_orc_convert", oq.s14_csv_to_orc_convert, oq.S14_ORACLE, graded=False)
    register("set1_union_intersect_except", so.set1_union_intersect_except, so.SET1_ORACLE, graded=False)
    register("t5_minor_compaction", ac.t5_minor_compaction, ac.T5_ORACLE, graded=False)
    register("v6_two_tier_rerank", sim.v6_two_tier_rerank, sim.V6_ORACLE, graded=False)
    register("x7_pii_redaction", tx.x7_pii_redaction, tx.X7_ORACLE, graded=False)
    register("x8_sequence_pack", tx.x8_sequence_pack, tx.X8_ORACLE, graded=False)
    register("x9_vocab_topk", tx.x9_vocab_topk, tx.X9_ORACLE, graded=False)
    register("x16_bpe_pair_stats", tx.x16_bpe_pair_stats, tx.X16_ORACLE, graded=False)
    register("x17_temperature_mix", tx.x17_temperature_mix, tx.X17_ORACLE, graded=False)
    register("a4_stripe_stats", st.a4_stripe_stats, st.A4_ORACLE, graded=False)
    register("d6_embedding_cosine_neardup", sim.d6_embedding_cosine_neardup, sim.D6_ORACLE, graded=False)
    register("d10_dup_clusters", dd.d10_dup_clusters, dd.D10_ORACLE, graded=False)
    register("d11_semdedup", dd.d11_semdedup, dd.D11_ORACLE, graded=False)
    register("d15_cross_source_overlap", dd.d15_cross_source_overlap, dd.D15_ORACLE, graded=False)
    register("d16_contamination_report", dd.d16_contamination_report, dd.D16_ORACLE, graded=False)
    register("d17_fuzzy_token_pairs", dd.d17_fuzzy_token_pairs, dd.D17_ORACLE, graded=False)
    register("g2_cube", ex.g2_cube, ex.G2_ORACLE, graded=False)
    register("g3_hierarchy_depth", ex.g3_hierarchy_depth, ex.G3_ORACLE, graded=False)
    register("j2_join_strategy_parity", so.j2_join_strategy_parity, so.J2_ORACLE, graded=False)
    register("m4_payload_dedup", mm.m4_payload_dedup, mm.M4_ORACLE, graded=False)
    register("mv2_affected_key_refresh", inc.mv2_affected_key_refresh, inc.MV2_ORACLE, graded=False)
    register("p4_unpivot", so.p4_unpivot, so.P4_ORACLE, graded=False)
    register("q4_order_priority", sq.q4_order_priority, sq.Q4_SQL, graded=False)
    register("q8_market_share", sq.q8_market_share, sq.Q8_SQL, graded=False)
    register("q21_waiting_suppliers", sq.q21_waiting_suppliers, sq.Q21_SQL, graded=False)
    register("r1_streaming_orc_ingest", ig.r1_streaming_orc_ingest, ig.R1_ORACLE, graded=False)
    register("r3_stateful_running_totals", stf.r3_stateful_running_totals, stf.R3_ORACLE, graded=False)
    register("r4_streaming_acid_cdc", cdc.r4_streaming_acid_cdc, cdc.R4_ORACLE, graded=False)
    register("r5_session_windows", ig.r5_session_windows, ig.R5_ORACLE, graded=False)
    register("r6_stream_dedup", ig.r6_stream_dedup, ig.R6_ORACLE, graded=False)
    register("r7_stream_stream_join", ig.r7_stream_stream_join, ig.R7_ORACLE, graded=False)
    register("r10_stream_ohlc", ig.r10_stream_ohlc, ig.R10_ORACLE, graded=False)
    register("sk1_kmv_distinct", st.sk1_kmv_distinct, st.SK1_ORACLE, graded=False)
    register("t4_acid_stats", ac.t4_acid_stats, ac.T4_ORACLE, graded=False)
    register("t8_snapshot_diff", ac.t8_snapshot_diff, ac.T8_ORACLE, graded=False)
    register("u2_pandas_udf_parity", xt.u2_pandas_udf_parity, xt.U2_ORACLE, graded=False)
    register("u4_map_in_arrow", xt.u4_map_in_arrow, xt.U4_ORACLE, graded=False)
    register("v3_ivf_ann", sim.v3_ivf_ann, sim.V3_ORACLE, graded=False)
    register("w5_retention_cohorts", tp.w5_retention_cohorts, tp.W5_ORACLE, graded=False)
    register("w6_interval_join", tp.w6_interval_join, tp.W6_ORACLE, graded=False)
    register("w7_scd2_history", tp.w7_scd2_history, tp.W7_ORACLE, graded=False)
    register("w10_gap_fill", tp.w10_gap_fill, tp.W10_ORACLE, graded=False)
    register("w11_interval_merge", tp.w11_interval_merge, tp.W11_ORACLE, graded=False)
    register("x18_gopher_filters", tx.x18_gopher_filters, tx.X18_ORACLE, graded=False)
    register("t9_bucketed_merge", ac.t9_bucketed_merge, ac.T9_ORACLE, graded=False)
    register("f1_predicate_suite", f.f1_predicate_suite, f.F1_SUITE_ORACLE, graded=False)
    register("f12_row_seek", f.f12_row_seek, f.F12_ORACLE, graded=False)
    register("m1_multimodal_features", mm.m1_multimodal_features, mm.M1_ORACLE, graded=False)
    register("m2_grouped_normalize", mm.m2_grouped_normalize, mm.M2_ORACLE, graded=False)
    register("s5_partition_pruning", oq.s5_partition_pruning, oq.S5_ORACLE, graded=False)
    register("s12_footer_column_stats", oq.s12_footer_column_stats, oq.S12_ORACLE, graded=False)
    register("s13_corrupt_file_tolerance", oq.s13_corrupt_file_tolerance, oq.S13_ORACLE, graded=False)
    register("x1_token_count", tx.x1_token_count, tx.X1_ORACLE, graded=False)
    register("x3_lang_id", tx.x3_lang_id, tx.X3_ORACLE, graded=False)
    register("x4_quality_score", tx.x4_quality_score, tx.X4_ORACLE, graded=False)
    register("a4_merged_file_stats", st.a4_merged_file_stats, st.A4M_ORACLE, graded=False)
    register("d7_decontaminate", dd.d7_decontaminate, dd.D7_ORACLE, graded=False)
    register("d8_paragraph_dedup", dd.d8_paragraph_dedup, dd.D8_ORACLE, graded=False)
    register("d9_domain_cap", dd.d9_domain_cap, dd.D9_ORACLE, graded=False)
    register("d13_substring_dedup", dd.d13_substring_dedup, dd.D13_ORACLE, graded=False)
    register("d14_substring_scrub", dd.d14_substring_scrub, dd.D14_ORACLE, graded=False)
    register("h1_higher_order_functions", so.h1_higher_order_functions, so.H1_ORACLE, graded=False)
    register("i1_importance_resampling", smp.i1_importance_resampling, smp.I1_ORACLE, graded=False)
    register("i2_perplexity_filter", smp.i2_perplexity_filter, smp.I2_ORACLE, graded=False)
    register("r9_stream_static_enrichment", ig.r9_stream_static_enrichment, ig.R9_ORACLE, graded=False)
    register("s11_orc_meta", oq.s11_orc_meta, oq.S11_ORACLE, graded=False)
    register("s1_orc_roundtrip_scan", oq.s1_orc_roundtrip_scan, oq.S1_ORACLE, graded=False)
    register("s17_bucketed_join", oq.s17_bucketed_join, oq.S17_ORACLE, graded=False)
    register("s19_rowgroup_stats", oq.s19_rowgroup_stats, oq.S19_ORACLE, graded=False)
    register("s18_dynamic_partition_pruning", oq.s18_dynamic_partition_pruning, oq.S18_ORACLE, graded=False)
    register("a1_column_stats", st.a1_column_stats, st.A1_ORACLE, graded=False)
    register("q2_correlated_subquery", sq.q2_correlated_subquery, sq.Q2_SQL, graded=False)
    register("sk3_countmin_heavy_hitters", st.sk3_countmin_heavy_hitters, st.SK3_ORACLE, graded=False)
    register("d1_exact_dedup", dd.d1_exact_dedup, dd.D1_ORACLE, graded=False)
    register("d2_minhash_lsh", dd.d2_minhash_lsh, dd.D2_ORACLE, graded=False)
    register("d12_bloom_decontaminate", dd.d12_bloom_decontaminate, dd.D12_ORACLE, graded=False)
    register("v1_cosine_topk", sim.v1_cosine_topk, sim.V1_ORACLE, graded=False)
    register("v2_lsh_bucketed_ann", sim.v2_lsh_bucketed_ann, sim.V2_ORACLE, graded=False)
    register("v7_knn_join", sim.v7_knn_join, sim.V7_ORACLE, graded=False)
    register("k1_kmeans_clusters", cl.k1_kmeans_clusters, cl.K1_ORACLE, graded=False)
    register("g4_triangle_count", gr.g4_triangle_count, gr.G4_ORACLE, graded=False)
    register("g5_pagerank", gr.g5_pagerank, gr.G5_ORACLE, graded=False)
    register("t2_acid_merge_on_read", ac.t2_acid_merge_on_read, ac.T2_ORACLE, graded=False)
    register("t3_compaction", ac.t3_compaction, ac.T3_ORACLE, graded=False)
    register("r2_streaming_windowed_agg", ig.r2_streaming_windowed_agg, ig.R2_ORACLE, graded=False)
    register("r11_stream_outer_join", ig.r11_stream_outer_join, ig.R11_ORACLE, graded=False)
    register("w3_asof_join", tp.w3_asof_join, tp.W3_ORACLE, graded=False)
    register("j3_salted_skew_join", so.j3_salted_skew_join, so.J3_ORACLE, graded=False)
    register("pipe1_training_data_prep", pl.pipe1_training_data_prep, pl.PIPE1_ORACLE, graded=False)
    register("pipe2_curation_funnel", pl.pipe2_curation_funnel, pl.PIPE2_ORACLE, graded=False)
    register("pipe3_segment_funnel", pl.pipe3_segment_funnel, pl.PIPE3_ORACLE, graded=False)
    register("v9_hybrid_rrf", sim.v9_hybrid_rrf, sim.V9_ORACLE, graded=False)
    register("s22_partial_read", oq.s22_partial_read, oq.S22_ORACLE, graded=False)
    register("s23_bounded_tail_read", oq.s23_bounded_tail_read, oq.S23_ORACLE, graded=False)
    register("q3_shipping_priority", r.q3_shipping_priority, r.Q3_ORACLE, graded=False)
    register("q5_local_supplier_volume", r.q5_local_supplier_volume, r.Q5_ORACLE, graded=False)
    register("q6_revenue_delta", ex.q6_revenue_delta, ex.Q6_ORACLE, graded=False)
    register("w1_topk_per_group", r.w1_topk_per_group, r.W1_ORACLE, graded=False)
    register("w2_sessionize", ex.w2_sessionize, ex.W2_ORACLE, graded=False)
    register("g1_rollup", ex.g1_rollup, ex.G1_ORACLE, graded=False)
    register("p2_pivot", so.p2_pivot, so.P2_ORACLE, graded=False)
    register("a7_percentiles", xt.a7_percentiles, xt.A7_ORACLE, graded=False)
    register("f9_string_patterns", xt.f9_string_patterns, xt.F9_ORACLE, graded=False)
    register("q22_not_exists", sq.q22_not_exists, sq.Q22_SQL, graded=False)
    register("f8_predicate_coercion", ex.f8_predicate_coercion, ex.F8_ORACLE, graded=False)
    register("u1_union_type", ev.u1_union_type, ev.U1_ORACLE, graded=False)
    register("t1_nested_roundtrip", ev.t1_nested_roundtrip, ev.T1_ORACLE, graded=False)
    register("s3_bloom_point_lookup", oq.s3_bloom_point_lookup, oq.S3_ORACLE, graded=False)
    register("p1_projection_pushdown", oq.p1_projection_pushdown, oq.P1_ORACLE, graded=False)
    register("e1_codec_roundtrip", en.e1_codec_roundtrip, en.E1_ORACLE, graded=False)
    register("c1_schema_evolution", ev.c1_schema_evolution, ev.C1_ORACLE, graded=False)
    register("c2_cast_matrix", ev.c2_cast_matrix, ev.C2_ORACLE, graded=False)
    register("s21_python_datasource_meta", oq.s21_python_datasource_meta, oq.S21_ORACLE, graded=False)
    register("r12_python_stream_source", ig.r12_python_stream_source, ig.R12_ORACLE, graded=False)
    # rotated out mid-round-10 (driver-green r9; displaced by s24):
    register("v4_pq_ann", sim.v4_pq_ann, sim.V4_ORACLE, graded=False)
    # rotated out round 10 (driver-green in CORRECTNESS_r09): the r9
    # additions + the r9 refresh tier, all verdict-fresh
    register("sk6_ams_f2", st.sk6_ams_f2, st.SK6_ORACLE, graded=False)
    register("w16_markov_transitions", tp.w16_markov_transitions, tp.W16_ORACLE, graded=False)
    register("j4_cbo_stats_join", so.j4_cbo_stats_join, so.J4_ORACLE, graded=False)
    register("x23_bm25_topk", tx.x23_bm25_topk, tx.X23_ORACLE, graded=False)
    register("j5_variant_shred", so.j5_variant_shred, so.J5_ORACLE, graded=False)
    register("u5_python_udtf", xt.u5_python_udtf, xt.U5_ORACLE, graded=False)
    register("s20_xml_to_orc_convert", oq.s20_xml_to_orc_convert, oq.S20_ORACLE, graded=False)
    register("g6_recursive_cte", ex.g6_recursive_cte, ex.G6_ORACLE, graded=False)
    register("v8_hard_negative_mining", sim.v8_hard_negative_mining, sim.V8_ORACLE, graded=False)
    register("pipe4_contrastive_pairs", pl.pipe4_contrastive_pairs, pl.PIPE4_ORACLE, graded=False)
    register("f6_is_null", f.f6_is_null, f.F6_ORACLE, graded=False)
    register("f7_composite_3vl", f.f7_composite_3vl, f.F7_ORACLE, graded=False)
    register("s9_json_to_orc_convert", oq.s9_json_to_orc_convert, oq.S9_ORACLE, graded=False)
    register("s10_json_schema_inference", oq.s10_json_schema_inference, oq.S10_ORACLE, graded=False)
    register("a3_boolean_true_count", st.a3_boolean_true_count, st.A3_ORACLE, graded=False)
    register("a5_raw_data_size", st.a5_raw_data_size, st.A5_ORACLE, graded=False)
    register("a6_dictionary_advisor", st.a6_dictionary_advisor, st.A6_ORACLE, graded=False)
    register("d3_simhash", dd.d3_simhash, dd.D3_ORACLE, graded=False)
    register("d4_ngram_jaccard_topk", dd.d4_ngram_jaccard_topk, dd.D4_ORACLE, graded=False)
    register("d5_blocklist_antijoin", xt.d5_blocklist_antijoin, xt.D5_ORACLE, graded=False)
    register("x2_fingerprint", tx.x2_fingerprint, tx.X2_ORACLE, graded=False)
    # rotated out round 6 (driver-green in CORRECTNESS_r05):
    # rotated out round 5 (driver-green in CORRECTNESS_r04):
    # round-7 addition (the one verdict-requested gap-closer): the
    # reference's POSITIONAL file->reader mapping mode
    # rotated out round 4 (driver-green in CORRECTNESS_r03); the
    # f6/f7/s9/s10/a3/a5/a6/d3/d4/d5/x2/q3/q5/q6 subset was PROMOTED
    # back into the round-9 graded window for verdict refresh
    # rotated out round 9 (driver-green in CORRECTNESS_r08 — the r8
    # never-green backlog, now all verdict-fresh):
    register("a9_groupwise_regression", st.a9_groupwise_regression, st.A9_ORACLE, graded=False)
    # round-3/4 additions still queued for a future window (pytest-green):

    assert len(_QUERIES) <= GRADED_WINDOW, (
        f"graded window overflow: {len(_QUERIES)} > {GRADED_WINDOW} — the driver "
        "would leave the overflow ungraded; move entries to graded=False"
    )


def queries() -> dict[str, QueryFn]:
    """The driver-graded registry (≤ GRADED_WINDOW entries)."""
    _build()
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _build()
    return dict(_ORACLES)


def extra_queries() -> dict[str, QueryFn]:
    """Pytest-only registry: validated against the same oracles locally."""
    _build()
    return dict(_EXTRA_QUERIES)


def extra_oracle_sql() -> dict[str, str]:
    _build()
    return dict(_EXTRA_ORACLES)

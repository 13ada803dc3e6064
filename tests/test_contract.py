"""Contract test: every catalog entry runs, and every oracle matches
DuckDB exactly under the driver's compare semantics."""

from __future__ import annotations

import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark import catalog
from tests.oracle_utils import duckdb_con, compare_query


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def _all_queries():
    return {**catalog.queries(), **catalog.extra_queries()}


def _all_oracles():
    return {**catalog.oracle_sql(), **catalog.extra_oracle_sql()}


def test_graded_window_not_exceeded():
    """The driver grades only the first GRADED_WINDOW registrations —
    anything beyond gets no correctness verdict (round-1 lesson)."""
    assert len(catalog.queries()) <= catalog.GRADED_WINDOW


@pytest.mark.parametrize("name", sorted(_all_queries().keys()))
def test_query_against_oracle(spark, sf_dir, name):
    q = _all_queries()[name]
    df = q(spark, sf_dir)
    oracle = _all_oracles().get(name)
    if oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors driver fallback
        return
    con = duckdb_con(sf_dir)
    try:
        compare_query(df, con, oracle)
    finally:
        con.close()


def test_round13_graded_window_composition():
    """Pin the EXACT driver-graded set for this round: an accidental
    registration reorder or a graded/extra flag slip would silently
    leave queries ungraded (the round-1 lesson) — this fails loudly
    instead. Update alongside each round's deliberate rotation.

    Round-13 window = the flagship, the two round-13 additions graded
    immediately (s29 — ACID two-level positional evolution; s30 —
    forced positional evolution), the MANDATORY w8 re-grade (last
    green r6, displaced from the r12 window by s28 — it breaches the
    ≤6 verdict-age invariant at r13), the full 32-strong r7-era
    cohort (age 6 at r13, would breach at r14), the late-round s31
    addition (native writer, never-green — displaces x15), and 13 of
    the 23 r8-era age-5 verdicts as keep-warm fills. Displaced to
    extras: the whole r12 window minus the flagship, all
    r12-verdict-fresh (age 1). Round 15 keeps that window but for
    ten keep-warm fills (f1-f5, x10-x14, age 1), whose slots go to
    the ten r8-era verdicts that reach age 7 at r15. The window is
    cross-checked against scripts/rotation_plan.py by
    test_rotation_plan_mandatory_in_window below;
    tests/test_registry_rotation.py asserts the never-green ⊆
    graded invariant mechanically."""
    from orc_release_hdp_2_6_5_99_1_tag_spark import catalog

    expected = {
        "q1_pricing_summary",
        # round-13 additions
        "s29_acid_positional_scan", "s30_forced_positional_scan",
        # MANDATORY (breaches the ≤6 invariant at r13)
        "w8_ohlc_downsample",
        # the r7-era cohort (all 32, age 6 at r13)
        "a8_correlation_matrix", "a10_winsorized_stats",
        "d19_boilerplate_scrub", "j1_json_path_extract",
        "m3_frame_sample",
        "q7_volume_shipping", "q9_product_profit",
        "q10_returned_items", "q11_important_stock",
        "q12_priority_split", "q13_order_distribution",
        "q14_promo_revenue", "q15_top_supplier",
        "q16_parts_supplier", "q17_small_qty_revenue",
        "q18_large_orders", "q19_disjunctive_revenue",
        "q20_part_promotion",
        "s15_small_file_compaction", "s16_zorder_layout",
        "sk2_histogram_quantiles", "u3_model_inference",
        "w4_trailing_window", "w9_window_suite",
        "w12_event_funnel", "w13_rfm_segmentation",
        "w15_last_touch_attribution",
        "x5_train_test_split", "x6_repetition_metrics",
        "x19_bigram_lm", "x20_vocab_growth",
        "x21_source_divergence",
        # keep-warm fills (3 of the 13 round-13 r8-era fills; f1-f5
        # and x10-x14 made room for the round-15 mandatory set)
        "c3_positional_evolution", "t6_original_files",
        "t7_snapshot_read",
        # late round-13 addition: the native ORC writer graded
        # end-to-end (engine writes, embedded Java reader reads)
        "s31_native_writer_lake",
        # round-15 MANDATORY re-grades (last green r8, age 7 at r15)
        "d18_containment", "i3_stratified_sample", "mv1_incremental_agg",
        "r8_streaming_pipeline", "sk4_hll_distinct",
        "sk5_theta_intersection", "v5_scalar_quantized_topk", "w14_twap",
        "x15_corpus_shuffle_shards", "x22_ngram_novelty",
    }
    assert set(catalog.queries()) == expected
    assert len(expected) == 50


def test_rotation_plan_mandatory_in_window():
    """Mechanized rotation gate (round-12 verdict Next #2): the
    committed graded window must contain every query that would
    BREACH the ≤6 verdict-age invariant at the next round, plus every
    never-green registration — computed by scripts/rotation_plan.py
    from the CORRECTNESS history, never by a hand-written queue
    comment (w8 survived round 12 only because a comment remembered
    it; r7 and r10 both had hand-list misses)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark import catalog
    from scripts.rotation_plan import plan

    p = plan()
    window = set(catalog.queries())
    stranded = [n for n in p["mandatory"] if n not in window]
    assert not stranded, (
        f"queries that breach the ≤6 verdict-age invariant at round "
        f"{p['next_round']} are NOT in the graded window: {stranded}"
    )
    new = [n for n in p["never_green"] if n not in window]
    assert not new, (
        f"never-green queries outside the graded window: {new}"
    )

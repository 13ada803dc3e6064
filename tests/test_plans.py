"""Plan-shape assertions: pushdown, pruning, broadcast — the parts of
the reference's optimizer surface (SURVEY §4) Catalyst must actually
deliver, verified on the physical plan rather than assumed."""

from __future__ import annotations

import pyspark.sql.functions as F

from orc_release_hdp_2_6_5_99_1_tag_spark.plans import (
    formatted_plan,
    pushed_filters,
    read_schema_columns,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import orc_copy, read_orc


def test_orc_predicate_pushdown(spark, sf_dir):
    path = orc_copy(spark, sf_dir, "lineitem")
    df = read_orc(spark, path).filter(F.col("l_quantity") >= 30).select("l_orderkey")
    pf = pushed_filters(df)
    assert "l_quantity" in pf, f"predicate not pushed to ORC scan: {pf!r}"


def test_orc_column_pruning(spark, sf_dir):
    path = orc_copy(spark, sf_dir, "lineitem")
    df = read_orc(spark, path).select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, f"scan reads extra columns: {cols}"


def test_nested_schema_pruning(spark, sf_dir):
    """P2: selecting one subfield of a struct must prune the ORC
    ReadSchema to that subfield (reference include-subtree semantics,
    `mapred/OrcInputFormat.java:61-88`) — not read the whole struct."""
    import os

    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import write_orc
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table, scratch_dir

    dest = os.path.join(scratch_dir(sf_dir), "orc", "nested_prune")
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        l = load_table(spark, sf_dir, "lineitem")
        write_orc(
            l.select(
                "l_orderkey",
                F.struct(
                    F.col("l_quantity").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                    F.col("l_comment_ish").alias("note") if "l_comment_ish" in l.columns
                    else F.col("l_returnflag").alias("note"),
                ).alias("inner"),
            ),
            dest,
        )
    df = read_orc(spark, dest).select("l_orderkey", F.col("inner.qty"))
    plan = formatted_plan(df)
    schema_seg = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "qty" in schema_seg, schema_seg
    assert "price" not in schema_seg and "note" not in schema_seg, (
        f"struct not pruned to subfield: {schema_seg}"
    )


def test_partition_pruning(spark, sf_dir):
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import s5_partition_pruning

    df = s5_partition_pruning(spark, sf_dir)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    # the status=F predicate must appear as a partition filter, not a data filter
    assert any(
        "o_orderstatus" in seg for seg in plan.split("PartitionFilters:")[1:]
    ), plan


def test_q3_broadcasts_customer(spark, sf_dir):
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.relational import q3_shipping_priority

    plan = formatted_plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "customer dim should broadcast, not shuffle"


def test_pipe1_plan_shape(spark, sf_dir):
    """pipe1's scale claims, plan-verified: the lang/quality gates are
    pushed into the scan, the decontamination semi/anti joins
    broadcast, and no Window node appears anywhere."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.pipeline import (
        pipe1_training_data_prep,
    )

    df = pipe1_training_data_prep(spark, sf_dir)
    plan = formatted_plan(df)
    pushed = [
        seg.splitlines()[0] for seg in plan.split("PushedFilters:")[1:]
    ]
    assert any(
        "lang" in pf and "n_chars" in pf for pf in pushed
    ), f"gates not pushed to any scan: {pushed!r}"
    assert "BroadcastHashJoin" in plan, "decontamination joins should broadcast"
    assert "Window" not in plan, "pipeline must not contain window operators"


def test_d8_first_occurrence_is_partial_aggregatable(spark, sf_dir):
    """d8's hot-chunk-proof shape: first-occurrence detection must be a
    partial+final aggregate (min(struct)) with NO per-hash window."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.dedup import d8_paragraph_dedup

    plan = formatted_plan(d8_paragraph_dedup(spark, sf_dir))
    assert "Window" not in plan, "d8 must not use a window for first-occurrence"
    assert "partial_min" in plan, "expected map-side partial min(struct) aggregation"


def test_x9_topk_uses_take_ordered(spark, sf_dir):
    """x9's limit must execute as TakeOrderedAndProject (per-partition
    top-K + driver merge), not a global Sort."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.text import x9_vocab_topk

    plan = formatted_plan(x9_vocab_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_dynamic_partition_pruning(spark, sf_dir):
    """§4 optimizer surface: a join against a filtered dim prunes the
    Hive-partitioned fact's directories at RUNTIME (dynamicpruning
    expression in PartitionFilters) — the join-driven counterpart of
    s5's static partition pruning, and the directory-level analog of
    the reference's stripe-range split selection."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import (
        s5_partition_pruning,
    )

    s5_partition_pruning(spark, sf_dir).collect()  # materialize layout
    import os

    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    fact = spark.read.orc(os.path.join(scratch_dir(sf_dir), "orc", "orders_by_status"))
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")], ["st", "label"]
    ).filter(F.col("label") == "finished")
    j = fact.join(dim, fact.o_orderstatus == dim.st).agg(F.count(F.lit(1)).alias("n"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP expression missing from PartitionFilters"


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """§4 optimizer surface: Catalyst's runtime bloom-filter injection
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`) builds a bloom
    filter from the selective dim side of a shuffle join and applies
    `might_contain` on the fact side BEFORE the shuffle — the
    engine-level generalization of the reference's bloom-filter
    row-group skipping (`RecordReaderImpl.checkInBloomFilter:606-654`),
    happening at runtime over any source. Thresholds are lowered so the
    toy scale qualifies; at 100 TB the defaults fire on their own."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in [
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        ]
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected on fact side"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q1_whole_stage_codegen(spark, sf_dir):
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, sf_dir)
    df.collect()  # AQE: codegen spans only visible on the final plan
    plan = formatted_plan(df)
    assert "codegen id" in plan, "aggregation should stay in whole-stage codegen (JVM-side)"
    assert "partial_sum" in plan, "expected map-side partial aggregation before the exchange"
    assert "HashAggregate" in plan


def test_x11_chunking_is_shuffle_free(spark, sf_dir):
    """x11's chunk emission must be a narrow explode — ANY Exchange in
    the plan means the chunk multiplier is riding a shuffle at 100 TB.
    Asserts on the SHIPPED pre-sort plan (`_x11_chunks`, the same
    function the operator calls), so a shuffle regression in the
    operator fails here."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.text import _x11_chunks
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    plan = formatted_plan(_x11_chunks(d))
    assert "Exchange" not in plan, f"chunking plan shuffles:\n{plan}"


def test_x13_broadcasts_vocab_tables(spark, sf_dir):
    """x13's df (and x12's freq) tables are vocab-sized dimensions —
    they must broadcast, not shuffle-join the corpus-sized token
    stream."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.text import x13_tfidf_topk

    plan = formatted_plan(x13_tfidf_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, f"vocab join is not broadcast:\n{plan}"


def test_w5_has_no_window_operator(spark, sf_dir):
    """w5 must compute cohorts via aggregation + join — a Window here
    would mean a per-user global sort shape that w5 exists to avoid."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.temporal import (
        w5_retention_cohorts,
    )

    plan = formatted_plan(w5_retention_cohorts(spark, sf_dir))
    assert "Window" not in plan, f"w5 unexpectedly uses a window:\n{plan}"


def test_kmeans_update_has_no_posexplode(spark, sf_dir):
    """k1's centroid update must aggregate whole vectors (salted
    two-phase zip_with fold) — a `Generate posexplode` here means the
    corpus was widened to corpus×dim rows, the shape flagged at 100 TB."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.clustering import (
        _K,
        _assign,
        _update_plan,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cents = [(int(r["vec_id"]), list(r["v"])) for r in e.filter(F.col("vec_id") < _K).collect()]
    plan = formatted_plan(_update_plan(_assign(e, cents), len(cents[0][1])))
    assert "posexplode" not in plan, f"centroid update explodes dims:\n{plan}"
    assert "partial_count" in plan or "HashAggregate" in plan


def test_v4_serving_is_single_plan_broadcast_lut(spark, sf_dir):
    """v4's ADC serving must be ONE plan for the whole query batch:
    the LUT broadcast-hash-joined to the codes scan — no per-query
    plan union (Catalyst analysis cost must not grow with NQ) and no
    posexplode anywhere."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.similarity import v4_pq_ann

    plan = formatted_plan(v4_pq_ann(spark, sf_dir))
    assert "Union" not in plan, f"per-query plan union shape is back:\n{plan}"
    assert "BroadcastHashJoin" in plan, f"LUT join is not broadcast:\n{plan}"
    assert "posexplode" not in plan


def test_w6_interval_join_is_hash_blocked(spark, sf_dir):
    """w6 must execute as an equi-join on (user_id, bucket) — a naive
    range-condition join would pick BroadcastNestedLoopJoin/Cartesian
    and blow up quadratically per user at scale."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.temporal import w6_interval_join

    plan = formatted_plan(w6_interval_join(spark, sf_dir))
    assert "NestedLoop" not in plan, f"range join fell back to nested loop:\n{plan}"
    assert "CartesianProduct" not in plan


def test_mv1_delta_filter_pushed_down(spark, sf_dir):
    """mv1's incremental path must scan only the delta: the ts >= split
    predicate reaches the parquet scan (never a full-history rescan)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.incremental import (
        mv1_incremental_agg,
    )

    plan = formatted_plan(mv1_incremental_agg(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan, plan


def test_i1_model_joins_are_broadcast(spark, sf_dir):
    """i1's B-row log-ratio model table must broadcast back onto the
    token stream (a shuffle join keyed on a 512-value bucket column
    would be a pathological skew magnet at corpus scale)."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.sampling import (
        i1_importance_resampling,
    )

    plan = formatted_plan(i1_importance_resampling(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, f"model join is not broadcast:\n{plan}"
    assert "TakeOrderedAndProject" in plan, f"top-N is a global sort:\n{plan}"


def test_d12_bloom_probe_runs_before_exact_verify(spark, sf_dir):
    """d12's vectorized bloom probe (the ArrowEvalPython node) must sit
    BELOW the exact-verify semi join in the physical plan — pruning
    before the exchange is the operator's entire scale claim."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.dedup import (
        d12_bloom_decontaminate,
    )

    plan = formatted_plan(d12_bloom_decontaminate(spark, sf_dir))
    probe = plan.find("ArrowEvalPython")
    assert probe != -1, f"no vectorized bloom probe in plan:\n{plan}"
    # formatted plans print top-down: the probe node must appear AFTER
    # (deeper than) the semi join header that consumes it
    semi = plan.find("LeftSemi")
    assert semi != -1 and semi < probe, (
        f"bloom probe is not below the exact-verify semi join:\n{plan}"
    )


def test_x16_pair_counts_partial_aggregate(spark, sf_dir):
    """x16's pair count must run as partial+final hash aggregation
    (map-side combine) with the top-K as TakeOrdered, not a global
    sort over all distinct pairs."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.text import (
        x16_bpe_pair_stats,
    )

    plan = formatted_plan(x16_bpe_pair_stats(spark, sf_dir))
    assert "partial_count" in plan or "HashAggregate" in plan, plan
    assert "TakeOrderedAndProject" in plan, f"top-K is a global sort:\n{plan}"


def test_d2_pair_engine_caches_candidates_only(spark, sf_dir):
    """Cache policy pin (measured at the 1M-doc COLD stress point,
    cache cleared before timing): caching every shared subplan costs
    27.5s vs 11.2s for caching ONLY the duplicate-sized candidate set —
    materializing corpus-scale frames (shingles, signatures) is 2.4x
    more expensive than recomputing their narrow lineage. So the plan
    must contain the `cand` InMemoryRelation (it feeds three downstream
    joins whose recompute would re-run the banded self-join) and the
    corpus-scale subplans must NOT be cached."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.dedup import (
        verified_dup_pairs,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

    spark.catalog.clearCache()  # isolate from other tests' cache state
    d = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(verified_dup_pairs(d))
    import re

    cached_headers = re.findall(r"\(\d+\) InMemoryRelation\b", plan)
    assert cached_headers, f"candidate set not cached:\n{plan[:2000]}"
    # distinct cached subplans (formatted explain re-prints the stored
    # plan per reference): exactly ONE — the candidate set
    lines = plan.splitlines()
    sigs = set()
    for i, ln in enumerate(lines):
        if re.match(r"\(\d+\) InMemoryRelation\b", ln):
            for nxt in lines[i + 1 : i + 6]:
                if nxt.startswith("Arguments:"):
                    # expr IDs (#NNN) differ per reference to the SAME
                    # cache — strip them before deduping
                    sigs.add(re.sub(r"#\d+", "", nxt))
                    break
    assert len(sigs) == 1, (
        f"expected exactly 1 distinct cached subplan (cand), found {len(sigs)}"
    )


def test_w12_funnel_is_one_scan_one_shuffle_chain(spark, sf_dir):
    """w12's three step times must come from chained window passes on
    ONE events scan and one user_id partitioning — the join-gated
    formulation re-derives each step's subplan inside the next (6
    scans) and is the shape this test forbids."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.temporal import (
        w12_event_funnel,
    )

    import re

    plan = formatted_plan(w12_event_funnel(spark, sf_dir))
    n_scans = len(re.findall(r"^\(\d+\) Scan ", plan, flags=re.M))
    assert n_scans == 1, f"funnel re-scans events ({n_scans} scans):\n{plan}"
    assert "Join" not in plan, f"join-gated funnel shape is back:\n{plan}"


def test_v7_knn_join_is_bucketed_equi_join(spark, sf_dir):
    """v7's candidate join must be an equi-join on the bucket key —
    a theta/cross formulation would plan BroadcastNestedLoopJoin or
    CartesianProduct and go quadratic in the corpus."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.similarity import v7_knn_join

    plan = formatted_plan(v7_knn_join(spark, sf_dir))
    assert "NestedLoop" not in plan, f"kNN join fell back to nested loop:\n{plan}"
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # it IS a join, on the bucket key


def test_x19_context_table_broadcasts(spark, sf_dir):
    """x19's top-context filter joins a 10-row table onto the pair
    counts — it must broadcast, never shuffle the counts on a second
    key."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.text import x19_bigram_lm

    plan = formatted_plan(x19_bigram_lm(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, f"context join is not broadcast:\n{plan}"
    assert "NestedLoop" not in plan
    # top-10 contexts must come from a distributed top-k
    # (TakeOrderedAndProject), never an un-partitioned row_number over
    # the vocabulary-sized totals table
    assert "TakeOrderedAndProject" in plan, f"context top-k is not a take-ordered:\n{plan}"


def test_j3_salted_join_is_equi_join_with_salt_fanout(spark, sf_dir):
    """j3 must keep the salted join a plain shuffled equi-join — the
    salt explode appears as a Generate on the DIM side, and no
    nested-loop/cartesian shape sneaks in."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.setops import (
        j3_salted_skew_join,
    )

    plan = formatted_plan(j3_salted_skew_join(spark, sf_dir))
    assert "Generate" in plan, f"salt fan-out explode missing:\n{plan}"
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "salt" in plan  # the join key carries the salt column


def test_pipe3_is_one_scan_no_join(spark, sf_dir):
    """pipe3 composes the funnel window chain and RFM banding in one
    Catalyst plan: one events scan, windows + rollups share the
    user_id partitioning, and no join appears anywhere."""
    import re

    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.pipeline import (
        pipe3_segment_funnel,
    )

    plan = formatted_plan(pipe3_segment_funnel(spark, sf_dir))
    n_scans = len(re.findall(r"^\(\d+\) Scan ", plan, flags=re.M))
    assert n_scans == 1, f"segment funnel re-scans events ({n_scans}):\n{plan}"
    assert "Join" not in plan


def test_s17_bucketed_join_has_no_exchange_below_the_join(spark, sf_dir):
    """The bucketing payoff must be visible in the plan: both scans
    read bucketed layouts (all 8 buckets selected) and the sort-merge
    join consumes them with ZERO exchanges below it — the only
    exchanges in the whole query are the 5-group aggregation and the
    oracle-compare orderBy tail."""
    import re

    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import (
        s17_bucketed_join,
    )

    plan = formatted_plan(s17_bucketed_join(spark, sf_dir))
    assert "SortMergeJoin" in plan, f"bucketed join lost its SMJ shape:\n{plan}"
    assert plan.count("Bucketed: true") == 2, f"scan not bucketed:\n{plan}"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges <= 2, (
        f"bucketed join should not shuffle its inputs ({n_exchanges} exchanges):\n{plan}"
    )


def test_s17_fresh_session_reregisters_without_rewriting(spark, sf_dir):
    """A fresh session (empty in-memory catalog) over valid bucketed
    data files must re-register the existing files — CREATE TABLE ...
    CLUSTERED BY over the same LOCATION — not rmtree + rewrite: the
    pay-the-clustering-shuffle-ONCE story is the whole point of the
    layout. Pinned by file mtimes across a simulated session loss,
    and the re-registered table must still join bucketed (SMJ, zero
    exchanges below the join)."""
    import os
    import re

    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import (
        _bucketed_table,
        s17_bucketed_join,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    name = _bucketed_table(spark, sf_dir, "orders", "o_custkey")
    path = os.path.join(scratch_dir(sf_dir), "bucketed", "orders")
    mtimes = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    # simulate the fresh session: the external table vanishes from the
    # (per-session, in-memory) catalog while the data files survive
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    name2 = _bucketed_table(spark, sf_dir, "orders", "o_custkey")
    assert name2 == name
    after = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    assert after == mtimes, "re-registration rewrote the bucketed files"
    plan = formatted_plan(s17_bucketed_join(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, (
        f"re-registered table lost its bucketed scan:\n{plan}"
    )
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges <= 2, plan


def test_s18_fact_scan_has_dynamic_pruning_filter(spark, sf_dir):
    """The dim-side quarter filter must become a RUNTIME partition
    filter on the month-partitioned fact scan (dynamicpruning
    expression) — static pruning cannot express it, and without DPP
    the scan reads all 12 month directories."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.orc_queries import (
        s18_dynamic_partition_pruning,
    )

    plan = formatted_plan(s18_dynamic_partition_pruning(spark, sf_dir))
    assert "dynamicpruning" in plan, f"no DPP filter on the fact scan:\n{plan}"


def test_plans_md_covers_full_registry():
    """PLANS.md must have an audit row for EVERY registered query —
    the same mechanical drift guard test_registry_rotation.py applies
    to driver verdicts (round-8 verdict: s19 was added to the
    registry but the audit table silently under-covered it)."""
    import os
    import re

    from orc_release_hdp_2_6_5_99_1_tag_spark import catalog

    plans = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(plans) as fh:
        rows = {
            m.group(1)
            for m in (re.match(r"\| (\w+) \|", ln) for ln in fh)
            if m and m.group(1) != "query"
        }
    registered = set(catalog.queries()) | set(catalog.extra_queries())
    missing = sorted(registered - rows)
    assert not missing, (
        f"PLANS.md is stale: {len(missing)} registered queries have no "
        f"plan-audit row (regenerate with scripts/plan_audit.py): {missing}"
    )


def test_w16_single_user_exchange_and_sk6_single_scan():
    """w16: exactly ONE hash exchange on user_id feeds both the lag()
    window and (after the pair groupBy's own exchange) the matrix —
    the sequence stays partition-local. sk6: the 32 estimator sums
    ride ONE single-row aggregate over ONE events scan (the exact-F2
    grading branch adds its own scan + key exchange, no more)."""
    import re

    from orc_release_hdp_2_6_5_99_1_tag_spark import get_spark
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.stats import sk6_ams_f2
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.temporal import (
        w16_markov_transitions,
    )

    spark = get_spark("plans-test")
    sf_dir = "/root/testdata/sf0.001"
    p = formatted_plan(w16_markov_transitions(spark, sf_dir))
    n_x = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert p.count("hashpartitioning(user_id") >= 1
    # user_id exchange + pair-groupBy exchange + prev_type marginal
    # window + the orderBy-for-oracle range exchange: <= 4 total
    assert n_x <= 4, f"w16 grew extra shuffles:\n{p}"

    p2 = formatted_plan(sk6_ams_f2(spark, sf_dir))
    scans = len(re.findall(r"\(\d+\) Scan parquet", p2))
    assert scans == 2, f"sk6 must scan events exactly twice (sketch + exact):\n{p2}"
    assert "CartesianProduct" not in p2


def test_j4_analyze_stats_reach_the_optimizer():
    """The catalog statistics pipeline end-to-end: after ANALYZE, the
    optimized logical plan carries EXACT rowCount for the analyzed
    tables (not file-size guesses), and under CBO the dim joins build
    broadcast sides. A stats-blind plan can only estimate sizeInBytes
    from files; rowCount is only there if ANALYZE reached the plan."""
    from orc_release_hdp_2_6_5_99_1_tag_spark import get_spark
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.setops import (
        j4_cbo_stats_join,
    )

    spark = get_spark("plans-test")
    sf_dir = "/root/testdata/sf0.001"
    rows = {r["table_name"]: r["row_count"] for r in
            j4_cbo_stats_join(spark, sf_dir).collect()}
    # the ANALYZE row counts the query surfaced are the true counts
    assert rows["nation"] == 25 and rows["customer"] > 0 and rows["orders"] > 0

    # the optimizer sees the exact rowCount through the catalog
    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        df = spark.sql(
            "SELECT c.c_mktsegment, COUNT(*) n FROM j4_orders_sf0_001 o "
            "JOIN j4_customer_sf0_001 c ON o.o_custkey = c.c_custkey "
            "GROUP BY c.c_mktsegment"
        )
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), (
            "CBO stats did not reach the optimized plan"
        )
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)

"""Physical-plan regression guards: the properties that make these queries
scale (pushdown, broadcast choices, partial aggregation) must survive
refactors. A correctness-green but plan-regressed change should fail here.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def plan_of(spark, name: str) -> str:
    import contextlib
    import io

    from stock_streaming_data_pipeline_spark.plans import catalog

    df = catalog.queries()[name](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # formatted mode prints full PushedFilters lists (toString truncates)
    return buf.getvalue() + df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan
    # partial + final aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_q5_dimensions_broadcast(spark):
    plan = plan_of(spark, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 4  # cust/supp/nation/region
    assert "EqualTo(r_name,ASIA)" in plan  # dim filter pushed to its scan


def test_semi_join_broadcast(spark):
    plan = plan_of(spark, "users_with_events_semi")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_cosine_topk_no_corpus_shuffle(spark):
    plan = plan_of(spark, "embedding_topk")
    # queries side broadcast; corpus scanned once, never hash-repartitioned
    # before the scoring join
    assert "BroadcastNestedLoopJoin" in plan
    before_join = plan.split("BroadcastNestedLoopJoin")[-1]
    assert "Exchange hashpartitioning" not in before_join


def test_trade_ticks_all_filters_pushed(spark):
    plan = plan_of(spark, "trade_ticks")
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "EqualTo(event_type,click)" in pushed
    assert "GreaterThan(value,0.0)" in pushed
    # The ts range predicate reaches the scan as RAW nano-long bounds
    # (load_events_pruned works around the TIMESTAMP(NANOS) limitation).
    assert "GreaterThanOrEqual(ts," in pushed and "LessThan(ts," in pushed


def test_q3_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "q3_top_unshipped_orders")
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + merge


def test_q6_pure_scan_aggregate(spark):
    """TPC-H Q6: every predicate reaches the scan; no join, no wide
    shuffle — one partial+final aggregate pair."""
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity,24.0)" in pushed
    assert "GreaterThanOrEqual(l_discount,0.05)" in pushed
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q15_no_unpartitioned_window(spark):
    """The scalar-MAX view must not funnel suppliers through a single
    partition (WindowExec with an empty partition spec)."""
    plan = plan_of(spark, "q15_top_supplier")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q17_correlated_avg_no_rescan(spark):
    """Correlated AVG decorrelates to ONE extra aggregate over lineitem —
    the fact table is scanned at most twice (probe + per-part agg), never
    per-row."""
    plan = plan_of(spark, "q17_small_quantity_revenue")
    assert plan.count("FileScan parquet") <= 3  # lineitem x2 + part
    assert "BroadcastHashJoin" in plan  # brand-filtered part broadcasts


def test_q21_single_fact_aggregation_tree(spark):
    """EXISTS + NOT EXISTS collapse into one per-order aggregate: no
    nested-loop join, supplier dim broadcasts."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q18_semi_join_for_in_subquery(spark):
    plan = plan_of(spark, "q18_large_volume_customers")
    assert "LeftSemi" in plan


def test_q22_anti_join_for_not_exists(spark):
    plan = plan_of(spark, "q22_dormant_customers")
    assert "LeftAnti" in plan
    # the recent-orders filter is pushed to the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_global_sort_uses_range_partitioning(spark):
    """A full orderBy must sample-and-range-partition (distributed sort),
    never collapse to one partition; with a LIMIT it must become
    TakeOrderedAndProject instead of a full sort."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    full = ev.orderBy("value")._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in full.lower()
    limited = (
        ev.orderBy("value").limit(10)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in limited


def test_minhash_codegen_and_partial_agg(spark):
    """The minhash signature aggregate, built as minhash_lsh_pairs builds
    it, must stay on the codegen HashAggregate path (an
    ObjectHashAggregate here means a TypedImperativeAggregate leaked into
    the 64-min aggregate) with map-side partial aggregation."""
    import contextlib
    import io

    from stock_streaming_data_pipeline_spark.operators import dedup
    from stock_streaming_data_pipeline_spark.tables import load_table

    hashed = dedup._hashed_shingle_rows(
        load_table(spark, SF_SMOKE, "documents"),
        id_col="doc_id", text_col="text", n=3, portable=True,
    )
    sigs = hashed.groupBy("doc").agg(*dedup._minhash_aggs(64))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sigs.explain("formatted")
    plan = buf.getvalue()
    assert "ObjectHashAggregate" not in plan
    assert plan.count("HashAggregate") >= 2


def test_decontamination_broadcasts_eval_index(spark):
    """The eval shingle index must broadcast (training corpus map-side,
    never sort-merge-joined) and match counting must partial-aggregate."""
    plan = plan_of(spark, "text_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_rate_sampling_is_map_only_on_fact(spark):
    """The rate-form stratified sample must broadcast the per-group counts
    — the fact table reaches its filter without ever being
    hash-repartitioned (one scan, no Exchange on the fact side of the
    join)."""
    plan = plan_of(spark, "sample_balanced_rate")
    # Broadcast join only — a SortMergeJoin would mean the documents scan
    # was hash-repartitioned by lang just to meet its own tiny counts.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # Exactly one shuffle exchange in the whole plan: the counts
    # aggregation's. The fact side reaches its filter shuffle-free.
    assert plan.count("Exchange hashpartitioning") == 1


def test_pq_adc_joins_broadcast(spark):
    """IVF-PQ ADC scoring must join candidates against a BROADCAST lookup
    table (codes never shuffle on the LUT key)."""
    plan = plan_of(spark, "embedding_pq_topk")
    assert "BroadcastHashJoin" in plan


def test_hierarchical_bars_single_fact_scan(spark):
    """The three rollup tiers must share ONE materialized fine tier, not
    re-derive it from three separate fact scans (the regression the
    localCheckpoint in the plan guards against)."""
    plan = plan_of(spark, "hierarchical_bars")
    n_scans = plan.count("Scan parquet") + plan.count("FileScan parquet")
    assert n_scans <= 1, f"fact table scanned {n_scans}x across union branches"


def test_asof_nearest_no_join_explosion(spark):
    """Nearest as-of is the linear union+window plan: no Join operator at
    all, one hash exchange on the key."""
    plan = plan_of(spark, "asof_nearest_view")
    assert "Join" not in plan
    assert "Window" in plan


def test_pack_sequences_single_shuffle(spark):
    """Sequence packing: one per-source window sort; the token estimate
    must not force extra exchanges."""
    plan = plan_of(spark, "text_pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# Scale guard: no hard broadcast hint on SF-scaled relations.
#
# An explicit broadcast() hint is honored by Catalyst REGARDLESS of the
# relation's size (only stats-driven auto-broadcast degrades to sort-merge),
# so a hint over customer/supplier/part/orders/lineitem — which TPC-H
# scales linearly with SF — would OOM the driver on a real cluster even
# though it is fast at sf0.1. A Filter does NOT exempt a hint: a
# predicate that keeps a constant FRACTION of an SF-scaled table
# (p_size<=10 keeps ~20% of part forever) is still unbounded at 100 TB.
# Only constructs that bound CARDINALITY independent of SF exempt the
# subtree: a grouped/scalar Aggregate or a Limit. Fixed-size relations
# (nation: 25 rows, region: 5) may keep their hints.
#
# The rule itself lives in tools/plan_lint.py (shared with the
# catalog-wide linter); this test applies it to every relational-surface
# builder's analyzed plan.
# ---------------------------------------------------------------------------

from tools.plan_lint import broadcast_hint_violations as _broadcast_hint_violations


def test_no_broadcast_hint_on_sf_scaled_relations(spark):
    from stock_streaming_data_pipeline_spark.plans import catalog

    checked = 0
    for name, q in catalog.catalog().items():
        mod = q.build.__module__.rsplit(".", 1)[-1]
        if mod not in ("relational", "tpch_extra", "stock"):
            continue  # streaming/llmdata builders may execute jobs at build
        df = q.build(spark, SF_SMOKE)
        tree = df._jdf.queryExecution().analyzed().treeString()
        bad = _broadcast_hint_violations(tree)
        assert not bad, f"{name}: broadcast hint over SF-scaled relation: {bad}"
        checked += 1
    assert checked >= 40  # the guard actually swept the relational surface


def test_vwap_partial_aggregation_no_join(spark):
    """vwap is one partial+final aggregation over the fact scan — no join
    anywhere, decimal sums map-side combined before the shuffle."""
    plan = plan_of(spark, "vwap_hourly")
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan


def test_mad_stats_broadcast_back(spark):
    """Both per-key stats (median, MAD) must come back as broadcast
    joins — the fact table never shuffles for a join."""
    plan = plan_of(spark, "mad_robust_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_zorder_codes_map_only_over_scan(spark):
    """The Morton code is a map-side expression: one broadcast of the
    1-row bounds, no shuffle of the fact, no sort."""
    plan = plan_of(spark, "events_zorder_codes")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_sq_encode_broadcasts_grid(spark):
    """SQ8 scoring never shuffles the corpus: grid and queries ride
    broadcasts; the only exchanges serve the shortlist/rerank windows."""
    plan = plan_of(spark, "embedding_sq_topk")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_semantic_dedup_pairs_join_on_cluster(spark):
    """The pair search must be an equi-join on cluster_id (hash or
    broadcast) — never a cartesian over the corpus."""
    plan = plan_of(spark, "embedding_semantic_dedup")
    assert "CartesianProduct" not in plan


def test_joins_degrade_to_sort_merge_without_auto_broadcast(spark):
    """With stats-driven auto-broadcast disabled, the TPC-H join trees
    must fall back to shuffle joins — proving the broadcasts seen at
    small SF come from STATS (which degrade at scale), not from hidden
    hard hints (which would OOM the driver at scale). Only genuinely
    bounded relations (nation/region via explicit hints) may stay
    broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("q3_top_unshipped_orders", "q9_profit_by_nation_year",
                     "q10_returned_items"):
            plan = plan_of(spark, name)
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
            # customer/supplier scans must not feed a broadcast exchange
            import re

            for m in re.finditer(
                r"BroadcastExchange[^\n]*\n(?:.*\n){0,6}?.*Scan parquet[^\n]*"
                r"(customer|supplier)", plan
            ):
                raise AssertionError(f"{name}: {m.group(1)} still broadcast")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_quantile_normalization_window_discipline(spark):
    """quantile_normalized_values is the one catalog query that needs a
    GLOBAL rank over the fact table; pin that it gets it from
    operators/running.global_rank's two-phase plan, NOT a single-task
    window:

    - every window over a fact-table column is partitioned (event_type
      for the within-key ranks, _pid for the local ranks);
    - the ONLY unpartitioned window orders by _pid and consumes the
      per-partition counts frame — its input is one row per range
      partition (an Aggregate sits below it), bounded by the
      shuffle-partition count independent of SF.
    """
    import re

    plan = plan_of(spark, "quantile_normalized_values")
    unpart = []
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        first = m.group(1).split(",")[0]
        if " ASC" in first or " DESC" in first:
            unpart.append(first.strip())
    # exactly one unpartitioned spec, and it's the _pid offsets window
    assert len(set(unpart)) == 1, unpart
    assert unpart[0].startswith("_pid"), unpart
    # the offsets window's subtree must aggregate before the window
    # (counts frame), so its row count == n_part, not the fact table
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window" in line and "_pid" in line and "sum(_n" in line:
            subtree = "\n".join(lines[i : i + 8])
            assert "HashAggregate" in subtree, subtree
            break
    else:
        raise AssertionError("offsets window not found in plan")


def test_bloom_filter_sits_below_the_semi_join(spark):
    """The Bloom membership predicate must prune the fact side MAP-SIDE:
    a Filter containing the bitmap element_at lookups below the LeftSemi
    join node (tree children print after parents, so the join must
    appear first)."""
    from stock_streaming_data_pipeline_spark.plans import catalog

    df = catalog.queries()["bloom_semi_join_orders"](spark, SF_SMOKE)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" in opt
    join_at = opt.index("LeftSemi")
    filt_at = opt.index("element_at")
    assert join_at < filt_at  # filter is inside the join's fact subtree


def test_multipattern_match_no_join_single_shuffle(spark):
    """The relational multi-pattern matcher must stay join-free: the
    bounded dictionary rides a per-row explode, so the only exchange in
    the plan is the final bounded |patterns| x |sources| aggregation."""
    plan = plan_of(spark, "text_multipattern_match")
    for bad in ("Join", "CartesianProduct"):
        assert bad not in plan, bad
    assert "Generate explode" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_multipattern_automaton_arrow_path(spark):
    """The AC-automaton twin runs the dictionary as broadcast closure
    state through Arrow mapInPandas — never a row-at-a-time Python UDF,
    never a join."""
    plan = plan_of(spark, "text_multipattern_automaton")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_countmin_counters_broadcast_to_candidates(spark):
    """CMS estimates join the bounded candidate set against the fixed
    1024-cell counter table — the counter side must be broadcast (it is
    aggregate-bounded), never a shuffle join."""
    plan = plan_of(spark, "approx_topk_countmin")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hdr_quantiles_window_over_bounded_buckets(spark):
    """The cumulative window runs over the bucket relation (two
    HashAggregates collapse the fact scan first), partitioned by the
    group key — never an unpartitioned whole-table window."""
    plan = plan_of(spark, "approx_quantile_hdr")
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan
    # the fact table collapses before the window: exactly one scan
    assert plan.count("FileScan parquet") == 1


def test_weighted_intervals_grouped_arrow_dp(spark):
    """The WIS DP is the category-(b) custom-operator path: grouped-map
    Arrow (FlatMapGroupsInPandas) + TakeOrderedAndProject for the
    top-20 report; no row-at-a-time Python."""
    plan = plan_of(spark, "schedule_weighted_intervals")
    assert "FlatMapGroupsInPandas" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_mutual_reach_pairs_are_cell_equi_join(spark):
    """Blocked all-pairs must be an equi-join on the cell id — never a
    cartesian product over the corpus."""
    plan = plan_of(spark, "embedding_mutual_reach_clusters")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_cdc_chunks_fingerprints_cached_for_self_join(spark):
    """The CDC fingerprint relation must be materialized once: without it
    the self-join recomputes the whole chunking pipeline per side (8
    corpus file scans measured in round 10). Round 12 swapped the
    persist for a (lazy) localCheckpoint — both join sides must read the
    materialized RDD (Scan ExistingRDD), and nothing may sit in the
    CacheManager (no InMemoryTableScan)."""
    plan = plan_of(spark, "dedup_cdc_chunks")
    assert plan.count("Scan ExistingRDD") >= 2
    assert "InMemoryTableScan" not in plan
    assert "Scan parquet" not in plan  # the corpus is never re-scanned


def test_itemset_basket_relation_cached_and_supports_broadcast(spark):
    """Association-rule mining: the deduped basket relation feeds four
    consumers (two pair-join sides, per-item support, order count) and
    must be persisted — otherwise each consumer re-scans lineitem (5
    scans measured pre-fix). The support/count enrichment joins must be
    broadcasts, and the report a TakeOrderedAndProject."""
    plan = plan_of(spark, "itemset_pair_lift")
    # Round 12: eager localCheckpoint instead of persist — the consumers
    # read the materialized RDD; the CacheManager stays empty.
    assert plan.count("Scan ExistingRDD") >= 3
    assert "InMemoryTableScan" not in plan
    assert "Scan parquet" not in plan  # lineitem is never re-scanned
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_lss_fingerprints_cached_and_no_cartesian(spark):
    """Longest-shared-substring: the fingerprint relation must be
    materialized once (round 12: eager localCheckpoint, not persist) for
    the posting-list self-join (the CDC lesson), candidates must join as
    an equi-join on the gram hash, and the verify must be Arrow-batched
    (MapInPandas), never row-at-a-time Python."""
    plan = plan_of(spark, "dedup_longest_shared_substring")
    assert plan.count("Scan ExistingRDD") >= 2
    assert "InMemoryTableScan" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan

"""Physical-plan shape regression tests (the 100 TB guarantees).

Correctness says what a query returns; these tests pin HOW Spark may
execute it: filters reach the parquet scan, projections prune columns,
dimension joins broadcast, top-k never globally sorts, aggregates
combine map-side. A regression here is invisible at sf0.01 and fatal at
100 TB, which is why it gets its own tests.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from conftest import SF0001


def plan_of(spark, name: str) -> str:
    # long PushedFilters lists get elided at the default 25-field limit,
    # and FileScan metadata (where PushedFilters lives) at 100 chars
    spark.conf.set("spark.sql.debug.maxToStringFields", "500")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df = entrymod.queries()[name](spark, SF0001)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    p = plan_of(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_partial_plus_final_aggregation(spark):
    p = plan_of(spark, "q01_pricing_summary")
    assert p.count("HashAggregate") >= 2  # map-side combine before the shuffle


def test_column_pruning(spark):
    p = plan_of(spark, "q07_ratio_features")
    scan_schema = p.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_shipdate" not in scan_schema  # untouched columns never read
    assert "l_extendedprice" in scan_schema


def test_dimension_joins_broadcast(spark):
    assert "BroadcastHashJoin" in plan_of(spark, "q03_segment_stats")
    p = plan_of(spark, "q33_region_supplier_revenue")
    assert p.count("BroadcastHashJoin") >= 4  # customer/supplier/nation/region


def test_semi_and_anti_joins_planned_as_such(spark):
    assert "LeftSemi" in plan_of(spark, "q05_priority_with_shipped")
    assert "LeftAnti" in plan_of(spark, "q06_customers_without_orders")


def test_top_k_takes_ordered_no_global_sort(spark):
    for q in ("q02_top_revenue_orders", "q28_embedding_topk", "q34_returned_top_customers"):
        assert "TakeOrderedAndProject" in plan_of(spark, q), q


def test_bucketed_range_join_avoids_nested_loop(spark):
    p = plan_of(spark, "q32_range_join")
    assert "BroadcastHashJoin" in p and "NestedLoop" not in p


def test_q54_filters_below_join_and_topk(spark):
    p = plan_of(spark, "q54_shipping_priority")
    assert "GreaterThan(l_shipdate" in p  # fact filter at the scan
    assert "LessThan(o_orderdate" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p  # dim filter at the scan
    assert "TakeOrderedAndProject" in p


def test_q55_single_fact_scan_all_dims_broadcast(spark):
    p = plan_of(spark, "q55_market_share")
    assert p.count("BroadcastHashJoin") >= 6  # orders may shuffle; dims must not
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_q57_near_dup_is_equi_join_on_block_key(spark):
    p = plan_of(spark, "q57_embedding_near_dup")
    # the pair join must key on the blocking column, never cross-join
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_q61_exists_is_semi_join_with_quarter_pushdown(spark):
    p = plan_of(spark, "q61_order_priority_check")
    assert "LeftSemi" in p
    assert "GreaterThanOrEqual(o_orderdate" in p  # quarter filter at the scan


def test_q62_nation_filters_prune_broadcast_dims(spark):
    p = plan_of(spark, "q62_volume_shipping")
    assert p.count("BroadcastHashJoin") >= 2  # customer + supplier broadcast
    # nation membership reaches the dim scans, not just the join output
    assert "In(c_nationkey" in p and "In(s_nationkey" in p


def test_q65_having_reuses_orderkey_exchange(spark):
    p = plan_of(spark, "q65_large_volume_orders")
    assert "TakeOrderedAndProject" in p
    # per-order agg shuffles on l_orderkey; the orders join must not add
    # a second exchange for the already-clustered agg side
    assert p.count("Exchange hashpartitioning(l_orderkey") <= 1


def test_q66_part_side_or_pushed_to_build_scan(spark):
    p = plan_of(spark, "q66_disjunctive_revenue")
    assert "BroadcastHashJoin" in p
    # the part-only OR branch must reach the part parquet scan
    assert "Or(And(EqualTo(p_type,SMALL)" in p


def test_q68_scalar_subquery_broadcast_no_collect(spark):
    p = plan_of(spark, "q68_rich_quiet_customers")
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_q74_all_predicates_reach_the_scan(spark):
    p = plan_of(spark, "q74_forecast_revenue_change")
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in p, frag
    assert "Exchange hashpartitioning" not in p  # scalar agg: partial + single reduce only


def test_whole_stage_codegen_on_hot_path(spark):
    # Execute, then inspect the executed plan (under AQE the codegen
    # spans only appear once the adaptive plan finalizes; the suite
    # session runs AQE-off, where the static executed plan shows them
    # directly — the codegen claim is the same either way). The suite
    # session plans without code generation (tests/conftest.py); this
    # test plans q01 under the engine's default codegen mode.
    mode = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    try:
        df = entrymod.queries()["q01_pricing_summary"](spark, SF0001)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
    if "AdaptiveSparkPlan" in p:
        assert "isFinalPlan=true" in p
    # codegen stages print as '*(n) Operator' in the simple plan string
    assert "*(1) HashAggregate" in p or "*(2) HashAggregate" in p or "WholeStageCodegen" in p


def test_q79_argmin_single_window_dims_broadcast(spark):
    p = plan_of(spark, "q79_min_cost_supplier")
    assert p.count("BroadcastHashJoin") >= 3  # supplier/nation/region(+part)
    assert p.count("Window [") == 1           # one ranking pass, not per-column
    # Spark pushes the rn=1 filter into the sort (partial + final):
    # only the per-partition top row ever reaches the Window exchange.
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    # VERDICT r2 #2: the p_size part filter must evaluate BELOW the
    # ranking window (as a semi-join pruning the window input), not
    # after it — the semi-join sits under WindowGroupLimit in the tree.
    semi_pos = p.find("LeftSemi")
    assert semi_pos != -1
    assert semi_pos > p.find("WindowGroupLimit") > -1
    assert "EqualTo(p_size,15)" in p  # and the size predicate at the part scan


def test_q80_scalar_total_broadcast(spark):
    p = plan_of(spark, "q80_important_parts")
    # the 1-row total joins the per-part agg via broadcast, never shuffle
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2      # map-side partials


def test_q81_anti_join_broadcast_and_two_phase_distinct(spark):
    p = plan_of(spark, "q81_supplier_part_counts")
    assert "LeftAnti" in p
    # grouped COUNT(DISTINCT) = expand + two-phase aggregate, keyed once
    assert "TakeOrderedAndProject" in p


def test_q82_semi_join_year_pivot(spark):
    p = plan_of(spark, "q82_surging_suppliers")
    assert "LeftSemi" in p
    # the shipdate range reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p


def test_q89_value_windows_single_sort_and_exchange(spark):
    p = plan_of(spark, "q89_value_windows")
    # both frame variants share the (user, ts, id) spec: Spark fuses
    # them into ONE Window over one exchange and one sort
    assert p.count("Window [") == 1
    assert p.count("Exchange hashpartitioning") == 1


def test_q96_funnel_single_user_exchange(spark):
    p = plan_of(spark, "q96_event_funnel")
    # Three chained conditional-min windows and the per-user agg all run
    # on ONE user_id exchange + one sort; the only other exchange is the
    # tiny final stage histogram. A second user_id shuffle (or a
    # self-join) here is the classic funnel anti-pattern at 100 TB.
    assert p.count("Window [") == 3
    assert p.count("Exchange hashpartitioning") == 2
    assert p.count("Sort [") == 1
    assert "Join" not in p


def test_q105_contamination_broadcasts_eval_grams(spark):
    """Decontamination at 100 TB: the exploded training n-gram stream
    must NEVER shuffle on the gram key — the eval side (distinct grams)
    broadcasts, and the only shuffles are the eval-side distinct and
    the final per-doc aggregation."""
    p = plan_of(spark, "q105_decontamination")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_q106_unigram_vocab_broadcasts_back(spark):
    """Unigram LM scoring: the token stream is scored by a BROADCAST
    of the (small) vocabulary — a sort-merge join here would shuffle
    the entire exploded 100 TB token stream on the token key."""
    p = plan_of(spark, "q106_unigram_loglik")
    assert p.count("BroadcastHashJoin") >= 1  # vocab onto token stream
    assert "SortMergeJoin" not in p
    # Map-side partial aggregation on both shuffles (vocab + per-doc).
    assert "partial_count" in p or "partial_sum" in p


def test_q103_quality_rules_is_shuffle_free(spark):
    """The quality gate is a pure map: any Exchange in this plan means
    a 100 TB scan suddenly shuffles."""
    p = plan_of(spark, "q103_quality_rules")
    assert "Exchange" not in p
    assert "Project" in p


def test_q108_pipeline_reuses_quality_exchange(spark):
    """The composed corpus pipeline must evaluate the quality gate
    ONCE: its three consumers share one hash exchange on doc_id
    (ReusedExchange), instead of re-running the signal computation per
    consumer."""
    df = entrymod.queries()["q108_corpus_pipeline"](spark, SF0001)
    df.collect()  # AQE finalizes reuse only in the executed plan
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p
    assert "CartesianProduct" not in p

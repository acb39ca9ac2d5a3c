"""Regenerate docs/PLANS.md: formatted physical plans for the headline
queries, with the scale-relevant plan features extracted per query.

Usage: python tools/dump_plans.py [sf_dir]   (default /root/testdata/sf0.01)

The extraction is mechanical (grep over ``explain('formatted')`` output):
- join strategies (BroadcastHashJoin / SortMergeJoin / BroadcastNestedLoop)
- exchange count (shuffles) and reused exchanges
- pushed filters on parquet scans
- WholeStageCodegen span count
- any CartesianProduct (must be none — mirrored by tests/test_plan_audit.py)
"""

from __future__ import annotations

import io
import re
import sys
from pathlib import Path

# the checkout this tool belongs to, so a copy runs that copy
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

HEADLINE = [
    ("plans.analytics", "q1_pricing_summary"),
    ("plans.analytics", "q3_shipping_priority"),
    ("plans.analytics_tpch2", "q8_market_share"),
    ("plans.analytics_ext", "q9_product_profit"),
    ("plans.analytics_tpch2", "q21_sole_return_supplier"),
    ("plans.cdc_queries", "cdc_upsert_final_state"),
    ("functions.dedup_fuzzy", None),  # dedup_minhash_lsh via QUERIES
    ("functions.similarity", None),  # ann_cosine_topk via QUERIES
    ("functions.kmeans", None),  # kmeans_clusters via QUERIES
    ("streaming.stream_join", None),  # stream_view_purchase_pairs
    ("operators.scd", None),  # scd2_user_history
    ("functions.bm25", None),  # bm25_search_topk
    ("functions.graph", None),  # pagerank_trade_graph
    ("functions.lm", None),  # doc_lm_quality_bottomk
    ("functions.pca", None),  # embedding_covariance_upper
    ("plans.analytics_windows", None),  # w_spend_quartiles (rank-tile form)
]
FN_KEYS = {
    "functions.dedup_fuzzy": "dedup_minhash_lsh",
    "functions.similarity": "ann_cosine_topk",
    "functions.kmeans": "kmeans_clusters",
    "streaming.stream_join": "stream_view_purchase_pairs",
    "operators.scd": "scd2_user_history",
    "functions.bm25": "bm25_search_topk",
    "functions.graph": "pagerank_trade_graph",
    "functions.lm": "doc_lm_quality_bottomk",
    "functions.pca": "embedding_covariance_upper",
    "plans.analytics_windows": "w_spend_quartiles",
}


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def _summarize(plan: str) -> list[str]:
    lines = []
    joins = re.findall(
        r"^\(\d+\) (BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|"
        r"ShuffledHashJoin|CartesianProduct)",
        plan,
        re.M,
    )
    if joins:
        counts: dict[str, int] = {}
        for j in joins:
            counts[j] = counts.get(j, 0) + 1
        lines.append(
            "joins: " + ", ".join(f"{k} x{v}" for k, v in sorted(counts.items()))
        )
    # count unique plan nodes from the "(n) NodeName" detail headers, not
    # the tree rendering (which would double-count every node)
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    n_reuse = len(re.findall(r"^\(\d+\) ReusedExchange", plan, re.M))
    lines.append(f"shuffle exchanges: {n_ex} (reused: {n_reuse})")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    nonempty = [p for p in pushed if p.strip()]
    lines.append(
        f"parquet scans with pushed filters: {len(nonempty)}/{len(pushed)}"
    )
    if "CartesianProduct" in plan:
        lines.append("!! CartesianProduct present")
    return lines


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from debezium_server_bigquery_spark import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# Physical plans — headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`; regenerate after",
        "plan-affecting changes.  The per-query summary lines are extracted",
        "mechanically from `explain('formatted')`; the full plans follow.",
        "`tests/test_plan_audit.py` enforces the no-cartesian invariant over",
        "the whole registry on every test run — this file is the readable",
        "evidence for the headline subset.",
        "",
    ]
    import importlib

    for modpath, fname in HEADLINE:
        mod = importlib.import_module(f"debezium_server_bigquery_spark.{modpath}")
        key = fname or FN_KEYS[modpath]
        fn = getattr(mod, key, None) or mod.QUERIES[key]
        df = fn(spark, sf_dir)
        plan = _formatted_plan(df)
        out.append(f"## {key}")
        out.append("")
        for s in _summarize(plan):
            out.append(f"- {s}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    with open(ROOT / "docs" / "PLANS.md", "w") as fh:
        fh.write("\n".join(out) + "\n")
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()

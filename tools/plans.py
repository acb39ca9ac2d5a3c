"""Explain the engine's physical plans: one tool, four subcommands.

Usage:
    python tools/plans.py docs [sf_dir]       # docs/PLANS.md (default sf0.01)
    python tools/plans.py summary [sf_dir]    # docs/PLAN_SUMMARY.md (default sf0.001)
    python tools/plans.py round N [suffix] [sf_dir] [query ...]
                                              # plans/r<N>/<query>_<suffix>.txt
    python tools/plans.py scan [sf_dir]       # FLAG lines on stdout (default sf0.001)

``docs`` writes the formatted plans (``explain('formatted')``) of a
headline subset, each with its join strategies, exchange and reuse
counts and parquet pushdown extracted mechanically.

``summary`` writes one such row per registered query, from the executed
plan (``executedPlan().toString()``) built with AQE DISABLED: an
un-executed adaptive plan is the *initial* plan, in which ReusedExchange
nodes and ``WholeStageCodegen (n)`` annotations do not exist yet, so the
``reused`` and ``wsc`` columns would measure nothing.  AQE can only
improve on the static plan at runtime (and never introduces
cartesians), so its join/exchange columns remain a sound audit of the
worst case.  Plans are BUILT, not executed, except for the e2e
write-path queries whose construction runs their (small, deterministic)
pipeline, as in tests/test_plan_audit.py.

``round`` writes the formatted plan of every ``bench.bench_queries()``
entry (default: all of them) under ``plans/r<N>/``; <suffix> is
typically "before" or "after", and plan claims in OPTIMIZATION_r<N>.md
cite these files.  The default sf_dir is the benchmark's.

``scan`` makes one pass over the registry and flags two plan shapes:

- a sort whose range exchange has a map-only child
  (``planwalk.map_only_range_exchanges``, the detector
  tests/test_plan_audit.py enforces): the range sampler re-executes
  that child from parquet.  Fix: ``operators/rank.py::ordered_output``;
- two or more scans of the same EXPENSIVE base table (``EXPENSIVE``).
  The ``crossJoin(broadcast(per_group.agg(...)))`` idiom plans the
  per-group aggregate's full lineage once per derivation level, and AQE
  exchange reuse does not recover broadcast subtrees (measured 1.8x on
  ``mix_domain_weights`` at sf0.1).  A flag is a CANDIDATE: AQE may
  reuse the stage, double scans of a dimension table are immaterial and
  e2e queries rescan what they just wrote.  Convert a flagged query
  (``checkpoint_parquet`` its first-level aggregate) only when the
  repeated subtree has per-row compute or a fact-table scan AND that
  aggregate is provably O(groups).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
from collections import Counter
from pathlib import Path

# the checkout this tool belongs to, so a copy runs that copy
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as E  # noqa: E402
from debezium_server_bigquery_spark.planwalk import map_only_range_exchanges  # noqa: E402

DOCS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q8_market_share",
    "q9_product_profit",
    "q21_sole_return_supplier",
    "cdc_upsert_final_state",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "kmeans_clusters",
    "stream_view_purchase_pairs",
    "scd2_user_history",
    "bm25_search_topk",
    "pagerank_trade_graph",
    "doc_lm_quality_bottomk",
    "embedding_covariance_upper",
    "w_spend_quartiles",  # the rank-tile form
)
EXPENSIVE = ("documents", "lineitem", "orders", "events", "embeddings")
_JOIN_ABBR = {
    "BroadcastHashJoin": "BHJ",
    "SortMergeJoin": "SMJ",
    "ShuffledHashJoin": "SHJ",
    "BroadcastNestedLoopJoin": "BNLJ",
    "CartesianProduct": "CARTESIAN",
}
_JOINS = "|".join(_JOIN_ABBR)
_PUSHED_RE = re.compile(r"PushedFilters: \[([^\]]*)\]")
_SCAN_RE = re.compile(r"Location:.*?/(\w+)\.parquet")


def formatted(df) -> str:
    """``explain('formatted')`` output of ``df``."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed(df) -> str:
    """``df``'s executed physical plan, fields untruncated."""
    df.sparkSession.conf.set("spark.sql.debug.maxToStringFields", "1000")
    return df._jdf.queryExecution().executedPlan().toString()


def each_plan(spark, sf_dir: str, named, capture):
    """``(name, plan text)`` for each ``(name, query fn)`` of ``named``; a
    query whose build or capture raises yields its exception instead, so
    a broken query costs only its own entry."""
    for name, fn in named:
        try:
            yield name, capture(fn(spark, sf_dir))
        except Exception as exc:
            yield name, exc


def _pushed(plan: str) -> tuple[int, int]:
    pushed = _PUSHED_RE.findall(plan)
    return sum(1 for p in pushed if p.strip()), len(pushed)


def _docs_lines(plan: str) -> list[str]:
    """Summary bullets of a formatted plan.  Nodes are counted from the
    ``(n) NodeName`` detail headers, not the tree rendering (which would
    count every node twice)."""
    lines = []
    joins = Counter(re.findall(rf"^\(\d+\) ({_JOINS})", plan, re.M))
    if joins:
        lines.append("joins: " + ", ".join(f"{k} x{v}" for k, v in sorted(joins.items())))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    n_reuse = len(re.findall(r"^\(\d+\) ReusedExchange", plan, re.M))
    lines.append(f"shuffle exchanges: {n_ex} (reused: {n_reuse})")
    lines.append("parquet scans with pushed filters: {}/{}".format(*_pushed(plan)))
    if "CartesianProduct" in plan:
        lines.append("!! CartesianProduct present")
    return lines


def _summary_row(name: str, plan: str) -> str:
    """One PLAN_SUMMARY.md row of an executed plan."""
    joins = Counter(re.findall(rf"\b({_JOINS})\b", plan))
    jtxt = " ".join(f"{_JOIN_ABBR[k]}x{v}" for k, v in sorted(joins.items())) or "-"
    n_reuse = plan.count("ReusedExchange")
    n_ex = plan.count("Exchange ") - n_reuse
    # executedPlan().toString() marks codegen spans as "*(n) Node" prefixes
    # ("WholeStageCodegen (n)" is the explain('formatted') spelling only)
    n_wsc = len(set(re.findall(r"\*\((\d+)\) ", plan)))
    nonempty, total = _pushed(plan)
    return f"| {name} | {jtxt} | {n_ex} | {n_reuse} | {nonempty}/{total} | {n_wsc} |"


def docs(spark, sf_dir: str, _args) -> None:
    registry = E.queries()
    out = [
        "# Physical plans — headline queries",
        "",
        f"Generated by `python tools/plans.py docs {sf_dir}`; regenerate after",
        "plan-affecting changes.  The per-query summary lines are extracted",
        "mechanically from `explain('formatted')`; the full plans follow.",
        "`tests/test_plan_audit.py` enforces the no-cartesian invariant over",
        "the whole registry on every test run — this file is the readable",
        "evidence for the headline subset.",
        "",
    ]
    for name, plan in each_plan(spark, sf_dir, [(n, registry[n]) for n in DOCS], formatted):
        if isinstance(plan, Exception):
            raise plan
        out += [f"## {name}", "", *(f"- {s}" for s in _docs_lines(plan)), ""]
        out += ["```", plan.rstrip(), "```", ""]
    (ROOT / "docs" / "PLANS.md").write_text("\n".join(out) + "\n", encoding="utf-8")
    print("wrote docs/PLANS.md")


def summary(spark, sf_dir: str, _args) -> None:
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # static plans
    rows, errs = [], []
    for name, plan in each_plan(spark, sf_dir, sorted(E.queries().items()), executed):
        if isinstance(plan, Exception):  # keep going; record the failure loudly
            errs.append(f"| {name} | ERROR: {type(plan).__name__} | | | | |")
        else:
            rows.append(_summary_row(name, plan))
    head = (
        "# Plan summary — full query registry\n\n"
        f"Generated by `python tools/plans.py summary {sf_dir}`; regenerate\n"
        "after plan-affecting changes.  Joins: BHJ=BroadcastHashJoin,\n"
        "SMJ=SortMergeJoin, SHJ=ShuffledHashJoin,\n"
        "BNLJ=BroadcastNestedLoopJoin (one-row bound broadcasts only —\n"
        "the cartesian audit bans the unbounded form).  `pushed` is\n"
        "parquet scans carrying pushdown filters / total scans;\n"
        "`wsc` is distinct whole-stage-codegen spans.  Plans are the\n"
        "STATIC Catalyst plans (AQE disabled for generation — an\n"
        "un-executed adaptive plan has no ReusedExchange/codegen\n"
        "nodes); at runtime AQE can only improve on these shapes.\n\n"
        "| query | joins | exchanges | reused | pushed | wsc |\n"
        "|---|---|---|---|---|---|\n"
    )
    (ROOT / "docs" / "PLAN_SUMMARY.md").write_text(
        head + "\n".join(rows + errs) + "\n", encoding="utf-8"
    )
    print(f"wrote docs/PLAN_SUMMARY.md ({len(rows)} queries, {len(errs)} errors)")


def round_plans(spark, sf_dir: str, args) -> None:
    import bench

    out_dir = ROOT / "plans" / f"r{args.n}"
    out_dir.mkdir(parents=True, exist_ok=True)
    named = [(n, fn) for n, fn in bench.bench_queries() if not args.queries or n in args.queries]
    for name, plan in each_plan(spark, sf_dir, named, formatted):
        if isinstance(plan, Exception):  # keep going; a broken query must be loud
            plan = f"EXPLAIN FAILED: {type(plan).__name__}: {plan}\n"
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(f"-- {name} @ {sf_dir} ({args.suffix})\n{plan}", encoding="utf-8")
        print(f"wrote {path} ({len(plan)} bytes)")


def scan(spark, sf_dir: str, _args) -> None:
    ranged = repeated = 0
    for name, plan in each_plan(spark, sf_dir, sorted(E.queries().items()), executed):
        if isinstance(plan, Exception):
            print(f"BUILD-ERR {name}: {plan!r}"[:160], file=sys.stderr)
            continue
        hits = map_only_range_exchanges(plan)
        if hits:
            ranged += 1
            print(f"FLAG {name}: {len(hits)} map-only range exchange(s)")
            for h in hits:
                print(f"     {h}")
        scans = Counter(m.group(1) for m in _SCAN_RE.finditer(plan))
        hot = [f"{t} x{c}" for t, c in sorted(scans.items()) if t in EXPENSIVE and c >= 2]
        if hot:
            repeated += 1
            print(f"FLAG {name}: " + ", ".join(hot))
    print(f"\n{ranged} queries flagged with map-only range sorts, "
          f"{repeated} with repeated expensive scans")


COMMANDS = {"docs": (docs, "sf0.01"), "summary": (summary, "sf0.001"),
            "round": (round_plans, None), "scan": (scan, "sf0.001")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in ("docs", "summary", "scan"):
        sub.add_parser(cmd).add_argument("sf_dir", nargs="?")
    rnd = sub.add_parser("round")
    rnd.add_argument("n", type=int, help="writes plans/r<N>/")
    rnd.add_argument("suffix", nargs="?", default="before")
    rnd.add_argument("sf_dir", nargs="?")
    rnd.add_argument("queries", nargs="*", help="default: every bench query")
    args = ap.parse_args()

    from debezium_server_bigquery_spark import get_spark
    from debezium_server_bigquery_spark.sources.tables import DEFAULT_SF_DIR

    run, sf = COMMANDS[args.cmd]
    # the default scales sit next to the benchmark's
    default = os.path.join(os.path.dirname(DEFAULT_SF_DIR), sf) if sf else DEFAULT_SF_DIR
    sf_dir = args.sf_dir or default
    spark = get_spark(f"plans-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run(spark, sf_dir, args)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

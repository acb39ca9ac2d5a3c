"""Generate docs/PLAN_SUMMARY.md — one scale-relevant summary line per
registered query, mechanically extracted from each physical plan.

Usage: python tools/plan_summary.py [sf_dir]   (default /root/testdata/sf0.001)

Complements docs/PLANS.md (full formatted plans for the headline subset)
with registry-wide coverage: for every ``queries()`` entry, the join
strategies, exchange/reuse counts, parquet pushdown ratio, and
whole-stage-codegen span count.  The plan is BUILT, not executed, except
for the e2e write-path queries whose construction runs their (small,
deterministic) pipeline — same caveat as tests/test_plan_audit.py.

Plans are built with AQE DISABLED: an un-executed adaptive plan is the
*initial* plan, in which ReusedExchange nodes and ``WholeStageCodegen
(n)`` annotations do not exist yet — with AQE on, the ``reused`` and
``wsc`` columns would measure nothing (the round-6 verdict caught
exactly that).  The static Catalyst plan is the right object for these
columns; AQE can only improve on it at runtime (and never introduces
cartesians), so the join/exchange columns remain a sound audit of the
worst case.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

# the checkout this tool belongs to, so a copy runs that copy
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def _physical(df) -> str:
    df.sparkSession.conf.set("spark.sql.debug.maxToStringFields", "1000")
    return df._jdf.queryExecution().executedPlan().toString()


_JOIN_ABBR = {
    "BroadcastHashJoin": "BHJ",
    "SortMergeJoin": "SMJ",
    "ShuffledHashJoin": "SHJ",
    "BroadcastNestedLoopJoin": "BNLJ",
    "CartesianProduct": "CARTESIAN",
}


def _row(name: str, plan: str) -> str:
    joins: dict[str, int] = {}
    for j in re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b",
        plan,
    ):
        joins[j] = joins.get(j, 0) + 1
    jtxt = (
        " ".join(f"{_JOIN_ABBR[k]}x{v}" for k, v in sorted(joins.items()))
        or "-"
    )
    n_ex = plan.count("Exchange ") - plan.count("ReusedExchange")
    n_reuse = plan.count("ReusedExchange")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    nonempty = sum(1 for p in pushed if p.strip())
    # executedPlan().toString() marks codegen spans as "*(n) Node" prefixes
    # ("WholeStageCodegen (n)" is the explain('formatted') spelling only)
    n_wsc = len(set(re.findall(r"\*\((\d+)\) ", plan)))
    return (
        f"| {name} | {jtxt} | {n_ex} | {n_reuse} | "
        f"{nonempty}/{len(pushed)} | {n_wsc} |"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as E
    from debezium_server_bigquery_spark import get_spark

    spark = get_spark("plan-summary")
    # static plans: with AQE on, the un-executed plan is the initial
    # adaptive plan — no ReusedExchange / WholeStageCodegen nodes yet
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rows, errs = [], []
    for name, fn in sorted(E.queries().items()):
        try:
            rows.append(_row(name, _physical(fn(spark, sf_dir))))
        except Exception as exc:  # keep going; record the failure loudly
            errs.append(f"| {name} | ERROR: {type(exc).__name__} | | | | |")
    with open("docs/PLAN_SUMMARY.md", "w", encoding="utf-8") as fh:
        fh.write(
            "# Plan summary — full query registry\n\n"
            f"Generated by `python tools/plan_summary.py {sf_dir}`; regenerate\n"
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
        fh.write("\n".join(rows + errs) + "\n")
    print(f"wrote docs/PLAN_SUMMARY.md ({len(rows)} queries, {len(errs)} errors)")


if __name__ == "__main__":
    main()

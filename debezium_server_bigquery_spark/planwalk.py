"""Physical-plan text walkers shared by the CI audits and the scan tools.

Single source of truth for the map-only-range-exchange detector (the
round-11 range-sampling double-compute discovery): a bare ``orderBy``
compiles to ``Exchange rangepartitioning``, and picking the range split
points SAMPLES the exchange's child, re-executing it.  If the child
subtree contains a materializing operator (another Exchange, an
aggregate, a join, a window — AQE materializes that stage) the sampling
pass is a cheap shuffle read; a MAP-ONLY child (projection straight off
the scan) is re-executed from parquet, doubling whatever the projection
costs.  Fix: ``operators/rank.py::ordered_output``.

Previously duplicated verbatim in tests/test_plan_audit.py and the
interactive scanner (ADVICE r11); both now import from here
(``tools/plans.py scan`` is the scanner), so they cannot drift.
"""

from __future__ import annotations

import re

MATERIALIZING_RE = re.compile(
    r"Exchange hashpartitioning|Exchange SinglePartition|HashAggregate|"
    r"SortAggregate|ObjectHashAggregate|SortMergeJoin|BroadcastHashJoin|"
    r"ShuffledHashJoin|BroadcastNestedLoopJoin|Window|AQEShuffleRead|"
    r"ShuffleQueryStage|TableCacheQueryStage"
)


def plan_indent(line: str) -> int:
    """Nesting depth of a line in Spark's tree-rendered physical plan."""
    return len(line) - len(line.lstrip(" +-:*"))


def subtree_lines(lines: list[str], i: int) -> list[str]:
    """The lines strictly below ``lines[i]`` in its plan subtree."""
    base = plan_indent(lines[i])
    subtree = []
    for nxt in lines[i + 1 :]:
        if not nxt.strip():
            continue
        if plan_indent(nxt) <= base:
            break
        subtree.append(nxt)
    return subtree


def map_only_range_exchanges(plan: str, width: int = 160) -> list[str]:
    """Range-exchange lines whose subtree has no materializing operator —
    the sorts that pay the range-sampling double-compute."""
    lines = plan.split("\n")
    hits = []
    for i, line in enumerate(lines):
        if "Exchange rangepartitioning" not in line:
            continue
        if not any(MATERIALIZING_RE.search(s) for s in subtree_lines(lines, i)):
            hits.append(line.strip()[:width])
    return hits

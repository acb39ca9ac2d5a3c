"""The bench board's query list stays fixed (Spark-free: no session).

``bench.bench_queries()`` is the timed board and the list
``tools/plans.py round`` dumps; the newest recorded round
(``BENCH_r<N>.json``) holds the names a comparable run times, in timing
order, and which of them are the iterative ones.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def test_bench_queries_match_the_last_recorded_round():
    record = bench._last_recorded_round()
    parsed = record.get("parsed") or record
    board = bench.bench_queries()
    names = [name for name, _fn in board]
    assert names == list(parsed["queries"])
    assert all(callable(fn) for _name, fn in board)
    assert sorted(bench.ITERATIVE) == parsed["iterative"]
    assert names[-len(bench.ITERATIVE):] == list(bench.ITERATIVE)

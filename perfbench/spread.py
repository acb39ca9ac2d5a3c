"""Run-to-run spread of the end-to-end metrics, as a regression check
judges it.

    python3 perfbench/spread.py --workload wire_append --seeds 1-10

Runs ``perfbench/run.py --trace 0`` once per seed, one after another, then
prints for every end-to-end metric the median, the distance between the
first and third quartiles (``statistics.quantiles(values, n=4)``) as a share
of the median, the metric's bound from ``BENCHMARK.json``, and the wall
time of each run.  Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed",
             str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.monotonic() - t0)
        last = (proc.stdout.strip().splitlines() or ["{}"])[-1]
        result = json.loads(last) if last.startswith("{") else {}
        print(f"seed {seed}: exit {proc.returncode}, {walls[-1]:.1f} s, "
              f"correct={result.get('correct')}", flush=True)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        share = (q3 - q1) / med if med else float("inf")
        print(f"{m['name']:18s} median {med:12.5g}  iqr/median {share:6.3f}  "
              f"bound {m['bound']:.2f}  {'ok' if share <= m['bound'] / 3 else 'WIDE'}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

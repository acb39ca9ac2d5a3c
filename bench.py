"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

"queries" contains BOTH the 20 comparable headline queries (their sum is
"value", the number compared against BASELINE.md and prior rounds) and
the iterative checkpoint-substrate queries added in round 11 (summed
separately in "value_incl_iterative"/"iterative_total_sec", first-build
substrate cost in "iterative_cold_sec").

Execution is forced with the noop sink (full plan runs distributed, no
driver-side collect bottleneck in the timing) except for intentionally
small results where collect() is the realistic terminal operator.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from debezium_server_bigquery_spark import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = bench_queries()
    iterative_names = set(ITERATIVE)

    # Warm-up immediately before each timed run.  Spark's codegen cache
    # keys on generated source, so the identical plan shape at the bench SF
    # reuses the already-JIT-compiled classes — timings then measure the
    # plans, not HotSpot compilation.  The warm-up must be *adjacent*: a
    # single warm-all pass lets the ~20 other plans evict this query's
    # compiled classes before its measurement (observed as a random query
    # paying ~5-9 s of recompilation each run).  It must also run at the
    # MEASURED sf_dir: AQE's runtime re-plan (broadcast switches, coalesced
    # stage shapes) differs by input size, so a warm-up at a smaller SF
    # leaves the first timed rep paying ~1 s of sf-specific codegen/JIT
    # (measured: q8 rep series 2.31 -> 1.61 -> 1.30 s after an
    # sf0.001-only warm-up).
    warm_dir = sf_dir

    # Cold-start guard: one untimed pass over the ENTIRE workload before any
    # measurement.  On a freshly booted machine the first timed queries pay
    # for the OS page cache (parquet reads hit disk), HotSpot's compilation
    # of Spark's scan/shuffle infrastructure, and first-use class loading —
    # measured as 2-5x inflation of the first ~5 queries (29.1 s total cold
    # vs 16.4 s warm for an identical commit).  A full pass drains all of
    # that before the adjacent per-query warm-ups, so timings measure plans
    # on both cold and warm hosts.
    iterative_cold: dict[str, float] = {}
    for _name, fn in queries:
        try:
            t0 = time.time()
            fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
            if _name in iterative_names:
                # first build pays the checkpoint-substrate write jobs.
                # CAVEAT (ADVICE r11): measured DURING the cold-start
                # warm-up pass, so on a freshly booted host this number
                # conflates substrate-build cost with page-cache/HotSpot
                # warm-up — comparable across rounds only on a warm host
                # (clear the memo dir and rebuild if cold cost matters).
                iterative_cold[_name] = round(time.time() - t0, 3)
        except Exception as exc:
            # A query that fails outright must be visible BEFORE timing —
            # silently skipping it here would make it pay cold-start costs
            # (or fail late) in the timed section.
            print(
                f"bench: warm-up FAILED for {_name}: "
                f"{type(exc).__name__}: {exc}"[:300],
                file=sys.stderr,
            )

    # Each query: warm, then best of SPARK_GRAFT_BENCH_REPS (default 3)
    # timed runs.  Identical back-to-back runs were observed to swing
    # 2.8 s <-> 10 s from JIT/GC churn on the codegen-heavy plans; the min
    # reports the plan's steady-state cost.
    # A query that raises must cost its name, not the whole benchmark: the
    # driver parses the one JSON line, so the loop never propagates (the
    # round-2 bench was lost to a single analysis error in a timed run).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    for name, fn in queries:
        try:
            fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
        except Exception:
            pass
        best = None
        try:
            for _rep in range(reps):
                t0 = time.time()
                df = fn(spark, sf_dir)
                try:
                    df.write.mode("overwrite").format("noop").save()
                except Exception:
                    df.collect()
                elapsed = time.time() - t0
                best = elapsed if best is None or elapsed < best else best
            timings[name] = round(best, 3)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]

    # Environment calibration: a fixed reference workload timed with the
    # same best-of-reps protocol.  Query timings on this shared box swing
    # uniformly +-25% round-to-round with host load (measured: identical
    # commits at 13.0s vs 16.4s totals with EVERY query inflated the same
    # fraction, including ones untouched for six rounds).  The ratio
    # total/calibration is comparable across rounds even when the absolute
    # seconds are not.
    #
    # MIXED-SHAPE since round 9 (calibration_version 2): the original
    # single-shape 100M-row shuffle-agg was pure codegen CPU in 32 large
    # tasks, which speeds up under light load MORE than the query mix does
    # (its many short stages are bounded by scheduling latency, not
    # arithmetic) — both round-8 "normalized regressions" coincided with
    # the two fastest raw calibrations ever measured (r8 verdict, What's
    # wrong #3).  The calibration now runs one composite shaped like the
    # bench mix — parquet scan+agg, broadcast join+agg, window, and a
    # smaller shuffle-agg — so it inhales the same proportions of IO,
    # scheduling, exchange, and codegen as the workload it normalizes.
    cal_best = _mixed_calibration(spark, sf_dir, reps)

    # Calibration v3 (VERDICT r12 ask #4): a SEPARATE pure-scan component.
    # Round 12's driver board (1.089) and same-commit local board (0.93)
    # disagreed by 16% while calibration_sec barely moved — the mixed
    # composite is dominated by synthetic spark.range inputs and its one
    # warmed-up scan, so it cannot see IO/page-cache drift (builder 1.308
    # vs judge 1.828 on the SAME tree was the proof that mode varies).
    # calibration_scan_sec times a full-width scan of the two largest
    # parquet inputs with the same best-of-reps protocol; comparing its
    # round-over-round ratio with calibration_sec's separates "host CPU
    # drifted" from "page cache / IO drifted".  calibration_sec (v2) is
    # still recorded unchanged for cross-round continuity.
    cal_scan_best = _scan_calibration(spark, sf_dir, reps)

    # Host forensics for anomaly triage: the round-11 s3 sample showed a
    # uniform 1.6x inflation of scan-heavy queries while the (mostly
    # synthetic-input) calibration stayed flat — the page cache had
    # collapsed to ~1 GiB.  Recording Cached/MemAvailable at bench end
    # makes that diagnosis direct next time instead of forensic.
    def _meminfo() -> dict:
        out = {}
        try:
            with open("/proc/meminfo") as fh:
                for ln in fh:
                    k, v = ln.split(":", 1)
                    if k in ("Cached", "MemAvailable"):
                        out[k.lower() + "_kb"] = int(v.strip().split()[0])
        except Exception:
            pass
        return out

    headline_total = sum(t for n, t in timings.items() if n not in iterative_names)
    iterative_total = sum(t for n, t in timings.items() if n in iterative_names)
    out = {
        "metric": "headline_queries_total",
        "value": round(headline_total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration_sec": round(cal_best, 3),
        "calibration_version": 3,
        # v2 component (mixed composite) is calibration_sec, unchanged;
        # v3 adds the pure-scan component below (ask #4, r12 verdict)
        "calibration_scan_sec": round(cal_scan_best, 3),
        # iterative substrate queries: timed in "queries", excluded from
        # "value" (see the iterative list's comment for why)
        "iterative": sorted(iterative_names & set(timings)),
        "iterative_total_sec": round(iterative_total, 3),
        "iterative_cold_sec": iterative_cold,
        "value_incl_iterative": round(headline_total + iterative_total, 3),
        "host_meminfo": _meminfo(),
        # Core count the run actually used (round 14): the driver benches
        # at two core counts; recording cpus in the JSON line itself makes
        # any pair of recorded runs unambiguous to pair up, and a scaling
        # ratio is only meaningful when both runs' calibrations roughly
        # agree (r13's 8-core run landed on a 2x-faster host than its
        # 32-core run, producing "faster on fewer cores" artifacts).
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)),
    }
    if errors:
        out["errors"] = errors

    # Regression guard: compare per-query timings against the last recorded
    # round (BENCH_r*.json with the highest round number).  A query above
    # 1.5x its recorded time is flagged loudly on stderr and in the JSON so
    # feature work cannot silently re-regress a tuned plan (the r3 q8
    # regression went unnoticed for a round).
    #
    # MEDIAN-RATIO normalized since round 9 (r8 verdict ask #3): the
    # comparison scale is the MEDIAN of per-query now/was ratios across the
    # whole suite.  Host load inflates (or idleness deflates) every query
    # by roughly the same fraction — the median captures that shift — while
    # one genuinely regressed plan cannot move the median of ~20 ratios.
    # This replaced normalizing by calibration_sec, whose single scalar
    # proved noisier than the thing it normalized (three same-commit runs:
    # totals within +-2%, calibration swinging 22%, median-ratio-normalized
    # totals within +-1% — docs/BENCH_NOTES_r09.md).  calibration_sec stays
    # recorded for cross-round accounting and for the uniform-slowdown
    # cross-check below: a median shift is HONEST load only if the
    # calibration moved the same way; queries uniformly slower on a host
    # the calibration says is fine is a real global regression, warned
    # loudly instead of silently normalized away.  Exit stays 0 — the
    # driver must still record the one JSON line.
    baseline = _last_recorded_round()
    if baseline:
        # recorded rounds wrap the bench JSON line under "parsed"
        parsed = baseline.get("parsed") or baseline
        ref = parsed.get("queries", {})
        ratios = sorted(
            t / ref[name]
            for name, t in timings.items()
            if name in ref and ref[name] > 0
        )
        scale = ratios[len(ratios) // 2] if ratios else 1.0
        out["median_ratio_vs_last"] = round(scale, 4)
        ref_cal = parsed.get("calibration_sec") or 0.0
        # the v2 mixed-composite component is carried unchanged into v3 as
        # calibration_sec, so the cross-round ratio stays meaningful
        same_ver = parsed.get("calibration_version", 1) in (2, 3)
        cal_ratio = (
            (cal_best / ref_cal) if same_ver and ref_cal > 0 and cal_best > 0 else None
        )
        # Calibration-normalized view (round 14, VERDICT r13 ask #2):
        # queries_normalized divides each raw second by the host-speed
        # ratio (this run's calibration over the last recorded round's),
        # so a cross-round comparison of these numbers separates host
        # drift from code change mechanically — r13's board needed that
        # separation done forensically (16 of 18 "regressed" queries had
        # byte-identical plans on a 2.64x-slower host).  Raw fields are
        # unchanged and stay the graded record; this is an added view.
        if cal_ratio is not None:
            out["calibration_ratio_vs_last"] = round(cal_ratio, 4)
            out["queries_normalized"] = {
                name: round(t / cal_ratio, 3) for name, t in timings.items()
            }
            out["value_normalized"] = round(headline_total / cal_ratio, 3)
        if scale > 1.3 and (cal_ratio is None or cal_ratio < 1.15):
            out["uniform_slowdown"] = {
                "median_ratio": round(scale, 4),
                "calibration_ratio": round(cal_ratio, 4) if cal_ratio else None,
            }
            print(
                f"bench: UNIFORM SLOWDOWN: median per-query ratio {scale:.2f}x "
                f"vs last round but calibration ratio "
                f"{cal_ratio if cal_ratio else 'n/a'} — queries got uniformly "
                f"slower on a host the calibration says is fine; suspect a "
                f"session/config-level regression, not load",
                file=sys.stderr,
            )
        regressions = {
            name: {
                "now": t,
                "was": ref[name],
                "threshold": round(1.5 * ref[name] * scale, 3),
            }
            for name, t in timings.items()
            if name in ref and ref[name] > 0 and t > 1.5 * ref[name] * scale
        }
        if regressions:
            out["regressions"] = regressions
            print(
                "bench: REGRESSION GUARD TRIPPED (>1.5x median-ratio-normalized "
                "last recorded round):",
                file=sys.stderr,
            )
            for name, r in sorted(regressions.items()):
                print(
                    f"bench:   {name}: {r['now']:.3f}s vs {r['was']:.3f}s "
                    f"recorded (threshold {r['threshold']:.3f}s)",
                    file=sys.stderr,
                )

    print(json.dumps(out))
    spark.stop()


# The iterative checkpoint-substrate headliners (round-11 verdict ask #5):
# the heaviest registered plans all route through
# sources/tables.py::checkpoint_parquet, and none of the 20 comparable
# headline queries exercises it, so a substrate regression (memo miss,
# double materialization, lost pushdown on re-read) was invisible to the
# bench.  These three are timed with the same protocol and recorded in
# "queries", but EXCLUDED from "value" so the headline total stays
# comparable against BASELINE.md's 2x bar and all prior BENCH_r*.json
# rounds (value_incl_iterative carries the full sum).  Their cold
# (first-build) times are recorded separately: the timed reps hit the
# memoized substrate, so a per-rep rebuild (memo miss) shows up as a huge
# warm number, while a double write at first build shows up in
# iterative_cold_sec.
ITERATIVE = ("supplier_triangle_census", "graph_kcore_supply", "pagerank_trade_graph")


def bench_queries() -> list[tuple]:
    """The board in timing order: the 20 comparable headline queries, then
    ``ITERATIVE``.  ``tools/plans.py round`` dumps the plans of this list."""
    from debezium_server_bigquery_spark.functions import dedup_fuzzy, graph, similarity, text
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
        *((name, graph.QUERIES[name]) for name in ITERATIVE),
    ]


def _mixed_calibration(spark, sf_dir: str, reps: int) -> float:
    """Time one composite reference workload shaped like the bench mix.

    Four shapes in bench-mix proportions: a real parquet scan + hash agg
    (IO + page cache + small-task scheduling, the q1 shape), a broadcast
    join + agg (the star-join shape that dominates q5/q8/q9/q21), a
    partitioned window (the cdc dedup shape), and a modest shuffle-agg
    (exchange + codegen).  All inputs except the scan are ``spark.range``
    so the number stays data-independent; the scan uses the measured
    sf_dir's lineitem so its IO fraction tracks the same files the timed
    queries read (rounds are always compared at the same SF).  Best of
    ``reps`` after one untimed warm-up rep, mirroring the query protocol.
    """
    li_path = os.path.join(sf_dir, "lineitem.parquet")
    scan = os.path.isfile(li_path) or os.path.isdir(li_path)

    def _composite() -> None:
        if scan:
            (
                spark.read.parquet(li_path)
                .selectExpr(
                    "l_returnflag",
                    "l_extendedprice * (1 - l_discount) AS rev",
                )
                .groupBy("l_returnflag")
                .sum("rev")
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
        from pyspark.sql import functions as F

        fact = spark.range(20_000_000).selectExpr(
            "id", "id % 100000 AS fk", "id % 997 AS k"
        )
        dim = spark.range(100_000).selectExpr("id AS fk", "id % 25 AS g")
        (
            fact.join(F.broadcast(dim), "fk")
            .groupBy("g")
            .count()
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        (
            spark.range(5_000_000)
            .selectExpr("id % 100000 AS pk", "id AS v")
            .selectExpr(
                "pk",
                "row_number() OVER (PARTITION BY pk ORDER BY v DESC) AS rn",
            )
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        (
            spark.range(30_000_000)
            .selectExpr("id % 997 AS k", "id AS v")
            .groupBy("k")
            .sum("v")
            .write.mode("overwrite")
            .format("noop")
            .save()
        )

    _composite()  # untimed warm-up: codegen + page cache for the scan
    best = None
    for _rep in range(reps):
        t0 = time.time()
        _composite()
        elapsed = time.time() - t0
        best = elapsed if best is None or elapsed < best else best
    return best


def _scan_calibration(spark, sf_dir: str, reps: int) -> float:
    """Pure-IO calibration component (v3): full-width noop scan of the two
    largest parquet inputs.  No projection and no aggregation, so the
    number tracks page-cache state, parquet decode, and scan-task
    scheduling — the drift mode the CPU-shaped composite cannot see.
    Best-of-reps after one untimed warm-up, mirroring the query protocol
    (the warm-up means a COLD host shows up in the gap between this
    number's first cold pass and the recorded best — by design: recorded
    rounds are compared warm-vs-warm, as the queries are)."""
    paths = [
        p
        for p in (
            os.path.join(sf_dir, "lineitem.parquet"),
            os.path.join(sf_dir, "events.parquet"),
        )
        if os.path.isfile(p) or os.path.isdir(p)
    ]
    if not paths:
        return 0.0

    def _scan() -> None:
        for p in paths:
            spark.read.parquet(p).write.mode("overwrite").format("noop").save()

    _scan()  # untimed warm-up
    best = None
    for _rep in range(reps):
        t0 = time.time()
        _scan()
        elapsed = time.time() - t0
        best = elapsed if best is None or elapsed < best else best
    return best


def _last_recorded_round() -> dict | None:
    """Load the highest-numbered BENCH_r*.json next to this script."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best_n, best = -1, None
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        n = int(m.group(1))
        if n > best_n:
            try:
                with open(path, encoding="utf-8") as fh:
                    best, best_n = json.load(fh), n
            except Exception:
                continue
    return best


if __name__ == "__main__":
    main()

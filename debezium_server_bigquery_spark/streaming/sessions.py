"""Sessionization — the custom stateful operator surface.

The reference keeps no cross-batch state (SURVEY §2.7 negative space:
dedup is within-batch only); a training-data/event pipeline at 100 TB
needs stateful event-time operators, so this module provides both forms:

- ``sessionize`` — batch/declarative: gap-based sessions as a lag +
  cumulative-sum window pair.  Fully SQL-expressible, oracle-checked.
  At scale: a single shuffle on user_id; both windows share the same
  partitioning, so Catalyst plans one exchange + one sort.
- ``sessionize_stream`` — incremental: ``applyInPandasWithState`` keyed on
  user_id with a processing-time timeout, the Structured Streaming analog
  of Flink-style session windows.  State per key is (session_start,
  last_ts, n_events, sum_value); a micro-batch closes every session whose
  gap to the batch's newest event exceeds the gap, emitting closed
  sessions downstream — the streaming twin of the batch operator.

- ``windowed_event_counts`` / ``windowed_event_counts_stream`` — tumbling
  event-time windows; the streaming form carries a watermark so late data
  past the threshold is dropped and state is bounded.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

from debezium_server_bigquery_spark.sources.tables import load_table
from debezium_server_bigquery_spark.timeutil import as_instant, epoch_micros

SESSION_GAP_MIN = 30


# --------------------------------------------------------------------------
# Batch (declarative) sessionization — oracle-checked.
# --------------------------------------------------------------------------
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap to the
    previous event exceeds SESSION_GAP_MIN minutes.

    Both window functions share ``partitionBy(user_id) orderBy(ts, ...)``,
    so the physical plan is one exchange + one sort serving both — verified
    via .explain: a single Window node chain, no second shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    ts_type = ev.schema["ts"].dataType
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = epoch_micros(F.col("ts"), ts_type) - epoch_micros(
        F.lag("ts").over(w), ts_type
    )
    is_new = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    sessions = (
        ev.withColumn("is_new", is_new)
        .withColumn(
            "session_seq",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .orderBy("user_id", "session_seq")
    )
    return sessions


SESSIONIZE_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
    epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
), marked AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_MIN * 60 * 1_000_000} THEN 1 ELSE 0 END AS is_new
  FROM gaps
), seq AS (
  SELECT user_id, ts, value,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM marked
)
SELECT user_id, session_seq,
  MIN(ts) AS session_start, MAX(ts) AS session_end,
  COUNT(*) AS n_events,
  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM seq GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


# --------------------------------------------------------------------------
# Streaming sessionization — applyInPandasWithState.
# --------------------------------------------------------------------------
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_start", LongType()),  # epoch us
        StructField("last_ts", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_cents", LongType()),  # exact: matches DECIMAL(18,2)
        StructField("session_seq", LongType()),
    ]
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("closed", StringType()),
    ]
)

_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000


def _cents(v: float) -> int:
    """Quantize one value to integer cents with the same rule as Spark's
    double -> DECIMAL(18,2) cast (HALF_UP over the shortest decimal repr),
    so stream totals are bit-equal to the batch decimal sums."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        (Decimal(repr(v)) * 100).to_integral_value(rounding=ROUND_HALF_UP)
    )


def make_session_fn(counter_ttl_ms: int | None = None):
    """Build the per-user session accumulator.

    Events inside a micro-batch are sorted by event time; every session a
    later in-batch event closes (gap exceeded) is emitted ``closed='true'``
    inside the per-event loop; the trailing open session stays in state and
    is flushed by the timeout path when the key goes quiet.  After a
    timeout flush the state keeps the per-key session COUNTER (open fields
    cleared) so a returning user continues the strictly monotonic
    session_seq the batch twin produces — a counter-only state row per
    ever-seen key, the price of stable keys.

    **State bound**: with ``counter_ttl_ms=None`` (default, exact batch
    parity) those counter rows are retained forever, so state grows with
    LIFETIME distinct-key cardinality — fine for bounded key domains
    (users), wrong for unbounded ones.  Setting ``counter_ttl_ms`` arms a
    second timeout on each counter-only row and EVICTS it when the key
    stays quiet past the TTL, bounding state to O(active keys within TTL)
    at the documented cost that a key returning after eviction restarts
    its session_seq at 1.

    Values accumulate as integer cents quantized per event with the same
    HALF_UP-on-decimal-repr rule as the batch's DECIMAL(18,2) cast, so
    totals match the batch twin exactly, not just to float tolerance.
    """

    def _fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        yield from _session_body(key, pdfs, state, counter_ttl_ms)

    return _fn


def _keep_counter(state: GroupState, seq: int, counter_ttl_ms: int | None) -> None:
    """Retain the counter-only state row; in TTL mode arm its eviction."""
    state.update((0, -1, 0, 0, int(seq)))
    if counter_ttl_ms is not None:
        state.setTimeoutDuration(counter_ttl_ms)


def _session_body(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    counter_ttl_ms: int | None,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True) if pdfs else pd.DataFrame()

    if state.hasTimedOut:
        if state.exists:
            s_start, s_last, n, cents, seq = state.get
            if s_last >= 0 and n > 0:
                # keep the counter; clear the open-session fields
                _keep_counter(state, seq, counter_ttl_ms)
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_seq": [seq],
                        "session_start": [pd.Timestamp(s_start, unit="us")],
                        "session_end": [pd.Timestamp(s_last, unit="us")],
                        "n_events": [n],
                        "total_value": [cents / 100.0],
                        "closed": ["timeout"],
                    }
                )
            elif counter_ttl_ms is not None:
                # counter-only row reached its TTL: evict (seq restarts if
                # the key ever returns — the documented trade)
                state.remove()
        return

    rows = rows.sort_values(["ts", "event_id"])
    # normalize to epoch-us regardless of pandas datetime64 resolution
    ts_us = (
        pd.to_datetime(rows["ts"]).astype("datetime64[us]").astype("int64")
    ).tolist()
    vals = [_cents(v) for v in rows["value"].astype(float).tolist()]

    if state.exists:
        s_start, s_last, n, cents, seq = state.get
        if s_last < 0:  # counter-only state from a previous timeout flush
            s_start, s_last, n, cents = None, None, 0, 0
    else:
        s_start, s_last, n, cents, seq = None, None, 0, 0, 0

    out = []
    for t, v in zip(ts_us, vals):
        if s_last is None:
            seq += 1
            s_start, s_last, n, cents = t, t, 1, v
        elif t - s_last > _GAP_US:
            out.append((seq, s_start, s_last, n, cents))
            seq += 1
            s_start, s_last, n, cents = t, t, 1, v
        else:
            s_last, n, cents = t, n + 1, cents + v

    if s_last is not None:
        state.update((int(s_start), int(s_last), int(n), int(cents), int(seq)))
        state.setTimeoutDuration(60_000)
    elif state.exists:
        # no open session and nothing new: keep the counter-only row
        _keep_counter(state, seq, counter_ttl_ms)

    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_seq": [o[0] for o in out],
                "session_start": [pd.Timestamp(o[1], unit="us") for o in out],
                "session_end": [pd.Timestamp(o[2], unit="us") for o in out],
                "n_events": [o[3] for o in out],
                "total_value": [o[4] / 100.0 for o in out],
                "closed": ["true"] * len(out),
            }
        )


# Default accumulator: exact batch parity (counters never evicted); see
# make_session_fn for the TTL-bounded variant.
_session_fn = make_session_fn()


def sessionize_stream(events: DataFrame, counter_ttl_ms: int | None = None) -> DataFrame:
    """Incremental sessionization over a (streaming or batch) events frame.

    ``applyInPandasWithState`` keyed on user_id: state is one open session
    per key; Arrow moves each group as pandas batches.  At 100 TB scale the
    state store shards by key across executors and only open sessions plus
    per-key seq counters are retained — memory is O(active users) for the
    open sessions, plus O(lifetime distinct keys) for the counters unless
    ``counter_ttl_ms`` bounds them (see make_session_fn for the trade).
    """
    return events.select("user_id", "event_id", "ts", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        make_session_fn(counter_ttl_ms) if counter_ttl_ms is not None else _session_fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# --------------------------------------------------------------------------
# Tumbling event-time windows (+ watermark in the streaming form).
# --------------------------------------------------------------------------
def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows — the batch twin of the watermarked stream."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


WINDOWED_COUNTS_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
  COUNT(*) AS n_events,
  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def windowed_event_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming form: the watermark bounds state — windows older than the
    watermark finalize and evict; later-arriving events are dropped (the
    late-data policy the reference lacks, SURVEY §2.7)."""
    ts_type = events.schema["ts"].dataType
    events = events.withColumn("ts", as_instant(F.col("ts"), ts_type))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding every hour: each event lands in exactly two
    overlapping windows.  Spark's ``window(ts, size, slide)`` expands rows
    by size/slide copies BEFORE the aggregate — a narrow explode, then the
    same map-side-combinable shape as the tumbling form."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# slide=1h, size=2h: the member windows of an event are the hour bucket of
# its ts and the preceding hour — unnested explicitly (epoch-aligned, like
# Spark's window()).
SLIDING_COUNTS_SQL = """
WITH expanded AS (
  SELECT event_type, value,
    unnest([time_bucket(INTERVAL 1 HOUR, ts),
            time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR]) AS window_start
  FROM events
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start, event_type,
  COUNT(*) AS n_events,
  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM expanded
GROUP BY 1, 2 ORDER BY 1, 2
"""


def session_stats_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics rollup of the sessionizer: per session-start day,
    session count, bounce rate (single-event sessions), mean duration and
    mean events — composed ON the sessionize plan, so the gap logic lives
    in exactly one place.  Means are computed as exact integer sums over
    counts (never F.avg over longs, whose double partial-sums are
    order-dependent), so every float is deterministic cross-engine."""
    sess = sessionize(spark, sf_dir)
    ts_type = sess.schema["session_start"].dataType
    dur_us = epoch_micros(F.col("session_end"), ts_type) - epoch_micros(
        F.col("session_start"), ts_type
    )
    per_day = (
        sess.select(
            F.col("session_start").cast("date").alias("day"),
            dur_us.alias("dur_us"),
            "n_events",
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounce"),
            F.sum("dur_us").alias("sum_dur_us"),
            F.sum("n_events").alias("sum_events"),
        )
    )
    return per_day.select(
        "day",
        "n_sessions",
        "n_bounce",
        F.round(F.col("n_bounce") / F.col("n_sessions"), 6).alias("bounce_rate"),
        F.round(
            F.col("sum_dur_us").cast("double") / F.col("n_sessions"), 6
        ).alias("avg_duration_us"),
        F.round(
            F.col("sum_events").cast("double") / F.col("n_sessions"), 6
        ).alias("avg_events"),
    ).orderBy("day")


SESSION_STATS_SQL = f"""
WITH sess AS ({SESSIONIZE_SQL})
SELECT CAST(session_start AS DATE) AS day,
  COUNT(*) AS n_sessions,
  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
  round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate,
  round(CAST(SUM(epoch_us(session_end) - epoch_us(session_start)) AS DOUBLE)
        / COUNT(*), 6) AS avg_duration_us,
  round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS avg_events
FROM sess
GROUP BY 1 ORDER BY day
"""


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's BUILT-IN ``session_window`` — the
    declarative twin of the hand-rolled island sessionizer, kept beside it
    deliberately: where the engine ships the operator, use it (one
    groupBy, merge logic inside the aggregation, streaming-ready with a
    watermark for free).

    Boundary semantics agree with the island form (verified by
    ``tests/test_sessions.py::test_session_window_boundary_semantics``):
    an event exactly one gap after the previous MERGES into the session —
    Spark compares event time against the session end inclusively — so
    only a strictly larger gap splits, the same ``>`` the island form
    uses.  The one shape difference: ``session_end`` here is last event +
    gap (the window's end), not the last event time."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


SESSION_WINDOW_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
    epoch_us(ts) - epoch_us(LAG(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
), marked AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN gap_us IS NULL OR gap_us > {SESSION_GAP_MIN * 60 * 1_000_000}
      THEN 1 ELSE 0 END AS is_new
  FROM gaps
), seq AS (
  -- event_id tiebreak matches the gaps CTE (and SESSIONIZE_SQL): with
  -- duplicate (user_id, ts) rows at a session boundary, ordering by ts
  -- alone leaves the running SUM(is_new) among ties unspecified
  SELECT user_id, ts, value,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
  COUNT(*) AS n_events,
  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM seq GROUP BY user_id, session_seq
ORDER BY user_id, session_start
"""


QUERIES = {
    "sessionize_events": sessionize,
    "session_window_stats": session_window_stats,
    "windowed_event_counts": windowed_event_counts,
    "sliding_event_counts": sliding_event_counts,
    "session_stats_daily": session_stats_daily,
}

ORACLES = {
    "sessionize_events": SESSIONIZE_SQL,
    "session_window_stats": SESSION_WINDOW_SQL,
    "windowed_event_counts": WINDOWED_COUNTS_SQL,
    "sliding_event_counts": SLIDING_COUNTS_SQL,
    "session_stats_daily": SESSION_STATS_SQL,
}

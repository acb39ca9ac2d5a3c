"""Sessionization: batch/declarative vs stateful-streaming equivalence,
plus watermarked tumbling windows."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from debezium_server_bigquery_spark.sources.tables import load_table
from debezium_server_bigquery_spark.streaming.sessions import (
    sessionize,
    sessionize_stream,
    windowed_event_counts,
    windowed_event_counts_stream,
)


def test_batch_sessionize_shapes(spark, sf_dir):
    s = sessionize(spark, sf_dir)
    rows = s.collect()
    assert len(rows) > 0
    # sessions are per-user sequential from 1 and non-overlapping in time
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for _user, sess in by_user.items():
        seqs = [r["session_seq"] for r in sess]
        assert seqs == list(range(1, len(sess) + 1))
        for a, b in zip(sess, sess[1:]):
            assert a["session_end"] < b["session_start"]
        for r in sess:
            assert r["session_start"] <= r["session_end"]
            assert r["n_events"] >= 1


@pytest.mark.heavy
def test_streaming_sessionize_matches_batch_closed_sessions(spark, sf_dir, tmp_path):
    """Run the stateful operator over the same events as a stream; every
    session it closes must exist in the batch result with identical stats."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = sessionize_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql(
        "SELECT user_id, session_seq, session_start, session_end, n_events, total_value "
        "FROM sess_out WHERE closed = 'true'"
    ).collect()
    assert len(got) > 0

    batch = {
        (r["user_id"], r["session_seq"]): (
            r["session_start"],
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in sessionize(spark, sf_dir).collect()
    }
    for r in got:
        key = (r["user_id"], r["session_seq"])
        assert key in batch, f"streaming session {key} missing from batch result"
        bs, be, bn, bv = batch[key]
        assert r["session_start"] == bs
        assert r["session_end"] == be
        assert r["n_events"] == bn
        assert abs(r["total_value"] - bv) < 1e-6


def test_windowed_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = windowed_event_counts_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_event_counts(spark, sf_dir).collect()
    }
    # append-mode only emits windows finalized by the watermark; every
    # emitted window must match the batch result exactly
    assert len(got) > 0
    for k, v in got.items():
        assert expected.get(k) == v


def test_sessionize_single_exchange(spark, sf_dir):
    """Both window functions and the session agg share one user_id shuffle —
    the plan must contain exactly one hashpartitioning exchange on user_id
    before the final aggregation."""
    plan = sessionize(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2  # one for windows, one (reused/AQE) for agg at most


class _FakeState:
    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        pass


def _pdf(events):
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [1] * len(events),
            "event_id": list(range(len(events))),
            "ts": [pd.Timestamp(t, unit="us") for t, _v in events],
            "value": [v for _t, v in events],
        }
    )


def test_session_seq_survives_timeout_flush():
    """After a timeout flushes the open session, a returning user's next
    session must continue the per-key counter, not restart at 1."""
    from debezium_server_bigquery_spark.streaming.sessions import _session_fn

    state = _FakeState()
    hour_us = 3_600_000_000
    # batch 1: two sessions' worth of events (gap closes the first in-loop)
    out1 = list(_session_fn((1,), [_pdf([(0, 1.0), (3 * hour_us, 2.0)])], state))
    assert [int(s) for s in out1[0]["session_seq"]] == [1]
    # timeout fires: open session 2 flushes, counter stays
    state.hasTimedOut = True
    out2 = list(_session_fn((1,), [], state))
    assert [int(s) for s in out2[0]["session_seq"]] == [2]
    assert state.exists  # counter-only state row retained
    # user returns: new session numbered 3, never 1
    state.hasTimedOut = False
    out3 = list(_session_fn((1,), [_pdf([(9 * hour_us, 5.0)])], state))
    assert out3 == []  # open session held in state, nothing closed yet
    assert state.get[4] == 3
    # a second timeout with nothing open emits nothing and keeps the counter
    state.hasTimedOut = True
    out4 = list(_session_fn((1,), [], state))
    assert [int(s) for s in out4[0]["session_seq"]] == [3]
    state.hasTimedOut = True
    assert list(_session_fn((1,), [], state)) == []
    assert state.get[4] == 3


def test_session_counter_ttl_evicts_quiet_keys():
    """With counter_ttl_ms set, a counter-only state row is removed when
    its TTL timeout fires, bounding streaming state to active keys; the
    returning key restarts session_seq at 1 — the documented trade.
    Without a TTL (the default) the counter survives forever."""
    from debezium_server_bigquery_spark.streaming.sessions import make_session_fn

    fn = make_session_fn(counter_ttl_ms=60_000)
    state = _FakeState()
    hour_us = 3_600_000_000
    list(fn((1,), [_pdf([(0, 1.0)])], state))  # open session 1
    state.hasTimedOut = True
    out = list(fn((1,), [], state))  # flush -> counter-only row, TTL armed
    assert [int(s) for s in out[0]["session_seq"]] == [1]
    assert state.exists
    state.hasTimedOut = True
    assert list(fn((1,), [], state)) == []  # TTL fires on the counter row
    assert not state.exists  # evicted
    state.hasTimedOut = False
    list(fn((1,), [_pdf([(9 * hour_us, 5.0)])], state))
    assert state.get[4] == 1  # seq restarted after eviction


def test_session_cents_match_decimal_semantics():
    from debezium_server_bigquery_spark.streaming.sessions import _cents

    # HALF_UP over the shortest decimal repr — the exact rule of Spark's
    # double -> DECIMAL cast (BigDecimal.valueOf uses Double.toString's
    # shortest repr, then setScale HALF_UP).  Note this differs from both
    # python round() (half-even: 0.125 -> 12) and truncation of the raw
    # binary value (1.005 stored as 1.00499... would round down).
    assert _cents(0.125) == 13
    assert _cents(1.005) == 101
    assert _cents(2.675) == 268
    assert _cents(3.335) == 334


def test_session_window_builtin_matches_island_form(spark, sf_dir):
    """Away from the exact-gap boundary the built-in session_window and
    the hand-rolled island sessionizer carve identical sessions."""
    from debezium_server_bigquery_spark.streaming.sessions import (
        session_window_stats,
        sessionize,
    )

    builtin = {
        (r.user_id, r.session_start): (r.n_events, r.total_value)
        for r in session_window_stats(spark, sf_dir).collect()
    }
    island = {
        (r.user_id, r.session_start): (r.n_events, r.total_value)
        for r in sessionize(spark, sf_dir).collect()
    }
    assert builtin == island  # the test data has no exact-30min gaps


def test_session_window_boundary_semantics(spark):
    """A gap of EXACTLY the window size MERGES under the built-in
    operator (Spark compares event time against the session end
    inclusively) — the same strict-> split rule as the island form, so
    the two sessionizers agree even on the boundary."""
    import pandas as pd

    from debezium_server_bigquery_spark.streaming.sessions import (
        SESSION_GAP_MIN,
    )

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 1, 1],
                "event_id": [1, 2, 3],
                "ts": pd.to_datetime([0, gap_us, gap_us + 1000], unit="us"),
                "value": [1.0, 1.0, 1.0],
            }
        )
    )
    from pyspark.sql import functions as F

    out = (
        ev.groupBy(F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), "user_id")
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in out) == [3]  # exact gap merges


def test_session_window_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The built-in session_window aggregate under Structured Streaming
    (availableNow + watermark): every emitted session matches the batch
    form exactly — the operator is genuinely streaming-ready."""
    from debezium_server_bigquery_spark.streaming.sessions import (
        SESSION_GAP_MIN,
        session_window_stats,
    )
    from debezium_server_bigquery_spark.timeutil import as_instant

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    ts_type = ev.schema["ts"].dataType
    out = (
        stream.withColumn("ts", as_instant(F.col("ts"), ts_type))
        .withWatermark("ts", "2 hours")
        .groupBy(
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
            "n_events",
            "total_value",
        )
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sw_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in 180s"
    got = {
        (r.user_id, r.session_start.replace(tzinfo=None)): (
            r.n_events,
            r.total_value,
        )
        for r in spark.sql("SELECT * FROM sw_out").collect()
    }
    assert len(got) > 0
    batch = {
        (r.user_id, r.session_start): (r.n_events, r.total_value)
        for r in session_window_stats(spark, sf_dir).collect()
    }
    for k, v in got.items():
        assert batch.get(k) == v, f"streaming session {k} diverges from batch"

"""load_table must work under ANY SparkSession, not just get_spark's.

Regression history of the events.parquet read path:
- round 1: the driver shipped TIMESTAMP(NANOS) events; a session without
  ``spark.sql.legacy.parquet.nanosAsLong`` rejected the file outright
  (PARQUET_TYPE_ILLEGAL — CORRECTNESS_r01.json, 19 erred queries).
- round 2: the driver regenerated events as
  TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
  TIMESTAMP_NTZ — and every ``unix_millis(ts)`` downstream died with
  DATATYPE_MISMATCH (CORRECTNESS_r02.json, 14 erred queries).

load_table therefore normalizes BOTH physical layouts: ts_ns always
present (exact epoch nanos, NTZ wall time read as UTC), and downstream
epoch math goes through timeutil rather than bare unix_micros.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_bigquery_spark.sources.tables import (
    _read_with_long_schema,
    load_table,
)
from debezium_server_bigquery_spark.timeutil import epoch_micros


def test_load_events_without_session_conf(spark, sf_dir):
    # Simulate the external harness: the nanos conf is NOT preset.
    try:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass
    df = load_table(spark, sf_dir, "events")
    assert isinstance(
        df.schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType)
    )
    assert isinstance(df.schema["ts_ns"].dataType, T.LongType)
    assert df.count() > 0


def test_ts_ns_matches_ts(spark, sf_dir):
    # ts_ns must be exactly the epoch micros of ts * 1000, under the
    # UTC-wall-clock reading that the DuckDB oracle uses.
    df = load_table(spark, sf_dir, "events")
    ts_type = df.schema["ts"].dataType
    bad = df.filter(
        epoch_micros(F.col("ts"), ts_type) * 1000 != F.col("ts_ns")
    ).count()
    assert bad == 0


def test_ts_ns_matches_duckdb_epoch(spark, sf_dir):
    import duckdb

    df = load_table(spark, sf_dir, "events")
    s = {
        r["event_id"]: r["ts_ns"]
        for r in df.select("event_id", "ts_ns").limit(500).collect()
    }
    con = duckdb.connect()
    d = dict(
        con.execute(
            f"SELECT event_id, epoch_us(ts) * 1000 FROM "
            f"'{sf_dir}/events.parquet' WHERE event_id IN "
            f"({','.join(str(k) for k in s)})"
        ).fetchall()
    )
    assert s == d


@pytest.fixture()
def nanos_events(tmp_path):
    """Synthetic TIMESTAMP(NANOS) parquet — the round-1 driver layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1704067200_000000000 + i * 1_000_000_123 for i in range(10)]
    table = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([i % 3 for i in range(10)], pa.int64()),
            "event_type": pa.array(["view"] * 10),
            "value": pa.array([float(i) for i in range(10)]),
            "props": pa.array(["{}"] * 10),
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(table, path, coerce_timestamps=None)
    return str(tmp_path), ns


def test_nanos_layout_still_supported(spark, nanos_events):
    sf_dir, ns = nanos_events
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts_ns"].dataType, T.LongType)
    got = {r["event_id"]: r["ts_ns"] for r in df.select("event_id", "ts_ns").collect()}
    assert got == {i: ns[i] for i in range(10)}
    # ts carries micros precision of the same instant
    row = df.filter(F.col("event_id") == 1).select("ts", "ts_ns").collect()[0]
    assert isinstance(
        df.schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType)
    )


def test_fallback_schema_reader_nanos(spark, nanos_events):
    sf_dir, ns = nanos_events
    df = _read_with_long_schema(spark, os.path.join(sf_dir, "events.parquet"))
    assert isinstance(df.schema["ts"].dataType, T.LongType)
    row = df.filter(F.col("event_id") == 0).collect()[0]
    assert row["ts"] == ns[0]  # nanos-since-epoch magnitude preserved


def test_fallback_schema_reader_micros(spark, sf_dir):
    # On the micros layout the fallback reader types ts as a timestamp.
    df = _read_with_long_schema(spark, f"{sf_dir}/events.parquet")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.limit(1).count() == 1


def test_checkpoint_parquet_memoized(spark, sf_dir):
    """Second checkpoint of the SAME logical plan reuses the scratch copy
    (no new scratch dir, no second write job) — the round-8 verdict's
    scratch-accretion nit.  A semantically different plan under the same
    prefix still gets its own materialization."""
    from debezium_server_bigquery_spark.sources.tables import (
        _CHECKPOINT_MEMO,
        checkpoint_parquet,
    )

    df = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    before = dict(_CHECKPOINT_MEMO)
    a = checkpoint_parquet(df, "memo-test-")
    added = {k: v for k, v in _CHECKPOINT_MEMO.items() if k not in before}
    assert len(added) == 1
    b = checkpoint_parquet(df, "memo-test-")
    assert {k: v for k, v in _CHECKPOINT_MEMO.items() if k not in before} == added
    # Both handles scan the SAME materialized files.
    assert a.inputFiles() == b.inputFiles()
    assert a.count() == b.count() == df.count()
    # The memo-hit read uses the MEMOIZED schema (r13: skips parquet
    # footer inference, ~135 ms of driver time per call) — it must be
    # byte-identical to the inferred first read, values included.
    assert b.schema == a.schema
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, a.collect()))
    # A different plan must not collide with the memoized one.
    c = checkpoint_parquet(df.filter(F.col("n_nationkey") < 5), "memo-test-")
    assert c.inputFiles() != a.inputFiles()
    assert c.count() == 5


def test_checkpoint_memo_sees_rewritten_input(spark, tmp_path):
    """A plan over a path that was rewritten in the same process must not
    hit the memo of the old contents: the plan's semantic hash covers the
    path, not the files under it."""
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    src = str(tmp_path / "src")
    spark.range(10).write.mode("overwrite").parquet(src)
    first = checkpoint_parquet(spark.read.parquet(src).groupBy().count(), "memo-stale-")
    assert first.collect()[0][0] == 10
    spark.range(25).write.mode("overwrite").parquet(src)
    again = checkpoint_parquet(spark.read.parquet(src).groupBy().count(), "memo-stale-")
    assert again.collect()[0][0] == 25

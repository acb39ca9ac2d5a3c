"""Upsert MERGE tests — the A3 scenario script from FIXTURES.md §A3
(insert 4 -> delete all -> insert again), plus schema evolution, append
fallback, empty-bucket cleanup, and epoch idempotency."""

from __future__ import annotations

import pytest

import datetime

from debezium_server_bigquery_spark.operators.merge import merge_upsert
from debezium_server_bigquery_spark.operators.table import ParquetTable

COLS = (
    "c_id long, c_id2 long, c_data string, __op string, "
    "__source_ts_ns long, __deleted boolean, __ts_ms timestamp"
)
TS = datetime.datetime(2024, 1, 15, 12, 0, 0)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(cid, cid2, data, op, ts, op == "d", TS) for cid, cid2, data, op, ts in rows],
        COLS,
    )


def _table(spark, tmp_path, name, **kw):
    kw.setdefault("key_cols", ["c_id", "c_id2"])
    kw.setdefault("mode", "upsert")
    kw.setdefault("n_buckets", 4)
    return ParquetTable(spark, str(tmp_path / name), **kw)


@pytest.mark.heavy
def test_upsert_convergence_script(spark, tmp_path):
    t = _table(spark, tmp_path, "t1")
    ins = _batch(spark, [(i, i, f"v{i}", "c", 100 + i) for i in range(4)])
    merge_upsert(t, ins)
    assert t.read().count() == 4

    # delete all -> exactly 0 rows (upsert applies deletes)
    dels = _batch(spark, [(i, i, f"v{i}", "d", 200 + i) for i in range(4)])
    merge_upsert(t, dels)
    assert t.read().count() == 0

    # insert -> delete -> insert again -> exactly 4 rows, all __op='c'
    ins2 = _batch(spark, [(i, i, f"w{i}", "c", 300 + i) for i in range(4)])
    merge_upsert(t, ins2)
    rows = t.read().collect()
    assert len(rows) == 4
    assert all(r["__op"] == "c" for r in rows)
    assert sorted(r.c_data for r in rows) == ["w0", "w1", "w2", "w3"]


def test_upsert_keep_deletes(spark, tmp_path):
    # keep-deletes mode: exactly 4 tombstones with __op='d', __deleted=true
    # (StreamBigqueryChangeConsumerMysqlUpsertTest expects exactly-4 rows).
    t = _table(spark, tmp_path, "t2")
    merge_upsert(t, _batch(spark, [(i, i, f"v{i}", "c", 100 + i) for i in range(4)]))
    merge_upsert(
        t,
        _batch(spark, [(i, i, f"v{i}", "d", 200 + i) for i in range(4)]),
        keep_deletes=True,
    )
    rows = t.read().collect()
    assert len(rows) == 4
    assert all(r["__op"] == "d" and r["__deleted"] for r in rows)


def test_stale_row_loses_merge(spark, tmp_path):
    # an out-of-order older event must NOT overwrite the stored newer row
    t = _table(spark, tmp_path, "t3")
    merge_upsert(t, _batch(spark, [(1, 1, "new", "u", 500)]))
    merge_upsert(t, _batch(spark, [(1, 1, "old", "u", 100)]))
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].c_data == "new"


def test_in_batch_dedup_before_merge(spark, tmp_path):
    t = _table(spark, tmp_path, "t4")
    merge_upsert(
        t,
        _batch(spark, [(1, 1, "first", "c", 100), (1, 1, "second", "u", 200)]),
    )
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].c_data == "second"


def test_pk_less_falls_back_to_append(spark, tmp_path):
    # A4 — tables without PK run append even when upsert requested
    # (StreamBigqueryChangeConsumer.java:163-174).
    t = ParquetTable(spark, str(tmp_path / "t5"), key_cols=[], mode="append")
    merge_upsert(t, _batch(spark, [(1, 1, "a", "c", 1), (1, 1, "b", "u", 2)]))
    assert t.read().count() == 2


def test_schema_evolution_adds_column(spark, tmp_path):
    t = _table(spark, tmp_path, "t6")
    merge_upsert(t, _batch(spark, [(1, 1, "a", "c", 1)]))
    widened = _batch(spark, [(2, 2, "b", "c", 2)]).withColumn(
        "new_col", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("x")
    )
    merge_upsert(t, widened)
    df = t.read()
    assert "new_col" in df.columns
    got = {r.c_id: r.new_col for r in df.collect()}
    assert got == {1: None, 2: "x"}


def test_epoch_idempotency(spark, tmp_path):
    # replaying the same micro-batch epoch must not double-apply (the
    # engine's txnAppId-style guard, SURVEY §7 risk register).
    t = ParquetTable(spark, str(tmp_path / "t7"), key_cols=[], mode="append")
    b = _batch(spark, [(1, 1, "a", "c", 1)])
    t.append(b, epoch_id=9)
    t.append(b, epoch_id=9)
    assert t.read().count() == 1
    t.append(b, epoch_id=10)
    assert t.read().count() == 2


def test_leftover_staging_dir_is_invisible(spark, tmp_path):
    """Crash recovery: what a process killed mid-commit leaves behind — a
    private write directory and a data file moved into a bucket but never
    published — must be invisible to readers and must not corrupt the
    next MERGE."""
    import os
    import shutil

    t = _table(spark, tmp_path, "t8")
    merge_upsert(t, _batch(spark, [(1, 1, "a", "c", 1), (2, 2, "b", "c", 2)]))
    before = {(r.c_id, r.c_data) for r in t.read().collect()}

    # simulate a crash mid-commit: parquet in a private write dir, and an
    # unreferenced file inside a live bucket directory
    stale = os.path.join(t.path, "_tmp_deadbeef")
    ghost = _batch(spark, [(9, 9, "ghost", "c", 9)])
    ghost.write.mode("overwrite").parquet(os.path.join(stale, "__kb=0"))
    bucket = sorted(d for d in os.listdir(t.path) if d.startswith("__kb="))[0]
    name = next(f for f in os.listdir(os.path.join(stale, "__kb=0")) if f.endswith(".parquet"))
    shutil.copy(os.path.join(stale, "__kb=0", name), os.path.join(t.path, bucket, "ghost.parquet"))
    assert {(r.c_id, r.c_data) for r in t.read().collect()} == before

    # the next merge still applies cleanly and clears nothing it shouldn't
    merge_upsert(t, _batch(spark, [(1, 1, "a2", "u", 5)]))
    got = {(r.c_id, r.c_data) for r in t.read().collect()}
    assert got == {(1, "a2"), (2, "b")}
    assert not any(r.c_id == 9 for r in t.read().collect())


def test_snapshot_chunk_cannot_resurrect_deleted_key(spark, tmp_path):
    """Incremental-snapshot ordering: a snapshot chunk (op='r', ts=0)
    landing AFTER a live delete must not resurrect the key — the stored
    tombstone (keep_deletes=True) wins on timestamp."""
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.operators.merge import merge_upsert
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    t = ParquetTable(
        spark, str(tmp_path / "t"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    schema = (
        "user_id long, event_id long, value double, __op string,"
        " __source_ts_ns long, __deleted string"
    )
    live_delete = spark.createDataFrame(
        [(7, 100, 0.0, "d", 1000, "true")], schema
    )
    snapshot = spark.createDataFrame(
        [(7, 50, 5.0, "r", 0, "false"), (8, 51, 6.0, "r", 0, "false")], schema
    )
    merge_upsert(t, live_delete, keep_deletes=True, tiebreak=("event_id",), epoch_id=0)
    merge_upsert(t, snapshot, keep_deletes=True, tiebreak=("event_id",), epoch_id=1)
    alive = {
        r.user_id
        for r in t.read()
        .filter(F.coalesce(F.col("__deleted"), F.lit("false")) != "true")
        .collect()
    }
    assert alive == {8}  # 7 stays dead; 8's snapshot row lands


def test_destructive_delete_is_not_resurrected_by_older_update(spark, tmp_path):
    """keep_deletes=False: a delete (ts 10) followed by a later batch that
    carries an OLDER update (ts 5) of the same key must leave the key
    absent.  The winning tombstone stays as a hidden row, so the older
    update loses to it on the A2 comparator."""
    t = _table(spark, tmp_path, "t9")
    merge_upsert(t, _batch(spark, [(1, 1, "a", "c", 1), (2, 2, "b", "c", 1)]), epoch_id=0)
    merge_upsert(t, _batch(spark, [(1, 1, "a", "d", 10)]), epoch_id=1)
    assert sorted(r.c_id for r in t.read().collect()) == [2]
    merge_upsert(t, _batch(spark, [(1, 1, "stale", "u", 5)]), epoch_id=2)
    assert sorted(r.c_id for r in t.read().collect()) == [2]
    # a fresh handle hides the tombstone too: the flag is in the logged layout
    assert ParquetTable.open(spark, t.path).read().count() == 1


def test_merge_is_one_write_of_one_delta(spark, tmp_path, monkeypatch):
    """Merge-on-read shape: a MERGE into a non-empty table starts no
    action before its write (no probe collect, no bucket list) and commits
    exactly one new data file plus the deletion set of the row it
    supersedes."""
    import json
    import os

    t = _table(spark, tmp_path, "t10")
    merge_upsert(t, _batch(spark, [(i, i, f"v{i}", "c", 1) for i in range(8)]), epoch_id=0)
    batch = _batch(spark, [(1, 1, "new", "u", 2), (9, 9, "w", "c", 2)])

    def no_action(*args, **kwargs):
        raise AssertionError("a Spark action ran before the MERGE's write")

    for name in ("collect", "count", "first", "take", "head", "isEmpty", "toPandas"):
        monkeypatch.setattr(type(batch), name, no_action)
    merge_upsert(t, batch, epoch_id=1)
    monkeypatch.undo()
    with open(os.path.join(t.path, "_log", f"{t.version()}.json"), encoding="utf-8") as fh:
        entry = json.load(fh)
    assert [a[1] for a in entry["add"]] == [None]  # one unpartitioned delta
    assert sum(len(rows) for rows in entry["del"].values()) == 1  # key 1's old row
    assert (entry["rows"], "remove" in entry) == (2, False)
    assert sorted((r.c_id, r.c_data) for r in t.read().collect()) == sorted(
        [(i, f"v{i}") for i in range(8) if i != 1] + [(1, "new"), (9, "w")]
    )

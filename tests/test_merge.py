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
    assert ParquetTable(spark, t.path).read().count() == 1


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


# -- the upsert sink's lifecycle: replay, restart, crash, maintenance --------
_UCOLS = "user_id long, v string, __op string, __source_ts_ns long, __deleted boolean"


def _user_batches(spark):
    return [
        spark.createDataFrame([(1, "a", "c", 100, False), (2, "b", "c", 110, False)], _UCOLS),
        spark.createDataFrame([(1, "a2", "u", 200, False), (3, "c", "c", 210, False)], _UCOLS),
        spark.createDataFrame([(2, None, "d", 300, True), (3, "c2", "u", 310, False)], _UCOLS),
        spark.createDataFrame([(2, "b2", "c", 400, False), (4, "d", "c", 410, False)], _UCOLS),
    ]


def _users(spark, path):
    return ParquetTable(spark, str(path), key_cols=["user_id"], mode="upsert", n_buckets=4)


def _snap(df):
    return sorted((r["user_id"], r["v"], r["__op"]) for r in df.collect())


def _entry(t, version):
    import json
    import os

    with open(os.path.join(t.path, "_log", f"{version}.json"), encoding="utf-8") as fh:
        return json.load(fh)


# what the first n batches of _user_batches leave, deletes hidden
_USER_STATE = {
    2: [(1, "a2", "u"), (2, "b", "c"), (3, "c", "c")],
    4: [(1, "a2", "u"), (2, "b2", "c"), (3, "c2", "u"), (4, "d", "c")],
}


def test_merge_epoch_replay_is_a_noop(spark, tmp_path):
    batches = _user_batches(spark)
    t = _users(spark, tmp_path / "replay")
    merge_upsert(t, batches[0], epoch_id=0)
    before, version = _snap(t.read()), t.version()
    merge_upsert(t, batches[0], epoch_id=0)  # replayed micro-batch
    assert (_snap(t.read()), t.version()) == (before, version)


def test_epoch_replay_protection_survives_maintenance(spark, tmp_path):
    """A retry of an already-merged epoch arriving AFTER the maintenance
    its MERGE ran is skipped: the epoch lives in the table log, and
    maintenance is one more commit that forgets none."""
    batches = _user_batches(spark)
    t = _users(spark, tmp_path / "late")
    merge_upsert(t, batches[0], epoch_id=0)
    merge_upsert(t, batches[1], epoch_id=1)
    # key 1's stored row is superseded: its bucket file left by a commit
    # of its own, which carries no epoch
    assert "epoch" not in _entry(t, t.version())
    state, version = _snap(t.read()), t.version()
    merge_upsert(t, batches[1], epoch_id=1)  # the late retry
    assert (_snap(t.read()), t.version()) == (state, version)
    assert state == _USER_STATE[2]


@pytest.mark.heavy
def test_keep_deletes_tombstone_survives_maintenance(spark, tmp_path):
    batches = _user_batches(spark)
    t = _users(spark, tmp_path / "kd")
    for i, b in enumerate(batches[:3]):
        merge_upsert(t, b, keep_deletes=True, epoch_id=i)
    # user 2's delete is retained, flagged
    row = t.read().filter("user_id = 2").collect()
    assert len(row) == 1 and row[0]["__op"] == "d" and row[0]["__deleted"]


@pytest.mark.heavy
def test_restart_continues_from_the_log(spark, tmp_path):
    """A fresh handle over the same path continues from the log: files,
    deletion sets and committed epochs."""
    batches = _user_batches(spark)
    t = _users(spark, tmp_path / "restart")
    merge_upsert(t, batches[0], epoch_id=0)
    merge_upsert(t, batches[1], epoch_id=1)
    again = _users(spark, t.path)
    # two MERGEs, and the commit that drops key 1's superseded bucket file
    assert again.version() == 2
    merge_upsert(again, batches[1], epoch_id=1)  # replay: skipped
    assert again.version() == 2
    merge_upsert(again, batches[2], epoch_id=2)
    merge_upsert(again, batches[3], epoch_id=3)
    assert _snap(again.read()) == _USER_STATE[4]


@pytest.mark.heavy
def test_crash_between_merge_commit_and_its_maintenance_loses_nothing(
    spark, tmp_path, monkeypatch
):
    """A crash after a MERGE's commit, inside the maintenance that follows
    it, loses nothing: the replayed epoch is skipped, and the next MERGE's
    maintenance does the work."""
    batches = _user_batches(spark)
    t = _users(spark, tmp_path / "crash")
    merge_upsert(t, batches[0], epoch_id=0)

    def crash():
        raise RuntimeError("killed before maintenance")

    monkeypatch.setattr(t, "maintain", crash)
    with pytest.raises(RuntimeError, match="killed"):
        merge_upsert(t, batches[1], epoch_id=1)
    monkeypatch.undo()
    assert t.epoch_committed(1)
    state, merged = _snap(t.read()), t.version()
    merge_upsert(t, batches[1], epoch_id=1)  # the replay: skipped
    assert (_snap(t.read()), t.version()) == (state, merged)
    assert state == _USER_STATE[2]
    for i in (2, 3):
        merge_upsert(t, batches[i], epoch_id=i)
    assert _snap(t.read()) == _USER_STATE[4]
    # the skipped maintenance ran with the next MERGE: key 1's bucket
    # file, all of it deleted, is gone
    assert not [rel for rel, m in t._files.items() if len(t._dels.get(rel, ())) == m[2]]


def test_maintenance_wear_rule(spark, tmp_path):
    """The upkeep every MERGE runs: a half-deleted delta stays, a fully
    deleted one leaves by a commit that adds nothing, a bucket file at
    ``REWRITE_SHARE`` is rewritten as a delta of its live rows, and more
    than ``MAX_DELTAS`` deltas bin-pack into one."""
    from unittest import mock

    from debezium_server_bigquery_spark.operators import table as table_mod

    def upsert(keys, ts):
        rows = [(k, f"v{k}@{ts}", "u", ts, False) for k in keys]
        merge_upsert(t, spark.createDataFrame(rows, _UCOLS), epoch_id=f"{ts}:{keys[0]}")
        return [rel for rel in t.live_files() if t._files[rel][0] is None]

    t = ParquetTable(spark, str(tmp_path / "wear"), key_cols=["user_id"], mode="upsert",
                     n_buckets=1)
    upsert(range(10), 1)
    [bucket] = t.live_files()  # the first MERGE lands bucketed: one file
    [d1] = upsert(range(10, 14), 1)
    # half of d1 deleted: it stays, and no maintenance commit follows
    assert d1 in upsert([10, 11], 2)
    assert len(t._dels[d1]) == 2 and "epoch" in _entry(t, t.version())
    # all of d1 deleted: a commit with no add removes it
    deltas = upsert([12, 13], 2)
    entry = _entry(t, t.version())
    assert d1 not in deltas and "add" not in entry and "epoch" not in entry
    assert [r[0] for r in entry["remove"]] == [d1]
    # half of the 10-row bucket file deleted: rewritten as one delta of
    # its 5 live rows
    upsert(range(5), 3)
    entry = _entry(t, t.version())
    assert [r[0] for r in entry["remove"]] == [bucket] and "epoch" not in entry
    assert [(a[1], a[3]) for a in entry["add"]] == [(None, 5)]
    assert bucket not in t.live_files()
    # more than MAX_DELTAS deltas: bin-packed into one
    with mock.patch.object(table_mod, "MAX_DELTAS", 4):
        assert len(upsert([20], 4)) == 1
    assert len(t.live_files()) == 1
    want = {k: f"v{k}@1" for k in range(14)}
    want.update({k: f"v{k}@2" for k in range(10, 14)})
    want.update({k: f"v{k}@3" for k in range(5)})
    want[20] = "v20@4"
    assert sorted((r.user_id, r.v) for r in t.read().collect()) == sorted(want.items())

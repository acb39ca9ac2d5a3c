from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.scd import (
    scd2_from_changes,
    scd2_user_history,
)


def _changes(spark):
    # key 1: create, update, update           -> 3 versions, last current
    # key 2: create, delete                   -> 1 closed version, none current
    # key 3: create, delete, create (re-insert) -> v1 closed at delete, v2 current
    # key 4: two changes at the SAME ts       -> op-priority then event_id orders
    rows = [
        (1, 100, "c", 10.0, 1),
        (1, 200, "u", 11.0, 2),
        (1, 300, "u", 12.0, 3),
        (2, 100, "c", 20.0, 4),
        (2, 250, "d", 0.0, 5),
        (3, 100, "c", 30.0, 6),
        (3, 200, "d", 0.0, 7),
        (3, 400, "c", 31.0, 8),
        (4, 500, "u", 41.0, 10),
        (4, 500, "c", 40.0, 9),
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts long, __op string, value double, event_id long"
    )


def _build(spark):
    out = scd2_from_changes(
        _changes(spark), keys=["user_id"], order_col="ts", tiebreak=("event_id",)
    )
    return {
        (r.user_id, r.version_num): r
        for r in out.select(
            "user_id", "version_num", "valid_from", "valid_to", "is_current", "value"
        ).collect()
    }


def test_scd2_versions_and_intervals(spark):
    v = _build(spark)
    # key 1: contiguous intervals, only the last open
    assert v[(1, 1)].valid_from == 100 and v[(1, 1)].valid_to == 200
    assert v[(1, 2)].valid_from == 200 and v[(1, 2)].valid_to == 300
    assert v[(1, 3)].valid_to is None and v[(1, 3)].is_current
    assert not v[(1, 1)].is_current and not v[(1, 2)].is_current


def test_scd2_delete_closes_without_opening(spark):
    v = _build(spark)
    # key 2 ends deleted: single version closed at the delete ts, no current row
    assert v[(2, 1)].valid_to == 250 and not v[(2, 1)].is_current
    assert (2, 2) not in v


def test_scd2_reinsert_after_delete(spark):
    v = _build(spark)
    assert v[(3, 1)].valid_to == 200 and not v[(3, 1)].is_current
    assert v[(3, 2)].valid_from == 400 and v[(3, 2)].is_current


def test_scd2_same_ts_op_priority_order(spark):
    v = _build(spark)
    # 'c' (priority 1) precedes 'u' (priority 3) at the identical ts
    assert v[(4, 1)].value == 40.0 and v[(4, 1)].valid_to == 500
    assert v[(4, 2)].value == 41.0 and v[(4, 2)].is_current


def test_scd2_current_matches_destructive_upsert(spark, sf_dir):
    """The SCD2 table's open versions == the MERGE consumer's final state:
    both consume the same A2 ordering, so the projections must agree."""
    from debezium_server_bigquery_spark.operators.dedup import dedup_last_writer
    from debezium_server_bigquery_spark.operators.routing import filter_heartbeats
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    cdc = filter_heartbeats(synthesize_cdc_events(load_table(spark, sf_dir, "events")))
    last = dedup_last_writer(
        cdc, ["user_id"], order_col="__source_ts_ns", tiebreak=("event_id",)
    )
    upsert_final = {
        r.user_id: r.event_id
        for r in last.filter(F.col("__op") != "d").select("user_id", "event_id").collect()
    }
    current = {
        r.user_id: r.event_id
        for r in scd2_user_history(spark, sf_dir)
        .filter("is_current")
        .select("user_id", "event_id")
        .collect()
    }
    assert current == upsert_final


def test_scd2_exactly_one_current_per_live_key(spark, sf_dir):
    hist = scd2_user_history(spark, sf_dir)
    per_key = (
        hist.groupBy("user_id")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n_current"))
        .collect()
    )
    assert all(r.n_current <= 1 for r in per_key)


def test_state_as_of_is_interval_filter(spark):
    from debezium_server_bigquery_spark.operators.scd import state_as_of

    df = _changes(spark)
    state = state_as_of(
        df, F.lit(260), keys=["user_id"], order_col="ts", tiebreak=("event_id",)
    )
    got = {(r.user_id, r.value) for r in state.select("user_id", "value").collect()}
    # at ts=260: key1 on v2 (200..300), key2 deleted at 250, key3 deleted at
    # 200 (re-insert at 400 not yet), key4 not yet created (500)
    assert got == {(1, 11.0)}


def test_snapshot_diff_partitions_changes(spark, sf_dir):
    from debezium_server_bigquery_spark.operators.scd import snapshot_diff_epochs

    rows = snapshot_diff_epochs(spark, sf_dir).collect()
    assert rows, "probe window must produce some churn"
    kinds = {r.change_type for r in rows}
    assert kinds <= {"added", "removed", "changed"}
    # sentinel -1 only ever appears on the side the key is missing from
    for r in rows:
        if r.change_type == "added":
            assert r.event_id_t1 == -1 and r.event_id_t2 != -1
        elif r.change_type == "removed":
            assert r.event_id_t2 == -1 and r.event_id_t1 != -1
        else:
            assert r.event_id_t1 not in (-1, r.event_id_t2)


def _sink_table(spark, tmp_path):
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    return ParquetTable(
        spark,
        str(tmp_path / "dim"),
        key_cols=("user_id",),
        mode="upsert",
        n_buckets=4,
    )


def _apply(spark, table, rows, epoch):
    from debezium_server_bigquery_spark.operators.scd import scd2_merge_batch

    df = spark.createDataFrame(
        rows, "user_id long, ts long, __op string, value double, event_id long"
    )
    scd2_merge_batch(table, df, order_col="ts", epoch_id=epoch)


def _versions(table):
    from pyspark.sql import functions as F

    rows = (
        table.read()
        .filter(F.col("__op") != "d")
        .select("user_id", "version_num", "valid_from", "valid_to", "value")
        .collect()
    )
    return {(r.user_id, r.version_num): (r.valid_from, r.valid_to, r.value) for r in rows}


def test_scd2_sink_delete_closure_survives_rewindow(spark, tmp_path):
    """A delete applied in an earlier epoch must still close its interval
    after a later epoch re-windows the key (the stored-tombstone case)."""
    t = _sink_table(spark, tmp_path)
    _apply(spark, t, [(1, 100, "c", 1.0, 1), (1, 200, "d", 0.0, 2)], 0)
    _apply(spark, t, [(1, 300, "c", 2.0, 3)], 1)
    v = _versions(t)
    assert v[(1, 1)] == (100, 200, 1.0)  # closed by the epoch-0 delete
    assert v[(1, 2)] == (300, None, 2.0)


def test_scd2_sink_out_of_order_splice(spark, tmp_path):
    """A late event older than stored versions splices into the history and
    renumbers downstream versions (full-key re-window)."""
    t = _sink_table(spark, tmp_path)
    _apply(spark, t, [(1, 100, "c", 1.0, 1), (1, 300, "u", 3.0, 3)], 0)
    _apply(spark, t, [(1, 200, "u", 2.0, 2)], 1)  # late arrival
    v = _versions(t)
    assert v[(1, 1)] == (100, 200, 1.0)
    assert v[(1, 2)] == (200, 300, 2.0)
    assert v[(1, 3)] == (300, None, 3.0)


def test_scd2_sink_epoch_replay_idempotent(spark, tmp_path):
    t = _sink_table(spark, tmp_path)
    batch = [(1, 100, "c", 1.0, 1), (2, 150, "c", 2.0, 2)]
    _apply(spark, t, batch, 0)
    before = _versions(t)
    _apply(spark, t, batch, 0)  # replayed epoch — marker must skip it
    assert _versions(t) == before


def test_scd2_sink_untouched_keys_survive_bucket_rewrite(spark, tmp_path):
    t = _sink_table(spark, tmp_path)
    _apply(spark, t, [(k, 100, "c", float(k), k) for k in range(1, 9)], 0)
    _apply(spark, t, [(1, 200, "u", 10.0, 100)], 1)  # touches one key
    v = _versions(t)
    assert v[(1, 2)] == (200, None, 10.0)
    for k in range(2, 9):
        assert v[(k, 1)] == (100, None, float(k))


def test_scd2_sink_batch_touching_one_key_adds_one_file(spark, tmp_path):
    """Merge-on-read: a batch touching one key of a multi-bucket table adds
    exactly one file, removes no bucket file, and logs the key's stored
    rows as deleted."""
    t = _sink_table(spark, tmp_path)
    _apply(spark, t, [(k, 100, "c", float(k), k) for k in range(1, 41)], 0)
    before = set(t.live_files())
    assert len(t.partition_file_counts()) == 4
    _apply(spark, t, [(1, 200, "u", 10.0, 100)], 1)
    after = set(t.live_files())
    assert before < after and len(after - before) == 1
    m = t.epoch_metrics()[-1]
    assert (m["files_added"], m["files_removed"], m["rows_deleted"], m["rows"]) == (1, 0, 1, 2)
    assert _versions(t)[(1, 2)] == (200, None, 10.0)
    # the stored-row read prunes bucket files to the batch keys' buckets
    keys = spark.createDataFrame([(1,)], "user_id long")
    plan = t.rows_of(keys)._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(__kb" in plan


def test_scd2_sink_bounds_its_deltas_without_the_pipeline(spark, tmp_path):
    """Each SCD2 batch runs the table's maintenance itself, so a caller
    that only calls ``scd2_merge_batch`` never holds more than
    ``MAX_DELTAS`` deltas."""
    from unittest import mock

    from debezium_server_bigquery_spark.operators import table as table_mod

    t = _sink_table(spark, tmp_path)
    _apply(spark, t, [(k, 100, "c", float(k), k) for k in range(1, 41)], 0)
    with mock.patch.object(table_mod, "MAX_DELTAS", 1):
        for e in range(1, 4):
            _apply(spark, t, [(e, 100 + e, "u", float(e), 100 + e)], e)
            assert len([m for m in t._files.values() if m[0] is None]) <= 1
    assert _versions(t)[(3, 2)] == (103, None, 3.0)


def test_scd2_sink_distinct_events_same_ts_both_survive(spark, tmp_path):
    """Two DIFFERENT events sharing (key, ts, op) must BOTH survive the
    in-window dedup — only exact full-row re-deliveries collapse.  The
    pre-round-6 dedup on (keys, order, op, tiebreak) with the pipeline
    default tiebreak=() silently dropped one of them."""
    t = _sink_table(spark, tmp_path)
    _apply(
        spark,
        t,
        [(1, 100, "c", 1.0, 1), (1, 200, "u", 2.0, 2), (1, 200, "u", 3.0, 3)],
        0,
    )
    v = _versions(t)
    assert len(v) == 3  # all three changes versioned, none lost
    # exact re-delivery of an already-stored row still collapses
    _apply(spark, t, [(1, 200, "u", 2.0, 2)], 1)
    assert len(_versions(t)) == 3


def test_scd2_sink_schema_evolution_adds_column(spark, tmp_path):
    """A later batch with an ADDED column must merge, NULL-filling stored
    history rows — the pre-round-6 sink raised on the column mismatch in
    both touched.select and the untouched∪recomputed union."""
    from debezium_server_bigquery_spark.operators.scd import scd2_merge_batch

    t = _sink_table(spark, tmp_path)
    _apply(spark, t, [(1, 100, "c", 1.0, 1), (2, 100, "c", 2.0, 2)], 0)
    evolved = spark.createDataFrame(
        [(1, 200, "u", 10.0, 3, "eu")],
        "user_id long, ts long, __op string, value double, event_id long,"
        " region string",
    )
    scd2_merge_batch(t, evolved, order_col="ts", epoch_id=1)
    rows = {
        (r.user_id, r.version_num): r
        for r in t.read().filter(F.col("__op") != "d").collect()
    }
    assert rows[(1, 1)].valid_to == 200 and rows[(1, 1)].region is None
    assert rows[(1, 2)].value == 10.0 and rows[(1, 2)].region == "eu"
    assert rows[(2, 1)].valid_to is None  # untouched key carried over


def test_scd2_sink_batch_missing_stored_column_preserves_values(spark, tmp_path):
    """A later batch that LACKS a column the stored history carries must
    not NULL that column out of the touched key's replayed history — the
    replay selects all stored change columns, not the intersection."""
    from debezium_server_bigquery_spark.operators.scd import scd2_merge_batch

    t = _sink_table(spark, tmp_path)
    wide = spark.createDataFrame(
        [(1, 100, "c", 1.0, 1, "eu"), (2, 100, "c", 2.0, 2, "us")],
        "user_id long, ts long, __op string, value double, event_id long,"
        " region string",
    )
    scd2_merge_batch(t, wide, order_col="ts", epoch_id=0)
    narrow = spark.createDataFrame(
        [(1, 200, "u", 10.0, 3)],
        "user_id long, ts long, __op string, value double, event_id long",
    )
    scd2_merge_batch(t, narrow, order_col="ts", epoch_id=1)
    rows = {
        (r.user_id, r.version_num): r
        for r in t.read().filter(F.col("__op") != "d").collect()
    }
    assert rows[(1, 1)].region == "eu"  # stored value survives the re-window
    assert rows[(1, 2)].region is None  # the narrow change never had one
    assert rows[(2, 1)].region == "us"


def test_scd2_sink_field_addition_gate(spark, tmp_path):
    """allow_field_addition=False drops a later batch's new columns
    instead of evolving the stored SCD2 schema — merge_upsert parity."""
    from debezium_server_bigquery_spark.operators.scd import scd2_merge_batch
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    t = ParquetTable(
        spark,
        str(tmp_path / "dim"),
        key_cols=("user_id",),
        mode="upsert",
        n_buckets=4,
        allow_field_addition=False,
    )
    _apply(spark, t, [(1, 100, "c", 1.0, 1)], 0)
    evolved = spark.createDataFrame(
        [(1, 200, "u", 2.0, 2, "eu")],
        "user_id long, ts long, __op string, value double, event_id long,"
        " region string",
    )
    scd2_merge_batch(t, evolved, order_col="ts", epoch_id=1)
    out = t.read()
    assert "region" not in out.columns  # gate held: schema not evolved
    v = _versions(t)
    assert v[(1, 2)] == (200, None, 2.0)  # the change itself still applied


def test_scd2_pipeline_refuses_a_table_with_other_buckets(spark, tmp_path):
    """An scd2 pipeline restarted with n_buckets=4 on an 8-bucket table
    refuses it: its stored-row lookup prunes by the bucket hash, so with
    the wrong count it would miss stored versions and leave keys with two
    current ones."""
    import os

    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

    root = str(tmp_path / "tgt")

    def batch(ts, op):
        return spark.range(1, 41).select(
            F.lit("dim").alias("destination"),
            F.col("id").alias("user_id"),
            F.lit(op).alias("__op"),
            F.lit(float(ts)).alias("value"),
            F.lit(ts).cast("long").alias("__source_ts_ns"),
        )

    def pipeline(n):
        return CdcPipeline(spark, root, mode="scd2", key_cols=("user_id",), n_buckets=n)

    pipeline(8).process_batch(batch(100, "c"), epoch_id=0)
    with pytest.raises(RuntimeError, match="laid out as"):
        pipeline(4).process_batch(batch(200, "u"), epoch_id=1)
    t = ParquetTable(spark, os.path.join(root, "dim"))
    assert t.n_buckets == 8
    current = t.read().filter("is_current").groupBy("user_id").count()
    assert current.count() == 40
    assert current.filter("count != 1").count() == 0


def test_streaming_scd2_with_checkpoint_restart(spark, sf_dir, tmp_path):
    """SCD2 sink under Structured Streaming: two source files -> two
    micro-batches; final history equals the one-shot batch build, and a
    checkpoint restart with no new data changes nothing (S7 parity)."""
    import os

    from debezium_server_bigquery_spark.operators.routing import filter_heartbeats
    from debezium_server_bigquery_spark.operators.scd import scd2_from_changes
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table
    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    src_dir = str(tmp_path / "src")
    # two files -> availableNow processes them as separate micro-batches
    cdc.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src_dir)
    cdc.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        src_dir
    )
    ckpt, tgt = str(tmp_path / "ckpt"), str(tmp_path / "tgt")

    def run_once():
        p = CdcPipeline(
            spark, tgt, mode="scd2", key_cols=("user_id",), n_buckets=8
        )
        stream = spark.readStream.schema(cdc.schema).parquet(src_dir)
        q = p.run_stream(stream, ckpt, available_now=True)
        assert q.awaitTermination(180), "stream did not finish in 180s"
        return p

    p = run_once()

    def history(p):
        out = set()
        for d in os.listdir(tgt):
            if d.startswith("."):
                continue
            df = p.read_table(d).filter(F.col("__op") != "d")
            for r in df.select(
                "user_id", "version_num", "valid_from", "valid_to", "event_id"
            ).collect():
                out.add((d, r.user_id, r.version_num, r.valid_from, r.valid_to, r.event_id))
        return out

    got = history(p)
    assert got, "streaming run produced no history rows"

    # expected: one-shot batch SCD2 per destination over the same stream
    live = filter_heartbeats(cdc)
    expected = set()
    for dest in [r[0] for r in live.select("destination").distinct().collect()]:
        hist = scd2_from_changes(
            live.filter(F.col("destination") == dest),
            ["user_id"],
            "__source_ts_ns",
            tiebreak=("event_id",),
        )
        for r in hist.select(
            "user_id", "version_num", "valid_from", "valid_to", "event_id"
        ).collect():
            expected.add(
                (dest.replace(".", "_"), r.user_id, r.version_num, r.valid_from, r.valid_to, r.event_id)
            )
    assert got == expected

    # restart with the same checkpoint: no new data -> unchanged
    p2 = run_once()
    assert history(p2) == got

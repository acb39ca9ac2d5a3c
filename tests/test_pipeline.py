"""End-to-end pipeline tests — the engine's analog of the reference's
E2E integration tests (SURVEY §5): feed CDC events, assert on the
destination tables, exercise restart/idempotency via checkpoints."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from debezium_server_bigquery_spark.sources.cdc import read_cdc_ndjson, synthesize_cdc_events
from debezium_server_bigquery_spark.sources.tables import load_table
from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline
import pytest


def _cdc_df(spark, sf_dir):
    return synthesize_cdc_events(load_table(spark, sf_dir, "events"))


def test_batch_append_pipeline(spark, sf_dir, tmp_path):
    p = CdcPipeline(spark, str(tmp_path / "tgt"), mode="append")
    cdc = _cdc_df(spark, sf_dir)
    p.run_batch(cdc)
    # heartbeats filtered, three destination tables materialized
    dests = sorted(os.listdir(tmp_path / "tgt"))
    assert dests == [
        "testc_inventory_events_p0",
        "testc_inventory_events_p1",
        "testc_inventory_events_p2",
    ]
    total = sum(p.read_table(d).count() for d in dests)
    n_expected = cdc.filter(~F.col("destination").startswith("__debezium")).count()
    assert total == n_expected
    # month partitioning present on disk (time-partition analog)
    t0 = tmp_path / "tgt" / "testc_inventory_events_p0"
    assert any(d.startswith("__part_month=") for d in os.listdir(t0))


def test_batch_upsert_pipeline(spark, sf_dir, tmp_path):
    p = CdcPipeline(
        spark, str(tmp_path / "tgt"), mode="upsert", key_cols=("user_id",), n_buckets=8
    )
    cdc = _cdc_df(spark, sf_dir)
    p.run_batch(cdc)
    live = cdc.filter(~F.col("destination").startswith("__debezium"))
    for dest in [r[0] for r in live.select("destination").distinct().collect()]:
        table_name = dest.replace(".", "_")
        got = p.read_table(table_name)
        # one row per key, and no key whose last event was a delete
        keys = got.select("user_id").collect()
        assert len(keys) == len(set(k[0] for k in keys))  # unique PK
        assert got.filter(F.col("__op") == "d").count() == 0


def test_streaming_pipeline_with_checkpoint_restart(spark, sf_dir, tmp_path):
    src_dir = str(tmp_path / "src")
    cdc = _cdc_df(spark, sf_dir)
    cdc.coalesce(1).write.parquet(src_dir)

    ckpt = str(tmp_path / "ckpt")
    tgt = str(tmp_path / "tgt")

    def run_once():
        p = CdcPipeline(spark, tgt, mode="append")
        stream = spark.readStream.schema(cdc.schema).parquet(src_dir)
        q = p.run_stream(stream, ckpt, available_now=True)
        q.awaitTermination(120)
        return p

    p = run_once()
    expected = cdc.filter(~F.col("destination").startswith("__debezium")).count()
    count1 = sum(
        p.read_table(d).count() for d in os.listdir(tgt) if not d.startswith(".")
    )
    assert count1 == expected

    # restart with same checkpoint: no new data -> no duplicates (S7 parity:
    # checkpoint subsumes the BigQuery offset store).
    p2 = run_once()
    count2 = sum(
        p2.read_table(d).count() for d in os.listdir(tgt) if not d.startswith(".")
    )
    assert count2 == expected


def test_read_cdc_ndjson_with_embedded_schema(spark, tmp_path):
    events = [
        {
            "schema": {
                "type": "struct",
                "fields": [
                    {"type": "int32", "optional": False, "field": "id"},
                    {"type": "string", "optional": True, "field": "name"},
                    {"type": "string", "optional": True, "field": "__op"},
                ],
            },
            "payload": {"id": i, "name": f"n{i}", "__op": "c"},
        }
        for i in range(3)
    ]
    path = tmp_path / "events.ndjson"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    df = read_cdc_ndjson(spark, str(path))
    rows = sorted((r.id, r.name) for r in df.collect())
    assert rows == [(0, "n0"), (1, "n1"), (2, "n2")]
    assert df.schema["id"].dataType.simpleString() == "bigint"


def test_per_destination_transform_hook(spark, sf_dir, tmp_path):
    """SURVEY §2.8 — the SMT-chain analog: user DataFrame->DataFrame
    transforms per destination ("*" = all), applied before write."""
    p = CdcPipeline(
        spark,
        str(tmp_path / "tgt"),
        mode="append",
        transforms={
            "*": [lambda df: df.withColumn("flagged", F.lit(True))],
            "testc_inventory_events_p0": [
                lambda df: df.filter(F.col("event_type") != "view")
            ],
        },
    )
    cdc = _cdc_df(spark, sf_dir)
    p.run_batch(cdc)
    t0 = p.read_table("testc_inventory_events_p0")
    t1 = p.read_table("testc_inventory_events_p1")
    # global transform hit every destination
    assert t0.filter(~F.col("flagged")).count() == 0
    assert t1.filter(~F.col("flagged")).count() == 0
    # destination-specific filter applied only to p0
    assert t0.filter(F.col("event_type") == "view").count() == 0
    assert t1.filter(F.col("event_type") == "view").count() > 0


def test_snapshot_backfill_then_stream(spark, tmp_path):
    """T9 parity (SURVEY §2.7): initial snapshot rows arrive with __op='r'
    (batch backfill), then streaming changes resume on top.  A later 'u'
    must beat the snapshot row; an untouched snapshot row survives; and a
    replayed snapshot batch cannot resurrect overwritten state thanks to
    op-priority ('r' < 'u') plus epoch markers."""
    from debezium_server_bigquery_spark.operators.merge import merge_upsert
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    cols = "user_id long, v string, __op string, __source_ts_ns long, __deleted boolean"
    t = ParquetTable(
        spark, str(tmp_path / "t"), key_cols=["user_id"], mode="upsert", n_buckets=4
    )
    snapshot = spark.createDataFrame(
        [(1, "snap1", "r", 100, False), (2, "snap2", "r", 100, False)], cols
    )
    merge_upsert(t, snapshot, epoch_id="snapshot.0")
    stream1 = spark.createDataFrame([(1, "live1", "u", 100, False)], cols)
    merge_upsert(t, stream1, epoch_id=1)  # same ts: op-priority u > r wins
    got = {r["user_id"]: (r["v"], r["__op"]) for r in t.read().collect()}
    assert got == {1: ("live1", "u"), 2: ("snap2", "r")}
    # replaying the snapshot epoch is a no-op (marker), and even a re-merge
    # of the same snapshot rows cannot beat the newer 'u' state
    merge_upsert(t, snapshot, epoch_id="snapshot.0")
    merge_upsert(t, snapshot, epoch_id="snapshot.1")
    got = {r["user_id"]: (r["v"], r["__op"]) for r in t.read().collect()}
    assert got == {1: ("live1", "u"), 2: ("snap2", "r")}


def test_pkless_upsert_modes_fall_back_to_append(spark, sf_dir, tmp_path):
    """A4 parity at the PIPELINE level: upsert/scd2 with no key columns
    must run append (time-partitioned tables), not raise.
    Regression: table_for built a key-bucketed table for these modes even
    without keys, and the append branch then failed in with_partition_col."""
    cdc = _cdc_df(spark, sf_dir)
    expected = cdc.filter(~F.col("destination").startswith("__debezium")).count()
    for i, mode in enumerate(("upsert", "scd2")):
        p = CdcPipeline(spark, str(tmp_path / f"t{i}"), mode=mode, key_cols=())
        p.run_batch(cdc)
        total = sum(p.read_table(d).count() for d in p.tables)
        assert total == expected, mode


def test_parallel_upload_timeout_fails_batch(spark, sf_dir, tmp_path):
    # concurrent-uploads.timeout-minutes parity (CommonConfig.java:32-34,
    # BaseChangeConsumer.java:243-253): a hung per-table task cancels the
    # batch with a timeout error instead of blocking forever.
    import threading
    import time

    import pytest

    def slow(df):
        time.sleep(3)
        return df

    p = CdcPipeline(
        spark,
        str(tmp_path / "tgt"),
        mode="append",
        concurrent_uploads=4,
        concurrent_uploads_timeout_minutes=0.005,  # 300 ms
        transforms={"*": [slow]},
    )
    batch = _cdc_df(spark, sf_dir)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="timed out"):
        p.run_batch(batch)
    # the batch returns only once every thread it started has ended
    assert [t for t in threading.enumerate() if t not in before] == []


def test_parallel_upload_aggregates_all_failures(spark, sf_dir, tmp_path):
    # invokeAll parity: every failed destination is reported, not just the
    # first (BaseChangeConsumer.java:255-266).
    import pytest

    def boom_for(dest):
        def fn(df):
            raise ValueError(f"boom-{dest}")

        return fn

    p = CdcPipeline(
        spark,
        str(tmp_path / "tgt"),
        mode="append",
        concurrent_uploads=4,
        transforms={
            "testc_inventory_events_p0": [boom_for("p0")],
            "testc_inventory_events_p2": [boom_for("p2")],
        },
    )
    with pytest.raises(RuntimeError) as ei:
        p.run_batch(_cdc_df(spark, sf_dir))
    msg = str(ei.value)
    assert "boom-p0" in msg and "boom-p2" in msg


def test_heartbeat_skip_consuming_false_replicates_heartbeats(
    spark, sf_dir, tmp_path
):
    # debezium.source.topic.heartbeat.skip-consuming=false
    # (DebeziumConfig.java:86-88): heartbeat topics replicate like any
    # destination instead of being dropped.
    p = CdcPipeline(
        spark, str(tmp_path / "tgt"), mode="append", heartbeat_skip=False
    )
    cdc = _cdc_df(spark, sf_dir)
    p.run_batch(cdc)
    dests = sorted(os.listdir(tmp_path / "tgt"))
    assert "__debezium-heartbeat_testc" in dests
    n_hb = cdc.filter(F.col("destination").startswith("__debezium")).count()
    assert p.read_table("__debezium-heartbeat_testc").count() == n_hb


@pytest.mark.heavy
def test_pipeline_stream_e2e_converges_out_of_order(spark, sf_dir):
    """The streaming drain (multiple out-of-order micro-batches via
    maxFilesPerTrigger=1) must reach the same final state as the one-batch
    destructive path plus flagged tombstones."""
    from debezium_server_bigquery_spark.plans.pipeline_queries import (
        pipeline_stream_e2e,
        pipeline_upsert_e2e,
    )

    stream_rows = pipeline_stream_e2e(spark, sf_dir).collect()
    live = [
        (r.table_name, r.user_id, r.event_id) for r in stream_rows if r["__op"] != "d"
    ]
    batch = [
        (r.table_name, r.user_id, r.event_id)
        for r in pipeline_upsert_e2e(spark, sf_dir).collect()
    ]
    assert live == batch  # stream live rows == eager one-batch winners
    assert any(r["__op"] == "d" for r in stream_rows)  # tombstones retained


def test_pipeline_transform_hook_order_and_scope(spark, sf_dir):
    from debezium_server_bigquery_spark.plans.pipeline_queries import (
        pipeline_transform_hook_e2e,
    )

    rows = pipeline_transform_hook_e2e(spark, sf_dir).collect()
    assert all(r.value_eur == round(r.value * 0.9, 4) for r in rows)  # global
    for r in rows:  # destination-scoped redaction hits exactly p0
        if r.table_name == "testc_inventory_events_p0":
            assert r.props == "<redacted>"
        else:
            assert r.props != "<redacted>"


def test_denormalized_export_matches_direct_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.plans.pipeline_queries import (
        denormalized_export_e2e,
    )

    out = {r.cust_nation: r for r in denormalized_export_e2e(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    direct = {
        r.n_name: r.n
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {k: v.n_rows for k, v in out.items()} == direct


def test_stream_checkpoint_resume_no_dupes_no_loss(spark, tmp_path):
    from debezium_server_bigquery_spark.plans.pipeline_queries import (
        stream_checkpoint_resume_e2e,
    )

    rows = [(i, f"text {i}", "en" if i % 2 else "fr", "s", 10 + i) for i in range(40)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.lang: r for r in stream_checkpoint_resume_e2e(spark, str(tmp_path)).collect()}
    # exact equality against the batch truth: nothing lost, nothing doubled
    assert out["en"].n_docs == 20 and out["fr"].n_docs == 20
    assert out["en"].n_chars == sum(10 + i for i in range(40) if i % 2)
    assert out["fr"].n_chars == sum(10 + i for i in range(40) if not i % 2)


def test_tables_hold_only_data_and_their_log(spark, sf_dir, tmp_path):
    """Every sink mode keeps a table's state in data files plus its one
    commit log: no epoch-marker dir, meta file, staging swap dir, staging
    table or side metadata, and each table reopens from its log alone."""
    from debezium_server_bigquery_spark.operators.table import DELTA_DIR, ParquetTable

    cdc = _cdc_df(spark, sf_dir).filter(F.col("event_id") % 4 == 0)
    for mode in ("append", "upsert", "scd2"):
        root = tmp_path / mode
        p = CdcPipeline(spark, str(root), mode=mode, key_cols=("user_id",), n_buckets=4)
        p.process_batch(cdc.filter(F.col("event_id") % 8 == 0), epoch_id=0)
        p.process_batch(cdc.filter(F.col("event_id") % 8 == 4), epoch_id=1)
        for d in sorted(os.listdir(root)):
            names = set(os.listdir(root / d))
            assert "_log" in names, (mode, d)
            # data files sit in partition dirs, a keyed write's deltas in delta/
            deltas = {DELTA_DIR} if mode in ("upsert", "scd2") else set()
            assert {n for n in names if "=" not in n} == {"_log"} | deltas, (mode, d, names)
            reopened = ParquetTable(spark, str(root / d))
            assert reopened.mode == ("append" if mode == "append" else "upsert")
        # nothing sits beside the destinations: no staging tables
        assert not [d for d in os.listdir(root) if d.startswith("_")], mode


def test_unknown_mode_is_rejected(tmp_path):
    """A typo, or the retired lazy mode, must fail at construction instead
    of landing a keyed feed as an append table."""
    for mode in ("upsert_lazy", "upsrt", "APPEND"):
        with pytest.raises(ValueError, match="append, upsert, scd2"):
            CdcPipeline(None, str(tmp_path), mode=mode, key_cols=("user_id",))


@pytest.mark.heavy
def test_streaming_upsert_with_checkpoint_restart(spark, sf_dir, tmp_path):
    """Upsert under Structured Streaming: MERGEs are epoch-guarded, so a
    checkpoint restart that replays nothing leaves the exact same state,
    which equals the batch run's; folding the tables back into buckets
    changes no state."""
    cdc = _cdc_df(spark, sf_dir)
    src_dir = str(tmp_path / "src")
    cdc.coalesce(1).write.parquet(src_dir)
    ckpt, tgt = str(tmp_path / "ckpt"), str(tmp_path / "tgt")

    def run_once():
        p = CdcPipeline(spark, tgt, mode="upsert", key_cols=("user_id",), n_buckets=8)
        stream = spark.readStream.schema(cdc.schema).parquet(src_dir)
        p.run_stream(stream, ckpt, available_now=True).awaitTermination(120)
        return p

    def state(p):
        return {
            d: sorted(tuple(r) for r in p.read_table(d).select("user_id", "event_type", "__op")
                      .collect())
            for d in dests
        }

    p = run_once()
    dests = sorted(p.tables)
    assert dests
    # every destination is a table on disk, and nothing else is
    assert sorted(d for d in os.listdir(tgt) if not d.startswith((".", "_"))) == dests
    first = state(p)
    # restart on the same checkpoint: no new data, no MERGE runs twice
    p2 = run_once()
    assert state(p2) == first
    batch = CdcPipeline(
        spark, str(tmp_path / "batch"), mode="upsert", key_cols=("user_id",), n_buckets=8
    )
    batch.run_batch(cdc)
    assert state(batch) == first
    for d in dests:
        p2.table_for(d).compact()
    assert state(p2) == first


def _routed(spark, ids, dests=("d0", "d1", "d2"), extra=False):
    """An append batch over ``dests`` and two months, in wire types (epoch
    ms), optionally with an ``extra`` column."""
    rows = [
        (i, f"v{i}", dests[i % len(dests)],
         1704067200000 + (i % 2) * 2678400000,  # 2024-01-01 / 2024-02-01
         1000 + i, "c")
        for i in ids
    ]
    df = spark.createDataFrame(
        rows, "id long, val string, destination string, __ts_ms long, "
        "__source_ts_ms long, __op string"
    )
    return df.withColumn("extra", F.col("id") * 2) if extra else df


def _jobs_in_groups(spark, fn) -> tuple[int, int]:
    """Run ``fn`` under a test job group and count the Spark jobs it runs:
    (jobs in the groups the pipeline set itself, jobs left in the test's
    group).  The pipeline must restore the test's group afterwards."""
    import uuid

    sc = spark.sparkContext
    outer = f"test-{uuid.uuid4().hex[:8]}"
    inner: list[str] = []
    real = sc.setJobGroup

    def spy(group, description, interruptOnCancel=False):
        inner.append(group)
        real(group, description, interruptOnCancel)

    real(outer, "test")
    sc.setJobGroup = spy
    try:
        fn()
        assert sc.getLocalProperty("spark.jobGroup.id") == outer
    finally:
        del sc.setJobGroup
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return (sum(len(tracker.getJobIdsForGroup(g)) for g in set(inner)),
            len(tracker.getJobIdsForGroup(outer)))


def test_append_batch_is_one_write_job_equal_to_per_destination(spark, tmp_path):
    """An append batch lands every destination in ONE Spark job and one
    commit per table, and lands what the per-destination path (forced by
    an identity transform) lands: rows, files per partition, schema
    history and metrics."""
    from debezium_server_bigquery_spark.streaming.schema_history import SchemaHistory

    one = CdcPipeline(spark, str(tmp_path / "one"), mode="append")
    each = CdcPipeline(
        spark, str(tmp_path / "each"), mode="append", transforms={"*": [lambda df: df]}
    )
    b0, b1 = _routed(spark, range(60)), _routed(spark, range(60, 90), extra=True)
    assert _jobs_in_groups(spark, lambda: one.process_batch(b0, epoch_id=0)) == (1, 0)
    one.process_batch(b1, epoch_id=1)
    each.process_batch(b0, epoch_id=0)
    each.process_batch(b1, epoch_id=1)

    assert sorted(one.tables) == sorted(each.tables) == ["d0", "d1", "d2"]
    for d in ("d0", "d1", "d2"):
        got = sorted(tuple(r) for r in one.read_table(d).collect())
        assert got == sorted(tuple(r) for r in each.read_table(d).collect())
        assert len(got) == 30
        assert (one.table_for(d).partition_file_counts()
                == each.table_for(d).partition_file_counts())
        assert [e["epoch"] for e in one.table_for(d).epoch_metrics()] == ["0.0", "1.0"]
    assert (SchemaHistory(spark, one.target_root).recover_records()
            == SchemaHistory(spark, each.target_root).recover_records())
    assert len(SchemaHistory(spark, one.target_root).recover_records()) == 6
    assert sorted(one.metrics().collect()) == sorted(each.metrics().collect())
    # the shared write's staging directory is gone
    assert sorted(os.listdir(one.target_root)) == ["d0", "d1", "d2"]


def test_keyed_batch_runs_every_job_in_its_group(spark, tmp_path):
    """A keyed 3-destination batch runs all its Spark jobs, the routing
    query included, in the groups the pipeline sets, and restores the
    caller's group."""
    p = CdcPipeline(spark, str(tmp_path / "tgt"), mode="upsert", key_cols=("id",))
    batch = _routed(spark, range(30)).withColumn(
        "__source_ts_ns", F.col("__source_ts_ms") * 1_000_000
    )
    inner, outer = _jobs_in_groups(spark, lambda: p.process_batch(batch, epoch_id=0))
    assert (inner >= 1, outer) == (True, 0)
    assert sorted(p.tables) == ["d0", "d1", "d2"]
    assert sum(p.read_table(d).count() for d in p.tables) == 30


def test_append_batch_replay_skips_committed_tables(spark, tmp_path):
    """Replaying an epoch adds nothing to a table that committed it."""
    p = CdcPipeline(spark, str(tmp_path / "tgt"), mode="append")
    p.process_batch(_routed(spark, range(30)), epoch_id=7)
    p.process_batch(_routed(spark, range(30)), epoch_id=7)
    for d in ("d0", "d1", "d2"):
        assert p.read_table(d).count() == 10
        assert [e["epoch"] for e in p.table_for(d).epoch_metrics()] == ["7.0"]
    assert sorted(os.listdir(p.target_root)) == ["d0", "d1", "d2"]


def test_escaped_destination_round_trips_to_its_table(spark, tmp_path):
    """A destination Spark escapes in partition paths lands in the table
    named by the destination itself."""
    from debezium_server_bigquery_spark.operators.table import table_names

    p = CdcPipeline(spark, str(tmp_path / "tgt"), mode="append")
    p.process_batch(_routed(spark, range(12), dests=("a=b%c", "x:y#z")), epoch_id=0)
    assert table_names(p.target_root) == ["a=b%c", "x:y#z"]
    assert sorted(r.id for r in p.read_table("a=b%c").collect()) == list(range(0, 12, 2))
    assert p.read_table("x:y#z").count() == 6


def test_null_destination_fails_the_batch(spark, tmp_path):
    """A batch carrying a destination that names no table directly under
    the root (null, empty, nested, absolute) fails before any table
    commits, in append and upsert mode alike: nothing appears under the
    root or outside it, the root's tables stay as they were, and
    ``read_table`` refuses the name too."""
    from debezium_server_bigquery_spark.operators.table import table_names

    def tree(root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _dirs, files in os.walk(root) for f in files)

    outside = tmp_path / "outside"
    for mode in ("append", "upsert"):
        p = CdcPipeline(spark, str(tmp_path / f"tgt-{mode}"), mode=mode, heartbeat_skip=False,
                        key_cols=("id",) if mode == "upsert" else ())

        def batch(dest=None, bad=False):
            df = _routed(spark, range(9)).withColumn(
                "__source_ts_ns", F.col("__source_ts_ms") * 1_000_000)
            if not bad:
                return df
            return df.withColumn("destination", F.when(
                F.col("id") == 4, F.lit(dest).cast("string")).otherwise(F.col("destination")))

        p.process_batch(batch(), epoch_id=0)
        before = tree(p.target_root)
        for bad in (None, "", "a/b", str(outside)):
            with pytest.raises(ValueError, match="null, empty or path-like destination"):
                p.process_batch(batch(bad, bad=True), epoch_id=1)
            assert tree(p.target_root) == before, (mode, bad)
            assert table_names(p.target_root) == ["d0", "d1", "d2"]
            assert not outside.exists(), (mode, bad)
            if bad is not None:
                with pytest.raises(ValueError, match="path-like"):
                    p.read_table(bad)


def test_route_mode_batch_runs_every_job_in_its_group(spark, tmp_path):
    """The dead-letter write is one of the batch's writes: a route-mode
    batch runs its reject probe and DLQ append, like every other Spark job
    of the batch, in the groups the pipeline sets (so the batch timeout
    bounds them), and the reject still lands."""
    schema = {"type": "struct", "fields": [
        {"type": "int64", "field": "id"},
        {"type": "string", "optional": True, "field": "destination"},
        {"type": "int64", "optional": True, "field": "__ts_ms"},
        {"type": "string", "optional": True, "field": "__op"},
    ]}
    good = [{"schema": schema, "payload": {"id": i, "destination": "t1",
                                           "__ts_ms": 1700000000000 + i, "__op": "c"}}
            for i in range(3)]
    path = tmp_path / "events.ndjson"
    path.write_text("\n".join([*(json.dumps(e) for e in good), "{broken"]) + "\n")
    batch = read_cdc_ndjson(spark, str(path), schema_hint=schema, on_error="route")
    p = CdcPipeline(spark, str(tmp_path / "tgt"), mode="append", rejects_destination="_rejects")
    inner, outer = _jobs_in_groups(spark, lambda: p.process_batch(batch, epoch_id=0))
    assert (inner >= 1, outer) == (True, 0)
    assert [r.raw for r in p.rejects_table().read().collect()] == ["{broken"]
    assert sorted(r.id for r in p.read_table("t1").collect()) == [0, 1, 2]


@pytest.mark.parametrize(
    "mode, dests, uploads",
    [
        ("append", ("d0", "d1", "d2"), 4),  # the shared append write
        ("upsert", ("d0",), 4),
        ("upsert", ("d0", "d1", "d2"), 1),
        ("upsert", ("d0", "d1", "d2"), 4),
        ("scd2", ("d0",), 4),
    ],
    ids=["append", "upsert-1", "upsert-3-seq", "upsert-3-par", "scd2-1"],
)
def test_append_write_timeout_fails_batch_and_commits_nothing(
    spark, tmp_path, mode, dests, uploads
):
    """concurrent-uploads.timeout-minutes bounds every write of a batch, at
    any concurrent-uploads and any destination count: on expiry the
    batch's job group refuses every later job, and the batch fails as
    timed out with no table committed."""
    import time

    from debezium_server_bigquery_spark.operators.table import table_names

    @F.udf("long")
    def slow(v):
        time.sleep(1.5)
        return v

    p = CdcPipeline(
        spark, str(tmp_path / "tgt"), mode=mode,
        key_cols=() if mode == "append" else ("id",),
        concurrent_uploads=uploads,
        concurrent_uploads_timeout_minutes=0.005,  # 300 ms
    )
    batch = (
        _routed(spark, range(6), dests=dests)
        .withColumn("__source_ts_ns", F.col("__source_ts_ms") * 1_000_000)
        .withColumn("id", slow("id"))
    )
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="timed out"):
        p.process_batch(batch, epoch_id=0)
    assert time.monotonic() - t0 < 30
    assert table_names(p.target_root) == []
    # nor is a staging directory left behind
    assert not os.path.isdir(p.target_root) or os.listdir(p.target_root) == []


def test_refused_upload_is_not_retried(spark, tmp_path, caplog):
    """A write whose job the timed-out batch's group cancelled or refused
    fails at once: with sequential uploads, no destination spends the
    retry budget after the bound.  The slow step is a transform, so it
    runs inside the uploads rather than in the routing query, which runs
    once beforehand so that it is quick inside the bound."""
    import logging
    import time

    from debezium_server_bigquery_spark.operators.routing import destinations_in

    @F.udf("long")
    def slow(v):
        time.sleep(1.5)
        return v

    p = CdcPipeline(
        spark, str(tmp_path / "tgt"), mode="upsert", key_cols=("id",),
        concurrent_uploads=1, concurrent_uploads_timeout_minutes=0.05,  # 3 s
        transforms={"*": [lambda df: df.withColumn("id", slow("id"))]},
    )
    batch = _routed(spark, range(6)).withColumn(
        "__source_ts_ns", F.col("__source_ts_ms") * 1_000_000
    )
    assert len(destinations_in(batch)) == 3
    with caplog.at_level(logging.WARNING), pytest.raises(RuntimeError, match="timed out"):
        p.process_batch(batch, epoch_id=0)
    messages = [r.getMessage() for r in caplog.records]
    assert any("failed after 1 attempt(s)" in m for m in messages)
    assert not [m for m in messages if "retrying" in m]


def test_timed_out_group_refuses_later_jobs(spark, tmp_path):
    """After the bound, no job of the batch's group starts, on the calling
    thread or on a thread that joined the group; other groups run."""
    import threading
    import time

    from debezium_server_bigquery_spark.streaming.pipeline import _job_group

    p = CdcPipeline(spark, str(tmp_path / "tgt"), concurrent_uploads_timeout_minutes=0.005)
    sc = spark.sparkContext
    ran = []

    def late_job():
        time.sleep(1)  # past the 300 ms bound, with no job running
        ran.append(spark.range(3).count())

    def late_job_on_a_thread():
        group = sc.getLocalProperty("spark.jobGroup.id")
        errors = []

        def work():
            with _job_group(sc, group, "upload d0"):
                try:
                    late_job()
                except Exception as exc:
                    errors.append(exc)

        t = threading.Thread(target=work)
        t.start()
        t.join()
        if errors:
            raise errors[0]
        return True

    for write in (late_job, late_job_on_a_thread):
        with pytest.raises(RuntimeError, match="probe timed out"):
            p._bounded("probe", write)
    assert ran == []
    assert spark.range(3).count() == 3


def test_append_batch_reports_every_missing_table(spark, tmp_path):
    """create-if-needed=false: every destination without a table is
    reported in one error, and the destinations that have one commit."""
    root = str(tmp_path / "tgt")
    CdcPipeline(spark, root, mode="append").process_batch(
        _routed(spark, range(3), dests=("d1",)), epoch_id=0
    )
    p = CdcPipeline(spark, root, mode="append", create_if_needed=False)
    with pytest.raises(RuntimeError) as ei:
        p.process_batch(_routed(spark, range(30)), epoch_id=1)
    msg = str(ei.value)
    assert "d0: " in msg and "d2: " in msg and "d1: " not in msg
    assert "create-if-needed" in msg
    assert p.read_table("d1").count() == 3 + 10
    assert sorted(os.listdir(root)) == ["d1"]

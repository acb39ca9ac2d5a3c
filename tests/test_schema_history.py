"""S8 schema-history store + R4 in-batch schema grouping.

Mirrors the reference's state-store tests (BigquerySchemaHistoryTest.java:
103-132 record/recover across restart) and the schema-group behavior
(BaseChangeConsumer.java:189-205)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline
from debezium_server_bigquery_spark.streaming.schema_history import (
    SCHEMA_FP_COL,
    SchemaHistory,
    schema_groups,
)


def test_schema_history_store_and_ordered_recover(spark, tmp_path):
    h = SchemaHistory(spark, str(tmp_path / "history"))
    assert not h.exists()
    assert h.recover_records() == []
    assert not h.storage_exists_probe()

    ddl1 = json.dumps({"op": "CREATE", "cols": ["id"]})
    ddl2 = json.dumps({"op": "ALTER", "cols": ["id", "name"]})
    h.store_record("testc.inventory.t1", ddl1)
    h.store_record("testc.inventory.t1", ddl2)

    # a new instance over the same path replays in insert order (restart)
    h2 = SchemaHistory(spark, str(tmp_path / "history"))
    recovered = h2.recover_records()
    assert [d for _, d in recovered] == [ddl1, ddl2]
    assert all(dest == "testc.inventory.t1" for dest, _ in recovered)
    assert h2.storage_exists_probe()


def test_schema_fingerprint_and_groups(spark):
    lines = [
        json.dumps({"schema": {"fields": ["id"]}, "payload": {"id": 1}}),
        json.dumps({"schema": {"fields": ["id"]}, "payload": {"id": 2}}),
        json.dumps({"schema": {"fields": ["id", "name"]}, "payload": {"id": 3}}),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    # the per-event fingerprint a caller attaches: md5 of the embedded schema
    fp = raw.withColumn(
        SCHEMA_FP_COL,
        F.md5(F.coalesce(F.get_json_object("value", "$.schema"), F.lit(""))),
    )
    assert SCHEMA_FP_COL in fp.columns
    n_groups = fp.select(SCHEMA_FP_COL).distinct().count()
    assert n_groups == 2

    parsed = fp.select(
        F.get_json_object("value", "$.payload.id").cast("long").alias("id"),
        F.col(SCHEMA_FP_COL),
    )
    groups = schema_groups(parsed)
    assert len(groups) == 2
    sizes = sorted(g.count() for _, g in groups)
    assert sizes == [1, 2]
    # fingerprint column removed from each group's frame
    assert all(SCHEMA_FP_COL not in g.columns for _, g in groups)


def test_schema_groups_passthrough_without_fp(spark):
    df = spark.range(5)
    groups = schema_groups(df)
    assert len(groups) == 1
    assert groups[0][1].count() == 5


def test_pipeline_splits_mixed_schema_batch(spark, tmp_path):
    rows = [
        ("testc.t", 1, "a", 1000 + i, "fp_v1") for i in range(3)
    ] + [
        ("testc.t", 2, "b", 2000, "fp_v2")
    ]
    batch = spark.createDataFrame(
        rows,
        f"destination string, id long, name string, __source_ts_ns long, {SCHEMA_FP_COL} string",
    ).withColumn("__op", F.lit("c"))
    p = CdcPipeline(spark, str(tmp_path / "tgt"), mode="append")
    p.run_batch(batch)
    got = p.read_table("testc_t")
    assert got.count() == 4
    assert SCHEMA_FP_COL not in got.columns


def test_pipeline_records_schema_history(spark, tmp_path, sf_dir):
    """S8 wired into the pipeline: one record per (destination, column
    set), in evolution order, recovered by a fresh instance (restart)."""
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    ev = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    b1 = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b2 = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1).withColumn(
        "value_eur", F.round(F.col("value") * 0.9, 4)
    )
    hist = str(tmp_path / "hist")
    p = CdcPipeline(
        spark, str(tmp_path / "tgt"), mode="append", schema_history_path=hist
    )
    p.run_batch(b1)
    p.run_batch(b2)
    # replaying an already-seen schema records nothing new
    p.run_batch(b1.limit(10))

    recs = SchemaHistory(spark, hist).recover_records()
    assert len(recs) == 6  # 3 destinations x 2 schema versions
    by_dest: dict[str, list[int]] = {}
    for dest, data in recs:
        by_dest.setdefault(dest, []).append(len(json.loads(data)["columns"]))
    assert sorted(by_dest) == [
        "testc_inventory_events_p0",
        "testc_inventory_events_p1",
        "testc_inventory_events_p2",
    ]
    # per destination: original schema recorded BEFORE the evolved one
    assert all(v == [12, 13] for v in by_dest.values())


def test_schema_history_e2e_queries(spark, sf_dir):
    from debezium_server_bigquery_spark.plans.pipeline_queries import (
        pipeline_keyless_append_e2e,
        pipeline_schema_history_e2e,
    )

    hist = pipeline_schema_history_e2e(spark, sf_dir).collect()
    assert [(r.destination, r.n_cols) for r in hist] == [
        ("testc_inventory_events_p0", 12),
        ("testc_inventory_events_p0", 13),
        ("testc_inventory_events_p1", 12),
        ("testc_inventory_events_p1", 13),
        ("testc_inventory_events_p2", 12),
        ("testc_inventory_events_p2", 13),
    ]
    assert all(
        ("value_eur:double" in r.cols) == (r.n_cols == 13) for r in hist
    )

    # A4: upsert-configured but keyless -> append semantics (deletes land
    # as rows; nothing is deduped away)
    out = pipeline_keyless_append_e2e(spark, sf_dir).collect()
    assert len(out) == 3
    assert all(r.n_rows == r.n_events for r in out)  # every event is a row
    assert all(r.n_delete_rows > 0 for r in out)

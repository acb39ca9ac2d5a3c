"""S8 schema history (read off the destination logs) + R4 in-batch
schema grouping.

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


def _batch(spark, dest, ids, ts, extra=False):
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in ids], "id long, name string"
    ).select(
        F.lit(dest).alias("destination"),
        "*",
        F.lit("c").alias("__op"),
        F.lit(ts).cast("long").alias("__source_ts_ns"),
    )
    return df.withColumn("extra", F.lit("x")) if extra else df


def _recovered(spark, root):
    return [
        (dest, [c["name"] for c in json.loads(data)["columns"]])
        for dest, data in SchemaHistory(spark, root).recover_records()
    ]


def test_schema_history_ordered_recover_from_logs(spark, tmp_path):
    """Recovery replays every destination's logged schemas, ordered by
    destination and then by log version, in the record shape the
    reference's history table holds (BigquerySchemaHistory.java:150-169)."""
    root = str(tmp_path / "tgt")
    assert SchemaHistory(spark, root).recover_records() == []
    p = CdcPipeline(spark, root, mode="append")
    p.run_batch(_batch(spark, "t2", [1], 1).unionByName(_batch(spark, "t1", [2], 1)))
    p.run_batch(_batch(spark, "t1", [3], 2, extra=True))

    # a new instance over the same root replays in log order (restart)
    base = ["__op", "__source_ts_ns", "id", "name"]
    assert _recovered(spark, root) == [
        ("t1", base),
        ("t1", base[:2] + ["extra"] + base[2:]),
        ("t2", base),
    ]
    first = SchemaHistory(spark, root).recover_records()[0][1]
    assert json.loads(first) == {
        "columns": [
            {"name": "__op", "type": "string"},
            {"name": "__source_ts_ns", "type": "bigint"},
            {"name": "id", "type": "bigint"},
            {"name": "name", "type": "string"},
        ]
    }


def test_restarted_pipeline_adds_no_history_for_a_seen_schema(spark, tmp_path):
    """A second pipeline on the same root replaying a column set the
    first one already landed records no new schema version."""
    root = str(tmp_path / "tgt")
    CdcPipeline(spark, root, mode="append").run_batch(_batch(spark, "t", [1, 2], 1))
    CdcPipeline(spark, root, mode="append").run_batch(_batch(spark, "t", [3], 2))
    assert _recovered(spark, root) == [("t", ["__op", "__source_ts_ns", "id", "name"])]


def test_history_records_only_landed_columns(spark, tmp_path):
    """With field addition off, a batch's new column never lands, so it
    adds no schema version: the recovered columns are the table's."""
    root = str(tmp_path / "tgt")
    p = CdcPipeline(spark, root, mode="append", allow_field_addition=False)
    p.run_batch(_batch(spark, "t", [1], 1))
    p.run_batch(_batch(spark, "t", [2], 2, extra=True))
    landed = sorted(p.read_table("t").columns)
    assert landed == ["__op", "__source_ts_ns", "id", "name"]
    assert _recovered(spark, root) == [("t", landed)]


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


def test_pipeline_records_schema_history(spark, tmp_path, sf_dir):
    """S8 from the pipeline's own commits: one record per (destination,
    landed column set), in evolution order, recovered from the target
    root by a fresh instance (restart)."""
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    ev = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    b1 = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    b2 = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1).withColumn(
        "value_eur", F.round(F.col("value") * 0.9, 4)
    )
    root = str(tmp_path / "tgt")
    p = CdcPipeline(spark, root, mode="append")
    p.run_batch(b1)
    p.run_batch(b2)
    # replaying an already-seen schema records nothing new
    p.run_batch(b1.limit(10))

    recs = SchemaHistory(spark, root).recover_records()
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

"""S10 — properties-file launcher smoke tests (reference parity:
``application.properties`` -> running pipeline, debezium.py:21-106)."""

from __future__ import annotations

import pytest

from debezium_server_bigquery_spark.cli import build_pipeline, parse_properties, run


def test_parse_properties(tmp_path):
    p = tmp_path / "application.properties"
    p.write_text(
        "# comment\n"
        "! also comment\n"
        "debezium.sink.type=bigquerystream\n"
        "debezium.sink.bigquerystream.upsert = true\n"
        "engine.key-columns=user_id, tenant_id\n"
        "long.value=a,\\\nb\n"
    )
    props = parse_properties(str(p))
    assert props["debezium.sink.type"] == "bigquerystream"
    assert props["debezium.sink.bigquerystream.upsert"] == "true"
    assert props["long.value"] == "a,b"
    assert "# comment" not in props


def test_build_pipeline_maps_reference_keys(spark, tmp_path):
    props = {
        "debezium.sink.type": "bigquerystream",
        "debezium.sink.bigquerystream.upsert": "true",
        "debezium.sink.bigquerystream.upsert-keep-deletes": "false",
        "debezium.sink.bigquerystream.upsert-dedup-column": "__source_ts_ms",
        "debezium.sink.bigquerystream.partition-type": "DAY",
        "debezium.sink.bigquerystream.clustering-field": "__ts_ms",
        "debezium.sink.batch.destination-regexp": "_p\\d+$",
        "debezium.sink.batch.destination-regexp-replace": "",
        "debezium.sink.batch.nested-as-json": "true",
        "debezium.sink.batch.concurrent-uploads": "2",
        "engine.target-root": str(tmp_path / "tgt"),
        "engine.key-columns": "user_id",
    }
    p = build_pipeline(spark, props)
    assert p.mode == "upsert"
    assert p.key_cols == ("user_id",)
    assert p.keep_deletes is False
    assert p.dedup_order_col == "__source_ts_ms"
    assert p.partition_type == "DAY"
    assert p.clustering_field == "__ts_ms"
    assert p.destination_regexp == "_p\\d+$"
    assert p.concurrent_uploads == 2


def test_build_pipeline_rejects_unknown_sink(spark, tmp_path):
    with pytest.raises(ValueError, match="debezium.sink.type"):
        build_pipeline(
            spark,
            {"debezium.sink.type": "s3", "engine.target-root": str(tmp_path)},
        )


@pytest.mark.heavy
def test_run_sf0001_pipeline_from_properties(spark, tmp_path):
    """The VERDICT's done-condition: launch the sf0.001 pipeline from a
    properties file."""
    conf = tmp_path / "application.properties"
    conf.write_text(
        "debezium.sink.type=bigquerybatch\n"
        f"engine.target-root={tmp_path / 'tgt'}\n"
        "engine.source=synthetic\n"
        "engine.source.sf-dir=/root/testdata/sf0.001\n"
    )
    summary = run(str(conf), spark=spark)
    assert summary["mode"] == "append"
    assert sorted(summary["tables"]) == [
        "testc_inventory_events_p0",
        "testc_inventory_events_p1",
        "testc_inventory_events_p2",
    ]
    assert sum(summary["rows"].values()) > 0


def test_build_pipeline_maps_bucket_and_tiebreak_keys(spark, tmp_path):
    from debezium_server_bigquery_spark.cli import build_pipeline

    props = {
        "debezium.sink.type": "bigquerystream",
        "debezium.sink.bigquerystream.upsert": "true",
        "engine.target-root": str(tmp_path),
        "engine.key-columns": "user_id",
        "engine.n-buckets": "4",
        "engine.dedup-tiebreak": "event_id, ts",
    }
    p = build_pipeline(spark, props)
    assert p.n_buckets == 4
    assert p.dedup_tiebreak == ("event_id", "ts")


def test_build_pipeline_ignores_retired_staleness_key(spark, tmp_path):
    """Every MERGE maintains its own table, so the old staleness key is
    one more unknown key: a file that still sets it builds the upsert
    pipeline (and an scd2 one with engine.scd2)."""
    props = {
        "debezium.sink.type": "bigquerystream",
        "debezium.sink.bigquerystream.upsert": "true",
        "engine.target-root": str(tmp_path / "tgt"),
        "engine.key-columns": "user_id",
        "engine.max-staleness-batches": "3",
    }
    assert build_pipeline(spark, props).mode == "upsert"
    assert build_pipeline(spark, props | {"engine.scd2": "true"}).mode == "scd2"


def test_build_source_passes_nested_as_json(spark, tmp_path, monkeypatch):
    """debezium.sink.batch.nested-as-json reaches the parse."""
    from debezium_server_bigquery_spark.cli import build_source
    from debezium_server_bigquery_spark.sources import cdc

    seen = {}
    monkeypatch.setattr(cdc, "read_cdc_ndjson", lambda spark, path, **kw: seen.update(kw))
    props = {"engine.source": "ndjson", "engine.source.path": str(tmp_path)}
    for flag in ("true", "false"):
        build_source(spark, props | {"debezium.sink.batch.nested-as-json": flag})
        assert seen["nested_as_json"] is (flag == "true")


@pytest.mark.heavy
def test_run_upsert_from_properties(spark, sf_dir, tmp_path):
    conf = tmp_path / "application.properties"
    conf.write_text(
        "debezium.sink.type=bigquerystream\n"
        "debezium.sink.bigquerystream.upsert=true\n"
        "debezium.sink.bigquerystream.upsert-keep-deletes=false\n"
        f"engine.target-root={tmp_path / 'tgt'}\n"
        "engine.key-columns=user_id\n"
        "engine.n-buckets=8\n"
        "engine.max-staleness-batches=4\n"  # retired: ignored like any unknown key
        "engine.source=synthetic\n"
        f"engine.source.sf-dir={sf_dir}\n"
    )
    summary = run(str(conf), spark=spark)
    assert summary["mode"] == "upsert"
    assert summary["tables"]
    for t in summary["tables"]:
        assert summary["rows"][t] > 0


@pytest.mark.heavy
def test_run_ndjson_route_rejects_from_properties(spark, tmp_path):
    """engine.on-error=route + engine.rejects-destination: a poisoned line
    lands in the dead-letter table, clean events replicate (beyond-reference;
    the reference pipeline dies on the first unconvertible event)."""
    import json

    schema = {
        "type": "struct",
        "fields": [
            {"type": "int64", "field": "id"},
            {"type": "string", "optional": True, "field": "destination"},
            {"type": "int64", "optional": True, "field": "__ts_ms"},
            {"type": "string", "optional": True, "field": "__op"},
        ],
    }
    good = {"id": 1, "destination": "t1", "__ts_ms": 1700000000000, "__op": "c"}
    events = tmp_path / "events.ndjson"
    events.write_text(
        json.dumps({"schema": schema, "payload": good}) + "\n<<corrupt>>\n"
    )
    conf = tmp_path / "application.properties"
    conf.write_text(
        "debezium.sink.type=bigquerybatch\n"
        f"engine.target-root={tmp_path / 'tgt'}\n"
        "engine.source=ndjson\n"
        f"engine.source.path={events}\n"
        "engine.on-error=route\n"
        "engine.rejects-destination=_rejects\n"
    )
    summary = run(str(conf), spark=spark)
    assert summary["rows"]["t1"] == 1
    assert summary["rows"]["_rejects"] == 1


def test_streaming_restart_summary_lists_every_table(spark, tmp_path):
    """A streaming restart whose checkpoint has no new events still lists
    every destination under the target root, with its row count."""
    import json

    schema = {
        "type": "struct",
        "fields": [
            {"type": "int64", "field": "id"},
            {"type": "string", "optional": True, "field": "destination"},
            {"type": "int64", "optional": True, "field": "__ts_ms"},
            {"type": "string", "optional": True, "field": "__op"},
        ],
    }
    src = tmp_path / "src"
    src.mkdir()
    (src / "events.json").write_text("".join(
        json.dumps({"schema": schema, "payload": {
            "id": i, "destination": f"t{i % 2}", "__ts_ms": 1700000000000, "__op": "c"}})
        + "\n"
        for i in range(5)
    ))
    conf = tmp_path / "application.properties"
    conf.write_text(
        "debezium.sink.type=bigquerybatch\n"
        f"engine.target-root={tmp_path / 'tgt'}\n"
        "engine.source=ndjson\n"
        f"engine.source.path={src}\n"
        "engine.streaming=true\n"
        f"engine.checkpoint-dir={tmp_path / 'ckpt'}\n"
    )
    first = run(str(conf), spark=spark)
    assert first["rows"] == {"t0": 3, "t1": 2}
    again = run(str(conf), spark=spark)
    assert again["tables"] == ["t0", "t1"]
    assert again["rows"] == {"t0": 3, "t1": 2}


def test_build_pipeline_rejects_non_json_format(spark, tmp_path):
    """Serde parity: only JSON key/value format is supported
    (BaseChangeConsumer.java:96-102)."""
    base = {
        "debezium.sink.type": "bigquerybatch",
        "engine.target-root": str(tmp_path),
    }
    with pytest.raises(ValueError, match="debezium.format.value=avro"):
        build_pipeline(spark, base | {"debezium.format.value": "avro"})
    with pytest.raises(ValueError, match="debezium.format.key=protobuf"):
        build_pipeline(spark, base | {"debezium.format.key": "protobuf"})
    build_pipeline(spark, base | {"debezium.format.value": "JSON"})  # case-insensitive


def test_build_pipeline_maps_scd2_mode(spark, tmp_path):
    props = {
        "debezium.sink.type": "bigquerystream",
        "engine.target-root": str(tmp_path / "tgt"),
        "engine.key-columns": "user_id",
        "engine.scd2": "true",
    }
    assert build_pipeline(spark, props).mode == "scd2"
    # requires key columns
    props2 = dict(props)
    del props2["engine.key-columns"]
    with pytest.raises(ValueError, match="key-columns"):
        build_pipeline(spark, props2)


@pytest.mark.heavy
def test_run_scd2_from_properties(spark, sf_dir, tmp_path):
    conf = tmp_path / "application.properties"
    conf.write_text(
        "debezium.sink.type=bigquerystream\n"
        f"engine.target-root={tmp_path / 'tgt'}\n"
        "engine.key-columns=user_id\n"
        "engine.scd2=true\n"
        "engine.n-buckets=8\n"
        "engine.source=synthetic\n"
        f"engine.source.sf-dir={sf_dir}\n"
    )
    summary = run(str(conf), spark=spark)
    assert summary["mode"] == "scd2"
    assert summary["tables"]
    # the dimension tables keep history: version intervals present
    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline  # noqa: F401

    p = build_pipeline(
        spark,
        {
            "debezium.sink.type": "bigquerystream",
            "engine.target-root": str(tmp_path / "tgt"),
            "engine.key-columns": "user_id",
            "engine.scd2": "true",
            "engine.n-buckets": "8",  # the run's layout: table_for refuses others
        },
    )
    t = p.table_for(summary["tables"][0])
    cols = set(t.read().columns)
    assert {"valid_from", "valid_to", "is_current", "version_num"} <= cols


@pytest.mark.heavy
def test_optimize_compacts_and_zorders(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.cli import optimize
    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, mode="append", partition_type="MONTH")
    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    # several small appends fragment the partitions
    for e in range(3):
        t.append(cdc.filter(F.col("event_id") % 3 == e), epoch_id=e)
    before = t.read().count()
    frag = max(t.partition_file_counts().values())
    assert frag >= 3

    summary = optimize(
        path, max_files=0, zorder="user_id,event_id", spark=spark
    )
    assert summary["compacted_partitions"] >= 1
    t2 = ParquetTable(spark, path)
    assert t2.read().count() == before  # lossless rewrite
    assert max(t2.partition_file_counts().values()) == 1
    assert t2.zorder_cols == ["user_id", "event_id"]  # layout persisted to meta


def test_optimize_noop_below_threshold(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.cli import optimize
    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, mode="append")
    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    t.append(cdc.filter(F.col("event_id") < 100), epoch_id=0)
    summary = optimize(path, max_files=64, spark=spark)
    assert summary["compacted_partitions"] == 0


def test_optimize_zorder_forces_rewrite_on_tidy_table(spark, sf_dir, tmp_path):
    """A pure re-layout request (--zorder with no fragmentation) must
    still rewrite and persist: pre-fix, the default --max-files 8 silently
    no-opped on a tidy table and the layout never landed."""
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.cli import optimize
    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, mode="append")
    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    t.append(cdc.filter(F.col("event_id") < 200), epoch_id=0)  # tidy: 1 file/part
    summary = optimize(path, zorder="user_id,event_id", spark=spark)  # default max_files
    assert summary["compacted_partitions"] >= 1  # rewrote despite no fragmentation
    t2 = ParquetTable(spark, path)
    assert t2.zorder_cols == ["user_id", "event_id"]  # override persisted


def test_optimize_zorder_survives_a_later_pipeline_append(spark, tmp_path):
    """The z-order override ``optimize`` logs is the table's layout: a
    pipeline append afterwards keeps it, and the next compaction still
    lays partitions out by it."""
    import os

    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.cli import optimize
    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

    root = str(tmp_path / "tgt")
    batch = spark.range(40).select(
        F.lit("d").alias("destination"),
        "id",
        F.lit(1704067200000).alias("__ts_ms"),
        (F.lit(1000) + F.col("id")).alias("__source_ts_ms"),
        (F.col("id") * 1000).alias("__source_ts_ns"),
    )
    CdcPipeline(spark, root).process_batch(batch.filter("id < 20"), epoch_id=0)
    path = os.path.join(root, "d")
    optimize(path, zorder="id,__source_ts_ns", spark=spark)
    CdcPipeline(spark, root).process_batch(batch.filter("id >= 20"), epoch_id=1)
    t = ParquetTable(spark, path)
    assert t.zorder_cols == ["id", "__source_ts_ns"]
    assert t.read().count() == 40
    assert optimize(path, max_files=0, spark=spark)["compacted_partitions"] == 1
    assert ParquetTable(spark, path).zorder_cols == ["id", "__source_ts_ns"]


@pytest.mark.heavy
def test_reopened_handle_keeps_clustering_field(spark, tmp_path):
    """A handle on an existing table takes the clustering field from the
    log, so an ``optimize`` does not re-sort a custom-clustered table by
    the default field.  The field-addition and create-if-needed flags are
    the writer's policy: each handle keeps its own."""
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.operators.table import ParquetTable

    path = str(tmp_path / "t")
    t = ParquetTable(
        spark,
        path,
        key_cols=("user_id",),
        mode="upsert",
        clustering_field="event_type",
        allow_field_addition=False,
        create_if_needed=True,
    )
    df = spark.createDataFrame(
        [(1, "view", 100)], "user_id long, event_type string, __source_ts_ms long"
    )
    from debezium_server_bigquery_spark.operators.merge import merge_upsert

    merge_upsert(
        t, df.withColumn("__op", F.lit("c")), order_col="__source_ts_ms", epoch_id=0
    )
    t2 = ParquetTable(spark, path)
    assert t2.clustering_field == "event_type"
    assert t2.clustering_cols() == ["user_id", "event_type"]
    assert t2.allow_field_addition is True
    assert ParquetTable(spark, path, create_if_needed=False).create_if_needed is False


def test_optimize_expires_old_partitions(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.cli import optimize
    from debezium_server_bigquery_spark.operators.table import ParquetTable
    from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
    from debezium_server_bigquery_spark.sources.tables import load_table

    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, mode="append", partition_type="DAY")
    cdc = synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    t.append(cdc, epoch_id=0)
    months = sorted(
        d.split("=", 1)[1] for d in t.partition_file_counts()
    )
    assert len(months) >= 2, "need multiple day partitions to expire"
    keep_from = months[-1]
    summary = optimize(path, max_files=64, expire_before=keep_from, spark=spark)
    assert len(summary["expired_partitions"]) == len(months) - 1
    left = sorted(d.split("=", 1)[1] for d in t.partition_file_counts())
    assert left == [keep_from]


def test_docstring_lists_every_key_read():
    """Every property key ``cli.py`` reads is listed in its module
    docstring; a key built from a variable (``f"{sink}.partition-type"``)
    matches a listed key whose variable part is any one token."""
    import ast
    import re

    from debezium_server_bigquery_spark import cli

    with open(cli.__file__, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    listed = set(re.findall(r"``([^`\s]+)``", ast.get_docstring(tree)))

    def pattern(node):
        if isinstance(node, ast.Constant):
            return re.escape(node.value)
        return "".join(
            re.escape(v.value) if isinstance(v, ast.Constant) else r"\S+"
            for v in node.values
        )

    def is_props(node):
        return isinstance(node, ast.Name) and node.id == "props"

    keys = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and is_props(node.value)
        ):
            keys.append(node.slice)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "get"
            and is_props(node.func.value)
        ):
            keys.append(node.args[0])
    assert len(keys) > 30
    missing = [
        ast.unparse(k) for k in keys
        if not any(re.fullmatch(pattern(k), name) for name in listed)
    ]
    assert missing == []

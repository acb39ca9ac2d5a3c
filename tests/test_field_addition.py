"""allow-field-addition / create-if-needed parity.

Reference: BatchConsumerConfig.java:51-53 (batch default true),
StreamConsumerConfig.java:52-54 (stream default false) gate the schema
update (BatchBigqueryChangeConsumer.java:72,
StreamBigqueryChangeConsumer.java:291-300); create-if-needed
(StreamConsumerConfig.java:34-36) gates table creation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.cli import build_pipeline
from debezium_server_bigquery_spark.operators.merge import merge_upsert
from debezium_server_bigquery_spark.operators.table import ParquetTable


def _rows(spark, ids, extra=False):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id long, val string"
    ).select(
        "id",
        "val",
        F.to_timestamp(F.lit("2024-01-15T00:00:00")).alias("__ts_ms"),
        F.lit(0).cast("long").alias("__source_ts_ms"),
        F.lit(0).cast("long").alias("__source_ts_ns"),
        F.lit("u").alias("__op"),
    )
    if extra:
        df = df.withColumn("new_col", F.lit("surprise"))
    return df


def test_append_field_addition_disabled_drops_new_columns(spark, tmp_path):
    t = ParquetTable(
        spark, str(tmp_path / "t"), mode="append", allow_field_addition=False
    )
    t.append(_rows(spark, range(5)), epoch_id=0)
    t.append(_rows(spark, range(5, 10), extra=True), epoch_id=1)
    got = t.read()
    assert "new_col" not in got.columns
    assert got.count() == 10


def test_append_field_addition_default_evolves(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), mode="append")
    t.append(_rows(spark, range(5)), epoch_id=0)
    t.append(_rows(spark, range(5, 10), extra=True), epoch_id=1)
    got = t.read()
    assert "new_col" in got.columns
    assert got.filter(F.col("new_col").isNotNull()).count() == 5


def test_merge_field_addition_disabled_keeps_target_schema(spark, tmp_path):
    t = ParquetTable(
        spark,
        str(tmp_path / "t"),
        key_cols=["id"],
        mode="upsert",
        n_buckets=4,
        allow_field_addition=False,
    )
    merge_upsert(t, _rows(spark, range(5)), epoch_id=0)
    merge_upsert(t, _rows(spark, range(3, 8), extra=True), epoch_id=1)
    got = t.read()
    assert "new_col" not in got.columns
    assert got.count() == 8


def test_emptied_table_still_exists_for_create_and_restriction(spark, tmp_path):
    """A table whose every row was deleted keeps its meta file: it EXISTS,
    so create-if-needed=false must not reject writes to it, and
    allow-field-addition=false must still restrict against the
    meta-recorded schema."""
    t = ParquetTable(
        spark,
        str(tmp_path / "t"),
        key_cols=["id"],
        mode="upsert",
        n_buckets=4,
        create_if_needed=False,
        allow_field_addition=False,
    )
    seed = ParquetTable(
        spark, str(tmp_path / "t"), key_cols=["id"], mode="upsert", n_buckets=4
    )
    merge_upsert(seed, _rows(spark, range(4)), epoch_id=0)
    # delete every row -> all bucket partitions dropped, meta survives
    deletes = _rows(spark, range(4)).withColumn("__op", F.lit("d"))
    merge_upsert(seed, deletes, epoch_id=1)
    assert seed.read().count() == 0 and t.exists()
    # strict table accepts new writes (it exists) and sheds unknown columns;
    # the re-insert is newer than the tombstones the table keeps (at an
    # equal timestamp a delete outranks an update and the key stays deleted)
    reinsert = _rows(spark, range(2), extra=True).withColumn(
        "__source_ts_ns", F.lit(1).cast("long")
    )
    merge_upsert(t, reinsert, epoch_id=2)
    got = t.read()
    assert got.count() == 2
    assert "new_col" not in got.columns


def test_create_if_needed_false_fails_on_missing_table(spark, tmp_path):
    t = ParquetTable(
        spark, str(tmp_path / "t"), mode="append", create_if_needed=False
    )
    with pytest.raises(ValueError, match="create-if-needed"):
        t.append(_rows(spark, range(5)), epoch_id=0)
    # existing table: writes proceed
    t2 = ParquetTable(spark, str(tmp_path / "t"), mode="append")
    t2.append(_rows(spark, range(5)), epoch_id=0)
    t.append(_rows(spark, range(5, 8)), epoch_id=1)
    assert t.read().count() == 8


def test_cli_per_sink_defaults(spark, tmp_path):
    batch = build_pipeline(
        spark,
        {
            "debezium.sink.type": "bigquerybatch",
            "engine.target-root": str(tmp_path / "b"),
        },
    )
    assert batch.allow_field_addition is True
    stream = build_pipeline(
        spark,
        {
            "debezium.sink.type": "bigquerystream",
            "engine.target-root": str(tmp_path / "s"),
        },
    )
    assert stream.allow_field_addition is False
    assert stream.create_if_needed is True
    overridden = build_pipeline(
        spark,
        {
            "debezium.sink.type": "bigquerystream",
            "debezium.sink.bigquerystream.allow-field-addition": "true",
            "debezium.sink.bigquerystream.create-if-needed": "false",
            "engine.target-root": str(tmp_path / "o"),
        },
    )
    assert overridden.allow_field_addition is True
    assert overridden.create_if_needed is False


def test_flags_are_the_writers_not_the_logged_layout(spark, tmp_path):
    """The flags are each handle's own: a table's log does not carry them,
    and an older log that does is read with those keys ignored."""
    import json
    import os

    path = str(tmp_path / "t")
    ParquetTable(spark, path, mode="append", allow_field_addition=False).append(
        _rows(spark, range(3)), epoch_id=0
    )
    entry = os.path.join(path, "_log", "0.json")
    with open(entry, encoding="utf-8") as fh:
        logged = json.load(fh)
    assert "allow_field_addition" not in logged["layout"]
    logged["layout"].update(allow_field_addition=False, create_if_needed=False)
    with open(entry, "w", encoding="utf-8") as fh:
        json.dump(logged, fh)
    t = ParquetTable(spark, path)  # a log as older writers left it
    assert (t.allow_field_addition, t.create_if_needed) == (True, True)
    t.append(_rows(spark, range(3, 6), extra=True), epoch_id=1)
    assert "new_col" in t.read().columns
    assert t.version() == 1  # the layout itself did not change
    with open(os.path.join(path, "_log", "1.json"), encoding="utf-8") as fh:
        assert "layout" not in json.load(fh)

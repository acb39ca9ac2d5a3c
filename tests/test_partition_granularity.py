"""Configurable time-partition granularity (BatchConsumerConfig.java:39-49,
StreamConsumerConfig.java:38-48 — partition-type HOUR/DAY/MONTH/YEAR)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from debezium_server_bigquery_spark.operators.table import PART_FORMATS, ParquetTable


def _batch(spark):
    return spark.createDataFrame(
        [
            Row(id=1, __ts_ms=1_700_000_000_000),  # 2023-11-14 22:13:20 UTC
            Row(id=2, __ts_ms=1_700_100_000_000),  # 2023-11-16 01:59:60-ish
            Row(id=3, __ts_ms=1_577_836_800_000),  # 2020-01-01 00:00:00 UTC
        ]
    )


EXPECTED = {
    "YEAR": {"__part_year=2023", "__part_year=2020"},
    "MONTH": {"__part_month=2023-11", "__part_month=2020-01"},
    "DAY": {
        "__part_day=2023-11-14",
        "__part_day=2023-11-16",
        "__part_day=2020-01-01",
    },
    "HOUR": {
        "__part_hour=2023-11-14-22",
        "__part_hour=2023-11-16-02",
        "__part_hour=2020-01-01-00",
    },
}


@pytest.mark.parametrize("ptype", sorted(PART_FORMATS))
def test_each_granularity_partitions_on_disk(spark, tmp_path, ptype):
    t = ParquetTable(spark, str(tmp_path / ptype), partition_type=ptype)
    t.append(_batch(spark))
    dirs = {
        d
        for d in os.listdir(tmp_path / ptype)
        if d.startswith(f"{t.partition_col()}=")
    }
    assert dirs == EXPECTED[ptype]
    assert t.read().count() == 3  # partition col stripped on read


def test_invalid_granularity_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="partition_type"):
        ParquetTable(spark, str(tmp_path / "x"), partition_type="WEEK")


def test_custom_partition_field(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(id=1, created_ms=1_700_000_000_000, __ts_ms=1_577_836_800_000)]
    )
    t = ParquetTable(
        spark,
        str(tmp_path / "pf"),
        partition_type="DAY",
        partition_field="created_ms",
    )
    t.append(df)
    assert any(
        d == "__part_day=2023-11-14" for d in os.listdir(tmp_path / "pf")
    )


def test_pipeline_refuses_a_table_laid_out_otherwise(spark, tmp_path):
    """An append pipeline restarted with partition-type DAY on a MONTH
    table refuses it: the shared append write partitions every destination
    by the pipeline's one partition column, and a DAY commit would make
    every later read fail on two partition columns."""
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

    root = str(tmp_path / "tgt")
    batch = spark.range(40).select(
        F.lit("d").alias("destination"),
        "id",
        (F.lit(1_700_000_000_000) + F.col("id") * 86_400_000).alias("__ts_ms"),
    )
    CdcPipeline(spark, root).process_batch(batch.filter("id < 20"), epoch_id=0)
    day = CdcPipeline(spark, root, partition_type="DAY")
    with pytest.raises(RuntimeError, match="laid out as"):
        day.process_batch(batch.filter("id >= 20"), epoch_id=1)
    t = ParquetTable(spark, os.path.join(root, "d"))
    assert t.partition_type == "MONTH"
    assert t.read().count() == 20

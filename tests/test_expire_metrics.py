"""Partition expiration + observed row counts in the commit log."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.table import ParquetTable


def _rows(spark, ids, month):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in ids], "id long, val string"
    ).select(
        "id",
        "val",
        F.to_timestamp(F.lit(f"{month}-15T00:00:00")).alias("__ts_ms"),
        F.lit(0).cast("long").alias("__source_ts_ms"),
    )


def test_expire_partitions_drops_old_months(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), mode="append")
    for m in ("2023-11", "2023-12", "2024-01", "2024-02"):
        t.append(_rows(spark, range(10), m), epoch_id=m)
    assert t.read().count() == 40

    expired = t.expire_partitions("2024-01")
    assert expired == ["2023-11", "2023-12"]
    got = t.read()
    assert got.count() == 20
    months = {
        r[0]
        for r in got.select(F.date_format("__ts_ms", "yyyy-MM")).distinct().collect()
    }
    assert months == {"2024-01", "2024-02"}
    # idempotent
    assert t.expire_partitions("2024-01") == []


def test_expire_refuses_upsert_tables(spark, tmp_path):
    t = ParquetTable(
        spark, str(tmp_path / "t"), key_cols=["id"], mode="upsert", n_buckets=4
    )
    t.append(_rows(spark, range(5), "2024-01"), epoch_id=0)
    with pytest.raises(ValueError, match="time-partitioned"):
        t.expire_partitions("2024-01")


def test_epoch_marker_records_observed_row_count(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), mode="append")
    t.append(_rows(spark, range(17), "2024-01"), epoch_id=7)
    entry = os.path.join(str(tmp_path / "t"), "_log", "0.json")
    with open(entry, encoding="utf-8") as fh:
        meta = json.load(fh)
    assert (meta["epoch"], meta["rows"]) == ("7", 17)
    assert sum(a[3] for a in meta["add"]) == 17  # per-file rows agree
    [m] = ParquetTable(spark, t.path).epoch_metrics()  # a fresh handle
    assert (m["epoch"], m["rows"], m["files_removed"]) == ("7", 17, 0)
    assert m["files_added"] == len(meta["add"]) and m["bytes_added"] > 0


def test_pipeline_metrics_surface(spark, tmp_path):
    """CdcPipeline.metrics(): per-(table, epoch) row counts read off the
    table commits — exact in append, upsert and lazy-upsert mode, and
    again from a new pipeline on the same root."""
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

    def batch(ids, ts):
        return (
            _rows(spark, ids, "2024-01")
            .withColumn("destination", F.lit("t1"))
            .withColumn("__op", F.lit("u"))
            .withColumn("__source_ts_ns", F.lit(ts).cast("long"))
        )

    def metrics(pipe):
        return {r["epoch"]: (r["rows"], r["rows_deleted"]) for r in pipe.metrics().collect()}

    kw = {"key_cols": ("id",), "n_buckets": 1}
    # (rows written, stored rows deleted) per epoch
    want = {
        # appends count the batch and delete nothing
        "append": {"0.0": (3, 0), "1.0": (2, 0), "2.0": (2, 0)},
        "upsert": {
            # the first MERGE writes the bucketed table
            "0.0": (3, 0),
            # a delta of the 2 winning rows; key 3's stored row is superseded
            "1.0": (2, 1),
            # key 4's older update loses, key 5 is new: a delta of 1 row
            "2.0": (1, 0),
        },
    }
    for mode, expect in want.items():
        root = str(tmp_path / mode)
        pipe = CdcPipeline(spark, root, mode=mode, **kw)
        pipe.process_batch(batch([1, 2, 3], 1), epoch_id=0)
        pipe.process_batch(batch([3, 4], 2), epoch_id=1)
        pipe.process_batch(batch([4, 5], 0), epoch_id=2)
        assert metrics(pipe) == expect, mode
        if mode == "append":
            assert sum(r for r, _ in expect.values()) == pipe.read_table("t1").count()
        else:
            assert pipe.read_table("t1").count() == 5
        # restart: a new pipeline reads the same counts back from the log
        again = CdcPipeline(spark, root, mode=mode, **kw)
        assert metrics(again) == expect, mode

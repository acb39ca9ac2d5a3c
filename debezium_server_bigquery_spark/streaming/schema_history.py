"""Schema-history store and in-batch schema grouping.

S8 parity — the reference keeps an append-only BigQuery table
``(id STRING, history_data STRING, record_insert_ts TIMESTAMP)`` of DDL
events, replayed ordered on startup (BigquerySchemaHistory.java:58-62,
116-141, 150-169).  Here it is an append-only parquet table: the target
tables' own schema versions are covered by parquet ``mergeSchema``, so the
history table is the *audit/replay* surface, exactly like the reference's.

R4 parity — within one destination's batch the reference groups events by
their embedded value schema so each upload carries a uniform schema
(``Collectors.groupingBy(RecordConverter::valueSchema)``,
BaseChangeConsumer.java:189-205).  In Spark a micro-batch DataFrame has a
single union schema; the per-event schema identity would have to ride
along as a ``__schema_fp`` fingerprint column, and grouping is a cheap
distinct over that column.  No source or pipeline step attaches that
column, so ``CdcPipeline`` gets one schema group per destination for
every batch its sources produce; only a caller that attaches
``__schema_fp`` itself gets the split.
"""

from __future__ import annotations

import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCHEMA_FP_COL = "__schema_fp"

_TS_LOCK = threading.Lock()
_LAST_TS_US = 0


def _next_ts_us() -> int:
    """Strictly monotonic microsecond wall-clock: recovery orders by
    ``record_insert_ts`` (the reference's contract), and two direct file
    writes can land in the same clock tick — the bump keeps replay order
    equal to insert order within this process."""
    global _LAST_TS_US
    with _TS_LOCK:
        now = time.time_ns() // 1000
        if now <= _LAST_TS_US:
            now = _LAST_TS_US + 1
        _LAST_TS_US = now
        return now


class SchemaHistory:
    """Append-only schema-history table (S8).

    Reference DDL: BigquerySchemaHistory.java:58-62; store:116-141;
    ordered recovery :150-169; ``LIMIT 5`` existence probe :185.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(self.path)
        )

    def store_record(self, destination: str, schema_json: str) -> None:
        """Append one DDL/schema-change record (storeRecord parity).

        One tiny file per DDL event — DDL is rare, so the small-file count
        is bounded by schema-change frequency, not data volume.  Written
        driver-side with pyarrow, not a Spark job: a one-row append is
        driver-rate work, and Spark's FileOutputCommitter shares one
        ``_temporary`` staging dir per target path, so two concurrent
        appends to the history table can corrupt each other's commit —
        a uniquely-named direct file write cannot.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        rec_id = str(uuid.uuid4())
        table = pa.table(
            {
                "id": pa.array([rec_id], pa.string()),
                "destination": pa.array([destination], pa.string()),
                "history_data": pa.array([schema_json], pa.string()),
                "record_insert_ts": pa.array([_next_ts_us()], pa.timestamp("us")),
            }
        )
        os.makedirs(self.path, exist_ok=True)
        pq.write_table(table, os.path.join(self.path, f"part-{rec_id}.parquet"))

    def recover_records(self) -> list[tuple[str, str]]:
        """Replay history ordered by insert ts (recoverRecords parity).

        Driver-side list is correct here: schema history is DDL-rate data
        (thousands of rows at most), the same single-node replay the
        reference does on startup.
        """
        if not self.exists():
            return []
        rows = (
            self.spark.read.parquet(self.path)
            .orderBy("record_insert_ts", "id")
            .select("destination", "history_data")
            # bounded-collect: schema-history records, O(DDL changes) not data
            .collect()
        )
        return [(r["destination"], r["history_data"]) for r in rows]

    def storage_exists_probe(self) -> bool:
        """The reference probes with ``SELECT * ... LIMIT 5`` (:185)."""
        if not self.exists():
            return False
        return len(self.spark.read.parquet(self.path).limit(5).take(5)) > 0


def schema_groups(df: DataFrame, fp_col: str = SCHEMA_FP_COL) -> list[tuple[str, DataFrame]]:
    """Split one destination's batch into uniform-schema sub-batches (R4).

    The distinct is micro-batch-bounded (schema versions per batch is ~1-2);
    each group is a filter over the cached batch, so at scale this adds no
    extra shuffle — same structure as the reference's groupingBy.
    Returns groups ordered by first-seen event order proxy (fingerprint of
    min ``__source_ts_ns`` if present, else fingerprint) so mid-batch DDL
    applies in event order (SURVEY §7 risk: process schema groups in order).
    """
    if fp_col not in df.columns:
        return [("", df)]
    order_col = (
        F.min("__source_ts_ns") if "__source_ts_ns" in df.columns else F.lit(0)
    )
    fps = [
        r[fp_col]
        # bounded-collect: O(distinct schema fingerprints) per batch
        for r in df.groupBy(fp_col).agg(order_col.alias("ord")).orderBy("ord", fp_col).collect()
    ]
    if len(fps) <= 1:
        return [(fps[0] if fps else "", df.drop(fp_col))]
    return [(fp, df.filter(F.col(fp_col) == fp).drop(fp_col)) for fp in fps]

"""Lazy upsert — BigQuery ``max_staleness`` parity (throughput mode).

The reference does NOT merge per batch: it appends ``_CHANGE_TYPE``-tagged
rows via the Storage Write API and lets BigQuery's CDC engine apply
upserts/deletes in the background, bounded by the table's
``max_staleness`` option (StreamRecordConverter.java:79-93; test
StreamBigqueryChangeConsumerMysqlUpsertTest.java:68-78).

Every MERGE here is already merge-on-read and O(batch) (operators/merge.py:
one delta file, deletion sets in the log), and reads are exact at any time.
``max_staleness`` maps onto the background work instead: ``apply`` MERGEs a
batch and runs the table's maintenance (``ParquetTable.maintain``: rewrite
half-deleted files, bin-pack deltas) once every ``staleness_batches`` table
versions; ``compact`` runs it now; ``read_current`` is the table's read.
All state is the table's commit log, where a replayed epoch is skipped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# dedup_last_writer is re-exported: perfbench/tracing.py wraps the name here.
from debezium_server_bigquery_spark.operators.dedup import dedup_last_writer  # noqa: F401
from debezium_server_bigquery_spark.operators.merge import merge_upsert
from debezium_server_bigquery_spark.operators.table import ParquetTable


class StagedUpsertTable:
    """An upsert table whose maintenance runs every N table versions."""

    def __init__(
        self,
        table: ParquetTable,
        *,
        staleness_batches: int = 4,
        keep_deletes: bool = False,
        order_col: str = "__source_ts_ns",
        tiebreak: tuple[str, ...] = (),
    ):
        if not table.key_cols:
            raise ValueError("lazy upsert requires key_cols (A4: use append)")
        if staleness_batches < 1:
            raise ValueError("staleness_batches must be >= 1")
        self.table = table
        self.staleness_batches = staleness_batches
        self.keep_deletes = keep_deletes
        self.order_col = order_col
        self.tiebreak = tuple(tiebreak)

    def apply(self, batch: DataFrame, epoch_id: int | str | None = None) -> None:
        """MERGE one micro-batch; maintain at the staleness bound."""
        if self.table.epoch_committed(epoch_id):
            return
        merge_upsert(
            self.table,
            batch,
            keep_deletes=self.keep_deletes,
            order_col=self.order_col,
            tiebreak=self.tiebreak,
            epoch_id=epoch_id,
        )
        if self.table.version() % self.staleness_batches == 0:
            self.compact()

    def compact(self) -> None:
        """Run the table's merge-on-read maintenance now."""
        self.table.maintain()

    def read_current(self) -> DataFrame:
        """Exact current state."""
        return self.table.read()

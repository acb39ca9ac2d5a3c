"""Names the benchmark's tracer wraps, and nothing else.

``perfbench/tracing.py`` binds ``StagedUpsertTable.apply``/``compact``/
``read_current`` and this module's ``merge_upsert``/``dedup_last_writer``
by attribute.  No engine code calls this module: every upsert MERGE
maintains its own table (``ParquetTable.write_delta``).  It goes when
that tracer next changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from debezium_server_bigquery_spark.operators.dedup import dedup_last_writer  # noqa: F401
from debezium_server_bigquery_spark.operators.merge import merge_upsert
from debezium_server_bigquery_spark.operators.table import ParquetTable


class StagedUpsertTable:
    """An upsert table's MERGE, maintenance and read."""

    def __init__(self, table: ParquetTable):
        self.table = table

    def apply(self, batch: DataFrame, epoch_id: int | str | None = None) -> None:
        merge_upsert(self.table, batch, epoch_id=epoch_id)

    def compact(self) -> int:
        return self.table.maintain()

    def read_current(self) -> DataFrame:
        return self.table.read()

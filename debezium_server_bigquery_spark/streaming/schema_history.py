"""Schema history and in-batch schema grouping.

S8 parity — the reference keeps an append-only BigQuery table
``(id STRING, history_data STRING, record_insert_ts TIMESTAMP)`` of DDL
events, replayed ordered on startup (BigquerySchemaHistory.java:58-62,
116-141, 150-169).  Here every schema change a destination lands is
already part of its table commit (the ``schema`` of a ``_log/<v>.json``
entry, published atomically with the data), so the history is read off
the destination logs: no second store, nothing to write, and no record of
a column set that never landed.  Only ``operators/table.py`` knows the
log format.

R4 — within one destination's batch the reference groups events by
their embedded value schema so each upload carries a uniform schema
(``Collectors.groupingBy(RecordConverter::valueSchema)``,
BaseChangeConsumer.java:189-205).  In Spark a micro-batch DataFrame has a
single union schema, so one write per destination already lands every
event's columns; ``CdcPipeline`` does not split its batches.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.table import ParquetTable, table_names

SCHEMA_FP_COL = "__schema_fp"


class SchemaHistory:
    """The schema history of the destinations under one target root (S8),
    recovered from their commit logs (recoverRecords parity,
    BigquerySchemaHistory.java:150-169)."""

    def __init__(self, spark: SparkSession, target_root: str):
        self.spark = spark
        self.target_root = target_root

    def recover_records(self) -> list[tuple[str, str]]:
        """``(destination, history_data)`` per logged schema, ordered by
        destination and then by log version.  ``history_data`` is the JSON
        ``{"columns": [{"name", "type"}, ...]}`` of the landed column set,
        sorted by name: the first write's, then one per write that added
        columns."""
        records = []
        for dest in table_names(self.target_root):
            table = ParquetTable(self.spark, os.path.join(self.target_root, dest))
            for schema in table.schema_history():
                cols = [
                    {"name": f.name, "type": f.dataType.simpleString()}
                    for f in sorted(schema.fields, key=lambda f: f.name)
                ]
                records.append((dest, json.dumps({"columns": cols}, sort_keys=True)))
        return records


def schema_groups(df: DataFrame, fp_col: str = SCHEMA_FP_COL) -> list[tuple[str, DataFrame]]:
    """Split one destination's batch into uniform-schema sub-batches (R4).

    No engine code calls this, and no source attaches ``fp_col``: it stays
    only because the benchmark's tracer (``perfbench/tracing.py``) binds it
    by attribute, and it goes when that tracer next changes.

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

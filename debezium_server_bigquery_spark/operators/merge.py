"""S5/A3/A4 — the upsert MERGE (SURVEY §2.1, §2.4).

The reference tags rows ``_CHANGE_TYPE`` UPSERT/DELETE and lets BigQuery's
CDC engine apply them by primary key in the background
(StreamRecordConverter.java:79-93; StreamBigqueryChangeConsumer.java:163-197).
Spark-native equivalent: merge-on-read into a key-bucketed parquet table
(operators/table.py) — no stored row is rewritten to apply a change.  One
Spark write action, and no action before it:

1. dedup the batch per PK (operators/dedup.py) — required, like Delta MERGE.
2. left-join it with a key-only probe of the live rows (key, order column,
   ``__op``, file name, row index): a batch row wins unless its key's
   stored row is strictly newer on ``(order_col, op priority)`` — the
   reference's "existing wins only if strictly newer... else replace"
   (ConcurrentHashMap.merge :212-218 keeps the new value on tie).
3. write the winners as ONE delta file; the positions of the stored rows
   they supersede, observed by the same job, are logged as deletion sets
   in the commit that adds the file and the epoch.
4. winning ``__op = 'd'`` rows are stored as tombstones either way, so an
   OLDER update arriving later loses to them; with ``keep_deletes``
   (upsert-keep-deletes, StreamConsumerConfig.java:71-73) readers see them
   flagged ``__deleted = true``, without it the table layout records that
   reads hide them.  Tombstones are never garbage-collected.

A MERGE into a table with no live files lands bucketed instead (the
table's one layout rule, ``ParquetTable.write_delta``).  That write ends
with the table's ``maintain()``, which bounds deltas and deletion sets,
so every MERGE keeps its own table in bounds, as SCD2 and IVM writes do
(the counterpart of BigQuery's ``max_staleness`` background work); a
replayed epoch is skipped whole.  ``compact()`` folds them back into
buckets.  PK-less tables fall back to append —
``doUpsert``/``doTableHasPrimaryKey`` parity
(StreamBigqueryChangeConsumer.java:163-174).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.coerce import OP_PRIORITY_SQL
from debezium_server_bigquery_spark.operators.dedup import dedup_last_writer
from debezium_server_bigquery_spark.operators.table import POS_FILE, POS_ROW, ParquetTable


def merge_upsert(
    table: ParquetTable,
    batch: DataFrame,
    *,
    keep_deletes: bool = False,
    order_col: str = "__source_ts_ns",
    tiebreak: tuple[str, ...] = (),
    epoch_id: int | str | None = None,
) -> None:
    """Apply one CDC micro-batch to ``table`` by primary key."""
    if not table.key_cols:
        # A4 — append fallback for PK-less destinations.
        table.append(batch, epoch_id=epoch_id)
        return
    if table.epoch_committed(epoch_id):
        return

    deduped = dedup_last_writer(
        batch, table.key_cols, order_col=order_col, tiebreak=tiebreak
    )
    # allow-field-addition gate: new batch columns are dropped instead of
    # evolving the target (StreamBigqueryChangeConsumer.java:300).
    src = table.restrict_to_live(table.with_partition_col(deduped))
    table.keep_deletes = keep_deletes
    live = table.read_raw(positions=True)
    if live is not None:
        probe = live.selectExpr(
            *[f"`{k}` AS `__p_{k}`" for k in table.key_cols],
            f"struct(`{order_col}`, {OP_PRIORITY_SQL}) AS __p_order",
            POS_FILE, POS_ROW,
        )
        same_key = " AND ".join(f"`{k}` <=> `__p_{k}`" for k in table.key_cols)
        newer = f"{POS_FILE} IS NULL OR struct(`{order_col}`, {OP_PRIORITY_SQL}) >= __p_order"
        src = src.join(probe, F.expr(same_key), "left").filter(newer)
        src = src.drop(*[f"__p_{k}" for k in table.key_cols], "__p_order")
    table.write_delta(src, epoch_id)

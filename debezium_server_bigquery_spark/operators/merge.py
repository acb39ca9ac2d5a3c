"""S5/A3/A4 — the upsert MERGE (SURVEY §2.1, §2.4).

The reference tags rows ``_CHANGE_TYPE`` UPSERT/DELETE and lets BigQuery's
CDC engine apply them by primary key in the background
(StreamRecordConverter.java:79-93; StreamBigqueryChangeConsumer.java:163-197).
Spark-native equivalent: an eager MERGE per micro-batch against a
key-bucketed parquet table — strictly stronger convergence than the
reference's ``max_staleness`` lazy apply (SURVEY §2.7 note).

Plan shape (all declarative, Catalyst picks physical ops):

1. dedup the batch per PK (operators/dedup.py) — required, like Delta MERGE.
2. bucket the batch by the same ``pmod(xxhash64(pk), n)`` as the table, and
   prune the target scan to **only the buckets present in the batch**
   (partition pruning on the parquet scan; at 100 TB a small batch touches
   a handful of buckets, not the table).
3. union target + batch with a source-rank column (target=0, batch=1) and
   re-run last-writer-wins — one hash aggregation, map-side combined.
   Batch rows beat target rows on exact ``(__source_ts_ns, op_priority)``
   ties, matching the reference comparator's "existing wins only if
   strictly newer... else replace" merge (ConcurrentHashMap.merge :212-218
   keeps the max, new value on tie).
4. delete semantics: winner rows with ``__op = 'd'`` are dropped unless
   ``keep_deletes`` (upsert-keep-deletes, StreamConsumerConfig.java:71-73),
   in which case they persist with ``__deleted = true``.
5. rewrite the affected buckets only, in one table commit that also
   records the epoch and the rows written (operators/table.py).

PK-less tables fall back to append — ``doUpsert``/``doTableHasPrimaryKey``
parity (StreamBigqueryChangeConsumer.java:163-174).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.dedup import dedup_last_writer
from debezium_server_bigquery_spark.operators.table import KEY_BUCKET, ParquetTable

_SRC_RANK = "__src_rank"


def merge_upsert(
    table: ParquetTable,
    batch: DataFrame,
    *,
    keep_deletes: bool = False,
    order_col: str = "__source_ts_ns",
    tiebreak: tuple[str, ...] = (),
    epoch_id: int | str | None = None,
) -> None:
    """Apply one deduplicated CDC micro-batch to ``table`` by primary key."""
    if not table.key_cols:
        # A4 — append fallback for PK-less destinations.
        table.append(batch, epoch_id=epoch_id)
        return
    if table.epoch_committed(epoch_id):
        return

    deduped = dedup_last_writer(
        batch, table.key_cols, order_col=order_col, tiebreak=tiebreak
    )
    src = table.with_partition_col(deduped)

    # Affected buckets: tiny driver-side list (<= n_buckets) that prunes the
    # target scan and bounds the partition rewrite.
    # bounded-collect: O(buckets) affected-bucket list; see comment above
    buckets = [r[0] for r in src.select(KEY_BUCKET).distinct().collect()]
    live = table.read_raw()
    # allow-field-addition gate: new batch columns are dropped instead of
    # evolving the target (StreamBigqueryChangeConsumer.java:300).
    src = table.restrict_to_live(src).withColumn(_SRC_RANK, F.lit(1))
    if live is not None:
        live = live.filter(F.col(KEY_BUCKET).isin(buckets)).withColumn(
            _SRC_RANK, F.lit(0)
        )
        merged = live.unionByName(src, allowMissingColumns=True)
    else:
        merged = src

    winner = dedup_last_writer(
        merged, table.key_cols + [KEY_BUCKET], order_col=order_col, tiebreak=(_SRC_RANK,)
    )
    if keep_deletes:
        # A3 keep-deletes: deleted rows stay, flagged __deleted=true.
        result = winner
    else:
        result = winner.filter(F.col("__op") != "d")
    table.overwrite_partitions(
        result.drop(_SRC_RANK), expected_partitions=buckets, epoch_id=epoch_id
    )

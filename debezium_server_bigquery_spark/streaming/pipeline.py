"""The end-to-end CDC replication pipeline (SURVEY §3).

One Structured Streaming query replaces the reference's consumer hierarchy:

    readStream(Debezium JSON / synthesized CDC rows)
      -> foreachBatch(epoch):                      # == handleBatch
           heartbeat filter (R2) -> tombstone drop (R5)
           -> destination rewrite (R3)
           -> per destination (R1):
                coerce to target schema
                -> append (S3)  |  dedup (A1/A2) + MERGE (S5)

Checkpointing subsumes the reference's BigQuery offset store (S7):
source offsets + sink commit log live in the checkpoint dir
(BigqueryOffsetBackingStore.java is replaced wholesale, SURVEY §1.5).
The epoch each table commit carries gives idempotent re-delivery on
restart.

Per-table writes run in a thread pool (T6 parity — the reference bounds
parallel uploads with a semaphore over virtual threads,
BaseChangeConsumer.java:83-86,209-274); each table's Spark jobs are
independent, and the local scheduler interleaves their stages.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.merge import merge_upsert
from debezium_server_bigquery_spark.operators.routing import (
    destinations_in,
    drop_tombstones,
    filter_heartbeats,
    rewrite_destination,
)
from debezium_server_bigquery_spark.operators.table import ParquetTable


class UploadCancelled(RuntimeError):
    """An upload thread observed the batch-timeout cancel flag and stopped
    at a safe point (between schema-group writes, or before starting)."""


@dataclass
class CdcPipeline:
    """Config mirrors the ``debezium.sink.*`` keys the reference exposes
    (CommonConfig/BatchConsumerConfig/StreamConsumerConfig)."""

    spark: SparkSession
    target_root: str
    # "append" (bigquerybatch) | "upsert" (bigquerystream+upsert:
    # merge-on-read MERGE per batch, table maintenance after each) |
    # "upsert_lazy" (max_staleness parity: the same MERGE, maintenance
    # every max_staleness_batches, operators/staged_upsert.py)
    mode: str = "append"
    key_cols: tuple[str, ...] = ()
    keep_deletes: bool = False  # debezium.sink.bigquerystream.upsert-keep-deletes
    # upsert_lazy only: table versions between maintenance passes — the
    # analog of BigQuery's table max_staleness interval
    max_staleness_batches: int = 4
    destination_regexp: str = ""  # debezium.sink.batch.destination-regexp
    destination_regexp_replace: str = ""
    # debezium.source.topic.heartbeat.prefix / .skip-consuming
    # (DebeziumConfig.java:82-88): heartbeat topics are skipped by default;
    # skip=False lets them replicate like any destination.
    heartbeat_prefix: str = "__debezium-heartbeat"
    heartbeat_skip: bool = True
    # debezium.sink.batch.nested-as-json (CommonConfig.java:24-26): when the
    # source runs without ExtractNewRecordState, sub-structs of the envelope
    # (before/after/source/transaction) land as JSON text columns.  Consumed
    # by the source parse (read_cdc_ndjson/read_cdc_kafka nested_as_json=) —
    # carried here so the CLI/table metadata reflect the configured mode.
    nested_as_json: bool = False
    # debezium.sink.<type>.cast-deleted-field (BatchConsumerConfig.java:69-71,
    # default true): when False the F8 "__deleted" string->BOOL cast is
    # skipped and the column lands as its wire STRING — parity for users
    # whose downstream expects the uncast column.
    cast_deleted_field: bool = True
    # Dead-letter table name (beyond-reference; the reference stops the
    # whole pipeline with a DebeziumException on any conversion failure,
    # ConsumerUtil/BaseChangeConsumer).  When a source running
    # ``on_error="route"`` emits __reject_reason, flagged rows are appended
    # to <target_root>/<rejects_destination> (raw bytes + reason + ingest
    # time) and clean rows continue — one poisoned record must not kill a
    # 1000-executor job.  None = rejects columns are an error to ship.
    rejects_destination: str | None = None
    concurrent_uploads: int = 4  # debezium.sink.batch.concurrent-uploads
    # debezium.sink.batch.concurrent-uploads.timeout-minutes
    # (CommonConfig.java:32-34): bound on the whole parallel upload batch;
    # expiry cancels pending tasks and fails the micro-batch (the epoch
    # replays, committed epochs make completed tables no-ops).
    concurrent_uploads_timeout_minutes: float = 60.0
    dedup_order_col: str = "__source_ts_ns"  # ...upsert-dedup-column
    dedup_tiebreak: tuple[str, ...] = ()  # extra deterministic ordering cols
    n_buckets: int = 32
    # debezium.sink.<type>.allow-field-addition: when False, new batch
    # columns never evolve a destination's schema (batch default true,
    # stream default false — the CLI applies the per-sink defaults).
    allow_field_addition: bool = True
    # debezium.sink.bigquerystream.create-if-needed: when False, a write
    # against a missing destination table fails instead of creating it.
    create_if_needed: bool = True
    # Append tables only: every N epochs, bin-pack destinations whose
    # partitions exceed auto_compact_max_files data files (0 = off).
    # BigQuery compacts its write-optimized storage in the background
    # (the reference never sees the cost); a parquet table must do it
    # explicitly or 2048-event micro-batch appends drown scans in
    # file-open overhead at scale.  Each compaction is one table commit,
    # so readers never observe a half-compacted partition, and a replayed
    # epoch just re-packs the same bytes.
    auto_compact_every: int = 0
    auto_compact_max_files: int = 8
    partition_type: str = "MONTH"  # debezium.sink.*.partition-type
    partition_field: str = "__ts_ms"  # debezium.sink.*.partition-field
    clustering_field: str = "__source_ts_ms"  # ...clustering-field
    # SMT-chain analog (SURVEY §2.8): user transforms applied in order to
    # each destination's slice before dedup/write.  The reference's only
    # row-shaping extensibility is Debezium's transform chain
    # (debezium.transforms*, DebeziumConfig.java:62-80) — config-only; here
    # the hook takes DataFrame -> DataFrame callables, which is where
    # pandas_udf stages become available for free.  Key "*" applies to every
    # destination; a destination-specific chain (keyed by the post-rewrite
    # destination name, e.g. "testc_inventory_events_p0") runs after the
    # global one.
    transforms: dict[str, list[Callable[[DataFrame], DataFrame]]] = field(
        default_factory=dict
    )
    # S8: when set, every destination's schema versions are recorded to an
    # append-only SchemaHistory table at this path as they are first seen
    # (the reference stores DDL events to its history table as the engine
    # applies them, BigquerySchemaHistory.java:116-141; here the recorded
    # unit is the landed column set — the parquet-native schema identity).
    # None = history off, matching the reference's optional history store.
    schema_history_path: str | None = None
    tables: dict[str, ParquetTable] = field(default_factory=dict)
    _lazy: dict = field(default_factory=dict)
    _schema_seen: dict = field(default_factory=dict)  # dest -> {col tuples}
    _schema_lock: threading.Lock = field(default_factory=threading.Lock)

    def table_for(self, destination: str) -> ParquetTable:
        # A4 parity: without key columns even an upsert-configured pipeline
        # runs append (doUpsert/doTableHasPrimaryKey,
        # StreamBigqueryChangeConsumer.java:163-174) — the table must then
        # be TIME-partitioned, not key-bucketed, or the append raises.
        upserting = self.mode in ("upsert", "upsert_lazy", "scd2") and bool(
            self.key_cols
        )
        if destination not in self.tables:
            self.tables[destination] = ParquetTable(
                self.spark,
                os.path.join(self.target_root, destination),
                key_cols=self.key_cols if upserting else (),
                mode="upsert" if upserting else "append",
                n_buckets=self.n_buckets,
                partition_type=self.partition_type,
                partition_field=self.partition_field,
                clustering_field=self.clustering_field,
                allow_field_addition=self.allow_field_addition,
                create_if_needed=self.create_if_needed,
            )
        return self.tables[destination]

    def lazy_for(self, destination: str):
        from debezium_server_bigquery_spark.operators.staged_upsert import (
            StagedUpsertTable,
        )

        if destination not in self._lazy:
            self._lazy[destination] = StagedUpsertTable(
                self.table_for(destination),
                staleness_batches=self.max_staleness_batches,
                keep_deletes=self.keep_deletes,
                order_col=self.dedup_order_col,
                tiebreak=self.dedup_tiebreak,
            )
        return self._lazy[destination]

    def compact_all(self) -> None:
        """upsert_lazy: run every destination's maintenance now."""
        for wrapper in self._lazy.values():
            wrapper.compact()

    def _coerce_meta(self, df: DataFrame) -> DataFrame:
        """Destination-table meta types (reference docs/configuration.md:56-59):
        ``__ts_ms``/``__source_ts_ms`` epoch-ms -> TIMESTAMP (F7),
        ``__deleted`` string -> BOOL (F8, unless ``cast_deleted_field`` is
        off — BatchConsumerConfig.java:69-71).  Applied only when the batch
        still carries wire types, so coerced and raw inputs land identically."""
        from pyspark.sql import types as T

        for c in ("__ts_ms", "__source_ts_ms"):
            if c in df.columns and isinstance(
                df.schema[c].dataType, (T.LongType, T.IntegerType)
            ):
                df = df.withColumn(c, F.timestamp_millis(F.col(c)))
        if (
            self.cast_deleted_field
            and "__deleted" in df.columns
            and isinstance(df.schema["__deleted"].dataType, T.StringType)
        ):
            df = df.withColumn("__deleted", F.col("__deleted").cast("boolean"))
        return df

    def _record_schema(self, destination: str, df: DataFrame) -> None:
        """S8: append this destination's schema to the history table the
        first time the column set is seen (DDL-rate, not row-rate: one
        tiny write per schema VERSION per destination, ever).  Upload
        threads share the seen-set, hence the lock; the store write itself
        is a one-row parquet append, safe from any thread."""
        import json

        from debezium_server_bigquery_spark.streaming.schema_history import (
            SchemaHistory,
        )

        cols = tuple(sorted(df.columns))
        with self._schema_lock:
            # the write stays inside the lock: concurrent appends to ONE
            # parquet path share a _temporary staging dir and corrupt each
            # other's commit — and history writes are DDL-rate, so
            # serializing them costs nothing
            seen = self._schema_seen.setdefault(destination, set())
            if cols in seen:
                return
            seen.add(cols)
            SchemaHistory(self.spark, self.schema_history_path).store_record(
                destination,
                json.dumps(
                    {
                        "columns": [
                            {"name": f.name, "type": f.dataType.simpleString()}
                            for f in sorted(df.schema.fields, key=lambda f: f.name)
                        ]
                    },
                    sort_keys=True,
                ),
            )

    def rejects_table(self) -> ParquetTable:
        """The dead-letter table (append-only, ingest-time partitioned)."""
        if self.rejects_destination is None:
            raise ValueError("rejects_destination is not configured")
        dest = self.rejects_destination
        if dest not in self.tables:
            self.tables[dest] = ParquetTable(
                self.spark,
                os.path.join(self.target_root, dest),
                key_cols=(),
                mode="append",
                partition_type=self.partition_type,
                partition_field="__ts_ms",
                clustering_field="",
            )
        return self.tables[dest]

    def _divert_rejects(self, batch: DataFrame, epoch_id) -> DataFrame:
        """Split a route-mode batch: flagged rows -> dead-letter table,
        clean rows continue.  No-op when the source ran on_error='fail'."""
        from debezium_server_bigquery_spark.sources.cdc import (
            REJECT_COL,
            REJECT_RAW_COL,
        )

        if REJECT_COL not in batch.columns:
            return batch
        if self.rejects_destination is None:
            raise ValueError(
                "batch carries __reject_reason (source on_error='route') "
                "but rejects_destination is not configured"
            )
        rejects = batch.filter(F.col(REJECT_COL).isNotNull())
        if not rejects.isEmpty():
            dest_col = (
                F.col("destination") if "destination" in batch.columns else F.lit(None)
            )
            raw_col = (
                F.col(REJECT_RAW_COL)
                if REJECT_RAW_COL in batch.columns
                else F.lit(None)
            )
            out = rejects.select(
                dest_col.cast("string").alias("source_destination"),
                F.col(REJECT_COL).alias("reject_reason"),
                raw_col.cast("string").alias("raw"),
                # Ingest-time partitioning: a malformed line has no usable
                # event time, and the DLQ is queried by "when did we see it".
                F.current_timestamp().alias("__ts_ms"),
            )
            self.rejects_table().append(
                out, epoch_id=None if epoch_id is None else f"{epoch_id}.rejects"
            )
        drop = [c for c in (REJECT_COL, REJECT_RAW_COL) if c in batch.columns]
        return batch.filter(F.col(REJECT_COL).isNull()).drop(*drop)

    # -- the micro-batch body (== handleBatch, BaseChangeConsumer.java:139) --
    def process_batch(self, batch: DataFrame, epoch_id: int | None = None) -> None:
        from debezium_server_bigquery_spark.sources.cdc import REJECT_COL

        # Route mode reads the batch three ways (reject probe, DLQ append,
        # clean path): cache the parsed source once so the scan + reject
        # detection don't run per consumer.
        routed_src = batch if REJECT_COL in batch.columns else None
        if routed_src is not None:
            routed_src.persist()
        try:
            self._process_batch_inner(batch, epoch_id)
        finally:
            if routed_src is not None:
                routed_src.unpersist()

    def _process_batch_inner(self, batch: DataFrame, epoch_id: int | None) -> None:
        batch = self._divert_rejects(batch, epoch_id)
        if self.heartbeat_skip:
            batch = filter_heartbeats(batch, self.heartbeat_prefix)
        batch = drop_tombstones(batch)
        batch = self._coerce_meta(batch)
        batch = rewrite_destination(
            batch, self.destination_regexp, self.destination_regexp_replace
        )
        dests = destinations_in(batch)
        if not dests:
            return
        # Cache the filtered batch once; each destination slice re-reads it.
        batch.persist()
        try:
            def upload(dest: str, should_abort=None) -> None:
                from debezium_server_bigquery_spark.streaming.schema_history import (
                    schema_groups,
                )

                part = batch.filter(F.col("destination") == dest).drop("destination")
                for fn in self.transforms.get("*", []) + self.transforms.get(
                    dest, []
                ):
                    part = fn(part)
                table = self.table_for(dest)
                # R4: uniform-schema sub-batches in event order (one group
                # unless the batch carries a __schema_fp column, which no
                # shipped source attaches).
                for gi, (_fp, group) in enumerate(schema_groups(part)):
                    # Between-jobs cancellation point: cancelJobGroup only
                    # kills a RUNNING job, so a timed-out thread sitting
                    # between two schema-group writes must refuse the next.
                    if should_abort is not None and should_abort():
                        raise UploadCancelled(
                            f"upload {dest} aborted before schema group {gi}"
                        )
                    # Composite epoch id: "epoch.group" can never collide
                    # across epochs (an int-arithmetic scheme like e*16+g
                    # would alias epoch e+1 group 0 once a batch carries >16
                    # schema groups, silently skipping real data on replay).
                    sub_epoch = (
                        None if epoch_id is None else f"{epoch_id}.{gi}"
                    )
                    # S8: record the group's schema before it lands, the
                    # way the reference stores a DDL event before applying
                    # it (first-seen per destination, so steady state pays
                    # one set lookup and zero writes)
                    if self.schema_history_path is not None:
                        self._record_schema(dest, group)
                    if self.mode == "upsert" and self.key_cols:
                        merge_upsert(
                            table,
                            group,
                            keep_deletes=self.keep_deletes,
                            order_col=self.dedup_order_col,
                            tiebreak=self.dedup_tiebreak,
                            epoch_id=sub_epoch,
                        )
                        table.maintain()
                    elif self.mode == "upsert_lazy" and self.key_cols:
                        self.lazy_for(dest).apply(group, epoch_id=sub_epoch)
                    elif self.mode == "scd2" and self.key_cols:
                        # history-preserving sink (operators/scd.py): every
                        # version survives with its validity interval
                        from debezium_server_bigquery_spark.operators.scd import (
                            scd2_merge_batch,
                        )

                        scd2_merge_batch(
                            table,
                            group,
                            order_col=self.dedup_order_col,
                            tiebreak=self.dedup_tiebreak,
                            epoch_id=sub_epoch,
                        )
                    else:
                        table.append(group, epoch_id=sub_epoch)

            if self.concurrent_uploads > 1 and len(dests) > 1:
                # invokeAll-with-timeout parity (BaseChangeConsumer.java
                # :243-270): wait for every per-table task up to the
                # configured bound, aggregate ALL failures (not just the
                # first), and surface timeouts as cancellations.  Expiry
                # cancels the stragglers' SPARK JOBS via a shared job group
                # AND trips a cancel flag the upload loop checks between
                # schema groups — a Python thread cannot be killed, but an
                # in-flight job dies cancelled and a between-jobs thread
                # refuses its next group, then the grace join below waits
                # for the stragglers to actually exit, so a replayed epoch
                # never runs concurrently with a zombie writer on the same
                # table (the remaining exposure is a thread hung past the
                # grace period, which is surfaced in the error).
                import uuid
                from concurrent.futures import wait

                sc = self.spark.sparkContext
                group = f"cdc-upload-{uuid.uuid4().hex[:8]}"
                cancelled = threading.Event()

                def grouped_upload(dest: str) -> None:
                    if cancelled.is_set():
                        raise UploadCancelled(f"upload {dest} cancelled before start")
                    sc.setJobGroup(group, f"upload {dest}", True)
                    try:
                        upload(dest, should_abort=cancelled.is_set)
                    finally:
                        sc.setJobGroup("", "")

                pool = ThreadPoolExecutor(max_workers=self.concurrent_uploads)
                try:
                    futures = {
                        pool.submit(grouped_upload, d): d for d in sorted(dests)
                    }
                    done, not_done = wait(
                        futures,
                        timeout=self.concurrent_uploads_timeout_minutes * 60.0,
                    )
                    failures: list[str] = []
                    first: BaseException | None = None
                    if not_done:
                        cancelled.set()
                        sc.cancelJobGroup(group)
                        # Grace join: give cancelled stragglers a bounded
                        # window to observe the dead job / flag and exit,
                        # so the epoch replay never overlaps their writes.
                        done2, still = wait(not_done, timeout=60.0)
                        done |= done2
                        not_done = still
                    for f in not_done:
                        f.cancel()
                        failures.append(
                            f"{futures[f]}: timed out after "
                            f"{self.concurrent_uploads_timeout_minutes} min "
                            "(thread still running past the 60 s grace join)"
                        )
                    for f in done:
                        exc = f.exception()
                        if exc is None:
                            continue
                        if isinstance(exc, UploadCancelled):
                            # Cancelled because the BATCH timed out: report
                            # it as the timeout it is, not a task failure.
                            failures.append(
                                f"{futures[f]}: timed out after "
                                f"{self.concurrent_uploads_timeout_minutes} "
                                f"min ({exc})"
                            )
                            continue
                        first = first or exc
                        failures.append(f"{futures[f]}: {exc}")
                    if failures:
                        raise RuntimeError(
                            "one or more parallel upload tasks failed: "
                            + "; ".join(sorted(failures))
                        ) from first
                finally:
                    pool.shutdown(wait=False, cancel_futures=True)
            else:
                for dest in sorted(dests):
                    upload(dest)
        finally:
            batch.unpersist()
        self._maybe_compact(epoch_id)

    def _maybe_compact(self, epoch_id) -> None:
        """Periodic small-files compaction for append destinations."""
        if (
            not self.auto_compact_every
            or not isinstance(epoch_id, int)
            or (epoch_id + 1) % self.auto_compact_every != 0
        ):
            return
        for table in self.tables.values():
            if table.mode == "append":
                table.compact(max_files_per_partition=self.auto_compact_max_files)

    # -- batch entry (bigquerybatch parity over a static DataFrame) ---------
    def run_batch(self, df: DataFrame) -> None:
        self.process_batch(df, epoch_id=None)

    # -- streaming entry ----------------------------------------------------
    def run_stream(
        self,
        source: DataFrame,
        checkpoint_dir: str,
        *,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        """Start the streaming query.  ``available_now=True`` drains the
        source then stops — the analog of MaxBatchSizeWait batching
        everything available (SURVEY §2.7 T3)."""
        writer = (
            source.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda df, eid: self.process_batch(df, eid))
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def metrics(self) -> DataFrame:
        """Per-(table, epoch) row counts as a DataFrame — the
        consumer-metrics analog (the reference exposes processed counts
        via Debezium MBeans; here they come from the table commits, exact
        and restart-surviving).  ``rows`` is what the epoch's commit wrote:
        the appended rows, or the rows of a MERGE's delta (the batch rows
        that won); ``rows_deleted`` is how many stored rows the commit
        superseded.  Covers the destinations this pipeline has opened."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("table_name", T.StringType()),
                T.StructField("epoch", T.StringType()),
                T.StructField("rows", T.LongType()),
                T.StructField("rows_deleted", T.LongType()),
            ]
        )
        recs = [
            {"table_name": dest, "epoch": m["epoch"], "rows": m["rows"],
             "rows_deleted": m["rows_deleted"]}
            for dest, table in sorted(self.tables.items())
            for m in table.epoch_metrics()
        ]
        return self.spark.createDataFrame(recs, schema)

    def read_table(self, destination: str) -> DataFrame:
        if destination == self.rejects_destination:
            return self.rejects_table().read()
        if self.mode == "upsert_lazy" and self.key_cols:
            return self.lazy_for(destination).read_current()
        return self.table_for(destination).read()

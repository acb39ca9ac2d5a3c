"""The end-to-end CDC replication pipeline (SURVEY §3).

One Structured Streaming query replaces the reference's consumer hierarchy:

    readStream(Debezium JSON / synthesized CDC rows)
      -> foreachBatch(epoch):                      # == handleBatch
           heartbeat filter (R2) -> tombstone drop (R5)
           -> meta-column coercion -> destination rewrite (R3)
           -> append: ONE write job for every destination (partitioned
                      by destination, R1), one commit per table (S3)
              | per destination (R1):
                dedup (A1/A2) + MERGE (S5)  |  SCD2  |  append

A keyed table maintains itself: each MERGE or SCD2 write ends with the
table's upkeep (``ParquetTable.write_delta``), the counterpart of
BigQuery's ``max_staleness`` background work, so the sink schedules none.

Checkpointing subsumes the reference's BigQuery offset store (S7):
source offsets + sink commit log live in the checkpoint dir
(BigqueryOffsetBackingStore.java is replaced wholesale, SURVEY §1.5).
The epoch each table commit carries gives idempotent re-delivery on
restart.

T6.  The reference runs one BigQuery Load Job per destination table, in
parallel (``groupingBy(destination)``, BaseChangeConsumer.java:144-145;
uploads :209-274), because a load job targets one table.  A Spark job
can write every table's files: an append batch is written once,
partitioned by destination and time partition, and each table then
adopts its own directory in its own log commit.  Per-table atomicity
comes from that commit, not from the job, and the per-table epoch guard
keeps a replay exactly-once.  Only batches that need one destination's
slice at a time take the per-destination path: keyed MERGE/SCD2,
transforms and ``allow_field_addition=False``.  That path routes with
one distinct query and writes the tables in a thread pool of up to
``concurrent_uploads`` (the reference bounds its uploads with a
semaphore over virtual threads, BaseChangeConsumer.java:83-86), whose
Spark jobs the local scheduler interleaves.  Either way the write phase,
the dead-letter write included, runs in one job group per batch, which
``concurrent_uploads_timeout_minutes`` closes: on expiry the group's
running jobs are cancelled and every later job in it, a retry included,
is refused, so once a batch has failed none of its writes can still
land.  The batch returns only after every thread it started has ended.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.merge import merge_upsert
from debezium_server_bigquery_spark.operators.routing import (
    destinations_in,
    drop_tombstones,
    filter_heartbeats,
    rewrite_destination,
)
from debezium_server_bigquery_spark.operators.retry import with_retry
from debezium_server_bigquery_spark.operators.table import ParquetTable, table_names


# "append" (bigquerybatch) | "upsert" (bigquerystream+upsert: merge-on-read
# MERGE per batch, operators/merge.py) | "scd2" (history-preserving sink,
# operators/scd.py)
MODES = ("append", "upsert", "scd2")

# The local properties a job group sets on the calling thread.
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
# The directory name Spark gives a null or empty partition value.
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# The layout fields that place a table's rows, by table mode: a table whose
# log disagrees with the pipeline's config on one of them is refused.
_PLACEMENT = {
    "upsert": ("mode", "key_cols", "n_buckets"),
    "append": ("mode", "partition_type", "partition_field"),
}


def _check_destinations(dests) -> None:
    """Raise ``ValueError`` unless every name in ``dests`` names a table
    directly under the target root.  A null, empty, ``.``/``..`` or
    ``/``-bearing destination (an event payload's, or one
    ``destination-regexp-replace`` made) would commit the root itself, a
    nested table that ``table_names`` does not list, or a table outside
    the root."""
    bad = sorted({repr(d) for d in dests if d in (None, "", ".", "..") or "/" in d})
    if bad:
        raise ValueError(
            "batch rows with a null, empty or path-like destination have no table: "
            + ", ".join(bad)
        )


@contextmanager
def _job_group(sc, group: str | None, description: str):
    """Run the body in job group ``group`` on the calling thread, then
    restore the thread's own group and description."""
    saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    sc.setJobGroup(group, description, True)
    try:
        yield
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


@dataclass
class CdcPipeline:
    """Config mirrors the ``debezium.sink.*`` keys the reference exposes
    (CommonConfig/BatchConsumerConfig/StreamConsumerConfig)."""

    spark: SparkSession
    target_root: str
    mode: str = "append"  # one of MODES
    key_cols: tuple[str, ...] = ()
    keep_deletes: bool = False  # debezium.sink.bigquerystream.upsert-keep-deletes
    destination_regexp: str = ""  # debezium.sink.batch.destination-regexp
    destination_regexp_replace: str = ""
    # debezium.source.topic.heartbeat.prefix / .skip-consuming
    # (DebeziumConfig.java:82-88): heartbeat topics are skipped by default;
    # skip=False lets them replicate like any destination.
    heartbeat_prefix: str = "__debezium-heartbeat"
    heartbeat_skip: bool = True
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
    # debezium.sink.batch.concurrent-uploads: most threads of the
    # per-destination path (the shared append write runs one job for
    # every destination).
    concurrent_uploads: int = 4
    # debezium.sink.batch.concurrent-uploads.timeout-minutes
    # (CommonConfig.java:32-34): bound on every batch's writes, the shared
    # append job or the per-destination uploads and the dead-letter write,
    # at any concurrent_uploads;
    # expiry cancels their Spark jobs, refuses any later one and fails the
    # micro-batch (the epoch replays, committed epochs make completed
    # tables no-ops).
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
    tables: dict[str, ParquetTable] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.mode not in MODES:
            raise ValueError(f"mode must be one of {', '.join(MODES)}; got {self.mode!r}")

    def _layout(self, keyed: bool) -> dict:
        """The layout this pipeline gives a table it creates."""
        return {
            "key_cols": list(self.key_cols) if keyed else [],
            "mode": "upsert" if keyed else "append",
            "n_buckets": self.n_buckets,
            "partition_type": self.partition_type,
            "partition_field": self.partition_field,
            "clustering_field": self.clustering_field,
        }

    def _table(self, path: str, keyed: bool = False) -> ParquetTable:
        """A handle on the table at ``path``, with this pipeline's layout
        if the write creates it."""
        return ParquetTable(
            self.spark,
            path,
            **self._layout(keyed),
            allow_field_addition=self.allow_field_addition,
            create_if_needed=self.create_if_needed,
        )

    def _keyed(self) -> bool:
        # A4 parity: without key columns even an upsert-configured pipeline
        # runs append (doUpsert/doTableHasPrimaryKey,
        # StreamBigqueryChangeConsumer.java:163-174) — the table must then
        # be TIME-partitioned, not key-bucketed, or the append raises.
        return self.mode in ("upsert", "scd2") and bool(self.key_cols)

    def table_for(self, destination: str) -> ParquetTable:
        """The handle this pipeline writes ``destination`` through.  A
        table's log fixes its layout (like the reference's ``getTable``,
        StreamBigqueryChangeConsumer.java:262-304), so one whose placement
        (``_PLACEMENT``) differs from this pipeline's config raises
        ``ValueError``: the shared append write partitions every
        destination by the pipeline's one partition column, and a keyed
        write routes its keys by its own key columns and bucket count.  A
        destination that names no table under the root raises too
        (``_check_destinations``)."""
        if destination not in self.tables:
            _check_destinations([destination])
            keyed = self._keyed()
            table = self._table(os.path.join(self.target_root, destination), keyed)
            layout = self._layout(keyed)
            want = {k: layout[k] for k in _PLACEMENT[layout["mode"]]}
            have = {k: getattr(table, k) for k in want}
            if have != want:
                raise ValueError(
                    f"table {destination} is laid out as {have}; this pipeline writes {want}"
                )
            self.tables[destination] = table
        return self.tables[destination]

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
        # The field-addition gate, keyed writes and transforms all work on
        # one destination's slice; plain appends of every destination share
        # one write.
        shared = not (self._keyed() or self.transforms or not self.allow_field_addition)

        def write() -> bool:
            # the dead-letter write is one of the batch's writes: it runs
            # inside the bound too
            clean = self._divert_rejects(batch, epoch_id)
            if self.heartbeat_skip:
                clean = filter_heartbeats(clean, self.heartbeat_prefix)
            clean = self._coerce_meta(drop_tombstones(clean))
            clean = rewrite_destination(
                clean, self.destination_regexp, self.destination_regexp_replace
            )
            return (self._append_all if shared else self._upload_each)(clean, epoch_id)

        landed = self._bounded(
            "upload of all destinations" if shared else "upload of each destination",
            write,
        )
        if landed:
            self._maybe_compact(epoch_id)

    def _bounded(self, what: str, write: Callable[[], bool]) -> bool:
        """Run ``write`` in a fresh job group that
        ``concurrent_uploads_timeout_minutes`` closes.

        On expiry the group's running jobs are cancelled and every later
        job submitted in it is refused, so no write and no retry of the
        batch starts after the bound, on any thread that joined the group.
        PySpark wraps only ``cancelJobGroup``, which cancels running jobs,
        so the timer calls the ``SparkContext`` method through the JVM
        handle.  A failure after expiry is raised as the timeout; the
        caller's job group and description are restored either way."""
        sc = self.spark.sparkContext
        group = f"cdc-upload-{uuid.uuid4().hex[:12]}"
        minutes = self.concurrent_uploads_timeout_minutes
        expired = threading.Event()

        def expire() -> None:
            expired.set()
            sc._jsc.sc().cancelJobGroupAndFutureJobs(group)

        timer = threading.Timer(minutes * 60.0, expire)
        with _job_group(sc, group, what):
            timer.start()
            try:
                return write()
            except Exception as exc:
                if expired.is_set():
                    raise RuntimeError(f"{what} timed out after {minutes} min") from exc
                raise
            finally:
                timer.cancel()
                timer.join()

    def _append_all(self, batch: DataFrame, epoch_id: int | None) -> bool:
        """Land every destination's rows in ONE Spark write job, then give
        each table its own log commit; returns whether any row landed.

        The job writes ``<target_root>/_tmp_<token>`` partitioned by
        destination and time partition, sorted within its partitions by
        both and the clustering columns, so Spark adds no sort of its own.
        It runs under the T7 retry budget.  Each ``destination=<name>``
        directory is then adopted by its table in sorted order
        (``ParquetTable.append_landed``), under the epoch ``"<epoch>.0"``; a
        table that already committed it adopts nothing.  Tables that refuse
        the rows (missing under create-if-needed=false, or laid out
        otherwise: ``table_for``) are reported together after the others
        commit, and a row whose destination names no table
        (``_check_destinations``: null, empty, or path-like) fails the
        batch before any commit."""
        landing = self._table(self.target_root)  # layout only; never committed
        part_col = landing.partition_col()
        out = landing.with_partition_col(batch)
        clustering = [c for c in landing.clustering_cols() if c in out.columns]
        out = out.sortWithinPartitions("destination", part_col, *clustering)
        token = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.target_root, f"_tmp_{token}")

        def attempt() -> None:
            shutil.rmtree(tmp, ignore_errors=True)
            landing.write_files(out, tmp, ["destination", part_col])

        try:
            with_retry(attempt, policy=landing.retry_policy, describe=f"write {tmp}")
            landed = {
                # Spark escapes ASCII specials as %XX (ExternalCatalogUtils
                # .escapePathName)
                unquote(d.split("=", 1)[1]): os.path.join(tmp, d)
                for d in os.listdir(tmp)
                if d.startswith("destination=")
            }
            _check_destinations(None if d == _NULL_PARTITION else d for d in landed)
            schema = batch.drop("destination").schema
            epoch = None if epoch_id is None else f"{epoch_id}.0"
            failures = []
            for dest in sorted(landed):
                try:
                    self.table_for(dest).append_landed(landed[dest], token, schema, epoch)
                except ValueError as exc:  # create-if-needed, layout
                    failures.append(f"{dest}: {exc}")
            if failures:
                raise RuntimeError("append failed for " + "; ".join(failures))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return bool(landed)

    def _upload_each(self, batch: DataFrame, epoch_id: int | None) -> bool:
        """Route the batch with one distinct query and write each
        destination's slice on its own, in a pool of up to
        ``concurrent_uploads`` threads that join the caller's job group;
        returns whether the batch had any destination."""
        dests = destinations_in(batch)
        if not dests:
            return False
        _check_destinations(dests)
        sc = self.spark.sparkContext
        job_group = sc.getLocalProperty("spark.jobGroup.id")
        # the shared append write's epoch form: replays of batches
        # committed by either path, or before this form was shared, match
        epoch = None if epoch_id is None else f"{epoch_id}.0"
        # Cache the filtered batch once; each destination slice re-reads it.
        batch.persist()
        try:
            def upload(dest: str) -> None:
                part = batch.filter(F.col("destination") == dest).drop("destination")
                for fn in self.transforms.get("*", []) + self.transforms.get(
                    dest, []
                ):
                    part = fn(part)
                table = self.table_for(dest)
                if self.mode == "upsert" and self.key_cols:
                    merge_upsert(
                        table,
                        part,
                        keep_deletes=self.keep_deletes,
                        order_col=self.dedup_order_col,
                        tiebreak=self.dedup_tiebreak,
                        epoch_id=epoch,
                    )
                elif self.mode == "scd2" and self.key_cols:
                    # history-preserving sink (operators/scd.py): every
                    # version survives with its validity interval
                    from debezium_server_bigquery_spark.operators.scd import (
                        scd2_merge_batch,
                    )

                    scd2_merge_batch(
                        table,
                        part,
                        order_col=self.dedup_order_col,
                        tiebreak=self.dedup_tiebreak,
                        epoch_id=epoch,
                    )
                else:
                    table.append(part, epoch_id=epoch)

            def grouped_upload(dest: str) -> None:
                with _job_group(sc, job_group, f"upload {dest}"):
                    upload(dest)

            # invokeAll parity (BaseChangeConsumer.java:243-270): wait for
            # every per-table task and aggregate ALL failures, not just the
            # first.  The batch timeout is the job group's (``_bounded``).
            workers = max(1, min(self.concurrent_uploads, len(dests)))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                futures = {pool.submit(grouped_upload, d): d for d in sorted(dests)}
            errors = {d: e for f, d in futures.items() if (e := f.exception())}
            if errors:
                raise RuntimeError(
                    "one or more parallel upload tasks failed: "
                    + "; ".join(f"{d}: {e}" for d, e in errors.items())
                ) from next(iter(errors.values()))
        finally:
            batch.unpersist()
        return True

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
        superseded.  Covers every table with a log under ``target_root``,
        whether or not this process has opened it."""
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
            for dest in table_names(self.target_root)
            for m in (
                self.tables.get(dest)
                or ParquetTable(self.spark, os.path.join(self.target_root, dest))
            ).epoch_metrics()
        ]
        return self.spark.createDataFrame(recs, schema)

    def read_table(self, destination: str) -> DataFrame:
        if destination == self.rejects_destination:
            return self.rejects_table().read()
        return self.table_for(destination).read()

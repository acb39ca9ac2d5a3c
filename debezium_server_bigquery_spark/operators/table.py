"""S6 — destination-table management over parquet (SURVEY §2.1).

The reference creates/evolves BigQuery tables with month partitioning on
``__ts_ms`` and PK+ts clustering (StreamBigqueryChangeConsumer.java:262-345,
BatchBigqueryChangeConsumer.java:69-77,103-110; BaseRecordConverter:181-223).

Spark-native equivalent: a directory-backed parquet table.

- **Append tables** partition by ``__part_month = date_format(__ts_ms,
  'yyyy-MM')`` -> readers get partition pruning on time predicates, the
  analog of BigQuery time partitioning.
- **Keyed tables** (upsert MERGE, SCD2 history, IVM state) partition by a
  stable key-hash bucket ``__kb = pmod(xxhash64(pk...), n_buckets)`` when
  a write leaves no earlier file live, or at compaction.  Every other
  keyed write is merge-on-read (``write_delta``): it adds ONE
  unpartitioned *delta* file (``delta/<token>-0.parquet``, ``__kb`` a data
  column) of its new rows, and its commit logs the positions (file, row
  index) of the stored rows they supersede as per-file *deletion sets*,
  which reads drop with one literal filter.  Every such write ends with
  ``maintain()``, which replaces bucket files once ``REWRITE_SHARE`` of
  their rows are deleted, and all deltas past ``MAX_DELTAS``, by one delta
  of their live rows; ``compact()`` folds all back into buckets.
- **Clustering** -> ``sortWithinPartitions(<partition col>, pk...,
  __source_ts_ms)`` before write, so parquet row-group min/max stats give data skipping on PK
  lookups — the BigQuery clustering analog.
- **Schema evolution** -> ``unionByName(allowMissingColumns=True)`` against
  the live schema; the table schema is the union of every batch's columns
  (reference: stream mode ALTERs the table :314-345; batch mode sets
  ALLOW_FIELD_ADDITION :72-77).

Commit log.  Each table keeps one append-only log, ``_log/<version>.json``.
An entry lists the data files it adds and removes (relative path,
partition value — null for a delta — bytes, rows), the row positions it
deletes per live file, the epoch it commits with the row count its files'
footers hold, and — only where they change — the schema and layout.
The log fixes the layout (``LAYOUT``): a handle adopts the logged one, so
its constructor arguments count only when its write creates the table,
and only an explicit override (``optimize``'s z-order, a MERGE's
keep-deletes) changes a logged field.  The table is the replay of its
log: a handle caches that snapshot and reads only newer entries, readers
scan exactly the live files with the logged schema (no directory
listing, no footer inference), and an epoch some entry carries is never
applied twice — Delta's ``txnAppId`` guard, the idempotent-sink half of
Structured Streaming's exactly-once contract.  A batch lands whole or not
at all, like the reference's one Load Job or one Storage Write commit.

Crash contract: a write puts its files under fresh names, then publishes
the next version with one atomic no-clobber create (temp file +
``os.link``).  Nothing the latest version references is deleted or
overwritten before the next version is published; the files a version
removes are deleted right after it.  A failure before the publish leaves
the previous version intact, and readers ignore the unreferenced files it
left behind; after the publish the commit is durable and a replay of its
epoch is skipped.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import threading
import uuid
from collections import Counter
from collections.abc import Iterable, Sequence
from contextlib import suppress

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_bigquery_spark.operators.retry import (
    DEFAULT_POLICY,
    RetryPolicy,
    with_retry,
)

log = logging.getLogger(__name__)

PART_MONTH = "__part_month"
KEY_BUCKET = "__kb"
LOG_DIR = "_log"
DELTA_DIR = "delta"
# The live row a scanned (or superseding) row stands for: file name and
# row index in that file (``_metadata.file_name``/``row_index``).
POS_FILE = "__pos_file"
POS_ROW = "__pos_row"
# Merge-on-read maintenance: rewrite a bucket file once this share of its
# rows is deleted; bin-pack the deltas once there are more than MAX_DELTAS.
REWRITE_SHARE = 0.5
MAX_DELTAS = 16

# Time-partition granularities, parity with the reference's partition-type
# HOUR/DAY/MONTH/YEAR (BatchConsumerConfig.java:39-49,
# StreamConsumerConfig.java:38-48 — BigQuery TimePartitioning types).
# Granularity-specific column names keep mixed-granularity writes from
# silently colliding in one partition column.
PART_FORMATS = {
    "YEAR": ("__part_year", "yyyy"),
    "MONTH": (PART_MONTH, "yyyy-MM"),
    "DAY": ("__part_day", "yyyy-MM-dd"),
    "HOUR": ("__part_hour", "yyyy-MM-dd-HH"),
}

# What a table's log fixes: a handle takes these from the logged layout.
# ``zorder_cols`` lays partitions out at compaction (operators/zorder.py);
# ``keep_deletes`` false makes reads hide the tombstones MERGEs store.
LAYOUT = ("key_cols", "mode", "n_buckets", "clustering_field", "partition_type",
          "partition_field", "zorder_cols", "keep_deletes")


def table_names(root: str) -> list[str]:
    """The tables directly under ``root`` (directories whose log has a
    first version), sorted by name."""
    if not os.path.isdir(root):
        return []
    return sorted(
        name for name in os.listdir(root)
        if os.path.isfile(os.path.join(root, name, LOG_DIR, "0.json"))
    )


class ParquetTable:
    """A destination table: parquet data files + their commit log.

    The log also records the layout (``LAYOUT``: primary key, partition
    mode, clustering and z-order columns) — Spark does not enforce
    constraints, but the engine tracks PK like the reference declares
    BigQuery ``tableConstraints`` (BaseRecordConverter.java:181-196).  The
    reference likewise fixes a table's layout when ``getTable`` creates it
    (StreamBigqueryChangeConsumer.java:262-304).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        key_cols: Sequence[str] = (),
        mode: str = "append",  # "append" (time parts) | "upsert" (key buckets)
        n_buckets: int = 32,
        clustering_field: str = "__source_ts_ms",
        partition_type: str = "MONTH",  # YEAR | MONTH | DAY | HOUR
        partition_field: str = "__ts_ms",
        retry_policy: RetryPolicy = DEFAULT_POLICY,
        allow_field_addition: bool = True,
        create_if_needed: bool = True,
    ):
        if partition_type not in PART_FORMATS:
            raise ValueError(
                f"partition_type must be one of {sorted(PART_FORMATS)}, "
                f"got {partition_type!r}"
            )
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.mode = mode
        self.n_buckets = n_buckets
        self.clustering_field = clustering_field
        self.partition_type = partition_type
        self.partition_field = partition_field
        # Compaction lays partitions out by these (see compact); set by
        # ``optimize --zorder``, whose compaction logs them.
        self.zorder_cols: list[str] = []
        # upsert-keep-deletes of this table's MERGEs; when false, read()
        # hides the tombstones it stores.
        self.keep_deletes = True
        # T7 — bounded driver-side retry around write actions; Spark task
        # retries cover executor failures, this covers whole-action faults
        # (operators/retry.py budgets mirror ConsumerUtil.java:134-147).
        self.retry_policy = retry_policy
        # The writer's policy, not the table's layout, so never logged.
        # Schema-evolution gate — allow-field-addition (batch default true,
        # BatchConsumerConfig.java:51-53; stream default false,
        # StreamConsumerConfig.java:52-54).  When off, new batch columns are
        # dropped at write, matching a BigQuery append against a table whose
        # schema was never ALTERed (the un-schema'd fields don't land).
        self.allow_field_addition = allow_field_addition
        # create-if-needed (StreamConsumerConfig.java:34-36): when off, a
        # write against a missing table fails instead of creating it.
        self.create_if_needed = create_if_needed
        # Log snapshot as of ``_version`` (-1: no table yet), advanced only
        # by _refresh, under _lock: readers on other threads (a parallel
        # read, a read during a streaming commit) may refresh this handle
        # while a write does.
        # _files maps each live file's relative path to [partition value,
        # bytes, rows] (partition value None: a delta), _dels each file's
        # deleted row positions; _epochs maps each committed epoch to what
        # its commit wrote, _schemas every logged schema in version order,
        # _layout the logged layout.
        self._lock = threading.Lock()
        self._version = -1
        self._files: dict[str, list] = {}
        self._dels: dict[str, set[int]] = {}
        self._frames: dict[bool, tuple] = {}  # see _scan
        self._epochs: dict[str, dict] = {}
        self._schema: T.StructType | None = None
        self._schemas: list[T.StructType] = []
        self._layout: dict | None = None
        self._refresh()

    # -- commit log --------------------------------------------------------
    def _layout_now(self) -> dict:
        return {k: getattr(self, k) for k in LAYOUT}

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.path, LOG_DIR, f"{version}.json")

    def _refresh(self) -> None:
        """Apply the log entries newer than the cached snapshot.  Entries
        are published whole (link of a finished temp file), so any entry
        that exists is complete."""
        with self._lock:
            while True:
                try:
                    with open(self._entry_path(self._version + 1), encoding="utf-8") as fh:
                        entry = json.load(fh)
                except FileNotFoundError:
                    return
                self._apply(entry)

    def _apply(self, entry: dict) -> None:
        add, remove = entry.get("add", []), entry.get("remove", [])
        dels = entry.get("del", {})
        for rel, *_ in remove:
            self._files.pop(rel, None)
            self._dels.pop(rel, None)
        for rel, *meta in add:
            self._files[rel] = meta
        for rel, rows in dels.items():
            self._dels.setdefault(rel, set()).update(rows)
        if "epoch" in entry:
            self._epochs[entry["epoch"]] = {
                "rows": entry["rows"],
                "rows_deleted": sum(len(rows) for rows in dels.values()),
                "files_added": len(add),
                "bytes_added": sum(a[2] for a in add),
                "files_removed": len(remove),
                "bytes_removed": sum(r[2] for r in remove),
            }
        if "schema" in entry:
            self._schema = T.StructType.fromJson(entry["schema"])
            self._schemas.append(self._schema)
        if "layout" in entry:
            # keys outside LAYOUT (older logs carried the writer's flags)
            # are ignored
            for k, v in entry["layout"].items():
                if k in LAYOUT:
                    setattr(self, k, v)
            self._layout = self._layout_now()
        self._version += 1

    def _commit(
        self,
        add: list[list] = (),
        remove: Iterable[str] = (),
        epoch_id: int | str | None = None,
        rows: int = 0,
        schema: T.StructType | None = None,
        dels: dict[str, list[int]] | None = None,
    ) -> None:
        """Publish the next version by one atomic no-clobber create, then
        delete the files it removes.  ``dels`` maps live files to the row
        positions this version deletes from them.  A version that would
        change nothing (no file, deletion, epoch, schema or layout) is not
        published.  A retried publish that finds its own entry already in
        place (the link landed, the call still failed) counts as done; a
        different entry there is a concurrent writer."""
        entry: dict = {}
        if epoch_id is not None:
            entry.update(epoch=str(epoch_id), rows=rows)
        if add:
            entry["add"] = add
        remove = [[rel, *self._files[rel]] for rel in remove]
        if remove:
            entry["remove"] = remove
        if dels:
            entry["del"] = {rel: sorted(rows) for rel, rows in sorted(dels.items())}
        if schema is not None and schema != self._schema:
            entry["schema"] = schema.jsonValue()
        if self._layout_now() != self._layout:
            entry["layout"] = self._layout_now()
        if not entry:
            return
        payload = json.dumps(entry, separators=(",", ":")).encode()
        final = self._entry_path(self._version + 1)
        tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
        os.makedirs(os.path.dirname(final), exist_ok=True)
        with open(tmp, "wb") as fh:
            fh.write(payload)

        def publish() -> None:
            try:
                os.link(tmp, final)
            except FileExistsError:
                with open(final, "rb") as fh:
                    if fh.read() != payload:
                        raise RuntimeError(
                            f"concurrent commit to {self.path} at {final}"
                        ) from None

        try:
            with_retry(publish, policy=self.retry_policy, describe=f"commit {self.path}")
        finally:
            with suppress(OSError):
                os.remove(tmp)
        self._refresh()
        # The new version no longer references these: delete them (and any
        # partition directory left empty).  A failure here loses nothing —
        # an unreferenced file is invisible to readers.
        for rel, *_ in remove:
            with suppress(OSError):
                os.remove(os.path.join(self.path, rel))
        for d in {rel.split("/", 1)[0] for rel, *_ in remove}:
            with suppress(OSError):
                os.rmdir(os.path.join(self.path, d))

    def exists(self) -> bool:
        self._refresh()
        return self._version >= 0

    def version(self) -> int:
        """Latest published log version (-1 when the table does not exist)."""
        self._refresh()
        return self._version

    def epoch_committed(self, epoch_id: int | str | None) -> bool:
        if epoch_id is None:
            return False
        self._refresh()
        return str(epoch_id) in self._epochs

    def epoch_metrics(self) -> list[dict]:
        """Committed epochs in commit order, as records ``{"epoch": str,
        "rows": int, "rows_deleted", "files_added", "bytes_added",
        "files_removed", "bytes_removed"}`` — the engine's consumer-metrics
        surface.  The reference polls Debezium MBeans for processed-row
        counts (MaxBatchSizeWait reads them, docs list the JMX names); here
        every commit persisted the row count its files' footers hold, so
        the metrics are exact, free, and survive restarts.  A keyed write
        counts the rows it wrote — a MERGE the batch rows that won,
        tombstones included; an SCD2 batch the recomputed history of the
        keys it touched — and, in ``rows_deleted``, the stored rows they
        superseded; a compaction counts every row of the partitions it
        rewrote."""
        self._refresh()
        return [{"epoch": e, **m} for e, m in self._epochs.items()]

    def schema_history(self) -> list[T.StructType]:
        """Every schema the log records, in version order: the first
        write's, then one per write that added columns (a column set that
        never landed is never logged)."""
        self._refresh()
        return list(self._schemas)

    def clustering_cols(self) -> list[str]:
        """<=3 PK columns + clustering field — BigQuery's 4-field limit,
        BaseRecordConverter.java:218-221."""
        cols = self.key_cols[:3]
        if self.clustering_field:
            cols = cols + [self.clustering_field]
        return cols

    # -- partitioning ------------------------------------------------------
    def partition_col(self) -> str:
        if self.mode == "upsert":
            return KEY_BUCKET
        return PART_FORMATS[self.partition_type][0]

    def with_partition_col(self, df: DataFrame) -> DataFrame:
        if self.mode == "upsert":
            if not self.key_cols:
                raise ValueError("upsert table requires key columns")
            bucket = F.pmod(
                F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(self.n_buckets)
            ).cast("int")
            return df.withColumn(KEY_BUCKET, bucket)
        part_col, fmt = PART_FORMATS[self.partition_type]
        if self.partition_field not in df.columns:
            return df.withColumn(part_col, F.lit("unknown"))
        ts = F.col(self.partition_field)
        if isinstance(
            df.schema[self.partition_field].dataType, (T.LongType, T.IntegerType)
        ):
            # raw (pre-coercion) rows carry epoch-ms; partition value must be
            # identical either way so a table can mix coerced/raw batches.
            ts = F.timestamp_millis(ts)
        part = F.date_format(ts, fmt)
        return df.withColumn(part_col, F.coalesce(part, F.lit("unknown")))

    # -- io ----------------------------------------------------------------
    def read(self) -> DataFrame:
        """Live rows without the partition column, and without the hidden
        tombstones of a table whose layout says ``keep_deletes`` false."""
        raw = self.read_raw()
        if raw is None:
            if self._schema is None:
                raise FileNotFoundError(f"no table log under {self.path}")
            # Table exists but holds zero data files (e.g. a MERGE deleted
            # every row): serve an empty frame with the last-known schema.
            return self.spark.createDataFrame([], self._schema)
        out = raw.drop(self.partition_col())
        if not self.keep_deletes:
            out = out.filter(F.col("__op") != "d")
        return out

    def read_raw(self, positions: bool = False) -> DataFrame | None:
        """Live rows including the partition column and any hidden
        tombstones (with ``positions``, also each row's ``POS_FILE`` and
        ``POS_ROW``), or None if the table holds no data files."""
        return self._scan(positions=positions)

    def _scan(self, rels: Iterable[str] | None = None, positions: bool = False):
        """Live rows of ``rels`` (default: every live file).  Exactly those
        files are scanned under the logged schema, so no footer-inference
        job runs and no directory is listed (session.py raises
        ``spark.sql.sources.parallelPartitionDiscovery.threshold`` so no
        listing job stats them either).  Bucket files take ``__kb`` from
        their paths (``basePath``, typed as a directory read infers it),
        deltas from their data.  Deleted positions are dropped by one
        filter on a literal map folded at plan time: no join, no extra job,
        and a table without deletions plans the bare scan.  The last bare
        scan of each kind is reused: bucket files change only at
        maintenance, so most reads build no new file index."""
        self._refresh()
        rels = list(self._files) if rels is None else list(rels)
        gone = {os.path.basename(r): sorted(self._dels[r]) for r in rels if self._dels.get(r)}
        undeleted = ("NOT coalesce(array_contains(element_at(from_json("
                     f"'{json.dumps(gone)}', 'map<string,array<bigint>>'), "
                     "_metadata.file_name), _metadata.row_index), false)")
        out = None
        for delta in (False, True):
            group = tuple(r for r in rels if (self._files[r][0] is None) == delta)
            if not group:
                continue
            hit = self._frames.get(delta)
            if hit is None or hit[0] != (group, self._schema):
                paths = [os.path.join(self.path, r) for r in group]
                if delta:
                    kb = T.StructField(KEY_BUCKET, T.IntegerType())
                    df = self.spark.read.schema(T.StructType(self._schema.fields + [kb]))
                else:
                    df = self.spark.read.schema(self._schema).option("basePath", self.path)
                hit = self._frames[delta] = ((group, self._schema), df.parquet(*paths))
            df = hit[1]
            if gone:
                df = df.filter(undeleted)
            if positions:
                df = df.selectExpr(
                    "*", f"_metadata.file_name AS {POS_FILE}", f"_metadata.row_index AS {POS_ROW}"
                )
            out = df if out is None else out.unionByName(df)
        return out

    def _cluster_sort(self, df: DataFrame, *cols, partitioned: bool = True) -> DataFrame:
        """``df`` sorted within its partitions by ``cols`` (default: the
        clustering columns), led by the partition column when the write is
        partitioned: Spark's planned write sorts by the partition column
        an input not already sorted by it, and that sort would replace
        this one."""
        cols = list(cols) or [c for c in self.clustering_cols() if c in df.columns]
        if partitioned:
            cols = [self.partition_col(), *cols]
        return df.sortWithinPartitions(*cols) if cols else df

    def _zorder(self, rows: DataFrame):
        """The z-value ``compact`` sorts the partitions it rewrites by: over
        ``zorder_cols`` (operators/zorder.py), so row-group stats prune on
        every listed column, with ranges from ``rows``, the rows being
        rewritten.  None with fewer than two of them present: compaction
        then keeps the clustering sort."""
        zcols = [c for c in self.zorder_cols if c in rows.columns]
        if len(zcols) < len(self.zorder_cols):
            # layout silently degrading is hard to diagnose — say so
            log.warning(
                "z-order columns %s missing from %s; falling back to "
                "lexicographic clustering",
                sorted(set(self.zorder_cols) - set(zcols)),
                self.path,
            )
        if len(zcols) < 2:
            return None
        from debezium_server_bigquery_spark.operators.zorder import (
            column_ranges,
            zvalue,
        )

        ranges = with_retry(
            lambda: column_ranges(rows, zcols),
            policy=self.retry_policy,
            describe=f"zorder-ranges {self.path}",
        )
        return zvalue(rows, zcols, ranges)

    def write_files(self, out: DataFrame, dest: str, cols: Sequence[str]) -> None:
        """The raw Spark write action, partitioned by ``cols`` (separable
        for fault injection)."""
        out.write.mode("overwrite").partitionBy(*cols).parquet(dest)

    def _check_creatable(self) -> None:
        """create-if-needed parity (StreamBigqueryChangeConsumer.java:291):
        a write against a missing table fails when creation is off."""
        if not self.exists() and not self.create_if_needed:
            raise ValueError(
                f"table {self.path} does not exist and create-if-needed is false"
            )

    def _land(self, out: DataFrame, partitioned: bool = True) -> tuple[list[list], list]:
        """Run the write action and ``_adopt`` its files; returns their log
        rows and the deleted positions the job observed.

        The job runs under the T7 retry budget.  When ``out`` carries
        ``POS_FILE``/``POS_ROW``, it collects the non-null positions with
        ``DataFrame.observe`` — no extra pass over the data — and writes
        neither those columns nor a row with a null partition value (a
        deletion only: the filter that drops it sits above the
        observation).  Files land in a private directory first: a failure
        at any step leaves the previous version whole."""
        self._check_creatable()
        part_col = self.partition_col()
        token = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.path, f"_tmp_{token}")
        cols = [part_col] if partitioned else []

        def attempt() -> Observation | None:
            # a failed attempt's files must not join the next one's
            shutil.rmtree(tmp, ignore_errors=True)
            if POS_FILE not in out.columns:
                self.write_files(out, tmp, cols)
                return None
            # fresh Observation per attempt: one Observation serves exactly
            # one action, and a failed job must not leave a stale metric
            o = Observation()
            pos = F.when(F.col(POS_FILE).isNotNull(), F.struct(POS_FILE, POS_ROW))
            rows = out.observe(o, F.collect_list(pos).alias("deleted"))
            rows = rows.filter(F.col(part_col).isNotNull()).drop(POS_FILE, POS_ROW)
            self.write_files(rows, tmp, cols)
            return o

        try:
            o = with_retry(attempt, policy=self.retry_policy, describe=f"write {self.path}")
            deleted = [] if o is None else o.get["deleted"]
            add = self._adopt(tmp, token, partitioned)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return add, deleted

    def _adopt(self, src: str, token: str, partitioned: bool = True) -> list[list]:
        """Move the non-empty parquet files a write job left under ``src``
        (in ``<partition column>=<value>`` directories, or directly when
        unpartitioned) into this table as ``<partition>/<token>-<n>``
        (``delta/<token>-<n>`` when unpartitioned), each counted from its
        footer; returns their log rows, for the caller to commit."""
        import pyarrow.parquet as pq

        part_col = self.partition_col()
        dirs = sorted(d for d in os.listdir(src) if d.startswith(f"{part_col}="))
        add: list[list] = []
        for d in dirs if partitioned else [""]:
            for name in sorted(os.listdir(os.path.join(src, d))):
                path = os.path.join(src, d, name)
                rows = name.endswith(".parquet") and pq.read_metadata(path).num_rows
                if not rows:
                    continue
                rel = f"{d or DELTA_DIR}/{token}-{len(add)}.parquet"
                meta = [d.split("=", 1)[1] if d else None, os.path.getsize(path), rows]
                os.makedirs(os.path.dirname(os.path.join(self.path, rel)), exist_ok=True)
                os.rename(path, os.path.join(self.path, rel))
                add.append([rel, *meta])
        return add

    def append_landed(
        self, src: str, token: str, schema: T.StructType, epoch_id: int | str | None = None
    ) -> None:
        """Adopt the partition directories a write job that served several
        tables at once left under ``src`` (see ``_adopt``) and publish them in
        one commit with ``epoch_id``, the row count their footers hold and
        the logged schema evolved by ``schema``.  A replay of a committed
        epoch adopts nothing: its files stay in ``src`` for the caller to
        drop."""
        if self.epoch_committed(epoch_id):
            return
        self._check_creatable()
        add = self._adopt(src, token)
        self._commit(add, (), epoch_id, sum(a[3] for a in add), self._schema_for(schema))

    def _schema_for(self, schema: T.StructType) -> T.StructType:
        """The logged schema evolved by the new columns of ``schema``."""
        known = self._schema.fields if self._schema is not None else []
        names = {f.name for f in known} | {self.partition_col(), POS_FILE, POS_ROW}
        return T.StructType(known + [f for f in schema.fields if f.name not in names])

    def _write(
        self,
        out: DataFrame,
        epoch_id: int | str | None,
        replace: Iterable[object] | None = None,
        remove: Iterable[str] = (),
        partitioned: bool = True,
    ) -> list[list]:
        """Land ``out`` (partitioned, or as deltas) and publish it in one
        commit, which also logs the positions in ``out``'s non-null
        ``POS_FILE``/``POS_ROW`` as deleted, removes the files in
        ``remove`` and, unless ``replace`` is None, every live file of the
        partitions ``out`` writes and of ``replace`` (one listed there that
        came back empty is replaced with nothing).  The commit's row count
        is the sum of the added files' footer counts.  Returns the log rows
        of the files it added."""
        add, deleted = self._land(out, partitioned)
        remove = list(remove)
        if replace is not None:
            parts = {a[1] for a in add} | {str(v) for v in replace}
            remove += [rel for rel, meta in self._files.items() if meta[0] in parts]
        by_name = {os.path.basename(rel): rel for rel in self._files}
        dels: dict[str, list[int]] = {}
        for name, row in deleted:
            dels.setdefault(by_name[name], []).append(row)
        self._commit(add, remove, epoch_id, sum(a[3] for a in add), self._schema_for(out.schema),
                     dels)
        return add

    def _one_delta(self, df: DataFrame) -> DataFrame:
        return self._cluster_sort(df.coalesce(1), partitioned=False)

    def write_delta(self, out: DataFrame, epoch_id=None, remove: Iterable[str] = ()) -> None:
        """A keyed write (``out`` carries ``__kb``) in one commit, which
        also logs the positions in ``out``'s non-null ``POS_FILE``/
        ``POS_ROW`` as deleted and removes ``remove``.  A row whose
        ``__kb`` is null is a deletion only and is not written.  One layout
        rule: when no live file survives the commit (the first write, a
        full replace) the rows land bucketed, one file per bucket;
        otherwise as ONE delta file.  Then ``maintain``: every keyed write
        keeps its own table in bounds, so no caller schedules upkeep."""
        remove = list(remove)
        if set(self.live_files()) - set(remove):
            self._write(self._one_delta(out), epoch_id, remove=remove, partitioned=False)
        else:
            self._write(self._cluster_sort(out.repartition(KEY_BUCKET)), epoch_id, remove=remove)
        self.maintain()

    def rows_of(self, keys: DataFrame) -> DataFrame | None:
        """Live rows, with positions, of the keys in ``keys`` (a small
        distinct frame of the key columns), or None if the table holds no
        data files.  The broadcast semi-join also matches each key's
        bucket, so dynamic partition pruning scans only the touched
        buckets' files (deltas are always read).  Spark plans that pruning
        only when the broadcast side carries a selective-looking
        predicate, hence the always-true bucket range filter."""
        live = self.read_raw(positions=True)
        if live is None:
            return None
        keys = self.with_partition_col(keys).filter(F.col(KEY_BUCKET) < self.n_buckets)
        return live.join(F.broadcast(keys), [*self.key_cols, KEY_BUCKET], "left_semi")

    def replace_rows(self, rows: DataFrame, stored: DataFrame | None, epoch_id=None) -> None:
        """Write ``rows`` in place of ``stored`` (from ``rows_of``) in one
        ``write_delta`` commit: one delta of ``rows``, with ``stored``'s
        positions riding as deletion-only rows.  The delta is shuffled to
        one partition, not coalesced, so the scans, joins and windows that
        feed it keep their parallelism."""
        out = self.with_partition_col(rows)
        if stored is not None:
            out = out.unionByName(stored.select(POS_FILE, POS_ROW), allowMissingColumns=True)
            out = out.repartition(1)
        self.write_delta(out, epoch_id)

    def restrict_to_live(self, df: DataFrame) -> DataFrame:
        """Drop columns the table does not know when field addition is
        disabled (BatchBigqueryChangeConsumer.java:72,
        StreamBigqueryChangeConsumer.java:300 gate the schema update)."""
        if self.allow_field_addition or not self.exists():
            return df
        known = set(self._schema.fieldNames()) | {self.partition_col()}
        extra = [c for c in df.columns if c not in known]
        return df.drop(*extra) if extra else df

    def append(self, df: DataFrame, epoch_id: int | str | None = None) -> None:
        """S3 analog — append a batch, evolving the table schema if the
        batch adds columns.  One commit carries the files, the epoch and
        the exact row count written; a replay of a committed epoch is
        skipped.  Columns the batch lacks read back as NULL."""
        if self.epoch_committed(epoch_id):
            return
        out = self.restrict_to_live(self.with_partition_col(df))
        self._write(self._cluster_sort(out), epoch_id)

    def live_files(self) -> list[str]:
        """Relative paths of the live data files, deltas included."""
        self._refresh()
        return list(self._files)

    def partition_file_counts(self) -> dict[str, int]:
        """Live data-file count per partition directory, from the log —
        partition count, not row count.  Deltas belong to no partition."""
        self._refresh()
        return Counter(rel.split("/", 1)[0] for rel, m in self._files.items() if m[0] is not None)

    def maintain(self) -> int:
        """Merge-on-read upkeep, run by ``write_delta`` after each keyed
        write; no Spark job unless a threshold is crossed.  Bucket files
        with at least ``REWRITE_SHARE`` of their rows deleted, and every
        delta once there are more than ``MAX_DELTAS``, are replaced in one
        commit by ONE delta of their live rows (even when that replaces
        every file: folding back into buckets is ``compact``'s).  A delta
        is not rewritten for wear: maintained after every write, the same
        half-deleted deltas would be rewritten again and again, and the
        bin-pack bounds them anyway.  A file whose rows are all deleted
        leaves by a commit that adds nothing.  Returns the number of files
        replaced."""
        self._refresh()
        gone = {rel: len(self._dels.get(rel, ())) for rel in self._files}
        worn = {rel for rel, m in self._files.items()
                if gone[rel] >= (m[2] if m[0] is None else REWRITE_SHARE * m[2])}
        deltas = [rel for rel, m in self._files.items() if m[0] is None]
        if len(deltas) > MAX_DELTAS:
            worn.update(deltas)
        live = [rel for rel in sorted(worn) if gone[rel] < self._files[rel][2]]
        if live:
            self._write(self._one_delta(self._scan(live)), None, remove=sorted(worn),
                        partitioned=False)
        elif worn:
            self._commit(remove=sorted(worn))
        return len(worn)

    def compact(
        self, max_files_per_partition: int = 8, files_per_partition: int = 1
    ) -> int:
        """Rewrite fragmented partitions into few large files.

        Every micro-batch append adds task-count files per touched
        partition; BigQuery compacts its write-optimized storage in the
        background (the reference never sees this cost), a parquet table
        must do it explicitly or scans drown in file-open overhead at
        scale.  One pass: select partitions holding more than
        ``max_files_per_partition`` data files, shuffle them once on the
        partition column (plus a bounded salt when one file per partition
        would be too big), and replace them in one commit like a MERGE —
        readers never observe a half-compacted partition.  A table with
        deltas or deletion sets is folded back whole into its buckets.
        A table with z-order columns gets its z-order (``_zorder``) only
        here, so writes never pay for it.  Returns the number of partitions compacted.
        """
        counts = self.partition_file_counts()
        deltas = [rel for rel, m in self._files.items() if m[0] is None]
        folding = bool(deltas or self._dels)
        values = [d.split("=", 1)[1] for d, n in counts.items()
                  if folding or n > max_files_per_partition]
        if not values and not folding:
            return 0
        part_col = self.partition_col()
        subset = self.read_raw()
        if not folding:
            subset = subset.filter(F.col(part_col).cast("string").isin(values))
        z = self._zorder(subset)
        if files_per_partition > 1:
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in (self.key_cols or subset.columns[:1])]),
                F.lit(files_per_partition),
            )
            subset = subset.repartition(F.col(part_col), salt)
        else:
            subset = subset.repartition(F.col(part_col))
        out = self._cluster_sort(subset) if z is None else self._cluster_sort(subset, z)
        add = self._write(out, None, replace=values, remove=deltas)
        return len(set(values) | {a[1] for a in add})

    def expire_partitions(self, keep_from: str) -> list[str]:
        """Drop time partitions strictly older than ``keep_from`` — the
        BigQuery time-partition *expiration* analog for append (audit-log)
        tables.  ``keep_from`` is a partition value in this table's
        granularity format (e.g. ``'2024-01'`` for MONTH): lexicographic
        comparison is chronological for every PART_FORMATS pattern.  A
        metadata-only operation (one commit removing their files);
        returns the expired partition values.  Upsert (key-bucketed)
        tables refuse: their partitions are not time.
        """
        if self.mode == "upsert":
            raise ValueError("expire_partitions applies to time-partitioned tables")
        self._refresh()
        expired = sorted(
            {m[0] for m in self._files.values() if m[0] != "unknown" and m[0] < keep_from}
        )
        if expired:
            self._commit(remove=[r for r, m in self._files.items() if m[0] in expired])
        return expired

    def backfill_time_partitions(
        self, df: DataFrame, partitions: Sequence[str]
    ) -> None:
        """Corrective rewrite of the named TIME partitions — the BigQuery
        partition-replacement (load with a partition decorator) analog for
        reprocessing: late corrections land by replacing whole partitions,
        untouched partitions never move.  ``df`` carries the table's
        logical columns; rows falling outside ``partitions`` are ignored
        (a correction feed may span more history than is being refilled).
        Upsert tables refuse — their partitions are key buckets, and the
        corrective path there is MERGE."""
        if self.mode == "upsert":
            raise ValueError(
                "backfill_time_partitions applies to time-partitioned tables"
            )
        part_col = self.partition_col()
        out = self.with_partition_col(df).filter(
            F.col(part_col).isin(list(partitions))
        )
        self.overwrite_partitions(out, expected_partitions=partitions)

    def overwrite_partitions(
        self,
        df: DataFrame,
        expected_partitions: Sequence[object] = (),
        epoch_id: int | str | None = None,
    ) -> None:
        """Replace whole partitions with the content of ``df`` — parquet-
        native copy-on-write, Hive ``INSERT OVERWRITE ... PARTITION`` style,
        in one log commit that also records ``epoch_id``; the backfill of
        time partitions.  Keyed tables change through ``write_delta``.

        ``df`` may read from this very table: the replaced files are
        deleted only after the new version is published.  A partition the
        caller intended to rewrite that came back empty
        (``expected_partitions``) is dropped — "replace with nothing" (the
        correction feed holds no row for it).
        """
        self._write(self._cluster_sort(df), epoch_id, replace=expected_partitions)

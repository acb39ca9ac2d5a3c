"""Lazy upsert — BigQuery ``max_staleness`` parity (throughput mode).

The reference does NOT merge per batch: it appends ``_CHANGE_TYPE``-tagged
rows via the Storage Write API and lets BigQuery's CDC engine apply
upserts/deletes in the background, bounded by the table's
``max_staleness`` option (StreamRecordConverter.java:79-93; test
StreamBigqueryChangeConsumerMysqlUpsertTest.java:68-78).  The eager
per-batch MERGE in operators/merge.py is strictly stronger; this module
adds the reference's actual cost model for high-throughput streams:

- ``apply`` — per-batch work is ONE bucketed append of the deduplicated
  batch into a staging area (no target scan, no rewrite).  At 100 TB/day
  this is the difference between O(batch) and O(batch + touched buckets)
  per micro-batch.
- ``compact`` — every ``staleness_batches`` batches (== max_staleness),
  one MERGE folds all staged rows into the base table and truncates
  staging: merge cost is amortized over N batches, and the per-bucket
  rewrite still prunes to the buckets staged rows touch.
- ``read_current`` — exact up-to-the-instant upsert semantics at any
  time: base ∪ staging, one last-writer-wins hash aggregation.  This is
  *stronger* than BigQuery reads under max_staleness, which may serve
  stale state; readers that can tolerate staleness read the base table
  directly (the true parity read path).

Ordering across staged batches follows the same comparator as the eager
path — ``(order_col, op-priority)`` with a monotone ``__stage_seq`` tie
break so a later micro-batch beats an earlier one on exact ties, exactly
like consecutive eager merges (reference ConcurrentHashMap.merge keeps
the new value on ties, StreamBigqueryChangeConsumer.java:212-218).

State lives in two commit logs (operators/table.py) and nowhere else.
The staging table's log holds the staged epochs, and its version numbers
are the stage sequence: a staged batch's ``__stage_seq`` is the version
its append takes, and truncating staging is one commit that removes every
file.  The base table's log holds the compactions: each compaction MERGE
commits the epoch ``__compact_<v>``, where ``v`` is the version its
staging truncation takes, so the largest such ``v`` says how far staging
has been folded in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.operators.dedup import dedup_last_writer
from debezium_server_bigquery_spark.operators.merge import merge_upsert
from debezium_server_bigquery_spark.operators.table import ParquetTable

_STAGE_SEQ = "__stage_seq"
_SRC_RANK = "__src_rank"
_COMPACT = "__compact_"


class StagedUpsertTable:
    """A base upsert table plus an append-only staging overlay."""

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
        # Sibling directory with a "_" prefix: table listings (and the
        # pipeline's destination walk) skip underscore-prefixed entries, so
        # the staging area never masquerades as a destination table.
        base = table.path.rstrip("/")
        self.staging = ParquetTable(
            table.spark,
            os.path.join(os.path.dirname(base), "_staging_" + os.path.basename(base)),
            key_cols=table.key_cols,
            mode="upsert",
            n_buckets=table.n_buckets,
            clustering_field=table.clustering_field,
        )

    # -- write path ---------------------------------------------------------
    def apply(self, batch: DataFrame, epoch_id: int | str | None = None) -> None:
        """Stage one micro-batch; auto-compact at the staleness bound.  The
        staged epoch rides in the staging commit, which survives the
        truncation, so a replay is skipped on either side of a compaction."""
        if self.staging.epoch_committed(epoch_id):
            return
        if self._pending_batches() < 0:
            # a compaction merged but never truncated staging: finish it
            # before staging more, so its rows are never merged twice
            self.compact()
        deduped = dedup_last_writer(
            batch, self.table.key_cols, order_col=self.order_col, tiebreak=self.tiebreak
        ).withColumn(_STAGE_SEQ, F.lit(self.staging.version() + 1))
        self.staging.append(deduped, epoch_id=epoch_id)
        if self._pending_batches() >= self.staleness_batches:
            self.compact()

    def _pending_batches(self) -> int:
        """Batches staged since the last compaction: staging versions past
        the one its truncation took."""
        through = max(
            (
                int(m["epoch"][len(_COMPACT):])
                for m in self.table.epoch_metrics()
                if m["epoch"].startswith(_COMPACT)
            ),
            default=-1,
        )
        return self.staging.version() - through

    def compact(self) -> None:
        """Fold all staged rows into the base table; truncate staging.

        The MERGE commits the epoch ``__compact_<v>`` with ``v`` the
        staging version the truncation will take, so a crash between the
        MERGE and the truncation replays as a no-op MERGE followed by the
        truncation.
        """
        staged = self.staging.read_raw()
        if staged is None:
            return
        winner = dedup_last_writer(
            staged,
            self.table.key_cols,
            order_col=self.order_col,
            tiebreak=(_STAGE_SEQ, *self.tiebreak),
        ).drop(_STAGE_SEQ, self.staging.partition_col())
        merge_upsert(
            self.table,
            winner,
            keep_deletes=self.keep_deletes,
            order_col=self.order_col,
            tiebreak=self.tiebreak,
            epoch_id=f"{_COMPACT}{self.staging.version() + 1}",
        )
        self.staging.truncate()

    # -- read paths ---------------------------------------------------------
    def read_stale(self) -> DataFrame:
        """The reference's read under max_staleness: base table only."""
        return self.table.read()

    def read_current(self) -> DataFrame:
        """Exact current state: base overlaid with staged rows."""
        staged = self.staging.read_raw()
        if staged is None:
            return self.read_stale()
        base = self.table.read_raw()
        staged = staged.withColumn(_SRC_RANK, F.lit(1))
        if base is not None:
            base = base.withColumn(_SRC_RANK, F.lit(0)).withColumn(
                _STAGE_SEQ, F.lit(-1)
            )
            merged = base.unionByName(staged, allowMissingColumns=True)
        else:
            merged = staged
        winner = dedup_last_writer(
            merged,
            self.table.key_cols,
            order_col=self.order_col,
            tiebreak=(_SRC_RANK, _STAGE_SEQ, *self.tiebreak),
        )
        if not self.keep_deletes:
            winner = winner.filter(F.col("__op") != "d")
        return winner.drop(
            _SRC_RANK, _STAGE_SEQ, self.staging.partition_col()
        )

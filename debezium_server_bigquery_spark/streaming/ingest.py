"""Deduplicating document-ingest pipeline — the training-data composition.

Ties the LLM-pipeline operators into the shape a 100 TB corpus build
actually runs: documents arrive in micro-batches (a crawl drop, a stream),
each batch is (1) exact-deduplicated within itself, (2) near-dup-thinned
within itself (batch-sized band self-join, greedy keep-smallest),
(3) near-dup-probed against the accumulated corpus via the stored MinHash
band index
(functions/dedup_incremental.MinHashBandIndex — partition-pruned,
broadcast probe), and only novel documents are admitted: their rows append
to the corpus table and their band signatures append to the index, so the
next batch probes an up-to-date corpus without any rebuild.

Per-batch cost is proportional to the batch plus the index slice it can
collide with — never corpus x batch, never corpus x corpus.

Crash/replay contract: signatures append BEFORE rows, and the index is a
*conservative superset cache* — a candidate only counts as duplicate if
its corpus_doc actually exists in the corpus table (a doc_id semi-join;
column-pruned to one slim column).  A crash between the two appends
replays cleanly: the batch matches its own orphaned signatures, but those
corpus_docs are absent from the table, so the rows are still admitted
(duplicate signatures in the index are harmless — matching counts
DISTINCT bands).  The epoch each corpus commit carries makes full
replays no-ops.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debezium_server_bigquery_spark.functions.dedup_incremental import (
    EXACT_BAND,
    MinHashBandIndex,
)
from debezium_server_bigquery_spark.operators.table import ParquetTable


@dataclass
class DedupIngestPipeline:
    spark: SparkSession
    root: str  # holds corpus/ (ParquetTable) and mhindex/ (band index)
    # near-dup bar: a new doc sharing >= this many LSH bands with any
    # admitted doc is rejected (2 of 4 bands ~ moderate-similarity bar;
    # identical text shares all bands, so replays always self-eliminate).
    dup_bands: int = 2
    partition_field: str = "ts"
    _table: ParquetTable | None = field(default=None, repr=False)
    _index: MinHashBandIndex | None = field(default=None, repr=False)

    @property
    def table(self) -> ParquetTable:
        if self._table is None:
            self._table = ParquetTable(
                self.spark,
                os.path.join(self.root, "corpus"),
                mode="append",
                partition_field=self.partition_field,
                clustering_field="doc_id",
            )
        return self._table

    @property
    def index(self) -> MinHashBandIndex:
        if self._index is None:
            self._index = MinHashBandIndex(
                self.spark, os.path.join(self.root, "mhindex")
            )
        return self._index

    def _novel(self, batch: DataFrame, sigs: DataFrame) -> DataFrame:
        """Batch rows that survive in-batch exact dedup, in-batch near-dup
        thinning, and the corpus probe.  ``sigs`` is the batch's persisted
        :meth:`MinHashBandIndex.signatures` frame — computed ONCE by the
        caller and shared by the self-join and the index probe (the
        shingle/minhash pipeline is the dominant per-batch CPU)."""
        # (1) in-batch exact dedup, keep-first by doc_id (deterministic).
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # (2) in-batch NEAR-dup elimination: LSH-band self-join within the
        # batch (cost bounded by batch size, not corpus), greedy
        # keep-smallest — any doc with a smaller near-dup partner is
        # rejected, so no admitted pair can share >= dup_bands bands.
        # (Exact in-batch copies are already gone via the md5 window, so
        # the EXACT_BAND rows are excluded here.)
        lsh = sigs.filter(F.col("band") != EXACT_BAND)
        a, b = lsh.alias("a"), lsh.hint("shuffle_hash").alias("b")
        losers = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("keep"), F.col("b.doc_id").alias("doc_id")
            )
            .agg(F.count_distinct("a.band").alias("n"))
            .filter(F.col("n") >= self.dup_bands)
            .select("doc_id")
            .distinct()
        )
        batch = batch.join(losers, "doc_id", "left_anti")
        # (3) probe against the admitted corpus: near-dup by distinct LSH
        # bands OR exact full-content hash (catches identical docs too
        # short to shingle).
        if not os.path.isdir(self.index.path) or not self.table.exists():
            return batch  # first batch: nothing admitted yet
        matches = self.index.match_bands(sigs)
        # Truth filter: the index may hold orphaned signatures from a crash
        # between index append and row append — only matches whose corpus
        # doc was actually admitted count (doc_id-only columnar scan).
        admitted = self.table.read().select(F.col("doc_id").alias("corpus_doc"))
        dup_ids = (
            matches.join(admitted, "corpus_doc", "leftsemi")
            .filter(
                F.col("exact_match")
                | (F.col("n_shared_bands") >= self.dup_bands)
            )
            .select(F.col("new_doc").alias("doc_id"))
            .distinct()
        )
        return batch.join(dup_ids, "doc_id", "left_anti")

    # -- micro-batch body ---------------------------------------------------
    def process_batch(self, batch: DataFrame, epoch_id: int | None = None) -> None:
        if self.table.epoch_committed(epoch_id):
            return
        # One signature pass per batch, shared by the in-batch self-join,
        # the corpus probe, and the index append.
        sigs = self.index.signatures(batch.select("doc_id", "text")).persist()
        novel = self._novel(batch, sigs)
        novel.persist()
        try:
            if novel.limit(1).count() == 0:
                # still commit the epoch (zero rows): an all-duplicate
                # batch is done.
                self.table.append(novel, epoch_id=epoch_id)
                return
            # signatures BEFORE rows (see module docstring's crash/replay
            # contract): orphaned signatures are filtered by the corpus
            # membership check, whereas admitted-but-unindexed rows would
            # silently stop catching future duplicates.
            self.index.append_bands(
                sigs.join(novel.select("doc_id"), "doc_id", "leftsemi")
            )
            self.table.append(novel, epoch_id=epoch_id)
        finally:
            novel.unpersist()
            sigs.unpersist()

    def run_batch(self, df: DataFrame) -> None:
        self.process_batch(df, epoch_id=None)

    def run_stream(self, source: DataFrame, checkpoint_dir: str):
        """availableNow-drain a streaming document source."""
        return (
            source.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda df, eid: self.process_batch(df, eid))
            .trigger(availableNow=True)
            .start()
        )

    def corpus(self) -> DataFrame:
        return self.table.read()

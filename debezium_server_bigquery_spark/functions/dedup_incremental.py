"""Incremental (cross-corpus) MinHash dedup.

The dedup family in :mod:`dedup_fuzzy` compares a corpus against itself.
A production training-data pipeline rarely re-deduplicates the world: it
admits a NEW batch (today's crawl) against an EXISTING corpus, so the
operator it needs is "which new documents near-duplicate something we
already have" — candidate generation must stay banded (never new x corpus
all-pairs).

- :func:`dedup_incremental_minhash` — near-dup: one band self-join
  (signatures computed ONCE via ReusedExchange, parity predicates inside
  the join condition split corpus from new), then an exact
  shingle-Jaccard verification on the candidate pairs only.  Candidate +
  verify is the full near-dup pipeline: LSH recall, exact precision, and
  the expensive comparison never touches a non-candidate.
- :func:`dedup_cross_run_fingerprint_store` — exact: the batch probes a
  persisted fingerprint store with one equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.functions.dedup_fuzzy import (
    MINHASH_BAND_CTES,
    minhash_band_table,
    shingles,
)
from debezium_server_bigquery_spark.sources.tables import (
    checkpoint_parquet,
    load_table,
)

# Exact-Jaccard threshold for declaring a candidate a duplicate of the
# corpus (stricter than the pair-mining threshold in dedup_fuzzy: admission
# decisions drop data, so precision matters more than recall here).
INCR_DUP_THRESHOLD = 0.5


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New docs (odd doc_id) probed against the corpus (even doc_id).

    Plan: ONE signature pipeline feeds both join sides (shuffle-hash
    self-join -> ReusedExchange, parity split inside the join condition);
    candidates then verify with exact shingle Jaccard — array_intersect /
    array_union on the two docs' distinct-shingle arrays, fetched for
    candidate documents only.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bands = minhash_band_table(docs)
    a, b = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") % 2 == 1)  # a = the new batch
            & (F.col("b.doc_id") % 2 == 0),  # b = the stored corpus
        )
        .groupBy(
            F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("corpus_doc")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )
    sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    return (
        cand.join(sh.alias("n"), F.col("new_doc") == F.col("n.doc_id"))
        .join(sh.alias("c"), F.col("corpus_doc") == F.col("c.doc_id"))
        .select(
            "new_doc",
            "corpus_doc",
            "n_shared_bands",
            (
                F.size(F.array_intersect(F.col("n.sh"), F.col("c.sh")))
                / F.size(F.array_union(F.col("n.sh"), F.col("c.sh")))
            )
            .cast("double")
            .alias("jaccard"),
        )
        .withColumn("is_dup", F.col("jaccard") >= F.lit(INCR_DUP_THRESHOLD))
        .orderBy("new_doc", "corpus_doc")
    )


DEDUP_INCREMENTAL_SQL = f"""{MINHASH_BAND_CTES},
cand AS (
  SELECT a.doc_id AS new_doc, b.doc_id AS corpus_doc, COUNT(*) AS n_shared_bands
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig
   AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
  GROUP BY a.doc_id, b.doc_id
)
SELECT new_doc, corpus_doc, n_shared_bands,
  CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
    / len(list_distinct(list_concat(n.sh, c.sh))) AS jaccard,
  CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
    / len(list_distinct(list_concat(n.sh, c.sh))) >= {INCR_DUP_THRESHOLD} AS is_dup
FROM cand
JOIN shingled n ON cand.new_doc = n.doc_id
JOIN shingled c ON cand.corpus_doc = c.doc_id
ORDER BY new_doc, corpus_doc
"""


def dedup_cross_run_fingerprint_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run EXACT dedup against a persisted fingerprint store — the
    incremental-corpus-refresh admission gate (VERDICT r11 ask #4): a new
    crawl batch (odd doc_id) is checked against the fingerprints the LAST
    run persisted (even doc_id), then deduplicated within itself, and the
    per-source admission accounting is what a refresh pipeline reports.

    Output per source: batch size, exact duplicates of the store, extra
    in-batch copies (non-first occurrences of a fingerprint that is new to
    the store), admitted novel docs, and the novelty rate.

    Scale design (100 TB): the store is a PERSISTED one-column parquet
    table of distinct md5 fingerprints (``checkpoint_parquet`` — built
    once, re-read on every probe; in production it is the table the last
    run wrote).  The probe is one equi-join on the fingerprint — the
    batch shuffles once, the store never rebuilds — and the in-batch
    first-occurrence pass is a map-side-combinable ``min(doc_id)`` per
    fingerprint joined back on the same key (same exchange, AQE reuses
    it).  Per-source counts are an O(sources) aggregate.  Companion to
    :func:`dedup_incremental_minhash` (the NEAR-dup probe): real refreshes
    run the exact gate first because it is one hash cheaper per doc.
    """
    docs = load_table(spark, sf_dir, "documents")
    # NULL text fingerprints as the empty document (package convention —
    # see chunking/recipe): a NULL fingerprint would never equi-join.
    fp = F.md5(F.coalesce(F.col("text"), F.lit("")))
    store = checkpoint_parquet(
        docs.filter(F.col("doc_id") % 2 == 0).select(fp.alias("fp")).distinct(),
        "dsbq_fp_store_",
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", fp.alias("fp")
    )
    flagged = batch.join(
        store.withColumn("in_store", F.lit(True)), "fp", "left"
    ).select("doc_id", "source", "fp", F.coalesce("in_store", F.lit(False)).alias("dup_store"))
    firsts = (
        flagged.filter(~F.col("dup_store"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    lab = flagged.join(firsts, "fp", "left").select(
        "source",
        "dup_store",
        (~F.col("dup_store") & (F.col("doc_id") != F.col("first_doc"))).alias(
            "dup_batch"
        ),
    )
    return (
        lab.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("batch_docs"),
            F.sum(F.when(F.col("dup_store"), 1).otherwise(0))
            .cast("long")
            .alias("dups_vs_store"),
            F.sum(F.when(F.col("dup_batch"), 1).otherwise(0))
            .cast("long")
            .alias("dups_in_batch"),
            F.sum(F.when(~F.col("dup_store") & ~F.col("dup_batch"), 1).otherwise(0))
            .cast("long")
            .alias("admitted"),
        )
        .select(
            "source",
            "batch_docs",
            "dups_vs_store",
            "dups_in_batch",
            "admitted",
            F.round(
                F.col("admitted").cast("double") / F.col("batch_docs"), 6
            ).alias("novelty_rate"),
        )
        .orderBy("source")
    )


DEDUP_CROSS_RUN_SQL = """
WITH store AS (
  SELECT DISTINCT md5(coalesce(text, '')) AS fp FROM documents WHERE doc_id % 2 = 0
), batch AS (
  SELECT doc_id, source, md5(coalesce(text, '')) AS fp
  FROM documents WHERE doc_id % 2 = 1
), flagged AS (
  SELECT b.doc_id, b.source, b.fp, s.fp IS NOT NULL AS dup_store
  FROM batch b LEFT JOIN store s USING (fp)
), firsts AS (
  SELECT fp, MIN(doc_id) AS first_doc FROM flagged WHERE NOT dup_store GROUP BY fp
), lab AS (
  SELECT f.source, f.dup_store,
    (NOT f.dup_store AND f.doc_id <> fi.first_doc) AS dup_batch
  FROM flagged f LEFT JOIN firsts fi USING (fp)
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS batch_docs,
  CAST(SUM(CASE WHEN dup_store THEN 1 ELSE 0 END) AS BIGINT) AS dups_vs_store,
  CAST(SUM(CASE WHEN dup_batch THEN 1 ELSE 0 END) AS BIGINT) AS dups_in_batch,
  CAST(SUM(CASE WHEN NOT dup_store AND NOT dup_batch THEN 1 ELSE 0 END) AS BIGINT)
    AS admitted,
  round(CAST(SUM(CASE WHEN NOT dup_store AND NOT dup_batch THEN 1 ELSE 0 END)
    AS DOUBLE) / COUNT(*), 6) AS novelty_rate
FROM lab GROUP BY source ORDER BY source
"""


QUERIES = {
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "dedup_cross_run_fingerprint_store": dedup_cross_run_fingerprint_store,
}

ORACLES = {
    "dedup_incremental_minhash": DEDUP_INCREMENTAL_SQL,
    "dedup_cross_run_fingerprint_store": DEDUP_CROSS_RUN_SQL,
}

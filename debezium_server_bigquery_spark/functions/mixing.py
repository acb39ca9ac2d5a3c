"""Training-mix construction: domain reweighting and canonical-doc picks.

Two curation operators a large-scale training-data pipeline runs after
dedup and before tokenization (no reference analog — the reference
replicates tables 1:1; these extend the LLM-pipeline family of
functions/curation.py):

``mix_domain_weights`` — temperature-scaled sampling weights per source
domain: w_i = p_i^alpha / sum_j p_j^alpha over the token-share p_i, the
standard unigram-mix flattening (alpha<1 up-weights rare domains).  One
map-side-combinable aggregate over the corpus; the weight normalization
is a 20-row (one per domain) driver-free cross join — nothing here grows
with corpus size except the single scan.

``curate_canonical_docs`` — one representative per duplicate cluster:
the MinHash/LSH + connected-components cluster assignment reduced with
``max_by`` to the longest member (tiebreak: lowest doc_id), plus how
many near-dups it absorbed.  This is the actual *output* step of a
dedup pipeline: the kept corpus.  Scale shape: reuses the cluster
labels (bounded iterative join, see dedup_clusters.py) and adds one
map-side-combinable aggregate on cluster_id.

Cross-engine determinism: pow() may differ in the last ulp between libm
and the JVM, so weights are rounded to 12 dp and summed as DECIMAL
(order-independent, exact) before the final 6-dp division — ulp noise
cannot reach the compared digits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_server_bigquery_spark.functions.dedup_clusters import (
    DEDUP_CLUSTERS_SQL,
    connected_components,
)
from debezium_server_bigquery_spark.functions.dedup_fuzzy import dedup_minhash_lsh
from debezium_server_bigquery_spark.functions.text import word_count
from debezium_server_bigquery_spark.sources.tables import (
    checkpoint_parquet,
    load_table,
)

MIX_ALPHA = 0.3  # temperature: 1.0 = proportional, 0.0 = uniform


def mix_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token counts and alpha-scaled sampling weights.

    Output: (source, n_docs, n_tokens, p_raw, weight) where p_raw is the
    source's raw token share and weight the renormalized p_raw^alpha.
    """
    docs = load_table(spark, sf_dir, "documents")
    # checkpoint: the O(sources) aggregate is derived THREE more times
    # below (totals, the powed projection, the normalizer) and the
    # crossJoin(broadcast(agg)) chain re-executes the corpus scan + the
    # regexp tokenization once per derivation level (AQE's exchange
    # reuse does not cover the broadcast subtrees — measured 1.8x on
    # this query at sf0.1, round 12; see tools/plans.py scan).
    per_src = checkpoint_parquet(
        docs.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(word_count(F.col("text"))).alias("n_tokens"),
        ),
        "dsbq_mix_per_src_",
    )
    totals = per_src.agg(F.sum("n_tokens").alias("total_tokens"))
    # p^alpha rounded to 12 dp then summed exactly as DECIMAL: the
    # normalizer is order-independent, so Spark's arbitrary partial-agg
    # order and DuckDB's sequential sum agree bit-for-bit.
    powed = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("total_tokens")).alias("p_raw_d"),
        F.round(F.pow(F.col("n_tokens") / F.col("total_tokens"), F.lit(MIX_ALPHA)), 12)
        .cast(T.DecimalType(28, 12))
        .alias("p_alpha"),
    )
    norm = powed.agg(F.sum("p_alpha").alias("z"))
    return (
        powed.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("p_raw_d", 6).alias("p_raw"),
            # Divide as DOUBLE on both engines: the decimal sum z is exact
            # and order-independent, and double division of identical
            # inputs is IEEE-identical — decimal division would hit each
            # engine's own precision/scale rules instead.
            F.round(
                F.col("p_alpha").cast("double") / F.col("z").cast("double"), 6
            ).alias("weight"),
        )
        .orderBy("source")
    )


MIX_DOMAIN_WEIGHTS_SQL = rf"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
    SUM(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS n_tokens
  FROM documents GROUP BY source
),
powed AS (
  SELECT source, n_docs, n_tokens,
    n_tokens / (SELECT SUM(n_tokens) FROM per_src) AS p_raw_d,
    CAST(round(pow(n_tokens / (SELECT SUM(n_tokens) FROM per_src), {MIX_ALPHA}), 12)
         AS DECIMAL(28,12)) AS p_alpha
  FROM per_src
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
  round(p_raw_d, 6) AS p_raw,
  round(CAST(p_alpha AS DOUBLE) /
        CAST((SELECT SUM(p_alpha) FROM powed) AS DOUBLE), 6) AS weight
FROM powed ORDER BY source
"""


def curate_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kept corpus after fuzzy dedup: per duplicate cluster, the
    longest member (tiebreak lowest doc_id) and the number dropped.

    Only multi-member clusters appear — singletons pass through a real
    pipeline untouched, and emitting them here would make the result the
    whole corpus.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labels = connected_components(docs.select("doc_id"), pairs)
    member = labels.join(docs, "doc_id")
    agg = member.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        # max_by tiebreak: pack (n_chars, -doc_id) so equal lengths keep
        # the lowest id deterministically.
        F.max_by(
            F.col("doc_id"), F.struct(F.col("n_chars"), -F.col("doc_id"))
        ).alias("kept_doc_id"),
        F.max("n_chars").alias("kept_n_chars"),
    )
    return (
        agg.filter(F.col("cluster_size") > 1)
        .select(
            "cluster_id",
            "kept_doc_id",
            "kept_n_chars",
            (F.col("cluster_size") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


CURATE_CANONICAL_SQL = f"""
WITH clustered AS (
  {DEDUP_CLUSTERS_SQL.replace("ORDER BY doc_id", "")}
),
member AS (
  SELECT c.doc_id, c.cluster_id, c.cluster_size, d.n_chars
  FROM clustered c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT cluster_id, cluster_size, doc_id, n_chars,
    ROW_NUMBER() OVER (PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM member
)
SELECT cluster_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
  CAST(cluster_size - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1 AND cluster_size > 1
ORDER BY cluster_id
"""


VOCAB_OVERLAP_TOP = 100  # report the most-overlapping source pairs


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard between every source pair — the domain-
    similarity matrix a mixture designer reads before setting weights
    (two sources with near-identical vocabularies are one domain for
    mixing purposes; `cross_source_dup_matrix` answers the same question
    at document granularity, this answers it at vocabulary granularity).

    Scale design: the corpus collapses to distinct (source, word) rows
    first (one hash aggregate, output bounded by Σ per-source vocab);
    the pair stage self-joins those postings on the word, so each word
    contributes at most C(df_sources, 2) ≤ C(|sources|, 2) rows — pair
    volume is vocab × sources², never corpus².  Per-source vocabulary
    sizes join back as a broadcast (|sources| rows).  All floats are
    final ratios of exact counts."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # checkpoint: the postings table feeds three branches (vocab sizes
    # and both self-join sides) — without it each branch re-runs the
    # explode + distinct over the corpus.  Output is bounded by
    # Σ per-source vocab (metadata-sized next to the corpus).
    sw = checkpoint_parquet(
        docs.select(
            "source",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word"),
        )
        .filter(F.length("word") > 0)
        .distinct(),
        "dsbq_vocab_postings_",
    )
    vocab = sw.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    a = sw.select(F.col("source").alias("source_a"), "word")
    b = sw.select(F.col("source").alias("source_b"), "word")
    inter = (
        a.join(b, "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    va = vocab.select(
        F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
    )
    vb = vocab.select(
        F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a",
            "source_b",
            "common",
            "vocab_a",
            "vocab_b",
            F.round(
                F.col("common")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("common"))
                .cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "source_a", "source_b")
        .limit(VOCAB_OVERLAP_TOP)
    )


SOURCE_VOCAB_OVERLAP_SQL = f"""
WITH sw AS (
  SELECT DISTINCT source, w.word
  FROM documents,
    unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> t <> '')) AS w(word)
),
vocab AS (SELECT source, COUNT(*) AS vocab FROM sw GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS common
  FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b, i.common,
  va.vocab AS vocab_a, vb.vocab AS vocab_b,
  round(i.common / CAST(va.vocab + vb.vocab - i.common AS DOUBLE), 6)
    AS jaccard
FROM inter i
JOIN vocab va ON i.source_a = va.source
JOIN vocab vb ON i.source_b = vb.source
ORDER BY jaccard DESC, i.source_a, i.source_b
LIMIT {VOCAB_OVERLAP_TOP}
"""


BUDGET_MULT = 2.0  # training-token budget as a multiple of corpus tokens
EPOCH_CAP = 4.0  # flag domains drawn more than ~4 epochs (repetition decay)


def epoch_repetition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoching plan for a token-budgeted training mix: given the
    temperature-scaled domain weights (same alpha as
    :func:`mix_domain_weights`, but over BPE pretokens — the unit the
    run actually spends) and a total budget of ``BUDGET_MULT`` x corpus
    pretokens, how many tokens each source contributes and how many
    EPOCHS of itself that draw implies.  Up-weighting a small domain is
    how a mix silently repeats it 10x — and repeated data decays in value
    well before that (the multi-epoch scaling literature puts the knee
    near ~4 epochs), so the plan flags every source drawn past
    ``EPOCH_CAP`` as needing either more data or a weight cap.

    Scale design (100 TB): one codegen'd scan into an O(sources)
    aggregate; the normalizer follows the mixing-module determinism
    convention (pow rounded to 12 dp, summed as DECIMAL — order-
    independent), and every downstream number is a fixed-order double
    expression over those exact values."""
    from debezium_server_bigquery_spark.functions.text import token_count_bpeish

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint: same derived-aggregate chain as mix_domain_weights —
    # without it the BPE-pretoken scan runs once per derivation level.
    per_src = checkpoint_parquet(
        docs.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count_bpeish(F.col("text"))).cast("long").alias("n_tokens"),
        ),
        "dsbq_epoch_per_src_",
    )
    totals = per_src.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    powed = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        "total_tokens",
        F.round(
            F.pow(F.col("n_tokens") / F.col("total_tokens"), F.lit(MIX_ALPHA)), 12
        )
        .cast(T.DecimalType(28, 12))
        .alias("p_alpha"),
    )
    norm = powed.agg(F.sum("p_alpha").alias("z"))
    weight = F.col("p_alpha").cast("double") / F.col("z").cast("double")
    drawn = weight * F.lit(BUDGET_MULT) * F.col("total_tokens").cast("double")
    epochs = drawn / F.col("n_tokens").cast("double")
    return (
        powed.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(weight, 6).alias("weight"),
            F.round(drawn, 2).alias("tokens_drawn"),
            F.round(epochs, 6).alias("epochs"),
            (epochs > F.lit(EPOCH_CAP)).alias("over_epoch_cap"),
        )
        .orderBy("source")
    )


EPOCH_REPETITION_SQL = rf"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)))
      AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), powed AS (
  SELECT source, n_docs, n_tokens,
    (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM per_src) AS total_tokens,
    CAST(round(pow(n_tokens / (SELECT SUM(n_tokens) FROM per_src), {MIX_ALPHA}), 12)
         AS DECIMAL(28,12)) AS p_alpha
  FROM per_src
)
SELECT source, n_docs, n_tokens,
  round(CAST(p_alpha AS DOUBLE) / CAST((SELECT SUM(p_alpha) FROM powed) AS DOUBLE), 6)
    AS weight,
  round(CAST(p_alpha AS DOUBLE) / CAST((SELECT SUM(p_alpha) FROM powed) AS DOUBLE)
        * {BUDGET_MULT} * CAST(total_tokens AS DOUBLE), 2) AS tokens_drawn,
  round(CAST(p_alpha AS DOUBLE) / CAST((SELECT SUM(p_alpha) FROM powed) AS DOUBLE)
        * {BUDGET_MULT} * CAST(total_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
    AS epochs,
  CAST(p_alpha AS DOUBLE) / CAST((SELECT SUM(p_alpha) FROM powed) AS DOUBLE)
        * {BUDGET_MULT} * CAST(total_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
    > {EPOCH_CAP} AS over_epoch_cap
FROM powed ORDER BY source
"""


QUERIES = {
    "mix_domain_weights": mix_domain_weights,
    "curate_canonical_docs": curate_canonical_docs,
    "source_vocab_overlap": source_vocab_overlap,
    "epoch_repetition_plan": epoch_repetition_plan,
}

ORACLES = {
    "mix_domain_weights": MIX_DOMAIN_WEIGHTS_SQL,
    "curate_canonical_docs": CURATE_CANONICAL_SQL,
    "source_vocab_overlap": SOURCE_VOCAB_OVERLAP_SQL,
    "epoch_repetition_plan": EPOCH_REPETITION_SQL,
}

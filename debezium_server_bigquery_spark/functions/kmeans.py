"""Lloyd's k-means over the ``embeddings`` table + SemDeDup-style
semantic dedup (cluster-confined near-duplicate removal).

- **kmeans_clusters** — a fixed, deterministic number of Lloyd
  iterations: seed centroids from the ``K`` lowest ``vec_id`` vectors,
  then alternate (assign to nearest centroid) / (recompute centroid as
  the cluster mean).  Every iteration is pure DataFrame algebra: the
  centroid table (k rows) is **broadcast** into a narrow per-row argmin
  (``min(struct(dist, cluster))`` — map-side combinable, no window
  shuffle), and the update is one posexplode + decimal-sum aggregation
  (map-side combines to k x dim rows per partition).  At 100 TB each
  iteration is one scan + one tiny agg shuffle; at the fixed ITERS used
  here the composed plan is shallow enough to run as-is (an open-ended
  iteration count would need a per-round checkpoint to bound plan depth).
- **semantic_dedup_pairs** — SemDeDup (Abbas et al., 2023,
  arXiv:2303.09540): near-duplicate pairs are only searched WITHIN a
  k-means cluster, so the quadratic pair scan is confined to cells of
  expected size n/k instead of the full corpus.  The pair join is an
  equi-join on ``cluster_id`` (never a cross join); at scale the
  assignment would be written ``partitionBy(cluster_id)`` and the scan
  becomes per-partition local.

Determinism (both engines bit-identical, so the hash gate holds):
distances fold left-to-right in double precision; centroid means are
exact decimal sums divided by counts; argmin ties break on the lower
cluster id via lexicographic struct comparison in Spark and an ordered
``row_number`` in DuckDB.

Beyond-reference operator (SURVEY §2 has no iterative algorithms): the
reference replicates tables only; this is the curation layer a training
pipeline needs on top (reference has no analog — cited per brief:
BaseChangeConsumer.java handles transport, never content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from debezium_server_bigquery_spark.functions.similarity import (
    _dot_sql,
    _sq_dist,
    _SQDIST_SQL,
    cosine,
    with_norm,
)
from debezium_server_bigquery_spark.sources.tables import load_table

K = 8
ITERS = 2  # centroid-update rounds; assignments run ITERS + 1 times
SEMDEDUP_COSINE = 0.3  # pairs at/above this cosine are near-duplicates


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast k rows, per-row argmin.

    ``min(struct(dist, cluster_id))`` is an ordinary aggregate — partial
    per-partition minima combine map-side, so the shuffle carries one row
    per (vec_id) per partition, not the k candidate rows a window rank
    would sort.  Ties (equal dist) break on the lower cluster id by the
    struct's lexicographic order.
    """
    scored = emb.crossJoin(broadcast(cents)).withColumn(
        "dist", _sq_dist(F.col("v"), F.col("centroid"))
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("dist"), F.col("cluster_id"))).alias("m"),
            F.first("v").alias("v"),
        )
        .select(
            "vec_id",
            "v",
            F.col("m.cluster_id").alias("cluster_id"),
            F.col("m.dist").alias("dist"),
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Cluster means: exact decimal sums (order-independent) / counts."""
    exploded = assigned.select(
        "cluster_id", F.posexplode("v").alias("pos0", "val")
    )
    per_pos = exploded.groupBy("cluster_id", "pos0").agg(
        (
            F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
            / F.count("*")
        ).alias("cval")
    )
    return per_pos.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "cval"))),
            lambda s: s["cval"],
        ).alias("centroid")
    )


def lloyd_kmeans(emb: DataFrame, k: int = K, iters: int = ITERS) -> DataFrame:
    """(vec_id, v, cluster_id, dist) after ``iters`` update rounds.

    ``emb`` must carry (vec_id, embedding); seeds are the ``k`` lowest
    vec_ids.  Returns the FINAL assignment (against the last centroids).
    """
    vecs = _vecs(emb)
    assigned = _assign(vecs, _seed(vecs, k))
    for _ in range(iters):
        assigned = _assign(vecs, _update(assigned))
    return assigned


def _vecs(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _seed(vecs: DataFrame, k: int) -> DataFrame:
    """Seed centroids: the ``k`` lowest vec_ids — genuinely the k lowest
    (orderBy + limit, a TakeOrdered of k rows), not ``vec_id < k``, so
    sparse or non-zero-based id spaces still yield exactly k seeds."""
    return (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cluster_id"), F.col("v").alias("centroid"))
    )


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return (
        lloyd_kmeans(emb)
        .select("vec_id", "cluster_id", F.round("dist", 6).alias("dist_sq"))
        .orderBy("vec_id")
    )


def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs confined to k-means cells (SemDeDup).

    Output: one row per (keep_id < drop_id) pair in the same cluster with
    cosine >= SEMDEDUP_COSINE.  The quadratic scan never leaves a cell.
    """
    emb = with_norm(load_table(spark, sf_dir, "embeddings", spread=True))
    assigned = lloyd_kmeans(emb).select("vec_id", "cluster_id")
    # checkpoint: both sides of the within-cell pair join read this frame —
    # without sharing, the unrolled Lloyd iteration chain executes twice
    # (O(rows x d) each).  This IS the "checkpoint table between the
    # clustering job and the pair scan" a corpus-scale run uses; a
    # scratch-parquet write also leaves nothing in the session cache after
    # the query materializes (the LM cache-lifetime fix).
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    sided = checkpoint_parquet(
        emb.join(assigned, "vec_id").select(
            "vec_id", "cluster_id", F.col("embedding").alias("e"), "norm"
        ),
        "dsbq_semdedup_",
    )
    a = sided.select(
        F.col("vec_id").alias("keep_id"),
        "cluster_id",
        F.col("e").alias("e_a"),
        F.col("norm").alias("n_a"),
    )
    b = sided.select(
        F.col("vec_id").alias("drop_id"),
        F.col("cluster_id").alias("cluster_b"),
        F.col("e").alias("e_b"),
        F.col("norm").alias("n_b"),
    )
    pairs = a.join(
        b,
        (F.col("cluster_id") == F.col("cluster_b"))
        & (F.col("keep_id") < F.col("drop_id")),
    )
    sim = cosine(F.col("e_a"), F.col("e_b"), F.col("n_a"), F.col("n_b"))
    return (
        pairs.withColumn("cos", sim)
        .filter(F.col("cos") >= SEMDEDUP_COSINE)
        .select(
            "cluster_id",
            "keep_id",
            "drop_id",
            F.round("cos", 6).alias("cosine_sim"),
        )
        .orderBy("cluster_id", "keep_id", "drop_id")
    )


# --------------------------------------------------------------------------
# DuckDB oracle: the identical iteration chain, unrolled as CTEs generated
# from the same ITERS constant so Spark and SQL can never drift apart.
# --------------------------------------------------------------------------
def _assign_cte(src_cents: str, out: str) -> str:
    d = _SQDIST_SQL.format(a="e.v", c="c.centroid")
    return f"""{out} AS (
  SELECT vec_id, v, cluster_id, dist FROM (
    SELECT e.vec_id, e.v, c.cluster_id, {d} AS dist,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {d}, c.cluster_id) AS rn
    FROM vecs e CROSS JOIN {src_cents} c)
  WHERE rn = 1)"""


def _update_cte(src_assign: str, out: str) -> str:
    return f"""{out} AS (
  SELECT cluster_id, list(cval ORDER BY pos) AS centroid FROM (
    SELECT cluster_id, u.pos,
      CAST(SUM(CAST(u.val AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS cval
    FROM (SELECT cluster_id,
            unnest(list_transform(range(1, len(v) + 1),
                   i -> {{'pos': i, 'val': v[i]}})) AS u
          FROM {src_assign})
    GROUP BY cluster_id, u.pos)
  GROUP BY cluster_id)"""


def _kmeans_ctes(k: int = K, iters: int = ITERS) -> str:
    parts = [
        "vecs AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cluster_id, v AS centroid "
        f"FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT {k}))",
        _assign_cte("c0", "a0"),
    ]
    for i in range(iters):
        parts.append(_update_cte(f"a{i}", f"c{i + 1}"))
        parts.append(_assign_cte(f"c{i + 1}", f"a{i + 1}"))
    return "WITH " + ",\n".join(parts)


KMEANS_SQL = f"""{_kmeans_ctes()}
SELECT vec_id, cluster_id, round(dist, 6) AS dist_sq
FROM a{ITERS} ORDER BY vec_id
"""

SEMDEDUP_SQL = f"""{_kmeans_ctes()},
normed AS (
  SELECT e.vec_id, a.cluster_id, e.embedding,
    sqrt({_dot_sql("e.embedding", "e.embedding")}) AS norm
  FROM embeddings e JOIN a{ITERS} a USING (vec_id))
SELECT a.cluster_id AS cluster_id, a.vec_id AS keep_id, b.vec_id AS drop_id,
  round({_dot_sql("a.embedding", "b.embedding")} / (a.norm * b.norm), 6)
    AS cosine_sim
FROM normed a JOIN normed b
  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
WHERE {_dot_sql("a.embedding", "b.embedding")} / (a.norm * b.norm)
      >= {SEMDEDUP_COSINE}
ORDER BY cluster_id, keep_id, drop_id
"""


QUERIES = {
    "kmeans_clusters": kmeans_clusters,
    "semantic_dedup_pairs": semantic_dedup_pairs,
}

ORACLES = {
    "kmeans_clusters": KMEANS_SQL,
    "semantic_dedup_pairs": SEMDEDUP_SQL,
}

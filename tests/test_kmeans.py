"""Lloyd's k-means + SemDeDup semantic dedup (functions/kmeans.py).

Pins: deterministic assignment (two runs byte-equal), monotone objective
(total within-cluster distance never increases across update rounds),
cluster count bounded by K, and the SemDeDup pair contract (pairs stay
inside one cluster, keep_id < drop_id, cosine at/above threshold).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_server_bigquery_spark.functions.kmeans import (
    K,
    SEMDEDUP_COSINE,
    kmeans_clusters,
    lloyd_kmeans,
    semantic_dedup_pairs,
)
from debezium_server_bigquery_spark.sources.tables import load_table


def _objective(assigned) -> float:
    return assigned.agg(F.sum("dist").alias("s")).collect()[0]["s"]


def test_kmeans_deterministic_and_bounded(spark, sf_dir):
    a = kmeans_clusters(spark, sf_dir).collect()
    b = kmeans_clusters(spark, sf_dir).collect()
    assert a == b
    assert len(a) == load_table(spark, sf_dir, "embeddings").count()
    clusters = {r["cluster_id"] for r in a}
    assert len(clusters) <= K
    assert all(0 <= c < K for c in clusters)


def test_kmeans_objective_monotone(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    objs = [_objective(lloyd_kmeans(emb, iters=i)) for i in range(3)]
    # Lloyd's: each (update, reassign) round can only lower the total
    # within-cluster squared distance (allow fp slack at the 1e-9 level).
    assert objs[1] <= objs[0] + 1e-9
    assert objs[2] <= objs[1] + 1e-9


def _sorted_rows(df):
    return sorted(
        (r["vec_id"], r["cluster_id"], r["dist"]) for r in df.collect()
    )


def test_seeding_handles_sparse_nonzero_ids(spark, sf_dir):
    """ADVICE regression: seeds are the k LOWEST vec_ids, not vec_id < k —
    an id space starting at 1000 must still yield exactly k seeds and the
    same geometry as the dense space (ids shifted, clusters isomorphic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    shifted = emb.withColumn("vec_id", F.col("vec_id") + 1000)
    dense = _sorted_rows(lloyd_kmeans(emb, iters=1))
    sparse = _sorted_rows(lloyd_kmeans(shifted, iters=1))
    assert len(sparse) == len(dense)
    # same geometry: identical assignment after shifting ids back
    assert [(v - 1000, c - 1000, d) for v, c, d in sparse] == dense


def test_semantic_dedup_pairs_contract(spark, sf_dir):
    pairs = semantic_dedup_pairs(spark, sf_dir).collect()
    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_clusters(spark, sf_dir).collect()
    }
    for r in pairs:
        assert r["keep_id"] < r["drop_id"]
        assert assign[r["keep_id"]] == r["cluster_id"]
        assert assign[r["drop_id"]] == r["cluster_id"]
        assert r["cosine_sim"] >= SEMDEDUP_COSINE - 1e-6

"""embedding_norm_stats (similarity.py): per-label norm bounds."""

from __future__ import annotations


def test_embedding_norm_stats_bounds(spark, sf_dir):
    from debezium_server_bigquery_spark.functions.similarity import (
        embedding_norm_stats,
    )

    rows = embedding_norm_stats(spark, sf_dir).collect()
    assert rows and [r.label for r in rows] == sorted({r.label for r in rows})
    for r in rows:
        assert r.min_norm_sq <= r.mean_norm_sq <= r.max_norm_sq
        assert 0 <= r.n_near_zero <= r.n_vecs
        assert r.min_norm_sq >= 0.0

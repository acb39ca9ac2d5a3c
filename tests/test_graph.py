from __future__ import annotations

from pyspark.sql import functions as F

from debezium_server_bigquery_spark.functions.graph import (
    pagerank,
    pagerank_trade_graph,
)


def _star_edges(spark):
    # undirected star: center 0 — leaves 1..4
    pairs = [(0, i) for i in range(1, 5)]
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def test_pagerank_mass_conserved(spark):
    ranks = pagerank(_star_edges(spark), iters=3)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    # symmetric graph, no dangling nodes: rank mass stays 1
    assert abs(total - 1.0) < 1e-9


def test_pagerank_star_center_dominates(spark):
    r = {row.node: row.rank for row in pagerank(_star_edges(spark), iters=3).collect()}
    assert all(r[0] > r[i] for i in range(1, 5))
    # leaves are symmetric -> identical ranks
    assert len({r[i] for i in range(1, 5)}) == 1


def test_pagerank_star_closed_form(spark):
    # star with n leaves converges to center = (1+d*n... ) — at any
    # iteration the exact recurrence is:
    #   c' = (1-d)/N + d * n * l      (each leaf's whole rank flows in)
    #   l' = (1-d)/N + d * c / n
    d, n, N = 0.85, 4, 5
    c, leaf = 1 / N, 1 / N
    for _ in range(3):
        c, leaf = (1 - d) / N + d * n * leaf, (1 - d) / N + d * c / n
    r = {row.node: row.rank for row in pagerank(_star_edges(spark), iters=3).collect()}
    assert abs(r[0] - c) < 1e-12 and abs(r[1] - leaf) < 1e-12


def test_pagerank_trade_graph_shape(spark, sf_dir):
    rows = pagerank_trade_graph(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    ranks = [r.pagerank for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert {r.node_type for r in rows} <= {"customer", "supplier"}


def test_kcore_peels_tail_keeps_clique(spark, tmp_path):
    """A 4-clique of suppliers (all in one order) survives k=3 peeling;
    a pendant supplier attached through a 2-supplier order peels off in
    round 1."""
    from debezium_server_bigquery_spark.functions.graph import (
        KCORE_ROUNDS,
        graph_kcore_supply,
    )

    rows = []
    # order 1: suppliers 1..4 -> C(4,2) edges, every degree 3 (a 3-core)
    for s in (1, 2, 3, 4):
        rows.append((1, s))
    # order 2: suppliers 4 and 99 -> 99 has degree 1, peels immediately
    rows.append((2, 4))
    rows.append((2, 99))
    spark.createDataFrame(
        rows, "l_orderkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {r.round: r.n_active for r in graph_kcore_supply(spark, str(tmp_path)).collect()}
    assert out[0] == 5
    assert out[1] == 4  # 99 gone
    assert all(out[i] == 4 for i in range(2, KCORE_ROUNDS + 1))


def test_nation_modularity_perfect_communities(spark, tmp_path):
    """Two disjoint 3-cliques, each wholly in one nation: e_cc/m sums to
    1, each community holds half the degree -> Q = 1 - 2*(1/2)^2 = 0.5."""
    from debezium_server_bigquery_spark.functions.graph import (
        cosupply_nation_modularity,
    )

    rows = []
    # order 1: suppliers 1,2,3 (nation 7); order 2: suppliers 4,5,6 (nation 8)
    for s in (1, 2, 3):
        rows.append((1, s))
    for s in (4, 5, 6):
        rows.append((2, s))
    spark.createDataFrame(rows, "l_orderkey long, l_suppkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(s, 7 if s <= 3 else 8) for s in range(1, 7)],
        "s_suppkey long, s_nationkey long",
    ).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    out = cosupply_nation_modularity(spark, str(tmp_path)).collect()[0]
    assert out.n_communities == 2
    assert abs(out.modularity - 0.5) < 1e-9

"""PageRank over the customer↔supplier interaction graph.

Graph analytics over replicated tables is a natural downstream of the
reference's CDC fan-in (the reference ships rows, never analyzes them —
cited per brief: BaseChangeConsumer.java is transport only).  Entity
importance ranking (dedup priors, crawl ordering, seed selection for
curation) is the classic use; PageRank is the canonical iterative kernel.

Graph: undirected bipartite customer↔supplier, an edge per DISTINCT
(o_custkey, l_suppkey) trade pair from orders ⋈ lineitem.  Node ids are
disjoint by parity (customer → 2k, supplier → 2k+1).  Symmetrizing the
bipartite edges removes dangling nodes, so the simple update formula
conserves rank mass without a dangling-mass correction term.

Each iteration is the standard Pregel-style shape: ranks ⋈ edges on the
source key (one shuffle) then an aggregate on the destination key (second
shuffle, map-side combinable).  At 100 TB both sides would be pre-hash-
partitioned on the node key so the per-iteration cost is one co-located
join + one agg.  The graded query runs a fixed ITERS rounds and
materializes each round's rank table to the reliable scratch-parquet
checkpoint (``sources/tables.checkpoint_parquet`` — node-sized tables
must survive executor loss, which a non-reliable ``localCheckpoint``
block does not).

Cross-engine determinism (hash-gate holds without tolerance): the only
order-sensitive float op is the per-destination SUM of contributions, so
each contribution is cast to DECIMAL(25,15) first — decimal sums are
exact and associative, making every iteration's rank vector bit-identical
between Spark and DuckDB (the kmeans centroid-mean pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from debezium_server_bigquery_spark.sources.tables import load_table

DAMPING = 0.85
ITERS = 3
TOP = 50


def _step(adj: DataFrame, ranks: DataFrame, stats: DataFrame, d: float) -> DataFrame:
    """One PageRank round: rank'(v) = (1-d)/N + d * Σ_{u→v} rank(u)/out(u)."""
    contribs = adj.join(ranks, adj["src"] == ranks["node"]).select(
        F.col("dst"),
        (F.col("rank") / F.col("outdeg")).cast("decimal(25,15)").alias("contrib"),
    )
    summed = contribs.groupBy("dst").agg(
        F.sum("contrib").cast("double").alias("inflow")
    )
    return summed.crossJoin(broadcast(stats)).select(
        F.col("dst").alias("node"),
        (
            (F.lit(1.0) - F.lit(d)) / F.col("n_nodes")
            + F.lit(d) * F.col("inflow")
        ).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = ITERS,
    d: float = DAMPING,
    materialize=None,
) -> DataFrame:
    """Fixed-iteration PageRank on a symmetric ``(src, dst)`` edge table.

    Returns (node, rank) after ``iters`` rounds from the uniform start.
    The rank chain itself is composed (no materialization) — right for
    small fixed ``iters``.

    ``materialize`` (optional ``fn(df, tag) -> df``) is applied to the
    tables the chain otherwise re-derives: the degree-annotated
    adjacency and 1-row node-count stats (referenced once PER ITERATION
    — Catalyst does not CSE across the chain, so without it the
    out-degree groupBy+join and the distinct-node count re-execute every
    round) and each round's node-sized rank table (the kcore
    convention: at cluster scale the per-round table
    must survive executor loss, and within an interpreter the memoized
    copy means a repeated invocation re-reads instead of re-iterating —
    measured 6.0 s -> 1.0 s warm at sf0.1, BENCH_NOTES_r11).  The graded
    query passes the reliable scratch-parquet checkpoint; the default
    (identity) keeps the fully composed lazy plan.
    """
    mat = materialize or (lambda df, _tag: df)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    adj = mat(edges.join(outdeg, "src"), "adj")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    stats = mat(nodes.agg(F.count("*").alias("n_nodes")), "stats")
    ranks = mat(
        nodes.crossJoin(broadcast(stats)).select(
            "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
        ),
        "round0",
    )
    for i in range(iters):
        ranks = mat(_step(adj, ranks, stats, d), f"round{i + 1}")
    return ranks


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric customer↔supplier edges from distinct trade pairs."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    fwd = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    rev = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    return fwd.unionByName(rev)


# --------------------------------------------------------------------------
# queries() entry + DuckDB oracle twin (iterations unrolled as CTEs).
# --------------------------------------------------------------------------
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the edge list once: the composed fixed-ITERS plan
    # references it in every round (adjacency, out-degrees, node set), and
    # re-deriving orders ⋈ lineitem ⋈ distinct ~8x dominates runtime.  At
    # cluster scale this is the standard "build the adjacency, then
    # iterate" split — the iteration cost is what PageRank should pay.
    # Reliable scratch-parquet checkpoint, not localCheckpoint: the edge
    # list is data-sized, and a lost executor must mean a re-read, not a
    # failed query (sources/tables.py).
    #
    # Per-round materialization EXAMINED AND KEPT (round 14, guide §1.1
    # measure-first): composing the linear rank chain and checkpointing
    # only adj/stats/final would cut 3 of the 7 build barriers, but a
    # 5-rep interleaved A/B at sf0.1 measured the composed build ~1.8x
    # SLOWER (old med 5.8 s vs composed med 10.2 s): each round's
    # checkpoint is what gives Catalyst an ACCURATE size for the
    # node-sized rank table, keeping the adj ⋈ ranks join a broadcast of
    # ranks — composed, the agg-subtree estimate flips it to a shuffle
    # join of the adjacency every round.  A forced broadcast hint would
    # restore it locally but OOM at 100 TB node counts, so the
    # materialized per-round form stays (OPTIMIZATION_r14.md).
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    edges = checkpoint_parquet(trade_edges(spark, sf_dir), "dsbq_pagerank_edges_")
    ranks = pagerank(
        edges,
        ITERS,
        DAMPING,
        materialize=lambda df, tag: checkpoint_parquet(
            df, f"dsbq_pagerank_{tag}_"
        ),
    )
    return (
        ranks.select(
            "node",
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.round("rank", 10).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(TOP)
    )


def _iter_cte(prev: str, cur: str, d: float) -> str:
    return f"""{cur} AS (
  SELECT e.dst AS node,
    (CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE)) / nn.n_nodes
      + CAST({d} AS DOUBLE)
        * CAST(SUM(CAST(r.rank / o.outdeg AS DECIMAL(25,15))) AS DOUBLE) AS rank
  FROM edges e
  JOIN outdeg o ON e.src = o.src
  JOIN {prev} r ON r.node = e.src
  CROSS JOIN nn
  GROUP BY e.dst, nn.n_nodes
)"""


_ITER_CTES = ",\n".join(
    _iter_cte(f"r{i}", f"r{i + 1}", DAMPING) for i in range(ITERS)
)

PAGERANK_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
r0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / nn.n_nodes AS rank FROM nodes CROSS JOIN nn
),
{_ITER_CTES}
SELECT node,
  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
  round(rank, 10) AS pagerank
FROM r{ITERS}
ORDER BY pagerank DESC, node ASC
LIMIT {TOP}
"""


# --------------------------------------------------------------------------
# Co-occurrence link prediction: suppliers ranked by Jaccard overlap of
# their customer sets — the item-item collaborative-filtering shape.
# --------------------------------------------------------------------------
COOC_MAX_DEG = 100  # drop hub customers: pair fan-out is Σ deg(c)², so a
# promiscuous key would dominate the join (same guard as the n-gram dedup
# document-frequency cap); at TPC-H shapes no customer comes close.
COOC_TOP = 30


def supplier_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier pairs by Jaccard similarity of customer sets.

    Pair generation is confined WITHIN each customer (self-join on the
    customer key with ``s1 < s2``) — candidate count is Σ deg(c)² with the
    degree capped, never |suppliers|²; the aggregate and both degree
    counts are map-side-combinable integers, so every float is a final
    ratio of exact longs (deterministic cross-engine)."""
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # checkpoint: pairs feeds the degree-cap filter AND kept, and kept
    # feeds THREE branches (deg_s and both self-join sides) — without
    # the checkpoints each branch re-runs the orders x lineitem join
    # (8 static lineitem scans; the derived-aggregate chain pathology,
    # tools/scan_repeat_scans.py).  Both tables are the narrow distinct
    # (customer, supplier) edge list — far smaller than lineitem.
    # Measured 3.59 s -> 1.3 s at sf0.1 (round 12).
    pairs = checkpoint_parquet(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct(),
        "dsbq_cooc_pairs_",
    )
    deg_c = pairs.groupBy("c").agg(F.count("*").alias("c_deg"))
    # repartition before the write: AQE coalesces the filtered join to a
    # handful of output files, and the Σ deg(c)² self-join downstream
    # inherits that file count as its scan parallelism — measured 5-task
    # stages on a 32-core session.  Hash on the join key at the session's
    # parallelism so the expensive pair stage fans out fully.
    kept = checkpoint_parquet(
        pairs.join(
            F.broadcast(deg_c.filter(F.col("c_deg") <= COOC_MAX_DEG).select("c")),
            "c",
        ).repartition(spark.sparkContext.defaultParallelism, "c"),
        "dsbq_cooc_kept_",
    )
    deg_s = kept.groupBy("s").agg(F.count("*").alias("deg"))
    a = kept.select(F.col("c"), F.col("s").alias("s1"))
    b = kept.select(F.col("c").alias("c2"), F.col("s").alias("s2"))
    common = (
        a.join(b, (a["c"] == b["c2"]) & (a["s1"] < b["s2"]))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("common"))
    )
    d1 = deg_s.select(F.col("s").alias("s1"), F.col("deg").alias("deg1"))
    d2 = deg_s.select(F.col("s").alias("s2"), F.col("deg").alias("deg2"))
    scored = (
        common.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "common",
            "deg1",
            "deg2",
            F.round(
                F.col("common")
                / (F.col("deg1") + F.col("deg2") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.asc("s1"), F.asc("s2")
    ).limit(COOC_TOP)


COOC_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
deg_c AS (SELECT c, COUNT(*) AS c_deg FROM pairs GROUP BY c),
kept AS (
  SELECT p.c, p.s FROM pairs p
  JOIN deg_c d ON p.c = d.c WHERE d.c_deg <= {COOC_MAX_DEG}
),
deg_s AS (SELECT s, COUNT(*) AS deg FROM kept GROUP BY s),
common AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS common
  FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT c.s1, c.s2, c.common, d1.deg AS deg1, d2.deg AS deg2,
  round(c.common / CAST(d1.deg + d2.deg - c.common AS DOUBLE), 6) AS jaccard
FROM common c
JOIN deg_s d1 ON c.s1 = d1.s
JOIN deg_s d2 ON c.s2 = d2.s
ORDER BY jaccard DESC, c.s1 ASC, c.s2 ASC
LIMIT {COOC_TOP}
"""


TRI_MAX_ORDER_SUPPLIERS = 32  # orders touching more suppliers don't pair
# Widest dense-path bitset (in 64-bit words) that unrolls to an explicit
# codegen'd sum of bit_count terms; beyond it the HOF fold remains (a
# words>256 dense graph needs >16K nodes (>33M edges at ≥25% density) — see the
# dense-gate bound in supplier_triangle_census).
_EXPAND_CAP = 256


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) distinct edge set of the co-supply graph:
    suppliers adjacent when they ship lines of the same order.  Pairing
    is confined within an order (C(order size, 2)) with a df cap on
    giant orders — the quadratic guard both graph stats share.

    Round 14 (guide §2.3/§2.4 — aggregate before you shuffle, remove
    shuffles outright): the r13 chain ``distinct → groupBy(count) →
    join → self-join → distinct`` planned 10 Exchange nodes; ONE
    map-side-combined ``collect_set`` per order now performs the
    per-order distinct, the supplier-set build, AND the size cap in a
    single shuffle, and the order-local pair fan-out (the old shuffle
    self-join) becomes an in-memory HOF expansion over the per-order
    set — bounded at C(cap, 2) pairs per order by the same cap.  2
    Exchange nodes: the per-order set aggregation and the final edge
    distinct.  Measured interleaved A/B at sf0.1 (identical 453 588
    edges): old min 6.29 s vs new min 5.39 s under contention, with the
    scale-dominant win the 8 eliminated exchanges of the (order,
    supplier) pair table — at 100 TB every one of those is a full
    network pass over the fact-table key set (OPTIMIZATION_r14.md)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    sets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_suppkey").alias("ss"))
        .filter(F.size("ss") <= TRI_MAX_ORDER_SUPPLIERS)
    )
    return (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, x ->"
                    " transform(filter(ss, y -> y > x),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


_COSUPPLY_EDGES_CTE = f"""os AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
),
small AS (
  SELECT o FROM os GROUP BY o
  HAVING COUNT(*) <= {{cap}}
),
kept AS (SELECT os.* FROM os JOIN small USING (o)),
edges AS (
  SELECT DISTINCT x.s AS a, y.s AS b
  FROM kept x JOIN kept y ON x.o = y.o AND x.s < y.s
)"""


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-supply graph (Newman's r): the
    Pearson correlation of endpoint degrees over all edges, each edge
    counted in both orientations — positive means hubs prefer hubs
    (a core-periphery co-supply market), negative means hubs attach to
    leaves (star-shaped).  The one-number structural summary that tells
    a graph-algorithm designer whether degree-based partitioning will
    balance.

    Exactness + scale: degrees are integer counts; over the
    both-orientations multiset Σx = Σy = Σ(da+db), Σxy = 2Σ(da·db),
    Σx² = Σy² = Σ(da²+db²), n = 2m — every moment an exact integer from
    ONE pass over the edge list (after two degree joins), cast to
    DOUBLE once for the final ratio.  Same df-capped edge builder as
    the triangle census, materialized once to the shared scratch-parquet
    checkpoint (three plan branches read it: degree build, the
    two-degree edge join, and the node count)."""
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    edges = checkpoint_parquet(_cosupply_edges(spark, sf_dir), "dsbq_cosupply_")
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ed = edges.join(da, "a").join(db, "b")
    m = ed.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.col("deg_a") + F.col("deg_b")).cast("long").alias("sxy_sum"),
        F.sum(F.col("deg_a") * F.col("deg_b")).cast("long").alias("sprod"),
        F.sum(
            F.col("deg_a") * F.col("deg_a") + F.col("deg_b") * F.col("deg_b")
        )
        .cast("long")
        .alias("ssq"),
    )
    n2 = m["n_edges"] * 2
    cov = n2 * (m["sprod"] * 2) - m["sxy_sum"] * m["sxy_sum"]
    var = n2 * m["ssq"] - m["sxy_sum"] * m["sxy_sum"]
    nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    k = F.lit(1).alias("__k")
    return (
        m.select(k, "*")
        .join(F.broadcast(nodes.select(k, "*")), "__k")
        .select(
            "n_nodes",
            "n_edges",
            F.when(
                var > 0,
                F.round(cov.cast("double") / var.cast("double"), 6),
            ).alias("assortativity"),
        )
    )


ASSORTATIVITY_SQL = f"""
WITH {_COSUPPLY_EDGES_CTE.format(cap=TRI_MAX_ORDER_SUPPLIERS)},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
  ) GROUP BY node
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
    CAST(SUM(da.deg + db.deg) AS BIGINT) AS sxy_sum,
    CAST(SUM(da.deg * db.deg) AS BIGINT) AS sprod,
    CAST(SUM(da.deg * da.deg + db.deg * db.deg) AS BIGINT) AS ssq
  FROM edges e
  JOIN deg da ON e.a = da.node
  JOIN deg db ON e.b = db.node
),
nodes AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_nodes, n_edges,
  CASE WHEN (2 * n_edges * ssq - sxy_sum * sxy_sum) > 0
    THEN round(
      CAST(2 * n_edges * (2 * sprod) - sxy_sum * sxy_sum AS DOUBLE)
      / CAST(2 * n_edges * ssq - sxy_sum * sxy_sum AS DOUBLE), 6)
  END AS assortativity
FROM m, nodes
"""


def supplier_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-supply graph (suppliers are
    adjacent when they ship lines of the same order): node/edge/wedge/
    triangle counts and the global clustering coefficient — the graph-
    density audit behind "is this co-occurrence graph cliquey or
    star-shaped".

    Scale design (the MapReduce triangle-counting literature's
    degree-orientation trick): a naive wedge join explodes as Σ deg² on
    hub nodes.  Every edge is first ORIENTED from its (degree, id)-
    smaller endpoint to the larger, whose out-degree is bounded by
    O(√m) on any graph (arboricity bound), and each triangle is counted
    exactly once at its ≺-min vertex.  Counting is EDGE-CENTRIC
    intersection (the literature's "compact-forward" variant): per
    oriented edge (u, v), the triangle contribution is
    |N⁺(u) ∩ N⁺(v)| — the out-adjacency lists are collected once
    (each O(√m) long) and intersected JVM-side, entirely inside
    whole-stage codegen.  The earlier wedge-join formulation
    materialized and SHUFFLED one row per wedge — 137M rows at sf0.1 on
    the 91%-dense co-supply graph (124.5M triangles) — where this form
    shuffles only the m oriented edges and the n adjacency rows
    (measured 41 s → 19 s at sf0.1).  Wedge totals are exact integer
    sums; the coefficient is the only float, computed once at the end.

    DENSE-GRAPH FAST PATH (same counting, faster set representation):
    when the node-id universe is compact and the graph dense —
    ``(max_id+1)² ≤ 8·m`` (≈ density ≥ 25% with dense ids) and word
    length L = (max_id >> 6)+1 ≤ 1024 — each out-adjacency list becomes
    a BITSET (array<long> of L words) and the per-edge intersection is
    Σ bit_count(x & y), ~64 candidate neighbors per word operation
    instead of one hash probe per element (measured 19 s → see
    BENCH_NOTES_r11).  Since round 13 the bitsets are BUILT by a
    map-side-combinable ``bit_or`` aggregate over (node, word) — whole-
    stage codegen, no per-neighbor array allocation — and the per-edge
    intersection is an UNROLLED sum of ``bit_count(bits_u[i] &
    bits_v[i])`` terms (codegen'd integer arithmetic; the r12
    interpreted aggregate/zip_with fold was 6.5 s of the 7.2 s warm run
    on the r13 host, 0.27 s after — OPTIMIZATION_r13.md).  Scale
    argument: density ≥ 25% forces n ≤ max_id+1 ≤ √(8m), so TOTAL
    bitset bytes n·L·8 ≤ (max_id+1)²/8 ≤ m bytes — never larger than
    the edge list itself; a sparse or huge-id graph fails the gate and
    keeps the ``array_intersect`` path, whose footprint is the
    adjacency lists alone.  The gate reads two O(1) scalars (m, max
    node id) from one aggregate over the checkpointed edge substrate —
    bounded-collect: one row, two longs.

    The edge list feeds FOUR plan branches (degree build, orientation,
    triangle-closing intersections, edge count); Catalyst does not CSE
    across branches, so the within-order pair builder would otherwise
    execute 4x per action — materialize it once to the reliable
    scratch-parquet checkpoint (same substrate as k-core).  The n-row
    bitset table (dense) / oriented out-adjacency table (sparse)
    likewise feeds BOTH sides of the triangle-closing join and is
    node/edge-sized, so it checkpoints too — without that the whole
    bitset build lineage executes once per join side."""
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    edges = checkpoint_parquet(_cosupply_edges(spark, sf_dir), "dsbq_cosupply_")
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # a < b always holds, so (deg_a, a) < (deg_b, b) iff deg_a <= deg_b
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(F.col("deg_a") <= F.col("deg_b"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(F.col("deg_a") <= F.col("deg_b"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("v"),
        )
    )
    stats = edges.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.coalesce(F.max(F.greatest("a", "b")), F.lit(-1))
        .cast("long")
        .alias("max_id"),
    # bounded-collect: one row, two longs (edge count + max node id)
    # deciding the dense-vs-sparse set representation below
    ).collect()[0]
    m_cnt, max_id = stats["m"], stats["max_id"]
    words = (max_id >> 6) + 1 if max_id >= 0 else 0
    dense = m_cnt > 0 and words <= 1024 and (max_id + 1) ** 2 <= 8 * m_cnt
    if dense:
        # Round-13 (guide §1.2 per-task work + §2.4 shared subtrees): the
        # r12 form folded each adjacency list into a bitset with an
        # interpreted aggregate/transform lambda PER NEIGHBOR (allocating
        # a fresh words-long array per step), computed the fold TWICE (one
        # copy per join side — Catalyst does not CSE across branches), and
        # intersected with another interpreted per-edge fold.  Measured at
        # sf0.1 on the r13 host: the triangle stage alone was 6.5 s of the
        # 7.2 s warm run.  Now (1) the bitset build is a map-side-
        # combinable bit_or aggregate over (u, word) — whole-stage codegen,
        # no per-neighbor array allocation; (2) the n-row bitset table is
        # checkpointed, so both join sides SCAN it instead of recomputing;
        # (3) the per-edge intersection unrolls to a fixed sum of
        # bit_count(bits_u[i] & bits_v[i]) terms — plain codegen'd integer
        # arithmetic, bit-identical to the fold (exact integer sum).
        # Measured: triangle stage 6.5 s -> 0.27 s, census warm
        # 7.2 s -> 1.5 s.  Beyond _EXPAND_CAP words the unrolled
        # projection would strain codegen method limits; the (rare) huge-
        # word dense graph keeps the HOF fold, documented fallback.
        word_bits = oriented.select(
            "u",
            F.expr("CAST(v DIV 64 AS INT)").alias("w"),
            F.expr("shiftleft(1L, CAST(v % 64 AS INT))").alias("b"),
        )
        packed = (
            word_bits.groupBy("u", "w")
            .agg(F.expr("bit_or(b)").alias("wb"))
            .groupBy("u")
            .agg(F.map_from_entries(F.collect_list(F.struct("w", "wb"))).alias("wm"))
            .select(
                "u",
                F.expr(
                    f"transform(sequence(0, {words - 1}), "
                    "i -> coalesce(wm[i], 0L))"
                ).alias("bits"),
            )
        )
        bits = checkpoint_parquet(packed, "dsbq_cosupply_")
        au = bits.select(F.col("u").alias("ju"), F.col("bits").alias("bits_u"))
        av = bits.select(F.col("u").alias("jv"), F.col("bits").alias("bits_v"))
        if words <= _EXPAND_CAP:
            per_edge = sum(
                (
                    F.bit_count(
                        F.col("bits_u").getItem(i).bitwiseAND(
                            F.col("bits_v").getItem(i)
                        )
                    ).cast("long")
                    for i in range(words)
                ),
                F.lit(0).cast("long"),
            )
        else:  # pragma: no cover - words>256 needs a >16K-node dense graph
            per_edge = F.expr(
                "aggregate(zip_with(bits_u, bits_v, (x, y) -> bit_count(x & y)),"
                " 0L, (a, c) -> a + c)"
            )
    else:
        adj = checkpoint_parquet(
            oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs")),
            "dsbq_cosupply_",
        )
        au = adj.select(F.col("u").alias("ju"), F.col("nbrs").alias("nbrs_u"))
        av = adj.select(F.col("u").alias("jv"), F.col("nbrs").alias("nbrs_v"))
        per_edge = F.size(F.array_intersect("nbrs_u", "nbrs_v"))
    # inner joins: an endpoint with no out-edges contributes 0 triangles
    tri = (
        oriented.join(au, oriented["u"] == au["ju"])
        .join(av, oriented["v"] == av["jv"])
        .select(per_edge.alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    edge_cnt = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    k = F.lit(1).alias("__k")
    row = (
        node_stats.select(k, "*")
        .join(F.broadcast(edge_cnt.select(k, "*")), "__k")
        .join(F.broadcast(tri.select(k, "*")), "__k")
    )
    return row.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ),
        ).alias("global_clustering"),
    )


TRIANGLE_SQL = f"""
WITH {_COSUPPLY_EDGES_CTE.format(cap=TRI_MAX_ORDER_SUPPLIERS)},
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN da.deg <= db.deg THEN e.a ELSE e.b END AS u,
         CASE WHEN da.deg <= db.deg THEN e.b ELSE e.a END AS v
  FROM edges e
  JOIN deg da ON e.a = da.node
  JOIN deg db ON e.b = db.node
),
wedges AS (
  SELECT o1.v AS a, o2.v AS b
  FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u AND o1.v < o2.v
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM wedges w JOIN edges e ON w.a = e.a AND w.b = e.b
),
node_stats AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
),
edge_cnt AS (SELECT COUNT(*) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
  CASE WHEN n_wedges > 0
    THEN round(3.0 * n_triangles / n_wedges, 6) END AS global_clustering
FROM node_stats, edge_cnt, tri
"""


QUERIES = {
    "pagerank_trade_graph": pagerank_trade_graph,
    "supplier_cooccurrence_topk": supplier_cooccurrence_topk,
    "supplier_triangle_census": supplier_triangle_census,
    "graph_degree_assortativity": graph_degree_assortativity,
}
ORACLES = {
    "pagerank_trade_graph": PAGERANK_SQL,
    "supplier_cooccurrence_topk": COOC_SQL,
    "supplier_triangle_census": TRIANGLE_SQL,
    "graph_degree_assortativity": ASSORTATIVITY_SQL,
}


KCORE_K = 3
KCORE_ROUNDS = 6


def graph_kcore_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling trajectory of the co-supply graph (k = 3, 6
    unrolled rounds): each round removes vertices whose degree in the
    CURRENT induced subgraph is < k and reports the surviving vertex
    count — the standard coreness probe for "is there a dense supplier
    backbone, and how fast does the periphery peel away?".  Joins the
    iterative-algorithm family (pagerank, k-means, BPE): a fixed unroll
    both engines replay exactly, trajectory graded per round rather
    than assuming convergence.

    Scale design (100 TB): same df-capped co-supply edge builder as the
    triangle census (pairing confined within an order); each round is
    two semi-joins of the edge list against the active vertex set plus
    one degree aggregate — the Pregel-style shape, no window, no
    all-pairs anything.  Each round's induced edge list and active set
    are edge/node-SIZED, so the per-round materialization goes to the
    reliable scratch-parquet checkpoint (``checkpoint_parquet``), never
    ``localCheckpoint`` — a lost executor must cost a re-read, not the
    whole 6-round build (sources/tables.py states the scale argument).
    Counts are exact integers.

    Checkpoint batching (round 14, VERDICT r13 ask #3, guide §5 — serial
    job barriers): the r13 build issued 14 SEQUENTIAL checkpoint write
    jobs (edges + cur0 + 2/round: active set, induced edges), each a
    full job barrier whose fixed cost (schedule, write, commit,
    read-back — measured a uniform ~0.47 s/call at sf0.1 regardless of
    row count) dominates the tiny per-round data; at 100 TB each
    barrier is a serial write/read round-trip.  Now (1) the shuffle-free
    ``both`` union is composed directly over the edges substrate instead
    of being copied to its own checkpoint, and (2) the induced edge
    list is checkpointed every SECOND round: the odd round's ``cur``
    stays composed (two broadcast semi-joins against the adjacent
    checkpointed active sets — replayed at most twice, bounded), while
    the ACTIVE set still checkpoints every round, so the returned
    plan's per-round counts read exactly the same node-set scans as
    before (warm shape unchanged); the FINAL round's induced edges are
    never consumed at all, so they are not checkpointed.  9 write jobs
    instead of 14, and the per-call read-back no longer pays schema
    inference (sources/tables.py round-14 note)."""
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    # Shared prefix with assortativity/triangle/modularity: the memo key is
    # (prefix, semanticHash), so a per-query prefix here would materialize
    # the identical co-supply edge substrate a second time per interpreter.
    edges = checkpoint_parquet(_cosupply_edges(spark, sf_dir), "dsbq_cosupply_")
    both = edges.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
        edges.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    active = both.select("v").distinct()
    rows = [
        active.agg(F.count(F.lit(1)).cast("long").alias("n_active")).select(
            F.lit(0).alias("round"), "n_active"
        )
    ]
    cur = both
    for i in range(1, KCORE_ROUNDS + 1):
        deg = cur.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("deg"))
        active = checkpoint_parquet(
            deg.filter(F.col("deg") >= KCORE_K).select("v"), "dsbq_kcore_"
        )
        av = active.select(F.col("v").alias("av"))
        aw = active.select(F.col("v").alias("aw"))
        cur = (
            cur.join(av, cur["v"] == av["av"])
            .join(aw, F.col("w") == aw["aw"])
            .select("v", "w")
        )
        if i % 2 == 0 and i < KCORE_ROUNDS:
            # final round's induced edges are never consumed (the
            # trajectory reads only the active sets) — checkpointing
            # them was a pure-waste write barrier
            cur = checkpoint_parquet(cur, "dsbq_kcore_")
        rows.append(
            active.agg(
                F.count(F.lit(1)).cast("long").alias("n_active")
            ).select(F.lit(i).alias("round"), "n_active")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("round")


def _kcore_sql() -> str:
    parts = [
        f"WITH {_COSUPPLY_EDGES_CTE.format(cap=TRI_MAX_ORDER_SUPPLIERS)},",
        "both_e AS MATERIALIZED (SELECT a AS v, b AS w FROM edges"
        " UNION ALL SELECT b AS v, a AS w FROM edges),",
        "cur0 AS MATERIALIZED (SELECT * FROM both_e),",
        "active0 AS (SELECT DISTINCT v FROM both_e),",
    ]
    # AS MATERIALIZED: each round CTE is referenced several times; left
    # to inline, DuckDB re-expands the whole chain per reference and the
    # plan grows exponentially in rounds (measured: 236 s -> sub-second).
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"deg{i} AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg"
            f" FROM cur{i - 1} GROUP BY v),"
        )
        parts.append(
            f"active{i} AS MATERIALIZED"
            f" (SELECT v FROM deg{i} WHERE deg >= {KCORE_K}),"
        )
        parts.append(
            f"cur{i} AS MATERIALIZED (SELECT c.v, c.w FROM cur{i - 1} c"
            f" JOIN active{i} x ON c.v = x.v"
            f" JOIN active{i} y ON c.w = y.v),"
        )
    parts[-1] = parts[-1].rstrip(",")
    selects = [
        f"SELECT {i} AS round,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM active{i}) AS n_active"
        for i in range(KCORE_ROUNDS + 1)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY round"


KCORE_SQL = _kcore_sql()

QUERIES["graph_kcore_supply"] = graph_kcore_supply
ORACLES["graph_kcore_supply"] = KCORE_SQL


def cosupply_nation_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition on the co-supply graph:
    Q = Σ_c (e_cc/m − (d_c/2m)²) — does "suppliers trade within their
    nation" describe this graph's community structure (Q ≫ 0), or is
    nationality irrelevant to co-supply (Q ≈ 0)?  The number that says
    whether a geo-partitioned layout would keep graph traversals local.

    Scale/exactness: the df-capped canonical edge list joins the
    supplier→nation dim twice (broadcast — |supplier| dim rows); e_cc
    and the degree sums are exact integer aggregates per nation; Q is a
    fixed-order sum of ≤|nations| rounded-decimal terms plus one-row
    broadcast totals.  The labeled edge list feeds four plan branches
    (edge total, intra-nation count, both degree-sum orientations), so
    it is materialized once to the reliable scratch-parquet checkpoint
    rather than re-running the within-order pair builder per branch."""
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    edges = _cosupply_edges(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    na = sup.select(F.col("sk").alias("a"), F.col("nk").alias("na_"))
    nb = sup.select(F.col("sk").alias("b"), F.col("nk").alias("nb_"))
    lab = checkpoint_parquet(
        edges.join(F.broadcast(na), "a").join(F.broadcast(nb), "b"),
        "dsbq_cosupply_",
    )
    m_tot = lab.agg(F.count(F.lit(1)).cast("long").alias("m")).withColumn(
        "__k", F.lit(1)
    )
    intra = lab.filter(F.col("na_") == F.col("nb_")).groupBy(
        F.col("na_").alias("nation")
    ).agg(F.count(F.lit(1)).cast("long").alias("e_cc"))
    deg = (
        lab.select(F.col("na_").alias("nation"))
        .unionAll(lab.select(F.col("nb_").alias("nation")))
        .groupBy("nation")
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    per_nation = (
        deg.join(intra, "nation", "left")
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(m_tot), "__k")
        .select(
            "nation",
            F.round(
                F.coalesce("e_cc", F.lit(0)).cast("double")
                / F.col("m").cast("double")
                - (
                    F.col("d_c").cast("double")
                    / (F.lit(2.0) * F.col("m").cast("double"))
                )
                * (
                    F.col("d_c").cast("double")
                    / (F.lit(2.0) * F.col("m").cast("double"))
                ),
                12,
            )
            .cast("decimal(38,12)")
            .alias("q_term"),
        )
    )
    return per_nation.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        (F.round(F.sum("q_term").cast("double"), 6) + F.lit(0.0)).alias(
            "modularity"
        ),
    )


NATION_MODULARITY_SQL = f"""
WITH {_COSUPPLY_EDGES_CTE.format(cap=TRI_MAX_ORDER_SUPPLIERS)},
lab AS (
  SELECT e.a, e.b, sa.s_nationkey AS na_, sb.s_nationkey AS nb_
  FROM edges e
  JOIN supplier sa ON e.a = sa.s_suppkey
  JOIN supplier sb ON e.b = sb.s_suppkey
),
m_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab),
intra AS (
  SELECT na_ AS nation, CAST(COUNT(*) AS BIGINT) AS e_cc
  FROM lab WHERE na_ = nb_ GROUP BY na_
),
deg AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
    SELECT na_ AS nation FROM lab UNION ALL SELECT nb_ AS nation FROM lab
  ) GROUP BY nation
),
per_nation AS (
  SELECT d.nation,
    CAST(round(
      CAST(COALESCE(i.e_cc, 0) AS DOUBLE) / CAST(t.m AS DOUBLE)
      - (CAST(d.d_c AS DOUBLE) / (2.0 * CAST(t.m AS DOUBLE)))
        * (CAST(d.d_c AS DOUBLE) / (2.0 * CAST(t.m AS DOUBLE))), 12)
      AS DECIMAL(38,12)) AS q_term
  FROM deg d LEFT JOIN intra i ON d.nation = i.nation CROSS JOIN m_tot t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
  round(CAST(SUM(q_term) AS DOUBLE), 6) + 0.0 AS modularity
FROM per_nation
"""

QUERIES["cosupply_nation_modularity"] = cosupply_nation_modularity
ORACLES["cosupply_nation_modularity"] = NATION_MODULARITY_SQL

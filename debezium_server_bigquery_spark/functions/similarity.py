"""Similarity search over the ``embeddings`` table (``array<float>``).

- **ann_cosine_topk** — brute-force cosine top-k: the correctness baseline.
  Query set is broadcast; the big side streams once; per-row arithmetic is
  a JVM-side fold (zip_with + aggregate), no Python.  At 100 TB this is the
  "exact re-rank" stage, never the full search.
- **ann_lsh_bucketed** — random-hyperplane LSH: 8 deterministic md5-seeded
  hyperplanes -> 8-bit bucket; candidates share a bucket, then exact cosine
  re-ranks.  The scale path: bucketing turns the cross join into a
  per-bucket join (expected bucket occupancy n/256), and the same bucket
  column is a natural partition key for a 1000-executor layout.
- **embedding_neardup_pairs** — cosine-threshold near-duplicate pairs.
- **embedding_centroid_by_label** — per-label centroids (posexplode +
  decimal-sum aggregation; map-side combinable).

Determinism: dot products fold left-to-right over the array in both
engines (Spark ``aggregate``, DuckDB ``list_reduce``), elements cast to
double first, so doubles are bit-identical and rank order is stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from debezium_server_bigquery_spark.functions.dedup_fuzzy import _hash60_sql
from debezium_server_bigquery_spark.sources.tables import load_table

N_PLANES = 8
TOPK = 5
NEARDUP_COSINE = 0.25
# OR-of-ANDs LSH for the near-dup pair scan: the 8 hyperplanes split into
# 2 bands x 4 planes; a pair is a candidate iff some band's 4 sign bits all
# agree.  More bands -> higher recall, more candidates.
NEARDUP_BANDS = 2


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double precision (JVM codegen, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.sqrt(dot(F.col(vec_col), F.col(vec_col))))


_DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


# --------------------------------------------------------------------------
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_norm(load_table(spark, sf_dir, "embeddings", spread=True))
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    joined = broadcast(queries).join(emb, F.col("query_id") != F.col("vec_id"))
    sim = cosine(F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.round("sim", 6).alias("cosine_sim"),
        )
        .orderBy("query_id", "rank")
    )


ANN_TOPK_SQL = f"""
WITH normed AS (
  SELECT vec_id, embedding, sqrt({_dot_sql("embedding", "embedding")}) AS norm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
    {_dot_sql("q.embedding", "e.embedding")} / (q.norm * e.norm) AS sim,
    ROW_NUMBER() OVER (
      PARTITION BY q.vec_id
      ORDER BY {_dot_sql("q.embedding", "e.embedding")} / (q.norm * e.norm) DESC,
               e.vec_id ASC) AS rank
  FROM normed q JOIN normed e ON q.vec_id <> e.vec_id
  WHERE q.vec_id < 10
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(sim, 6) AS cosine_sim
FROM scored WHERE rank <= {TOPK} ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
def _hash60_py(s: str) -> int:
    """Python twin of ``hash60`` — md5 is identical across engines."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _plane_bits(dim: int) -> list[Column]:
    """One '1'/'0' sign bit per random hyperplane.  Hyperplane j component
    i is +/-1 from the parity of the md5-derived 60-bit hash of "j:i"
    (1-based i to mirror DuckDB list indexing).

    The signs depend only on (plane, index), so they are folded driver-side
    into literal arrays — the executor-side cost is 8 dot products per row,
    not 8*dim md5 digests per row (which also bloated codegen past JIT
    limits).  The DuckDB oracle still derives the same signs from md5 in
    SQL, pinning the Python constant-folding to the cross-engine formula.
    """
    bits = []
    for j in range(N_PLANES):
        signs = F.array(
            *[
                F.lit(1.0 if _hash60_py(f"{j}:{i}") & 1 else -1.0)
                for i in range(1, dim + 1)
            ]
        )
        proj = F.aggregate(
            F.zip_with(F.col("embedding"), signs, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return bits


def _bucket_expr(dim: int) -> Column:
    """8-bit random-hyperplane bucket (all plane bits concatenated)."""
    return F.concat(*_plane_bits(dim))


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "embeddings", spread=True)
    # planning-time constant: hyperplane literals need the static dimension
    dim = len(raw.select("embedding").head()["embedding"])
    emb = with_norm(raw).withColumn("bucket", _bucket_expr(dim))
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = broadcast(queries).join(
        emb,
        (F.col("q_bucket") == F.col("bucket"))
        & (F.col("query_id") != F.col("vec_id")),
    )
    sim = cosine(F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cands.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.col("bucket"),
            F.round("sim", 6).alias("cosine_sim"),
        )
        .orderBy("query_id", "rank")
    )


def _build_lsh_sql() -> str:
    bit_exprs = []
    for j in range(N_PLANES):
        seed = "'" + str(j) + ":' || i"
        sign = (
            f"(CASE WHEN ({_hash60_sql(seed)} & 1) = 1 "
            "THEN 1.0 ELSE -1.0 END)"
        )
        proj = (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            "list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * {sign})), (x, y) -> x + y)"
        )
        bit_exprs.append(f"(CASE WHEN {proj} > 0 THEN '1' ELSE '0' END)")
    bucket = " || ".join(bit_exprs)
    return f"""
WITH normed AS (
  SELECT vec_id, embedding,
    sqrt({_dot_sql("embedding", "embedding")}) AS norm,
    {bucket} AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, q.bucket AS bucket,
    {_dot_sql("q.embedding", "e.embedding")} / (q.norm * e.norm) AS sim,
    ROW_NUMBER() OVER (
      PARTITION BY q.vec_id
      ORDER BY {_dot_sql("q.embedding", "e.embedding")} / (q.norm * e.norm) DESC,
               e.vec_id ASC) AS rank
  FROM normed q JOIN normed e
    ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
  WHERE q.vec_id < 20
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, bucket, round(sim, 6) AS cosine_sim
FROM scored WHERE rank <= 3 ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
NPROBE = 2
IVF_TOPK = 3


def _sq_dist(a: Column, b: Column) -> Column:
    """Left-fold squared L2 distance (same fold order as the DuckDB twin)."""
    d = F.zip_with(a, b, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


def ivf_centroids(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer cells: the per-label mean vector.

    Computed distributed (posexplode -> decimal-sum per (label, pos) ->
    re-assemble array ordered by pos); the result is k rows, broadcast
    everywhere it is used.  A production IVF trains cells with k-means —
    the label centroid is one deterministic Lloyd's-style assignment step,
    which keeps the DuckDB oracle exact while exercising the identical
    dataflow (train small -> broadcast -> assign -> partition by cell).
    """
    exploded = emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
    per_pos = exploded.groupBy("label", "pos0").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(20,10)")).cast("double")
            / F.count("*")
        ).alias("cval")
    )
    return per_pos.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "cval"))), lambda s: s["cval"]
        ).alias("centroid")
    ).select(F.col("label").alias("cell_id"), "centroid")


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest coarse cell, probe
    the query's ``NPROBE`` nearest cells, exact-cosine re-rank inside them.

    Scale path vs the LSH variant: the inverted file is a *data layout* —
    at 100 TB the assignment writes ``partitionBy(cell_id)`` once, and each
    query then scans only nprobe/k of the corpus (partition pruning on the
    cell column), with the centroid table (k rows) broadcast.  Here the
    whole flow runs inline so the oracle can replay it.
    """
    emb = with_norm(load_table(spark, sf_dir, "embeddings", spread=True))
    cents = ivf_centroids(emb)
    scored = emb.crossJoin(broadcast(cents)).withColumn(
        "dist", _sq_dist(F.col("embedding"), F.col("centroid"))
    )
    w_cell = Window.partitionBy("vec_id").orderBy("dist", "cell_id")
    ranked = scored.withColumn("crank", F.row_number().over(w_cell))

    data = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "embedding", "norm", "cell_id"
    )
    probes = ranked.filter(
        (F.col("vec_id") < 10) & (F.col("crank") <= NPROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("cell_id").alias("probe_cell"),
    )
    cands = broadcast(probes).join(
        data,
        (F.col("probe_cell") == F.col("cell_id"))
        & (F.col("query_id") != F.col("vec_id")),
    )
    sim = cosine(F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cands.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_TOPK)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cell_id").alias("cell"),
            F.round("sim", 6).alias("cosine_sim"),
        )
        .orderBy("query_id", "rank")
    )


_SQDIST_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({a}) + 1), "
    "i -> (CAST({a}[i] AS DOUBLE) - {c}[i]) * (CAST({a}[i] AS DOUBLE) - {c}[i]))), "
    "(x, y) -> x + y)"
)

# The CTE chain (centroids -> cell assignment -> probes -> scored -> topk)
# is shared by ANN_IVF_SQL and ANN_IVF_RECALL_SQL as a named constant;
# composing the recall oracle from the constant (rather than slicing the
# final query out of ANN_IVF_SQL with str.index) keeps cosmetic edits to
# either SELECT from raising at import time and taking down the whole
# query registry.
_IVF_CTES = f"""
WITH cent_pos AS (
  SELECT label AS cell_id, u.pos AS pos,
    CAST(SUM(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS cval
  FROM (SELECT label,
          unnest(list_transform(range(1, len(embedding) + 1),
                                i -> {{'pos': i, 'val': embedding[i]}})) AS u
        FROM embeddings)
  GROUP BY label, u.pos
),
cents AS (
  SELECT cell_id, list(cval ORDER BY pos) AS centroid FROM cent_pos GROUP BY cell_id
),
normed AS (
  SELECT vec_id, embedding, sqrt({_dot_sql("embedding", "embedding")}) AS norm
  FROM embeddings
),
dists AS (
  SELECT vec_id, embedding, norm, cell_id,
    {_SQDIST_SQL.format(a="embedding", c="centroid")} AS dist
  FROM normed CROSS JOIN cents
),
ranked AS (
  SELECT vec_id, embedding, norm, cell_id,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS crank
  FROM dists
),
data AS (
  SELECT vec_id, embedding, norm, cell_id FROM ranked WHERE crank = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm, cell_id AS probe_cell
  FROM ranked WHERE vec_id < 10 AND crank <= {NPROBE}
),
scored AS (
  SELECT p.query_id, d.vec_id AS neighbor_id, d.cell_id AS cell,
    {_dot_sql("p.q_emb", "d.embedding")} / (p.q_norm * d.norm) AS sim
  FROM probes p JOIN data d
    ON p.probe_cell = d.cell_id AND p.query_id <> d.vec_id
),
topk AS (
  SELECT query_id, neighbor_id, cell, sim,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
"""

ANN_IVF_SQL = _IVF_CTES + f"""
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cell, round(sim, 6) AS cosine_sim
FROM topk WHERE rank <= {IVF_TOPK} ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF probe against exact brute-force top-k — the
    self-evaluation metric an ANN deployment monitors (probe quality
    degrades as centroids drift from the data distribution).

    Both arms reuse existing oracle-checked dataflows: the IVF arm is
    ann_ivf's plan; the exact arm is the broadcast-queries brute-force
    re-rank.  The output is per-query hit count and recall, so the metric
    itself is hash-checkable cross-engine.
    """
    # checkpoint: the candidate list (O(queries x k) rows, tiny) feeds both
    # the hit semi-join and the per-query distinct — without sharing, the
    # whole IVF pipeline (centroid assign + probe + rank) executes twice;
    # a scratch-parquet checkpoint shares it WITHOUT stranding a cache
    # after the query materializes (the LM cache-lifetime fix)
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    ivf = checkpoint_parquet(
        ann_ivf(spark, sf_dir).select("query_id", "neighbor_id"), "dsbq_ivf_"
    )
    emb = with_norm(load_table(spark, sf_dir, "embeddings", spread=True))
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    sim = cosine(F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    exact = (
        broadcast(queries)
        .join(emb, F.col("query_id") != F.col("vec_id"))
        .withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    hits = ivf.join(exact, ["query_id", "neighbor_id"], "left_semi")
    per_q = ivf.select("query_id").distinct()
    n_hits = hits.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    return (
        per_q.join(n_hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(IVF_TOPK)), 6
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


ANN_IVF_RECALL_SQL = f"""{_IVF_CTES}
, ivf AS (
  SELECT query_id, neighbor_id FROM topk WHERE rank <= {IVF_TOPK}
),
exact_scored AS (
  SELECT q.vec_id AS query_id, m.vec_id AS neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      {_dot_sql("q.embedding", "m.embedding")} / (q.norm * m.norm) DESC,
      m.vec_id ASC) AS rank
  FROM normed q JOIN normed m ON q.vec_id < 10 AND q.vec_id <> m.vec_id
),
exact AS (
  SELECT query_id, neighbor_id FROM exact_scored WHERE rank <= {IVF_TOPK}
)
SELECT i.query_id,
  CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_hits,
  round(COUNT(e.neighbor_id) / {float(IVF_TOPK)}, 6) AS recall_at_k
FROM ivf i
LEFT JOIN exact e
  ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
GROUP BY i.query_id
ORDER BY i.query_id
"""


def banded_embeddings(emb: DataFrame, dim: int, n_bands: int = None) -> DataFrame:
    """One row per (vector, band): (vec_id, embedding, norm, band_id,
    bucket) — the OR-of-ANDs hyperplane banding every bucketed-candidate
    consumer (near-dup pairs, contrastive mining) shares.  A change to
    the banding scheme lives HERE, in one place."""
    n_bands = NEARDUP_BANDS if n_bands is None else n_bands
    bits = _plane_bits(dim)
    per = N_PLANES // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_id"),
                F.concat(*bits[k * per : (k + 1) * per]).alias("bucket"),
            )
            for k in range(n_bands)
        ]
    )
    return emb.select(
        "vec_id", "embedding", "norm", F.explode(bands).alias("bd")
    ).select("vec_id", "embedding", "norm", "bd.band_id", "bd.bucket")


def banded_cte_sql(n_bands: int = None) -> str:
    """DuckDB twin of :func:`banded_embeddings`: the `normed` + `banded`
    CTE text (callers prepend WITH and append their own CTEs)."""
    n_bands = NEARDUP_BANDS if n_bands is None else n_bands
    per = N_PLANES // n_bands
    bit_exprs = []
    for j in range(N_PLANES):
        seed = "'" + str(j) + ":' || i"
        sign = (
            f"(CASE WHEN ({_hash60_sql(seed)} & 1) = 1 "
            "THEN 1.0 ELSE -1.0 END)"
        )
        proj = (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            "list_transform(range(1, len(embedding) + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * {sign})), (x, y) -> x + y)"
        )
        bit_exprs.append(f"(CASE WHEN {proj} > 0 THEN '1' ELSE '0' END)")
    band_cols = ", ".join(
        " || ".join(bit_exprs[k * per : (k + 1) * per]) + f" AS bucket{k}"
        for k in range(n_bands)
    )
    band_structs = ", ".join(
        f"{{'band_id': {k}, 'bucket': bucket{k}}}" for k in range(n_bands)
    )
    return f"""normed AS (
  SELECT vec_id, embedding, sqrt({_dot_sql("embedding", "embedding")}) AS norm,
    {band_cols}
  FROM embeddings
),
banded AS (
  SELECT vec_id, embedding, norm, u.band_id AS band_id, u.bucket AS bucket
  FROM (SELECT *, unnest([{band_structs}]) AS u FROM normed)
)"""


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate embedding pairs via OR-of-ANDs hyperplane LSH.

    Candidate pairs come ONLY from the band equi-join (2 bands x 4 sign
    bits): the plan is a shuffle-partitionable join on (band_id, bucket),
    never an all-pairs scan — the round-1 ``vec_id < 200`` crutch is gone.
    Exact cosine then filters candidates at ``NEARDUP_COSINE``; a pair
    colliding in both bands is emitted once (distinct on the rounded
    deterministic fold).  Recall < 1 by design — that is the LSH contract;
    raise NEARDUP_BANDS for higher recall at more candidates.
    """
    raw = load_table(spark, sf_dir, "embeddings", spread=True)
    dim = len(raw.select("embedding").head()["embedding"])
    banded = banded_embeddings(with_norm(raw), dim)
    a, b = banded.alias("a"), banded.alias("b")
    sim = cosine(
        F.col("a.embedding"), F.col("b.embedding"), F.col("a.norm"), F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= NEARDUP_COSINE)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("cosine_sim"))
        .distinct()
        .orderBy("vec_a", "vec_b")
    )


def _build_neardup_sql() -> str:
    return f"""
WITH {banded_cte_sql()}
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round({_dot_sql("a.embedding", "b.embedding")} / (a.norm * b.norm), 6) AS cosine_sim
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_dot_sql("a.embedding", "b.embedding")} / (a.norm * b.norm) >= {NEARDUP_COSINE}
ORDER BY vec_a, vec_b
"""


EMB_NEARDUP_SQL = _build_neardup_sql()


# --------------------------------------------------------------------------
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    exploded = emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("val").cast("double").cast("decimal(20,10)")).alias("s"),
        )
        .select(
            "label",
            "pos",
            "n",
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("centroid_val"),
        )
        .orderBy("label", "pos")
    )


EMB_CENTROID_SQL = """
SELECT label, CAST(u.pos AS INTEGER) AS pos, COUNT(*) AS n,
  round(CAST(SUM(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6) AS centroid_val
FROM (SELECT label,
        unnest(list_transform(range(1, len(embedding) + 1),
                              i -> {'pos': i, 'val': embedding[i]})) AS u
      FROM embeddings)
GROUP BY label, u.pos ORDER BY label, pos
"""


NORM_NEAR_ZERO = 0.25  # squared-norm floor below which a vector is "collapsed"


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table intake audit: per label, the distribution of
    squared vector norms plus the count of near-zero (collapsed) vectors
    — the first check before any similarity / dedup / ANN stage trusts
    the embedding column.  A failed encoder batch emits near-zero
    vectors whose cosines are pure noise; a mixture of normalized and
    unnormalized sources shows up as a bimodal norm range long before it
    shows up as bad retrieval.

    Scale design (100 TB): norm^2 is a row-local sequential fold over
    the array (the exact fold order the cosine oracle uses — no shuffle,
    no explode), then one per-label hash aggregate.  The mean rides an
    exact DECIMAL sum of per-row ROUNDED norms, so the report
    hash-compares cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    per = emb.select(
        "label",
        F.round(dot(F.col("embedding"), F.col("embedding")), 6).alias("nsq"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("nsq").alias("min_norm_sq"),
            F.max("nsq").alias("max_norm_sq"),
            F.round(
                F.sum(F.col("nsq").cast("decimal(25,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_norm_sq"),
            F.sum(
                F.when(F.col("nsq") < NORM_NEAR_ZERO, 1).otherwise(0)
            ).alias("n_near_zero"),
        )
        .orderBy("label")
    )


EMBEDDING_NORM_SQL = f"""
WITH per AS (
  SELECT label, round({_dot_sql("embedding", "embedding")}, 6) AS nsq
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
  MIN(nsq) AS min_norm_sq, MAX(nsq) AS max_norm_sq,
  round(CAST(SUM(CAST(nsq AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6)
    AS mean_norm_sq,
  CAST(SUM(CASE WHEN nsq < {NORM_NEAR_ZERO} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_near_zero
FROM per GROUP BY label ORDER BY label
"""


SIMHIST_BUCKETS = 16  # pair sample rate = 1/B; size B ~ n for constant work
SIMHIST_BIN_W = 0.1  # histogram bin width over [-1, 1]


def embedding_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of pairwise cosine similarity over a deterministic
    1/``SIMHIST_BUCKETS`` sample of vector pairs — the representation-
    collapse / hubness audit run before trusting an embedding column for
    dedup or retrieval: a healthy space has mass spread below ~0.5; a
    collapsed encoder (or an all-positives contrastive bug) piles the
    histogram against 1.0, and anisotropy shows as a shifted mode.

    Scale design (100 TB): all-pairs cosine is O(n^2) and never runs —
    instead each vector gets a content-independent hash bucket and only
    same-bucket pairs are compared: an unbiased uniform pair sample of
    rate 1/B from a self-equi-join on the bucket key (expected occupancy
    n/B; choose B ~ n to hold per-bucket pair work constant — B is the
    knob, the plan shape never changes).  The identical-subtree self-join
    reuses one exchange; the histogram is a tiny fixed-width hash
    aggregate.  Determinism: same fold-order dot products as every
    cosine here, and bin edges are comparisons on bit-identical doubles
    — counts are exact integers, so no float aggregate ever crosses
    engines."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings", spread=True))
    keyed = emb.select(
        "vec_id",
        "embedding",
        "norm",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("simhist:"), F.col("vec_id"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(SIMHIST_BUCKETS),
        ).alias("bucket"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    sim = cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.norm"),
        F.col("b.norm"),
    )
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(sim.alias("sim"))
    # bin = floor((sim + 1) / w), clamped so sim = 1.0 lands in the top bin
    bin_idx = F.least(
        F.floor((F.col("sim") + 1.0) / SIMHIST_BIN_W).cast("long"),
        F.lit(int(round(2 / SIMHIST_BIN_W)) - 1),
    )
    total = pairs.agg(F.count("*").alias("n_total"))
    return (
        pairs.groupBy(bin_idx.alias("bin"))
        .agg(F.count("*").alias("n_pairs"))
        .crossJoin(broadcast(total))
        .select(
            "bin",
            F.round(F.col("bin") * SIMHIST_BIN_W - 1.0, 2).alias("sim_lo"),
            F.round((F.col("bin") + 1) * SIMHIST_BIN_W - 1.0, 2).alias("sim_hi"),
            "n_pairs",
            F.round(F.col("n_pairs").cast("double") / F.col("n_total"), 6).alias(
                "share"
            ),
        )
        .orderBy("bin")
    )


SIM_HISTOGRAM_SQL = f"""
WITH keyed AS (
  SELECT vec_id, embedding,
    sqrt({_dot_sql("embedding", "embedding")}) AS norm,
    {_hash60_sql("'simhist:' || vec_id")} % {SIMHIST_BUCKETS} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT {_dot_sql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS sim
  FROM keyed a JOIN keyed b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
binned AS (
  SELECT least(CAST(floor((sim + 1.0) / {SIMHIST_BIN_W}) AS BIGINT),
               {int(round(2 / SIMHIST_BIN_W)) - 1}) AS bin
  FROM pairs
),
total AS (SELECT COUNT(*) AS n_total FROM binned)
SELECT bin,
  round(bin * CAST({SIMHIST_BIN_W} AS DOUBLE) - 1.0, 2) AS sim_lo,
  round((bin + 1) * CAST({SIMHIST_BIN_W} AS DOUBLE) - 1.0, 2) AS sim_hi,
  COUNT(*) AS n_pairs,
  round(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(n_total), 6) AS share
FROM binned, total
GROUP BY bin ORDER BY bin
"""


def embedding_label_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label probe: for each vector, the label of its
    nearest sampled neighbor by cosine; per-label prediction accuracy —
    the standard "does the embedding space respect the labels" probe run
    before trusting embeddings for clustering or semantic dedup (a space
    can have healthy norms and similarity spread yet scramble classes).

    Scale design (100 TB): neighbors come from the same deterministic
    1/``SIMHIST_BUCKETS`` hash-bucket pair sample as the similarity
    histogram (an equi-join, never all-pairs; the probe is a sampled
    estimator by construction); the per-query argmax is a window keyed by
    vec_id — millions of tiny partitions, never single-partition.
    Determinism: fold-order-identical dot products and a vec_id tiebreak
    on equal similarity."""
    emb = with_norm(load_table(spark, sf_dir, "embeddings", spread=True))
    keyed = emb.select(
        "vec_id",
        "embedding",
        "norm",
        "label",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("simhist:"), F.col("vec_id"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(SIMHIST_BUCKETS),
        ).alias("bucket"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    sim = cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.norm"),
        F.col("b.norm"),
    )
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.label").alias("label"),
        F.col("b.vec_id").alias("nbr_id"),
        F.col("b.label").alias("nbr_label"),
        sim.alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    nn = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        nn.groupBy("label")
        .agg(
            F.count("*").alias("n_probed"),
            F.sum(F.when(F.col("nbr_label") == F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n_probed",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_probed"), 6
            ).alias("knn_accuracy"),
        )
        .orderBy("label")
    )


KNN_ACCURACY_SQL = f"""
WITH keyed AS (
  SELECT vec_id, embedding, label,
    sqrt({_dot_sql("embedding", "embedding")}) AS norm,
    {_hash60_sql("'simhist:' || vec_id")} % {SIMHIST_BUCKETS} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id, a.label, b.vec_id AS nbr_id, b.label AS nbr_label,
    {_dot_sql("a.embedding", "b.embedding")} / (a.norm * b.norm) AS sim
  FROM keyed a JOIN keyed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
nn AS (
  SELECT vec_id, label, nbr_label,
    ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, nbr_id ASC) AS rn
  FROM pairs
)
SELECT label, COUNT(*) AS n_probed,
  CAST(SUM(CASE WHEN nbr_label = label THEN 1 ELSE 0 END) AS BIGINT)
    AS n_correct,
  round(CAST(SUM(CASE WHEN nbr_label = label THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS knn_accuracy
FROM nn WHERE rn = 1
GROUP BY label ORDER BY label
"""


def label_contradiction_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit: near-identical embedding pairs whose LABELS
    disagree, rolled up per unordered label pair — the "which classes
    bleed into each other" matrix a dataset owner reads before trusting
    the labels (a high-cosine pair with two different labels is either a
    mislabel or a genuinely ambiguous example; either way it caps the
    accuracy any classifier can reach).

    Scale design: candidate pairs come from the SAME OR-of-ANDs
    hyperplane banding every bucketed consumer shares
    (``banded_embeddings`` — an equi-join on (band_id, bucket), never
    all-pairs); labels join back on the vector key; the rollup is one
    hash aggregate bounded by C(|labels|, 2) output rows.  The per-group
    summary is (count, MAX cosine) — max is order-independent, so no
    float ever accumulates."""
    raw = load_table(spark, sf_dir, "embeddings", spread=True)
    dim = len(raw.select("embedding").head()["embedding"])
    banded = banded_embeddings(with_norm(raw), dim)
    a, b = banded.alias("a"), banded.alias("b")
    sim = cosine(
        F.col("a.embedding"),
        F.col("b.embedding"),
        F.col("a.norm"),
        F.col("b.norm"),
    )
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= NEARDUP_COSINE)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("cosine_sim"))
        .distinct()
    )
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    la = lab.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a")
    )
    lb = lab.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b")
    )
    return (
        pairs.join(la, "vec_a")
        .join(lb, "vec_b")
        .filter(F.col("label_a") != F.col("label_b"))
        .groupBy(
            F.least("label_a", "label_b").alias("label_lo"),
            F.greatest("label_a", "label_b").alias("label_hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("cosine_sim").alias("max_cosine"),
        )
        .orderBy("label_lo", "label_hi")
    )


def _build_label_contradiction_sql() -> str:
    return f"""
WITH {banded_cte_sql()},
p AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
    round({_dot_sql("a.embedding", "b.embedding")} / (a.norm * b.norm), 6)
      AS cosine_sim
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
  WHERE {_dot_sql("a.embedding", "b.embedding")} / (a.norm * b.norm)
        >= {NEARDUP_COSINE}
)
SELECT least(la.label, lb.label) AS label_lo,
       greatest(la.label, lb.label) AS label_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       MAX(p.cosine_sim) AS max_cosine
FROM p
JOIN embeddings la ON p.vec_a = la.vec_id
JOIN embeddings lb ON p.vec_b = lb.vec_id
WHERE la.label <> lb.label
GROUP BY 1, 2
ORDER BY label_lo, label_hi
"""


QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf": ann_ivf,
    "ann_ivf_recall": ann_ivf_recall,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "label_contradiction_matrix": label_contradiction_matrix,
    "embedding_centroid_by_label": embedding_centroid_by_label,
    "embedding_norm_stats": embedding_norm_stats,
    "embedding_similarity_histogram": embedding_similarity_histogram,
    "embedding_label_knn_accuracy": embedding_label_knn_accuracy,
}

ORACLES = {
    "ann_cosine_topk": ANN_TOPK_SQL,
    "ann_lsh_bucketed": _build_lsh_sql(),
    "ann_ivf": ANN_IVF_SQL,
    "ann_ivf_recall": ANN_IVF_RECALL_SQL,
    "embedding_neardup_pairs": EMB_NEARDUP_SQL,
    "label_contradiction_matrix": _build_label_contradiction_sql(),
    "embedding_centroid_by_label": EMB_CENTROID_SQL,
    "embedding_norm_stats": EMBEDDING_NORM_SQL,
    "embedding_similarity_histogram": SIM_HISTOGRAM_SQL,
    "embedding_label_knn_accuracy": KNN_ACCURACY_SQL,
}


TRUNC_DIM = 32  # Matryoshka-style prefix truncation: first half of 64


def ann_dim_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation eval: how much of the full-dimension
    top-K does cosine retrieval on the FIRST 32 of 64 dimensions keep?
    The question every embedding-serving team asks before halving index
    memory (MRL training makes prefixes usable; this measures whether
    THIS table's embeddings tolerate it).  Output: per probe, the
    overlap between the full-dim and truncated-dim top-K neighbor sets.

    Scale design (100 TB): both rankings reuse the brute-force probe
    shape (broadcast probes × one scan — the exact baseline the ANN
    family calibrates against); truncation is a row-local array slice,
    the overlap an equi-join of two ≤K-row-per-probe sets.  Same
    fixed-fold dot product and rounded-tie conventions as
    ``ann_cosine_topk``."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    full = with_norm(emb)
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, TRUNC_DIM).alias("embedding")
    )
    trunc = with_norm(trunc)

    def topk(normed: DataFrame) -> DataFrame:
        queries = normed.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
        joined = broadcast(queries).join(
            normed, F.col("query_id") != F.col("vec_id")
        )
        sim = cosine(
            F.col("q_emb"), F.col("embedding"), F.col("q_norm"), F.col("norm")
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
        return (
            joined.withColumn("sim", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )

    full_k = topk(full)
    trunc_k = topk(trunc).withColumnRenamed("neighbor_id", "t_neighbor")
    hits = (
        full_k.join(
            trunc_k,
            (full_k["query_id"] == trunc_k["query_id"])
            & (full_k["neighbor_id"] == trunc_k["t_neighbor"]),
        )
        .groupBy(full_k["query_id"].alias("query_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    base = full_k.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)).cast("double")
                / F.col("k").cast("double"),
                6,
            ).alias("overlap_frac"),
        )
        .orderBy("query_id")
    )


ANN_TRUNC_SQL = f"""
WITH full_n AS (
  SELECT vec_id, embedding,
    sqrt({_dot_sql("embedding", "embedding")}) AS norm
  FROM embeddings
),
trunc0 AS (
  SELECT vec_id, list_slice(embedding, 1, {TRUNC_DIM}) AS embedding
  FROM embeddings
),
trunc_n AS (
  SELECT vec_id, embedding,
    sqrt({_dot_sql("embedding", "embedding")}) AS norm
  FROM trunc0
),
full_k AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY {_dot_sql("q.embedding", "e.embedding")} / (q.norm * e.norm)
          DESC, e.vec_id ASC) AS rank
    FROM full_n q JOIN full_n e ON q.vec_id <> e.vec_id
    WHERE q.vec_id < 10
  ) WHERE rank <= {TOPK}
),
trunc_k AS (
  SELECT query_id, neighbor_id AS t_neighbor FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY {_dot_sql("q.embedding", "e.embedding")} / (q.norm * e.norm)
          DESC, e.vec_id ASC) AS rank
    FROM trunc_n q JOIN trunc_n e ON q.vec_id <> e.vec_id
    WHERE q.vec_id < 10
  ) WHERE rank <= {TOPK}
),
hits AS (
  SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM full_k f JOIN trunc_k t
    ON f.query_id = t.query_id AND f.neighbor_id = t.t_neighbor
  GROUP BY f.query_id
),
base AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k FROM full_k GROUP BY query_id
)
SELECT b.query_id,
  CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
  round(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / CAST(b.k AS DOUBLE), 6)
    AS overlap_frac
FROM base b LEFT JOIN hits h ON b.query_id = h.query_id
ORDER BY b.query_id
"""

QUERIES["ann_dim_truncation_eval"] = ann_dim_truncation_eval
ORACLES["ann_dim_truncation_eval"] = ANN_TRUNC_SQL


ID_PROBES = 50  # Two-NN probes (vec_id < ID_PROBES)


def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017):
    ID ≈ ln 2 / mean(ln(r₂/r₁)) over probe points, with r₁, r₂ the
    distances to the first and second nearest neighbors — the embedding
    diagnostics number that says how much of the 64 ambient dimensions
    the data actually occupies (low ID → aggressive PQ/truncation is
    safe; the companion readout to ``ann_dim_truncation_eval``).

    Scale design: the same broadcast bounded-probe shape as the
    brute-force ANN baseline (≤ ID_PROBES rows against one scan);
    per-probe r₁/r₂ come from a PROBE-partitioned top-2 window; the
    per-probe ln ratio rounds to 12 dp into DECIMAL so the mean is
    order-independent.  Probes whose r₁ = 0 (exact duplicate vectors)
    are excluded — their ratio is undefined."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < ID_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    joined = broadcast(probes).join(emb, F.col("query_id") != F.col("vec_id"))
    d2 = _sq_dist(F.col("q_emb"), F.col("embedding"))
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    nn2 = (
        joined.withColumn("d2", d2)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .groupBy("query_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("d2"))).alias("d1"),
            F.max(F.when(F.col("rk") == 2, F.col("d2"))).alias("d2_"),
        )
        .filter(F.col("d1") > 0)
    )
    # ln(r2/r1) = 0.5 * ln(d2/d1) on squared distances
    ratio = F.round(F.lit(0.5) * F.log(F.col("d2_") / F.col("d1")), 12).cast(
        "decimal(38,12)"
    )
    m = nn2.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(ratio).alias("s_ln"),
    )
    mean_ln = F.col("s_ln").cast("double") / F.col("n_probes").cast("double")
    return m.select(
        "n_probes",
        F.when(
            (F.col("n_probes") > 0) & (F.col("s_ln") > 0),
            F.round(F.lit(0.6931471805599453) / mean_ln, 6) + F.lit(0.0),
        ).alias("intrinsic_dim"),
    )


def _sqdist_sql(a: str, b: str) -> str:
    return (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (x, y) -> x + y)"
    )


INTRINSIC_DIM_SQL = f"""
WITH nn AS (
  SELECT q.vec_id AS query_id,
    {_sqdist_sql("q.embedding", "e.embedding")} AS d2,
    e.vec_id AS nid
  FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
  WHERE q.vec_id < {ID_PROBES}
),
top2 AS (
  SELECT query_id, d2,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, nid ASC) AS rk
  FROM nn
),
pair AS (
  SELECT query_id,
    MAX(CASE WHEN rk = 1 THEN d2 END) AS d1,
    MAX(CASE WHEN rk = 2 THEN d2 END) AS d2_
  FROM top2 WHERE rk <= 2 GROUP BY query_id
),
valid AS (SELECT * FROM pair WHERE d1 > 0),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
    CAST(SUM(CAST(round(0.5 * ln(d2_ / d1), 12) AS DECIMAL(38,12)))
      AS DECIMAL(38,12)) AS s_ln
  FROM valid
)
SELECT n_probes,
  CASE WHEN n_probes > 0 AND s_ln > 0 THEN
    round(0.6931471805599453
          / (CAST(s_ln AS DOUBLE) / CAST(n_probes AS DOUBLE)), 6) + 0.0
  END AS intrinsic_dim
FROM m
"""

QUERIES["embedding_intrinsic_dim"] = embedding_intrinsic_dim
ORACLES["embedding_intrinsic_dim"] = INTRINSIC_DIM_SQL

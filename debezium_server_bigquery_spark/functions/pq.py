"""Product quantization (PQ) — compressed ANN, the IVF-PQ scale path.

Completes the ANN progression (brute -> LSH -> IVF -> IVF-PQ): at 100 TB
the corpus does not fit as raw ``array<float>``; PQ stores each vector as
``PQ_M`` one-byte codes (64 floats -> 8 bytes here, a 32x compression) and
answers queries with asymmetric distance computation (ADC): the query
builds a tiny per-subspace lookup table against the codebooks and a
candidate's distance is a sum of ``PQ_M`` table lookups — no float vectors
are touched at search time (Jegou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

Codebook convention: like :func:`ivf_centroids`, codewords are the
PER-LABEL mean subvectors — one deterministic Lloyd's-style step instead
of an iterative k-means, so the DuckDB oracle replays the exact dataflow
(train -> encode -> LUT -> ADC) end to end.  A production deployment
swaps in k-means codebooks and a stored codes table; every plan shape
below is unchanged by that swap.

Scale design:

- **Codebooks are metadata**: PQ_M x K x PQ_SUBDIM floats (8x10x8 here),
  broadcast everywhere.
- **Encoding is one broadcast join**: vectors explode into PQ_M subspace
  rows, join the broadcast codebook, one map-side-combinable
  ``min_by`` aggregate picks each subspace's nearest codeword.  No
  shuffle of raw vectors beyond their one scan.
- **Search never reads vectors**: the LUT is |queries| x PQ_M x K rows
  (broadcast); ADC is a broadcast join on (m, code) + one sum aggregate.
  Exact-sum determinism: per-subspace distances are summed as
  DECIMAL(20,10) (associative), matching the oracle bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from debezium_server_bigquery_spark.functions.similarity import (
    _sq_dist,
    ivf_centroids,
)
from debezium_server_bigquery_spark.sources.tables import load_table

PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (8 x 8 = the 64-dim test embeddings)
PQ_TOPK = 5
PQ_N_QUERIES = 10  # vec_id < 10, matching the other ANN queries
# ADC shortlist size for the rerank composition.  ADC alone cannot rank
# near-iid unit vectors with 8-byte codes (measured recall@5 ~0.16 on the
# test corpus — barely above the 0.125 random baseline); its job is
# shortlisting: scanning only the ADC top-50 (10% of the sf0.01 corpus)
# with exact re-rank recovers recall@5 ~0.58, vs 0.10 for a random 10%
# sample.  That composition IS the production PQ deployment.
PQ_SHORTLIST = 50


def pq_codebook(emb: DataFrame) -> DataFrame:
    """(m, code, cw) — codeword ``cw`` is subspace ``m`` of the label-mean
    centroid with code = label.  K = #labels rows per subspace; the whole
    table is O(metadata) and always broadcast."""
    cents = ivf_centroids(emb)  # (cell_id, centroid[64])
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("centroid", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("cw"),
            )
            for m in range(PQ_M)
        ]
    )
    return cents.select(
        F.col("cell_id").alias("code"), F.explode(slices).alias("s")
    ).select("code", F.col("s.m").alias("m"), F.col("s.cw").alias("cw"))


def _subspaces(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sv) — each vector split into its PQ_M subvectors."""
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("embedding", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return emb.select("vec_id", F.explode(slices).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )


def _subspace_dists(vectors: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, m, code, dist) — squared L2 from every subvector of
    ``vectors`` to every codeword of its subspace.  K x PQ_M rows per
    vector, codebook broadcast.  The codebook is passed in (NOT derived
    from ``vectors``): train and encode/search sets differ."""
    return (
        _subspaces(vectors)
        .join(broadcast(codebook), "m")
        .withColumn("dist", _sq_dist(F.col("sv"), F.col("cw")))
        .select("vec_id", "m", "code", "dist")
    )


def pq_encode(vectors: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, m, code) — each subspace's nearest codeword.  Lexicographic
    [dist, code] tiebreak keeps the argmin deterministic cross-engine; the
    min_by aggregate is map-side combinable (no window sort)."""
    d = _subspace_dists(vectors, codebook)
    return d.groupBy("vec_id", "m").agg(
        F.min_by("code", F.array(F.col("dist"), F.col("code").cast("double"))).alias(
            "code"
        )
    )


def _adc_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, adc_dist) — PQ asymmetric distances of every
    corpus vector to the 10 standard queries (self excluded).

    Substrate checkpoints (round 12, measured): the codebook feeds both
    the encode and the LUT — inline, each broadcast subtree re-ran the
    full-embeddings centroid pass (the derived-aggregate chain
    pathology, tools/plans.py scan); and the ADC table itself is
    the shared substrate of ann_pq_adc_topk AND ann_pq_rerank, so the
    expensive encode (n x M x K distance evaluations) runs once per
    session instead of once per query.  cb is O(metadata) (M x K
    codewords); adc is n x |queries| narrow rows — the \"stored codes
    table\" a production PQ deployment keeps anyway."""
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cb = checkpoint_parquet(pq_codebook(emb), "dsbq_pq_cb_")
    codes = pq_encode(emb, cb)
    lut = _subspace_dists(emb.filter(F.col("vec_id") < PQ_N_QUERIES), cb).select(
        F.col("vec_id").alias("query_id"),
        "m",
        "code",
        F.col("dist").alias("qdist"),
    )
    return checkpoint_parquet(
        codes.join(broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("qdist").cast("decimal(20,10)"))
            .cast("double")
            .alias("adc_dist")
        ),
        "dsbq_pq_adc_",
    )


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by PQ asymmetric distance for the standard 10 query vectors.

    Plan: encode (broadcast join + min_by agg), LUT = the query rows'
    subspace distances (tiny, broadcast), ADC = broadcast join on
    (m, code) + DECIMAL-exact sum, one window for the final top-k.
    """
    adc = _adc_table(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.round("adc_dist", 6).alias("adc_dist"),
        )
        .orderBy("query_id", "rank")
    )


def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ composition: ADC shortlists PQ_SHORTLIST
    candidates per query from the compressed codes, exact L2 re-ranks only
    those.  Per query the raw vectors touched are |shortlist|, not |corpus|
    — at 100 TB the code table is the only full scan, 32x smaller than the
    vectors.  Measured on the test corpus: recall@5 0.58 scanning 10% of
    vectors (random 10% sample: 0.10)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    adc = _adc_table(spark, sf_dir)
    w_short = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    shortlist = (
        adc.withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= PQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    queries = emb.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = (
        shortlist.join(emb, "vec_id")
        .join(broadcast(queries), "query_id")
        .withColumn("l2_dist", _sq_dist(F.col("q_emb"), F.col("embedding")))
    )
    w = Window.partitionBy("query_id").orderBy("l2_dist", "vec_id")
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            "query_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.round("l2_dist", 6).alias("l2_dist"),
        )
        .orderBy("query_id", "rank")
    )


_PQ_SQ_DIST = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, {n} + 1), "
    "i -> (CAST(sv[i] AS DOUBLE) - cw[i]) * (CAST(sv[i] AS DOUBLE) - cw[i]))), "
    "(x, y) -> x + y)"
).format(n=PQ_SUBDIM)

# Shared CTE chain (named constant + composed final SELECTs, never string
# slicing): train (label-mean codebooks) -> subspaces -> distances ->
# codes -> query LUT -> ADC table.
PQ_ADC_CTES = f"""
WITH cent AS (
  SELECT label AS code, list(centroid_val ORDER BY pos) AS centroid
  FROM (
    SELECT label, u.pos AS pos,
      CAST(SUM(CAST(CAST(u.val AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE)
        / COUNT(*) AS centroid_val
    FROM (SELECT label,
            unnest(list_transform(range(1, len(embedding) + 1),
                                  i -> {{'pos': i, 'val': embedding[i]}})) AS u
          FROM embeddings)
    GROUP BY label, u.pos)
  GROUP BY label
),
ms AS (SELECT unnest(range({PQ_M})) AS m),
cb AS (
  SELECT ms.m, code,
         centroid[ms.m * {PQ_SUBDIM} + 1 : ms.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS cw
  FROM cent, ms
),
sub AS (
  SELECT vec_id, ms.m,
         embedding[ms.m * {PQ_SUBDIM} + 1 : ms.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
  FROM embeddings, ms
),
dists AS (
  SELECT vec_id, s.m AS m, cb.code AS code, {_PQ_SQ_DIST} AS dist
  FROM sub s JOIN cb ON s.m = cb.m
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
    FROM dists) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS query_id, m, code, dist AS qdist
  FROM dists WHERE vec_id < {PQ_N_QUERIES}
),
adc AS (
  SELECT l.query_id, c.vec_id,
    CAST(SUM(CAST(l.qdist AS DECIMAL(20,10))) AS DOUBLE) AS adc_dist
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
)"""

ANN_PQ_SQL = f"""{PQ_ADC_CTES}
SELECT query_id, rank, neighbor_id, adc_dist FROM (
  SELECT query_id, vec_id AS neighbor_id, round(adc_dist, 6) AS adc_dist,
    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
  FROM adc)
WHERE rank <= {PQ_TOPK}
ORDER BY query_id, rank
"""

_EXACT_SQ_DIST = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len(q.embedding) + 1), "
    "i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))"
    " * (CAST(q.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE)))), "
    "(x, y) -> x + y)"
)

ANN_PQ_RERANK_SQL = f"""{PQ_ADC_CTES},
shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS srank
    FROM adc)
  WHERE srank <= {PQ_SHORTLIST}
),
exact AS (
  SELECT s.query_id, s.vec_id, {_EXACT_SQ_DIST} AS l2_dist
  FROM shortlist s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN embeddings q ON q.vec_id = s.query_id
)
SELECT query_id, rank, neighbor_id, l2_dist FROM (
  SELECT query_id, vec_id AS neighbor_id, round(l2_dist, 6) AS l2_dist,
    row_number() OVER (PARTITION BY query_id ORDER BY l2_dist, vec_id) AS rank
  FROM exact)
WHERE rank <= {PQ_TOPK}
ORDER BY query_id, rank
"""

QUERIES = {
    "ann_pq_adc_topk": ann_pq_adc_topk,
    "ann_pq_rerank": ann_pq_rerank,
}
ORACLES = {
    "ann_pq_adc_topk": ANN_PQ_SQL,
    "ann_pq_rerank": ANN_PQ_RERANK_SQL,
}

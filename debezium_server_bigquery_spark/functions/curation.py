"""Corpus-curation operators: stratified sampling and vocabulary building.

Training-data pipelines sample corpora by stratum (language, source,
quality bucket) and build token vocabularies before tokenizer training.
Both are single-shuffle plans of pure ``pyspark.sql.functions`` column
algebra with DuckDB oracle twins (no reference analog — the reference
replicates tables 1:1; these are the LLM-pipeline extensions the engine
adds on top, same family as functions/text.py).

Determinism: sampling uses the md5-derived 60-bit hash (identical in both
engines) as the random key, so "random" sampling is reproducible and
oracle-checkable — exactly how production pipelines make sampling
re-runnable across engine versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debezium_server_bigquery_spark.functions.dedup_fuzzy import _hash60_sql, hash60, words
from debezium_server_bigquery_spark.functions.text import STOPWORDS
from debezium_server_bigquery_spark.operators.rank import ordered_output
from debezium_server_bigquery_spark.sources.tables import load_table

SAMPLE_PER_STRATUM = 50
SAMPLE_SALTS = 16  # phase-1 fan-out: bounds per-task sort state at N
VOCAB_TOP_K = 50


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: top ``SAMPLE_PER_STRATUM`` docs per
    language, ordered by a salted content-independent hash of the doc id.

    Scale shape: two-phase top-N.  Phase 1 ranks within (stratum, salt)
    and keeps N per salt — the sort state per task is bounded at N
    regardless of stratum size, so one billion-row stratum cannot pin a
    single task.  Phase 2 ranks the <= N x SALTS survivors per stratum.
    A single-window form (rank over the whole stratum) is the textbook
    hot-stratum bottleneck this avoids.  The hash key makes the sample
    uniform-at-random but replayable.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "lang",
        "source",
        hash60(F.concat(F.lit("sample:"), F.col("doc_id"))).alias("rk"),
    ).withColumn("salt", F.pmod(F.col("rk"), F.lit(SAMPLE_SALTS)))
    w_local = Window.partitionBy("lang", "salt").orderBy("rk", "doc_id")
    survivors = keyed.withColumn("lr", F.row_number().over(w_local)).filter(
        F.col("lr") <= SAMPLE_PER_STRATUM
    )
    w = Window.partitionBy("lang").orderBy("rk", "doc_id")
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= SAMPLE_PER_STRATUM)
        .select("doc_id", "lang", "source", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


SAMPLE_STRATIFIED_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang, source,
    {_hash60_sql("'sample:' || doc_id")} AS rk
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, source,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS sample_rank
  FROM keyed
)
SELECT doc_id, lang, source, CAST(sample_rank AS INTEGER) AS sample_rank
FROM ranked WHERE sample_rank <= {SAMPLE_PER_STRATUM}
ORDER BY lang, sample_rank
"""


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary head: top-K terms by document frequency.

    Document frequency (distinct docs containing the term), not raw count:
    ``array_distinct`` per doc before the explode keeps the aggregate a
    plain COUNT(*) — map-side combinable — instead of a COUNT(DISTINCT).
    The global top-K is an orderBy+limit, which Spark executes as
    TakeOrderedAndProject (per-partition top-K, tiny driver merge) — no
    full sort at any scale.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    terms = docs.select(
        F.explode(F.array_distinct(words(F.lower(F.col("text"))))).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(VOCAB_TOP_K)
    )


VOCAB_TOP_TERMS_SQL = rf"""
WITH terms AS (
  SELECT unnest(list_distinct(
           list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS term
  FROM documents
)
SELECT term, COUNT(*) AS doc_freq
FROM terms GROUP BY term
ORDER BY doc_freq DESC, term ASC
LIMIT {VOCAB_TOP_K}
"""


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the learned top-K head
    — the tokenizer-coverage metric that decides whether a vocabulary (or
    BPE merge table) fits a corpus slice.

    The vocabulary is a K-row broadcast; the per-doc rate is one explode +
    broadcast left-join + count aggregate, all map-side combinable.  The
    rate is a ratio of exact longs, deterministic cross-engine."""
    vocab = vocab_top_terms(spark, sf_dir).select("term", F.lit(1).alias("in_vocab"))
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", "lang", F.explode(words(F.lower(F.col("text")))).alias("term")
    )
    joined = toks.join(F.broadcast(vocab), "term", "left")
    return (
        joined.groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


VOCAB_OOV_SQL = rf"""
WITH terms AS (
  SELECT unnest(list_distinct(
           list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS doc_freq FROM terms GROUP BY term
    ORDER BY doc_freq DESC, term ASC LIMIT {VOCAB_TOP_K}
  )
),
toks AS (
  SELECT doc_id, lang,
    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
  FROM documents
)
SELECT t.doc_id, t.lang, COUNT(*) AS n_tokens,
  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  round(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.term = v.term
GROUP BY t.doc_id, t.lang
ORDER BY t.doc_id
"""


# Per-stratum Bernoulli rates for the proportional sampler: up-sample rare
# languages, down-sample the head — the standard training-mix reweighting.
SAMPLE_RATES = {"en": 0.25, "de": 0.5, "fr": 0.5, "es": 0.75, "zh": 1.0}
SAMPLE_RATE_DEFAULT = 0.1
_RATE_SCALE = 10_000


def sample_bernoulli_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional (Bernoulli) sampling with per-stratum rates.

    Complements ``sample_stratified`` (fixed N per stratum): here each row
    keeps with probability rate[lang], decided by its own salted hash —
    embarrassingly parallel, zero shuffle, exactly reproducible.  The rate
    map is a CASE expression (driver-side literal fold); at thousands of
    strata it becomes a broadcast-joined rate table, same plan class.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(SAMPLE_RATE_DEFAULT)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    draw = F.pmod(
        hash60(F.concat(F.lit("bern:"), F.col("doc_id"))), F.lit(_RATE_SCALE)
    )
    out = (
        docs.select("doc_id", "lang", draw.alias("draw"), rate.alias("rate"))
        .filter(F.col("draw") < F.col("rate") * _RATE_SCALE)
        .select("doc_id", "lang", "draw")
    )
    return ordered_output(out, "doc_id")


_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in sorted(SAMPLE_RATES.items())
) + f" ELSE {SAMPLE_RATE_DEFAULT} END"

SAMPLE_BERNOULLI_SQL = f"""
SELECT doc_id, lang,
  {_hash60_sql("'bern:' || doc_id")} % {_RATE_SCALE} AS draw
FROM documents
WHERE {_hash60_sql("'bern:' || doc_id")} % {_RATE_SCALE} < ({_RATE_SQL}) * {_RATE_SCALE}
ORDER BY doc_id
"""


TFIDF_TOP_N = 3


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP_N`` TF-IDF terms per document.

    Plan: one explode -> (doc, term) count [shuffle 1] -> term document
    frequency derived FROM that aggregate [shuffle 2, input already tiny]
    -> broadcast back for the score -> per-doc top-N window [shuffle 3 on
    doc_id].  The corpus-size scalar N is a 1-row aggregate broadcast via
    cross join.

    Cross-engine determinism: ln() may differ in the last ulp between
    libm and the JVM, so the rank orders by the ROUNDED score (6 dp) with
    a term tie-break — ulp noise cannot flip ranks.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_N)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", "rank")
    )


TFIDF_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    round(tf.tf * (ln(((SELECT COUNT(*) FROM documents) + 1)::DOUBLE / (df.df + 1)) + 1.0), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term
),
ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_N} ORDER BY doc_id, rank
"""


# train/val/test split fractions over the md5-hash range — deterministic,
# content-independent, reproducible across engines and runs.
SPLIT_BOUNDS = (("train", 0.90), ("val", 0.95), ("test", 1.0))
_SPLIT_MOD = 1_000_000


def split_of(doc_id_col) -> F.Column:
    """The deterministic split label as a pure COLUMN function of the doc
    id — no join, no state: any operator (decontamination, leakage audits)
    can label any doc-id column in place.  Single source of the 90/5/5
    hash rule shared with :data:`split_case_sql`."""
    u = F.pmod(hash60(F.concat(F.lit("split:"), doc_id_col)), F.lit(_SPLIT_MOD))
    split = F.lit(SPLIT_BOUNDS[-1][0])
    for name, hi in reversed(SPLIT_BOUNDS):
        split = F.when(u < int(hi * _SPLIT_MOD), F.lit(name)).otherwise(split)
    return split


def split_case_sql(id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`split_of`, parameterized on the id column."""
    u = f"({_hash60_sql(chr(39) + 'split:' + chr(39) + ' || ' + id_expr)} % {_SPLIT_MOD})"
    return (
        "CASE "
        + " ".join(
            f"WHEN {u} < {int(hi * _SPLIT_MOD)} THEN '{name}'"
            for name, hi in SPLIT_BOUNDS
        )
        + f" ELSE '{SPLIT_BOUNDS[-1][0]}' END"
    )


def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment plus the per-(lang, split)
    balance report: each doc's split is a pure function of its id hash
    (90/5/5 over the 60-bit md5 range), so re-runs, engine versions, and
    corpus growth never reshuffle existing assignments — the property a
    training pipeline needs to keep eval sets uncontaminated.  One scan,
    one combinable aggregate; the report is O(langs × splits)."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "lang", split_of(F.col("doc_id")).alias("split"), "n_chars"
    )
    totals = assigned.groupBy("lang").agg(F.count("*").alias("lang_docs"))
    return (
        assigned.groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars"))
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            "n_chars",
            F.round(F.col("n_docs") / F.col("lang_docs").cast("double"), 6).alias(
                "frac_of_lang"
            ),
        )
        .orderBy("lang", "split")
    )


_SPLIT_CASE = split_case_sql("doc_id")

DATASET_SPLITS_SQL = f"""
WITH assigned AS (
  SELECT lang, n_chars,
    {_SPLIT_CASE} AS split
  FROM documents
),
totals AS (SELECT lang, COUNT(*) AS lang_docs FROM assigned GROUP BY lang)
SELECT a.lang, a.split, COUNT(*) AS n_docs,
  CAST(SUM(a.n_chars) AS BIGINT) AS n_chars,
  round(COUNT(*) / CAST(ANY_VALUE(t.lang_docs) AS DOUBLE), 6) AS frac_of_lang
FROM assigned a JOIN totals t ON a.lang = t.lang
GROUP BY a.lang, a.split
ORDER BY a.lang, a.split
"""


def sample_weighted_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED Bernoulli sampling: each document keeps with
    probability equal to its quality score, decided by its own salted
    hash — the soft curation cut between hard filtering (drop below
    threshold) and uniform sampling, still embarrassingly parallel and
    exactly reproducible.  Output is the per-language selection balance
    with the mean quality of what survived (selection should tilt the
    mean upward versus the corpus).

    Determinism: the draw is an integer hash; the keep probability is
    the rounded quality score — both engines evaluate the identical
    double comparison, so selection is bit-identical."""
    from debezium_server_bigquery_spark.functions.text import quality_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    draw = F.pmod(
        hash60(F.concat(F.lit("wq:"), F.col("doc_id"))), F.lit(_RATE_SCALE)
    )
    kept = (
        docs.join(q, "doc_id")  # doc-keyed hash join, never broadcast
        .withColumn("draw", draw)
        .filter(F.col("draw") < F.col("quality_score") * _RATE_SCALE)
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_selected"),
            F.round(
                F.sum(F.col("quality_score").cast("decimal(6,2)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_quality"),
        )
        .orderBy("lang")
    )


_QUALITY_CTE = r"""
  SELECT doc_id,
    round(
      (CASE WHEN len(w) BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END)
      + (CASE WHEN len(list_filter(wl, t -> list_contains(
            ['the','a','and','of','to','in','is','on','for','with'], t)))
          / greatest(len(wl), 1) > 0.01 THEN 0.3 ELSE 0.0 END)
      + (CASE WHEN length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
          / greatest(length(text), 1) < 0.1 THEN 0.3 ELSE 0.0 END), 2)
      AS quality_score
  FROM (
    SELECT doc_id, text,
      list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w,
      list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS wl
    FROM documents)
"""

SAMPLE_WEIGHTED_SQL = f"""
WITH quality AS ({_QUALITY_CTE}),
kept AS (
  SELECT d.lang, q.quality_score
  FROM documents d JOIN quality q USING (doc_id)
  WHERE {_hash60_sql("'wq:' || d.doc_id")} % {_RATE_SCALE}
    < q.quality_score * {_RATE_SCALE}
)
SELECT lang, COUNT(*) AS n_selected,
  round(CAST(SUM(CAST(quality_score AS DECIMAL(6,2))) AS DOUBLE) / COUNT(*), 6)
    AS mean_quality
FROM kept GROUP BY lang ORDER BY lang
"""


COLLOC_TOP = 30
COLLOC_MIN_SUPPORT = 5


def term_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining over the vocabulary head: top term pairs by
    LIFT = P(a,b) / (P(a)·P(b)) over document co-occurrence — the
    log-free PMI ranking (log is monotone, so the ordering is PMI's; the
    statistic stays one exact integer-ratio division, bit-identical
    cross-engine where log would differ in the last ulp).

    Scale guard: pairs form ONLY within the broadcast top-K vocabulary
    (each document contributes at most C(K,2) pairs regardless of its
    length), so the per-doc self-join is constant-bounded — the df-cap
    idea applied to collocations.  One scan, one broadcast semi-join, one
    doc-keyed pair join, one pair aggregate, TakeOrderedAndProject.

    Both pair sides are the SAME doc_terms subtree (aliased self-join, no
    per-side reprojection), so Catalyst's exchange-reuse turns the second
    side into a ReusedExchange — doc_terms is scanned and tokenized once,
    not per side.  The corpus size joins in as a one-row broadcast
    aggregate (the events_drift_report bounds pattern) instead of a
    ``docs.count()`` driver action, keeping the whole query one plan."""
    # NOTE (round 12, measured): do NOT checkpoint vocab/doc_terms here —
    # the doc-keyed self-join's exchange is AQE-reused and the broadcast
    # vocab subtree reuses its stage, so the inline form is one tokenize
    # pass already; a checkpointed-postings variant measured 1.445 s vs
    # 1.245 s inline at sf0.1 (extra write + read stages, no saved work).
    vocab = vocab_top_terms(spark, sf_dir)  # (term, doc_freq), K rows
    docs = load_table(spark, sf_dir, "documents", spread=True)
    n = docs.agg(F.count("*").alias("n_docs"))  # one-row bounds broadcast
    doc_terms = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(words(F.lower(F.col("text"))))).alias(
                "term"
            ),
        )
        .join(F.broadcast(vocab), "term")
        .select("doc_id", "term", "doc_freq")
    )
    a, b = doc_terms.alias("a"), doc_terms.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(
            F.count("*").alias("n_ab"),
            F.first(F.col("a.doc_freq")).alias("df_a"),
            F.first(F.col("b.doc_freq")).alias("df_b"),
        )
        .filter(F.col("n_ab") >= COLLOC_MIN_SUPPORT)
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            "df_a",
            "df_b",
            F.round(
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("df_a") * F.col("df_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("term_a"), F.asc("term_b"))
        .limit(COLLOC_TOP)
    )


TERM_COLLOCATIONS_SQL = rf"""
WITH terms AS (
  SELECT doc_id, unnest(list_distinct(
           list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS term
  FROM documents
),
vocab AS (
  SELECT term, doc_freq FROM (
    SELECT term, COUNT(*) AS doc_freq FROM terms GROUP BY term
    ORDER BY doc_freq DESC, term ASC LIMIT {VOCAB_TOP_K}
  )
),
dt AS (
  SELECT t.doc_id, t.term, v.doc_freq FROM terms t JOIN vocab v USING (term)
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab,
    ANY_VALUE(a.doc_freq) AS df_a, ANY_VALUE(b.doc_freq) AS df_b
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
  HAVING COUNT(*) >= {COLLOC_MIN_SUPPORT}
)
SELECT term_a, term_b, n_ab, df_a, df_b,
  round(CAST(n_ab * n_docs AS DOUBLE) / (df_a * df_b), 6) AS lift
FROM pairs, n
ORDER BY lift DESC, term_a ASC, term_b ASC LIMIT {COLLOC_TOP}
"""


def quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-language EXACT quality percentile for every document — the
    normalization step before mixing: a raw quality threshold of, say,
    0.6 keeps wildly different fractions of each language (quality
    heuristics are language-biased), while "keep each language's top 40%"
    needs the per-language percentile this query computes.

    Scale design (100 TB): a naive
    ``ROW_NUMBER() OVER (PARTITION BY lang ...)`` funnels each language
    through ONE task — with ~10 languages that is a 10-task cluster.
    Instead the total order (lang, score, doc_id) goes through the
    two-level distributed rank (operators/rank.py: range partition +
    local row_number + O(partitions) offsets), and each language's local
    rank is recovered by subtracting the language's minimum global rank —
    a LANG-cardinality broadcast join.  Exact, deterministic, and every
    stage is parallel over the full cluster."""
    from debezium_server_bigquery_spark.functions.text import quality_scores
    from debezium_server_bigquery_spark.operators.rank import global_row_number

    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = docs.join(q, "doc_id")
    ranked = global_row_number(
        scored,
        [F.asc("lang"), F.asc("quality_score"), F.asc("doc_id")],
        out="grank",
    )
    lang_stats = ranked.groupBy("lang").agg(
        F.min("grank").alias("first_rank"), F.count("*").alias("n_lang")
    )
    return (
        ranked.join(F.broadcast(lang_stats), "lang")
        .select(
            "doc_id",
            "lang",
            "quality_score",
            (F.col("grank") - F.col("first_rank") + 1).alias("lang_rank"),
            F.round(
                (F.col("grank") - F.col("first_rank") + 1).cast("double")
                / F.col("n_lang"),
                6,
            ).alias("pct_rank"),
        )
        .orderBy("lang", "lang_rank")
    )


QUALITY_PERCENTILE_SQL = f"""
WITH quality AS ({_QUALITY_CTE}),
scored AS (
  -- CAST: the CTE's round() yields a DECIMAL in DuckDB while the Spark
  -- side's F.round over double stays DOUBLE; without the cast the driver's
  -- schema compare sees decimal-vs-double and fails schema_match.
  SELECT d.doc_id, d.lang, CAST(q.quality_score AS DOUBLE) AS quality_score
  FROM documents d JOIN quality q USING (doc_id)
)
SELECT doc_id, lang, quality_score,
  ROW_NUMBER() OVER (
    PARTITION BY lang ORDER BY quality_score, doc_id) AS lang_rank,
  round(CAST(ROW_NUMBER() OVER (
      PARTITION BY lang ORDER BY quality_score, doc_id) AS DOUBLE)
    / COUNT(*) OVER (PARTITION BY lang), 6) AS pct_rank
FROM scored ORDER BY lang, lang_rank
"""


PPMI_TOP = 30


def term_ppmi_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional term similarity (count-based embeddings): cosine
    between vocabulary-head terms' document-co-occurrence LIFT vectors —
    the log-free PPMI-vector analog (PPMI = max(log lift, 0); the vector
    here holds the lift itself with the same support floor, keeping every
    component one exact integer-ratio division instead of a transcendental
    that differs in the last ulp cross-engine).  Two terms are similar
    when they co-occur with the SAME context terms — the classic
    distributional-hypothesis signal used to audit a vocabulary or seed
    synonym sets before any neural embedding exists.

    Scale design (100 TB): after the single corpus pass that builds
    doc_terms (vocab-head semi-join, exchange-reused self-join — the
    term_collocations_lift substrate), EVERYTHING is vocabulary-bounded:
    co-occurrence rows <= K^2, vectors are <= K-dimensional, the cosine
    self-join is over a K^2-row frame — constant work independent of
    corpus size.  The corpus count enters as a one-row broadcast
    aggregate.

    Determinism: lift components are rounded IEEE divisions of exact
    integers; dot products and norms sum DECIMAL(30,12)-cast products
    (each product of two 6-dp values has exactly 12 decimal digits, so
    the cast is exact and the sum associative — the graph.py pattern);
    the final cosine is one division over two correctly-rounded sqrts."""
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    # inline vocab/doc_terms on purpose — see the term_collocations_lift
    # note: the self-join exchange is AQE-reused, a postings checkpoint
    # measured slower.  The wins here are the upper/vecs checkpoints
    # below, which cut the DERIVATION levels (sym x2, vecs x3).
    vocab = vocab_top_terms(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    n = docs.agg(F.count("*").alias("n_docs"))  # one-row bounds broadcast
    doc_terms = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(words(F.lower(F.col("text"))))).alias(
                "term"
            ),
        )
        .join(F.broadcast(vocab), "term")
        .select("doc_id", "term", "doc_freq")
    )
    a, b = doc_terms.alias("a"), doc_terms.alias("b")
    # checkpoint: upper is K^2-bounded (<= VOCAB_TOP_K^2 rows) but feeds
    # FOUR derivations (both sym halves, then vecs -> norms and both
    # cosine sides) — without the checkpoint each branch re-runs the
    # corpus explode + the doc-keyed self-join (the derived-aggregate
    # chain pathology, tools/plans.py scan; round 12).
    upper = checkpoint_parquet(
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(F.col("a.term").alias("t"), F.col("b.term").alias("c"))
        .agg(
            F.count("*").alias("n_tc"),
            F.first(F.col("a.doc_freq")).alias("df_t"),
            F.first(F.col("b.doc_freq")).alias("df_c"),
        )
        .filter(F.col("n_tc") >= COLLOC_MIN_SUPPORT),
        "dsbq_ppmi_upper_",
    )
    # symmetrize: each undirected co-occurrence feeds both terms' vectors
    sym = upper.unionByName(
        upper.select(
            F.col("c").alias("t"),
            F.col("t").alias("c"),
            "n_tc",
            F.col("df_c").alias("df_t"),
            F.col("df_t").alias("df_c"),
        )
    )
    # second checkpoint: vecs feeds norms plus BOTH cosine sides, and
    # each copy would re-plan the broadcast(n) subtree — a count-only
    # documents scan per copy (4 residual corpus scans observed in the
    # warm plan with only the upper checkpoint).  vecs is K^2-bounded.
    vecs = checkpoint_parquet(
        sym.crossJoin(F.broadcast(n)).select(
            "t",
            "c",
            F.round(
                (F.col("n_tc") * F.col("n_docs")).cast("double")
                / (F.col("df_t") * F.col("df_c")),
                6,
            ).alias("w"),
        ),
        "dsbq_ppmi_vecs_",
    )
    norms = vecs.groupBy("t").agg(
        F.sum((F.col("w") * F.col("w")).cast("decimal(30,12)")).alias("sq")
    )
    x, y = vecs.alias("x"), vecs.alias("y")
    dots = (
        x.join(
            y,
            (F.col("x.c") == F.col("y.c")) & (F.col("x.t") < F.col("y.t")),
        )
        .groupBy(F.col("x.t").alias("term_a"), F.col("y.t").alias("term_b"))
        .agg(
            F.count("*").alias("n_shared_ctx"),
            F.sum((F.col("x.w") * F.col("y.w")).cast("decimal(30,12)")).alias(
                "dot"
            ),
        )
    )
    na = norms.select(F.col("t").alias("term_a"), F.col("sq").alias("sq_a"))
    nb = norms.select(F.col("t").alias("term_b"), F.col("sq").alias("sq_b"))
    return (
        dots.join(F.broadcast(na), "term_a")
        .join(F.broadcast(nb), "term_b")
        .select(
            "term_a",
            "term_b",
            "n_shared_ctx",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("sq_a").cast("double"))
                    * F.sqrt(F.col("sq_b").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("term_a"), F.asc("term_b"))
        .limit(PPMI_TOP)
    )


TERM_PPMI_SQL = rf"""
WITH terms AS (
  SELECT doc_id, unnest(list_distinct(
           list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS term
  FROM documents
),
vocab AS (
  SELECT term, doc_freq FROM (
    SELECT term, COUNT(*) AS doc_freq FROM terms GROUP BY term
    ORDER BY doc_freq DESC, term ASC LIMIT {VOCAB_TOP_K}
  )
),
dt AS (SELECT t.doc_id, t.term, v.doc_freq FROM terms t JOIN vocab v USING (term)),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
upper_pairs AS (
  SELECT a.term AS t, b.term AS c, COUNT(*) AS n_tc,
    ANY_VALUE(a.doc_freq) AS df_t, ANY_VALUE(b.doc_freq) AS df_c
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING COUNT(*) >= {COLLOC_MIN_SUPPORT}
),
sym AS (
  SELECT t, c, n_tc, df_t, df_c FROM upper_pairs
  UNION ALL
  SELECT c AS t, t AS c, n_tc, df_c AS df_t, df_t AS df_c FROM upper_pairs
),
vecs AS (
  SELECT t, c, round(CAST(n_tc * n_docs AS DOUBLE) / (df_t * df_c), 6) AS w
  FROM sym, n
),
norms AS (
  SELECT t, SUM(CAST(w * w AS DECIMAL(30,12))) AS sq FROM vecs GROUP BY t
),
dots AS (
  SELECT x.t AS term_a, y.t AS term_b, COUNT(*) AS n_shared_ctx,
    SUM(CAST(x.w * y.w AS DECIMAL(30,12))) AS dot
  FROM vecs x JOIN vecs y ON x.c = y.c AND x.t < y.t
  GROUP BY 1, 2
)
SELECT term_a, term_b, n_shared_ctx,
  round(CAST(dot AS DOUBLE)
    / (sqrt(CAST(na.sq AS DOUBLE)) * sqrt(CAST(nb.sq AS DOUBLE))), 6) AS cosine
FROM dots
JOIN norms na ON na.t = term_a
JOIN norms nb ON nb.t = term_b
ORDER BY cosine DESC, term_a ASC, term_b ASC LIMIT {PPMI_TOP}
"""


def split_balance_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit audit of the split hash: per language, Pearson's
    chi-square of the observed train/val/test counts against the nominal
    90/5/5 — the alarm that fires if the split function is ever changed,
    mis-seeded, or applied to correlated ids.  One conditional-count scan;
    the statistic is an EXPLICIT three-term expression over integer counts
    (fixed evaluation order, no float aggregation), so it hash-compares
    exactly cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select("lang", split_of(F.col("doc_id")).alias("split"))
    counts = labeled.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
    )
    fracs = []
    prev = 0.0
    for _name, hi in SPLIT_BOUNDS:
        fracs.append(hi - prev)
        prev = hi
    f_train, f_val, f_test = fracs

    def term(obs, frac):
        e = F.col("n") * frac
        return (obs - e) * (obs - e) / e

    chisq = (
        term(F.col("n_train"), f_train)
        + term(F.col("n_val"), f_val)
        + term(F.col("n_test"), f_test)
    )
    return counts.select(
        "lang", "n", "n_train", "n_val", "n_test",
        F.round(chisq, 6).alias("chisq"),
    ).orderBy("lang")


_CHISQ_TERMS = " + ".join(
    f"(n_{name} - n * {frac}) * (n_{name} - n * {frac}) / (n * {frac})"
    for name, frac in (("train", 0.90), ("val", 0.05), ("test", 0.05))
)

SPLIT_CHISQ_SQL = f"""
WITH labeled AS (
  SELECT lang, {_SPLIT_CASE} AS split FROM documents
), counts AS (
  SELECT lang, COUNT(*) AS n,
    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
  FROM labeled GROUP BY lang
)
SELECT lang, n, n_train, n_val, n_test,
  round({_CHISQ_TERMS}, 6) AS chisq
FROM counts ORDER BY lang
"""


PREFIX_TOKENS = 8
BOILERPLATE_TOP = 20


def boilerplate_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection: cluster documents by their first
    ``PREFIX_TOKENS`` lowercase words and rank the clusters — crawled and
    machine-generated corpora are full of families that open with the same
    header ("terms of service", auto-generated README banners, scraper
    error pages), and a prefix cluster covering a visible share of the
    corpus is a curation decision (drop the template, keep one exemplar)
    that near-dup pairwise methods surface only as O(cluster^2) pairs.

    Scale design (100 TB): the prefix is row-local array algebra (slice +
    join of the first 8 tokens — no explode), so the whole query is one
    codegen scan plus ONE map-side-combinable hash aggregate on the prefix
    string and a top-K sort of the >= 2-doc clusters.  The corpus total
    enters as a one-row broadcast.  No pairs are ever formed: a 10M-doc
    template family costs one aggregate row here versus ~10^13 pairs in
    any pairwise dedup view."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    wl = words(F.lower(F.col("text")))
    pref = docs.select(
        F.concat_ws(" ", F.slice(wl, 1, PREFIX_TOKENS)).alias("prefix")
    )
    total = docs.agg(F.count("*").alias("n_total"))
    return (
        pref.groupBy("prefix")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .crossJoin(F.broadcast(total))
        .select(
            "prefix",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_total"), 6
            ).alias("share"),
        )
        .orderBy(F.desc("n_docs"), F.asc("prefix"))
        .limit(BOILERPLATE_TOP)
    )


BOILERPLATE_PREFIX_SQL = rf"""
WITH pref AS (
  SELECT array_to_string(
    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
      [1:{PREFIX_TOKENS}], ' ') AS prefix
  FROM documents
),
total AS (SELECT COUNT(*) AS n_total FROM documents)
SELECT prefix, COUNT(*) AS n_docs,
  round(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(n_total), 6) AS share
FROM pref, total
GROUP BY prefix HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, prefix ASC LIMIT {BOILERPLATE_TOP}
"""


ZIPF_HEAD = 100


def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf health check: OLS fit of log(freq) on log(rank) over
    the ``ZIPF_HEAD`` most frequent terms.  Natural language sits near
    slope -1; a corpus whose head is much flatter (template spam — many
    terms with near-identical counts) or much steeper (degenerate
    repetition of a tiny vocabulary) fails the eyeball test this query
    automates, the standard "does this crawl look like language?" gate
    before tokenizer training.

    Scale design (100 TB): one term-count aggregate (map-side combinable)
    feeds a top-K (TakeOrderedAndProject — K rows to the driver-side
    stage, never the vocabulary); the rank window runs over the already-
    LIMITED K-row relation (the plan audit's sanctioned
    single-partition-window shape) and the fit is one 5-sum aggregate
    over K rows.  Determinism: the only transcendentals are 2K log
    evaluations whose <= 1-ulp cross-engine wobble is ~9 orders of
    magnitude below the 6-dp rounding of the fitted coefficients."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    vocab = (
        docs.select(F.explode(words(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    head = vocab.orderBy(F.desc("freq"), F.asc("term")).limit(ZIPF_HEAD)
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    xy = head.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


ZIPF_SLOPE_SQL = rf"""
WITH terms AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
vocab AS (SELECT term, COUNT(*) AS freq FROM terms GROUP BY term),
head AS (SELECT term, freq FROM vocab ORDER BY freq DESC, term ASC LIMIT {ZIPF_HEAD}),
xy AS (
  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS DOUBLE)) AS x,
    ln(CAST(freq AS DOUBLE)) AS y
  FROM head
),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
    SUM(x * y) AS sxy, SUM(x * x) AS sx2
  FROM xy
)
SELECT n AS n_terms,
  round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6) AS slope,
  round((sy - ((n * sxy - sx * sy) / (n * sx2 - sx * sx)) * sx) / n, 6)
    AS intercept
FROM s
"""


HEAPS_CHECKPOINTS = 10  # doc-count deciles along the corpus prefix


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit — the Zipf fit's companion corpus-statistics gate:
    vocabulary size grows as V(n) ≈ K·n^β over token count n (natural
    text sits near β ≈ 0.4–0.6).  A corpus whose β is near 0 saturates
    (template spam re-uses one vocabulary); near 1 every document brings
    its own words (OCR noise, random ids).  Fit is OLS of ln(vocab) on
    ln(tokens) at 10 doc-count decile checkpoints along the doc_id
    order.

    Scale design (100 TB): the doc→decile map comes from the two-level
    rank (``operators/rank.global_row_number`` — never a global window);
    per-decile token counts are one narrow size() per doc + a 10-group
    aggregate; each term's FIRST decile is one min-aggregate over the
    (term, decile) pairs; cumulative token/vocab totals pivot the 10
    fixed deciles into ONE row of exact integer sums (no window over an
    aggregate), which explodes back to ≤ 10 points for the 5-sum OLS —
    the same ≤-1-ulp log-wobble argument as the Zipf fit, 9 orders
    below the 6-dp rounding."""
    from debezium_server_bigquery_spark.operators.rank import (
        global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", F.lower(F.col("text")).alias("ltext")
    )
    ranked = global_row_number(
        docs.select("doc_id"), [F.asc("doc_id")], out="r"
    )
    n_docs = ranked.agg(F.count(F.lit(1)).alias("n_docs")).withColumn(
        "__k", F.lit(1)
    )
    deciles = (
        ranked.withColumn("__k", F.lit(1))
        .join(F.broadcast(n_docs), "__k")
        .select(
            "doc_id",
            (
                (F.col("r") - 1) * HEAPS_CHECKPOINTS / F.col("n_docs")
            )
            .cast("long")
            .alias("dec0"),
        )
        .select("doc_id", (F.col("dec0") + 1).alias("dec"))
    )
    toks = docs.select(
        "doc_id", F.explode(words(F.col("ltext"))).alias("term")
    ).join(deciles, "doc_id")
    tok_per_dec = toks.groupBy("dec").agg(
        F.count(F.lit(1)).cast("long").alias("toks")
    )
    first_dec = toks.groupBy("term").agg(F.min("dec").alias("fdec"))
    new_per_dec = first_dec.groupBy(F.col("fdec").alias("dec")).agg(
        F.count(F.lit(1)).cast("long").alias("new_terms")
    )
    per_dec = tok_per_dec.join(new_per_dec, "dec", "full").select(
        "dec",
        F.coalesce("toks", F.lit(0)).alias("toks"),
        F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
    )
    pivot_aggs = []
    for k in range(1, HEAPS_CHECKPOINTS + 1):
        pivot_aggs.append(
            F.sum(F.when(F.col("dec") <= k, F.col("toks")).otherwise(0))
            .cast("long")
            .alias(f"t{k}")
        )
        pivot_aggs.append(
            F.sum(F.when(F.col("dec") <= k, F.col("new_terms")).otherwise(0))
            .cast("long")
            .alias(f"v{k}")
        )
    one = per_dec.agg(*pivot_aggs)
    pts = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col(f"t{k}").alias("t"), F.col(f"v{k}").alias("v")
                    )
                    for k in range(1, HEAPS_CHECKPOINTS + 1)
                ]
            )
        ).alias("p")
    ).select(F.col("p.t").alias("t"), F.col("p.v").alias("v"))
    xy = pts.filter((F.col("t") > 0) & (F.col("v") > 0)).select(
        F.log(F.col("t").cast("double")).alias("x"),
        F.log(F.col("v").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    # + 0.0 after rounding: IEEE −0.0 + 0.0 = +0.0, so a slope that rounds
    # to zero prints '0.0' on both engines (repr('-0.0') would hash-differ).
    return s.select(
        F.col("n").alias("n_points"),
        (F.round(slope, 6) + F.lit(0.0)).alias("heaps_beta"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
            + F.lit(0.0)
        ).alias("heaps_logk"),
    )


HEAPS_LAW_SQL = rf"""
WITH ranked AS (
  SELECT doc_id,
    CAST(ROW_NUMBER() OVER (ORDER BY doc_id ASC) AS BIGINT) AS r,
    (SELECT COUNT(*) FROM documents) AS n_docs
  FROM documents
),
deciles AS (
  SELECT doc_id,
    CAST((r - 1) * {HEAPS_CHECKPOINTS} / n_docs AS BIGINT) + 1 AS dec
  FROM ranked
),
toks AS (
  SELECT d.doc_id, dd.dec, t.term
  FROM documents d
  JOIN deciles dd ON d.doc_id = dd.doc_id,
  unnest(list_filter(string_split_regex(lower(d.text), '\s+'),
                     t -> t <> '')) AS t(term)
),
tok_per_dec AS (
  SELECT dec, CAST(COUNT(*) AS BIGINT) AS toks FROM toks GROUP BY dec
),
first_dec AS (SELECT term, MIN(dec) AS fdec FROM toks GROUP BY term),
new_per_dec AS (
  SELECT fdec AS dec, CAST(COUNT(*) AS BIGINT) AS new_terms
  FROM first_dec GROUP BY fdec
),
per_dec AS (
  SELECT COALESCE(t.dec, n.dec) AS dec,
    COALESCE(t.toks, 0) AS toks, COALESCE(n.new_terms, 0) AS new_terms
  FROM tok_per_dec t FULL JOIN new_per_dec n ON t.dec = n.dec
),
ks AS (SELECT unnest(range(1, {HEAPS_CHECKPOINTS + 1})) AS k),
pts AS (
  SELECT k.k,
    CAST(SUM(CASE WHEN p.dec <= k.k THEN p.toks ELSE 0 END) AS BIGINT) AS t,
    CAST(SUM(CASE WHEN p.dec <= k.k THEN p.new_terms ELSE 0 END) AS BIGINT)
      AS v
  FROM ks k CROSS JOIN per_dec p
  GROUP BY k.k
),
xy AS (
  SELECT ln(CAST(t AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
  FROM pts WHERE t > 0 AND v > 0
),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
    SUM(x * y) AS sxy, SUM(x * x) AS sx2
  FROM xy
)
SELECT n AS n_points,
  round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6) + 0.0 AS heaps_beta,
  round((sy - ((n * sxy - sx * sy) / (n * sx2 - sx * sx)) * sx) / n, 6) + 0.0
    AS heaps_logk
FROM s
"""


# Cut-offs chosen so the curve is populated on the synthetic corpora
# (vocabulary ~31 terms at every test SF) AND at the production-vocab
# scale the operator exists for; ranks beyond the vocabulary simply
# produce no row, identically in both engines.
COVERAGE_KS = [5, 10, 20, 30, 1000, 10000]


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token OCCURRENCES
    the top-K vocabulary covers, at each K in ``COVERAGE_KS`` — the
    datasheet number behind choosing a tokenizer vocab size (the OOV rate
    a K-term vocab would leave is exactly 1 - coverage(K)).

    Scale design (100 TB): the naive form is ``SUM(freq) OVER (ORDER BY
    freq DESC)`` — a single-partition global window over the whole
    vocabulary.  Instead the rank AND the running occurrence total come
    from the two-level primitive (operators/rank.py
    ``global_rank_and_prefix_sum``): one range partition on the total
    order, local window per range, O(partitions) count/sum offsets — both
    columns exact at any vocabulary size with every stage parallel.  The
    corpus occurrence total enters as a one-row broadcast."""
    from debezium_server_bigquery_spark.operators.rank import (
        global_rank_and_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    vocab = (
        docs.select(F.explode(words(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    both = global_rank_and_prefix_sum(
        vocab,
        [F.desc("freq"), F.asc("term")],
        "freq",
        rank_out="k",
        sum_out="cum_occurrences",
    )
    total = vocab.agg(F.sum("freq").cast("long").alias("total_occurrences"))
    return (
        both.filter(F.col("k").isin(COVERAGE_KS))
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "cum_occurrences",
            "total_occurrences",
            F.round(
                F.col("cum_occurrences").cast("double")
                / F.col("total_occurrences"),
                6,
            ).alias("coverage"),
        )
        .orderBy("k")
    )


VOCAB_COVERAGE_SQL = rf"""
WITH terms AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
vocab AS (SELECT term, COUNT(*) AS freq FROM terms GROUP BY term),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS k,
    SUM(freq) OVER (ORDER BY freq DESC, term ASC
                    ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(freq) OVER () AS total
  FROM vocab
)
SELECT k, CAST(cum AS BIGINT) AS cum_occurrences,
  CAST(total AS BIGINT) AS total_occurrences,
  round(CAST(cum AS DOUBLE) / total, 6) AS coverage
FROM ranked WHERE k IN ({", ".join(str(k) for k in COVERAGE_KS)})
ORDER BY k
"""


def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE curation decision table: document count, corpus share,
    mean quality score, and corpus-wide exact-duplicate rate for every
    crawl source — the one-page view behind "drop source X, cap source Y"
    decisions (a source can look large and healthy until its 40% dup rate
    against the rest of the corpus shows it is mostly a mirror).

    Scale design (100 TB): two map-side-combinable aggregates (the
    text-hash dup index and the per-source rollup) plus one doc-keyed
    equi-join of the quality scan — never a pair, never a window.  The
    corpus total folds in as a one-row broadcast.  The dup flag is
    CORPUS-wide (a mirror's copies live in other sources), which is
    exactly why it cannot be computed per-source-locally and the hash
    index join exists."""
    from debezium_server_bigquery_spark.functions.text import quality_scores

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    idx = docs.groupBy("h").agg(F.count("*").alias("n_copies"))
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    joined = docs.join(idx, "h").join(q, "doc_id")
    total = docs.agg(F.count("*").alias("n_total"))
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_copies") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
            F.sum(F.col("quality_score").cast("decimal(6,2)")).alias("q_sum"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("n_total"), 6).alias(
                "share"
            ),
            F.round(
                F.col("q_sum").cast("double") / F.col("n_docs"), 6
            ).alias("mean_quality"),
            F.round(
                F.col("n_dup").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


SOURCE_QUALITY_SQL = f"""
WITH quality AS ({_QUALITY_CTE}),
idx AS (
  SELECT md5(text) AS h, COUNT(*) AS n_copies FROM documents GROUP BY 1
),
joined AS (
  SELECT d.source, i.n_copies, q.quality_score
  FROM documents d
  JOIN idx i ON i.h = md5(d.text)
  JOIN quality q USING (doc_id)
),
total AS (SELECT COUNT(*) AS n_total FROM documents)
SELECT source, COUNT(*) AS n_docs,
  round(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(n_total), 6) AS share,
  round(CAST(SUM(CAST(quality_score AS DECIMAL(6,2))) AS DOUBLE)
        / COUNT(*), 6) AS mean_quality,
  round(CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS dup_rate
FROM joined, total
GROUP BY source ORDER BY source
"""


def quality_vs_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the quality score actually PREDICT duplication?  Exact-dup
    rate per global quality DECILE — the calibration check run before
    using a heuristic score as a filter: if dup rate is flat across
    deciles the score carries no dedup signal and "filter by quality"
    will not substitute for dedup; if the bottom deciles are dup-heavy,
    quality filtering and dedup overlap and budget math must not count
    their savings twice.

    Scale design (100 TB): the global quality rank comes from the
    two-level distributed rank (operators/rank.py — no single-partition
    window over the corpus); decile assignment is pure INTEGER arithmetic
    ((rank-1)*10 div n, the corpus count folded in as a one-row
    broadcast), so bucket membership is engine-exact; the dup flag joins
    the same text-hash index as ``source_quality_report``.  Output is 10
    rows of integer counts and one rounded division each."""
    from debezium_server_bigquery_spark.functions.text import quality_scores
    from debezium_server_bigquery_spark.operators.rank import global_row_number

    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    ranked = global_row_number(
        q, [F.asc("quality_score"), F.asc("doc_id")], out="r"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    idx = docs.groupBy("h").agg(F.count("*").alias("n_copies"))
    flagged = docs.join(idx, "h").select(
        "doc_id", (F.col("n_copies") >= 2).alias("is_dup")
    )
    total = q.agg(F.count("*").alias("n"))
    return (
        ranked.join(flagged, "doc_id")
        .crossJoin(F.broadcast(total))
        .select(
            F.expr("((r - 1) * 10) div n").alias("quality_decile"),
            "is_dup",
        )
        .groupBy("quality_decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dups"),
        )
        .select(
            "quality_decile",
            "n_docs",
            "n_dups",
            F.round(F.col("n_dups").cast("double") / F.col("n_docs"), 6).alias(
                "dup_rate"
            ),
        )
        .orderBy("quality_decile")
    )


QUALITY_DUP_CALIBRATION_SQL = f"""
WITH quality AS ({_QUALITY_CTE}),
ranked AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY quality_score, doc_id) AS r,
    COUNT(*) OVER () AS n
  FROM quality
),
idx AS (
  SELECT md5(text) AS h, COUNT(*) AS n_copies FROM documents GROUP BY 1
),
flagged AS (
  SELECT d.doc_id, i.n_copies >= 2 AS is_dup
  FROM documents d JOIN idx i ON i.h = md5(d.text)
)
SELECT ((r - 1) * 10) // n AS quality_decile,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
  round(CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS dup_rate
FROM ranked JOIN flagged USING (doc_id)
GROUP BY 1 ORDER BY quality_decile
"""


def cluster_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-safe train/val/test assignment: the split is a hash of
    the document's CONTENT-cluster key (md5 of the text), not its id —
    so every copy of a duplicated text lands in the same split BY
    CONSTRUCTION, closing the exact-dup leakage channel that
    ``split_leakage_matrix`` measures for the id-keyed ``dataset_splits``
    (a test document whose twin sits in train is a leaked eval answer).
    The output carries the proof: ``leaked_clusters`` — content clusters
    observed in more than one split — which must be 0 here and is
    recomputed, not assumed.

    Scale design (100 TB): one scan + two hash aggregates (per-cluster
    split spread, per-split rollup); the leakage count folds in as a
    one-row broadcast.  Same 90/5/5 hash rule as ``dataset_splits``
    (single source: ``split_of``), applied to md5(text) instead of
    doc_id."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.md5("text").alias("cluster"),
        split_of(F.md5("text")).alias("split"),
    )
    leaked = (
        docs.groupBy("cluster")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
            .cast("long")
            .alias("leaked_clusters")
        )
    )
    return (
        docs.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaked))
        .orderBy("split")
    )


CLUSTER_SAFE_SPLITS_SQL = f"""
WITH assigned AS (
  SELECT md5(text) AS cluster, {split_case_sql("md5(text)")} AS split
  FROM documents
),
leak AS (
  SELECT CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS leaked_clusters
  FROM (SELECT cluster, COUNT(DISTINCT split) AS n_splits
        FROM assigned GROUP BY cluster)
)
SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT cluster) AS n_clusters,
  ANY_VALUE(leaked_clusters) AS leaked_clusters
FROM assigned, leak
GROUP BY split ORDER BY split
"""


QPRIOR_K = 20  # empirical-Bayes pseudo-count: docs of global-mean weight


def domain_quality_prior_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain(source)-level quality PRIOR with empirical-Bayes shrinkage,
    joined back onto the per-document scores (VERDICT r11 ask #4's
    "URL/domain-level quality prior join"): a source with 3 documents and
    a perfect mean must not outrank a source with 3 million documents and
    a near-perfect mean, so each source's prior shrinks toward the corpus
    mean with pseudo-count ``QPRIOR_K``:

        prior_s = (n_s·mean_s + K·mean_corpus) / (n_s + K)

    The join-back counts each source's documents scoring below its own
    prior — the per-domain drop candidates a quality-prior filter
    (C4/RefinedWeb style, but domain-aware) would cut first.

    Scale design (100 TB): the heuristic score is INTEGER centipoints
    (40/30/30 rule hits — no float accumulates anywhere), and its domain
    is ~6 distinct values, so ONE corpus scan builds a (source × score)
    histogram that is checkpointed (tiny: O(sources·6) rows) and every
    downstream branch — per-source moments, the corpus mean, the
    below-prior join-back — re-reads the histogram, never the corpus.
    The prior itself is a fixed-order expression over exact BIGINT sums,
    bit-identical cross-engine."""
    from debezium_server_bigquery_spark.functions.text import STOPWORDS, tokens
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    docs = load_table(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    wl = F.transform(w, lambda t: F.lower(t))
    n_words = F.size(w)
    stop_hit = (
        F.size(F.filter(wl, lambda t: t.isin(*STOPWORDS)))
        / F.greatest(F.size(wl), F.lit(1))
    ) > 0.01
    punct_hit = (
        F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
        / F.greatest(F.length("text"), F.lit(1))
    ) < 0.1
    centi = (
        F.when((n_words >= 10) & (n_words <= 1000), F.lit(40)).otherwise(F.lit(0))
        + F.when(stop_hit, F.lit(30)).otherwise(F.lit(0))
        + F.when(punct_hit, F.lit(30)).otherwise(F.lit(0))
    )
    hist = checkpoint_parquet(
        docs.select("source", centi.alias("centi"))
        .groupBy("source", "centi")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt")),
        "dsbq_qprior_hist_",
    )
    per = hist.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_s"),
        F.sum(F.col("centi").cast("long") * F.col("cnt")).cast("long").alias("s_s"),
    )
    tot = per.agg(
        F.sum("n_s").cast("long").alias("n_all"),
        F.sum("s_s").cast("long").alias("s_all"),
    )
    prior_num = (
        F.col("n_all").cast("double") * F.col("s_s").cast("double")
        + F.lit(float(QPRIOR_K)) * F.col("s_all").cast("double")
    )
    prior_den = (
        F.lit(100.0)
        * F.col("n_all").cast("double")
        * (F.col("n_s") + F.lit(QPRIOR_K)).cast("double")
    )
    pri = per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_s").alias("n_docs"),
        F.round(
            F.col("s_s").cast("double") / (F.lit(100.0) * F.col("n_s").cast("double")),
            6,
        ).alias("raw_mean_quality"),
        F.round(prior_num / prior_den, 6).alias("prior_quality"),
        F.round(
            F.col("n_s").cast("double") / (F.col("n_s") + F.lit(QPRIOR_K)).cast("double"),
            6,
        ).alias("shrinkage_weight"),
    )
    below = (
        hist.join(
            F.broadcast(pri.select("source", "prior_quality")), "source"
        )
        .filter(F.col("centi").cast("double") < F.col("prior_quality") * 100.0)
        .groupBy("source")
        .agg(F.sum("cnt").cast("long").alias("docs_below_prior"))
    )
    return (
        pri.join(below, "source", "left")
        .select(
            "source",
            "n_docs",
            "raw_mean_quality",
            "prior_quality",
            "shrinkage_weight",
            F.coalesce("docs_below_prior", F.lit(0)).cast("long").alias(
                "docs_below_prior"
            ),
        )
        .orderBy("source")
    )


# Stopword list interpolated from the single definition in functions/text.py
# (ADVICE r12: a hardcoded copy here would silently desync the oracle from
# the Spark twin if STOPWORDS ever changed).
# Single-quote escaping (ADVICE r13): a stopword containing an apostrophe
# would otherwise break DOMAIN_QUALITY_PRIOR_SQL at module import time.
_STOPWORDS_SQL_LIST = ", ".join("'" + w.replace("'", "''") + "'" for w in STOPWORDS)

DOMAIN_QUALITY_PRIOR_SQL = rf"""
WITH scored AS (
  SELECT source,
    (CASE WHEN len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
            BETWEEN 10 AND 1000 THEN 40 ELSE 0 END)
    + (CASE WHEN len(list_filter(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
         t -> list_contains([{_STOPWORDS_SQL_LIST}], t)))
         / greatest(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')), 1)
         > 0.01 THEN 30 ELSE 0 END)
    + (CASE WHEN length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
         / greatest(length(text), 1) < 0.1 THEN 30 ELSE 0 END) AS centi
  FROM documents
), hist AS (
  SELECT source, centi, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM scored GROUP BY source, centi
), per AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_s,
    CAST(SUM(CAST(centi AS BIGINT) * cnt) AS BIGINT) AS s_s
  FROM hist GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS n_all, CAST(SUM(s_s) AS BIGINT) AS s_all
  FROM per
), pri AS (
  SELECT source, n_s AS n_docs,
    round(CAST(s_s AS DOUBLE) / (100.0 * CAST(n_s AS DOUBLE)), 6)
      AS raw_mean_quality,
    round((CAST(n_all AS DOUBLE) * CAST(s_s AS DOUBLE)
           + {QPRIOR_K}.0 * CAST(s_all AS DOUBLE))
        / (100.0 * CAST(n_all AS DOUBLE) * CAST(n_s + {QPRIOR_K} AS DOUBLE)), 6)
      AS prior_quality,
    round(CAST(n_s AS DOUBLE) / CAST(n_s + {QPRIOR_K} AS DOUBLE), 6)
      AS shrinkage_weight
  FROM per, tot
), below AS (
  SELECT h.source, CAST(SUM(h.cnt) AS BIGINT) AS docs_below_prior
  FROM hist h JOIN pri p ON h.source = p.source
  WHERE CAST(h.centi AS DOUBLE) < p.prior_quality * 100.0
  GROUP BY h.source
)
SELECT pri.source, n_docs, raw_mean_quality, prior_quality, shrinkage_weight,
  COALESCE(below.docs_below_prior, 0) AS docs_below_prior
FROM pri LEFT JOIN below ON pri.source = below.source
ORDER BY pri.source
"""


QUERIES = {
    "sample_stratified": sample_stratified,
    "sample_weighted_by_quality": sample_weighted_by_quality,
    "sample_bernoulli_by_lang": sample_bernoulli_by_lang,
    "vocab_top_terms": vocab_top_terms,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "vocab_oov_rate": vocab_oov_rate,
    "dataset_splits": dataset_splits,
    "split_balance_chisq": split_balance_chisq,
    "term_collocations_lift": term_collocations_lift,
    "term_ppmi_similarity": term_ppmi_similarity,
    "quality_percentile_by_lang": quality_percentile_by_lang,
    "boilerplate_prefix_clusters": boilerplate_prefix_clusters,
    "zipf_slope_fit": zipf_slope_fit,
    "heaps_law_fit": heaps_law_fit,
    "vocab_coverage_curve": vocab_coverage_curve,
    "source_quality_report": source_quality_report,
    "quality_vs_dup_calibration": quality_vs_dup_calibration,
    "cluster_safe_splits": cluster_safe_splits,
    "domain_quality_prior_join": domain_quality_prior_join,
}

ORACLES = {
    "domain_quality_prior_join": DOMAIN_QUALITY_PRIOR_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "sample_weighted_by_quality": SAMPLE_WEIGHTED_SQL,
    "sample_bernoulli_by_lang": SAMPLE_BERNOULLI_SQL,
    "vocab_top_terms": VOCAB_TOP_TERMS_SQL,
    "text_tfidf_top_terms": TFIDF_SQL,
    "vocab_oov_rate": VOCAB_OOV_SQL,
    "dataset_splits": DATASET_SPLITS_SQL,
    "split_balance_chisq": SPLIT_CHISQ_SQL,
    "term_collocations_lift": TERM_COLLOCATIONS_SQL,
    "term_ppmi_similarity": TERM_PPMI_SQL,
    "quality_percentile_by_lang": QUALITY_PERCENTILE_SQL,
    "boilerplate_prefix_clusters": BOILERPLATE_PREFIX_SQL,
    "zipf_slope_fit": ZIPF_SLOPE_SQL,
    "heaps_law_fit": HEAPS_LAW_SQL,
    "vocab_coverage_curve": VOCAB_COVERAGE_SQL,
    "source_quality_report": SOURCE_QUALITY_SQL,
    "quality_vs_dup_calibration": QUALITY_DUP_CALIBRATION_SQL,
    "cluster_safe_splits": CLUSTER_SAFE_SPLITS_SQL,
}


NEYMAN_BUDGET = 10_000  # total sample budget to allocate across strata


def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sampling allocation over languages:
    the variance-minimizing share of a fixed budget is
    n_h ∝ N_h·σ_h (stratum size × stratum std-dev of the measured
    variable, here document length) — the survey-sampling upgrade to
    ``sample_stratified``'s equal quotas, and the plan a labeling-budget
    owner actually wants.  Sampling fractions above 1 are clipped and
    reported (a tiny high-variance stratum can demand more than it has).

    Scale/exactness: one combinable aggregate of integer moments per
    language (n, Σx, Σx² — n_chars is integral, so σ_h derives from
    exact integers); the allocation algebra runs on the O(langs) frame
    against a one-row broadcast total.  Population σ (divides by N_h)
    keeps the formula total-order-free."""
    docs = load_table(spark, sf_dir, "documents")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sxx"),
    )
    var_num = dec("n_docs") * dec("sxx") - dec("sx") * dec("sx")
    # N_h * sigma_h = sqrt(n*sxx - sx^2) exactly (sigma = sqrt(num)/n)
    weight = F.sqrt(var_num.cast("double"))
    weighted = m.select("lang", "n_docs", weight.alias("w"))
    tot = weighted.agg(
        F.sum(F.round(F.col("w"), 6).cast("decimal(38,6)")).alias("tw")
    )
    share = (
        F.round(F.col("w"), 6).cast("decimal(38,6)").cast("double")
        / F.col("tw").cast("double")
    )
    alloc_raw = share * F.lit(float(NEYMAN_BUDGET))
    alloc = F.least(
        F.round(alloc_raw, 0).cast("long"), F.col("n_docs")
    )
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            (F.round(share, 6) + F.lit(0.0)).alias("neyman_share"),
            alloc.alias("n_alloc"),
            (F.round(alloc_raw, 0).cast("long") > F.col("n_docs")).alias(
                "clipped"
            ),
        )
        .orderBy("lang")
    )


NEYMAN_SQL = f"""
WITH m AS (
  SELECT lang,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS sx,
    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
  FROM documents GROUP BY lang
),
weighted AS (
  SELECT lang, n_docs,
    sqrt(CAST(CAST(n_docs AS DECIMAL(38,0)) * sxx
              - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)) AS w
  FROM m
),
tot AS (
  SELECT CAST(SUM(CAST(round(w, 6) AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS tw
  FROM weighted
)
SELECT lang, n_docs,
  round(CAST(CAST(round(w, 6) AS DECIMAL(38,6)) AS DOUBLE)
        / CAST(tw AS DOUBLE), 6) + 0.0 AS neyman_share,
  least(CAST(round((CAST(CAST(round(w, 6) AS DECIMAL(38,6)) AS DOUBLE)
                    / CAST(tw AS DOUBLE)) * {float(NEYMAN_BUDGET)!r}, 0)
             AS BIGINT), n_docs) AS n_alloc,
  CAST(round((CAST(CAST(round(w, 6) AS DECIMAL(38,6)) AS DOUBLE)
              / CAST(tw AS DOUBLE)) * {float(NEYMAN_BUDGET)!r}, 0) AS BIGINT)
    > n_docs AS clipped
FROM weighted CROSS JOIN tot
ORDER BY lang
"""

QUERIES["neyman_allocation_plan"] = neyman_allocation_plan
ORACLES["neyman_allocation_plan"] = NEYMAN_SQL

"""Distribution-shift and agreement statistics for corpus governance.

Four audits a training-data pipeline runs before a corpus ships, all
exact-integer-moment shapes (PAPERS.md: data-validation systems for ML —
TFX-style skew/drift gates):

- ``split_ks_statistic`` — the exact two-sample Kolmogorov–Smirnov
  statistic between the train and test splits' document-length
  distributions, per language.  THE standard skew gate between data
  slices: a deterministic 90/5/5 id-hash split should be distribution-
  free, so a large D flags a hash bug or a stratification leak.
- ``label_agreement_kappa`` — Cohen's kappa between two independent weak
  labelers (a length gate and a punctuation-density gate), per language.
  The weak-supervision sanity check: kappa near 0 means the heuristics
  carry independent signal, near 1 means they are redundant.
- ``events_ewma_forecast_error`` — one-step-ahead truncated-EWMA
  forecast error of daily event volume per type: the residual scale that
  anomaly thresholds (CUSUM, MAD gates) should be calibrated against.
- ``encoding_anomaly_report`` — mojibake/underflow hygiene per source:
  replacement characters, raw control bytes, unbroken >40-char tokens,
  and non-ASCII presence.  The first filter a web-scale text corpus runs.

Scale designs (100 TB):
- KS: the corpus-sized work is ONE map-side-combinable
  ``groupBy(lang, n_chars)``; the cumulative CDFs run in a window
  partitioned BY LANGUAGE over the *grouped distinct values* (bounded by
  the support of the length distribution, not the corpus), never a
  global single-partition sort.  Cross-engine exactness: cumulative
  counts are integers; D is maximized on the integer cross-product
  ``|cum_t·n_s − cum_s·n_t|`` in DECIMAL(38,0) (overflow-safe past
  BIGINT at trillion-doc scale) and divided by ``n_t·n_s`` exactly once.
- kappa: one scan, one combinable aggregate of four integer counters per
  language; kappa is assembled from integer products with a single final
  double division (denominator 0 → NULL, not an error).
- EWMA: daily counts are one map-side aggregate; the 14 lags run in a
  TYPE-partitioned window (never global) with a gap-aware guard (the
  trailing 14 rows must span exactly 14 consecutive days, so sparse
  streams never misalign lags).  Weights are the exact integer
  numerators of 0.3·0.7^(k−1) at denominator 10^14, products accumulate
  in DECIMAL(38,0) (a 10^9/day stream stays ~10^22, inside 38 digits),
  and the only floats are the two final divisions.
- encoding report: embarrassingly parallel row-local predicates + one
  combinable aggregate per source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debezium_server_bigquery_spark.functions.curation import (
    split_case_sql,
    split_of,
)
from debezium_server_bigquery_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# split_ks_statistic
# --------------------------------------------------------------------------


def split_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (train vs test n_chars CDFs) per
    language; see module docstring for the scale/exactness design."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "lang", split_of(F.col("doc_id")).alias("split"), "n_chars"
    ).filter(F.col("split").isin("train", "test"))
    g = labeled.groupBy("lang", "n_chars").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("cs"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "lang",
        F.sum("ct").over(w).alias("cum_t"),
        F.sum("cs").over(w).alias("cum_s"),
    )
    totals = g.groupBy("lang").agg(
        F.sum("ct").alias("n_train"), F.sum("cs").alias("n_test")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    d = (
        cum.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "n_train",
            "n_test",
            F.abs(dec("cum_t") * dec("n_test") - dec("cum_s") * dec("n_train")).alias(
                "gap"
            ),
        )
        .groupBy("lang", "n_train", "n_test")
        .agg(F.max("gap").alias("d_num"))
    )
    return d.select(
        "lang",
        "n_train",
        "n_test",
        F.when(
            (F.col("n_train") > 0) & (F.col("n_test") > 0),
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n_train").cast("double") * F.col("n_test").cast("double")),
                6,
            ),
        ).alias("ks_stat"),
    ).orderBy("lang")


_SPLIT_CASE = split_case_sql("doc_id")

SPLIT_KS_SQL = f"""
WITH labeled AS (
  SELECT lang, n_chars, {_SPLIT_CASE} AS split FROM documents
),
g AS (
  SELECT lang, n_chars,
    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
    CAST(SUM(CASE WHEN split = 'test'  THEN 1 ELSE 0 END) AS BIGINT) AS cs
  FROM labeled WHERE split IN ('train', 'test')
  GROUP BY lang, n_chars
),
cum AS (
  SELECT lang,
    SUM(ct) OVER (PARTITION BY lang ORDER BY n_chars
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t,
    SUM(cs) OVER (PARTITION BY lang ORDER BY n_chars
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
  FROM g
),
totals AS (
  SELECT lang, SUM(ct) AS n_train, SUM(cs) AS n_test FROM g GROUP BY lang
),
d AS (
  SELECT c.lang, t.n_train, t.n_test,
    MAX(abs(CAST(c.cum_t AS DECIMAL(38,0)) * CAST(t.n_test AS DECIMAL(38,0))
            - CAST(c.cum_s AS DECIMAL(38,0)) * CAST(t.n_train AS DECIMAL(38,0))))
      AS d_num
  FROM cum c JOIN totals t ON c.lang = t.lang
  GROUP BY c.lang, t.n_train, t.n_test
)
SELECT lang, CAST(n_train AS BIGINT) AS n_train, CAST(n_test AS BIGINT) AS n_test,
  CASE WHEN n_train > 0 AND n_test > 0 THEN
    round(CAST(d_num AS DOUBLE)
          / (CAST(n_train AS DOUBLE) * CAST(n_test AS DOUBLE)), 6)
  END AS ks_stat
FROM d ORDER BY lang
"""

# --------------------------------------------------------------------------
# label_agreement_kappa
# --------------------------------------------------------------------------

LEN_GATE = 400  # labeler A: document length in chars
PUNCT_CHARS_PER_PERIOD = 200  # labeler B: ≥ one '.' per 200 chars


def label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa per language between the length gate and the
    punctuation-density gate; integer counters, one final division."""
    docs = load_table(spark, sf_dir, "documents")
    periods = F.length("text") - F.length(F.replace(F.col("text"), F.lit(".")))
    a = (F.col("n_chars") >= LEN_GATE).cast("long")
    b = (periods * PUNCT_CHARS_PER_PERIOD >= F.col("n_chars")).cast("long")
    m = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a).alias("na"),
        F.sum(b).alias("nb"),
        F.sum(a * b).alias("nab"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    po_num = dec("n") - dec("na") - dec("nb") + F.lit(2) * dec("nab")
    pe_num = dec("na") * dec("nb") + (dec("n") - dec("na")) * (dec("n") - dec("nb"))
    kap_num = po_num * dec("n") - pe_num
    kap_den = dec("n") * dec("n") - pe_num
    return m.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.round(F.col("na").cast("double") / F.col("n").cast("double"), 6).alias(
            "p_len_gate"
        ),
        F.round(F.col("nb").cast("double") / F.col("n").cast("double"), 6).alias(
            "p_punct_gate"
        ),
        F.when(
            kap_den != 0,
            F.round(kap_num.cast("double") / kap_den.cast("double"), 6),
        ).alias("kappa"),
    ).orderBy("lang")


LABEL_KAPPA_SQL = f"""
WITH m AS (
  SELECT lang,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN n_chars >= {LEN_GATE} THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN (length(text) - length(replace(text, '.', '')))
                       * {PUNCT_CHARS_PER_PERIOD} >= n_chars
             THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(SUM(CASE WHEN n_chars >= {LEN_GATE}
                   AND (length(text) - length(replace(text, '.', '')))
                       * {PUNCT_CHARS_PER_PERIOD} >= n_chars
             THEN 1 ELSE 0 END) AS BIGINT) AS nab
  FROM documents GROUP BY lang
),
k AS (
  SELECT lang, n, na, nb,
    (CAST(n AS DECIMAL(38,0)) - na - nb + 2 * CAST(nab AS DECIMAL(38,0)))
      * CAST(n AS DECIMAL(38,0))
    - (CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
       + (CAST(n AS DECIMAL(38,0)) - na) * (CAST(n AS DECIMAL(38,0)) - nb))
      AS kap_num,
    CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
    - (CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
       + (CAST(n AS DECIMAL(38,0)) - na) * (CAST(n AS DECIMAL(38,0)) - nb))
      AS kap_den
  FROM m
)
SELECT lang, n AS n_docs,
  round(CAST(na AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_len_gate,
  round(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_punct_gate,
  CASE WHEN kap_den <> 0
    THEN round(CAST(kap_num AS DOUBLE) / CAST(kap_den AS DOUBLE), 6)
  END AS kappa
FROM k ORDER BY lang
"""

# --------------------------------------------------------------------------
# events_ewma_forecast_error
# --------------------------------------------------------------------------

EWMA_LAGS = 14
# Integer numerators of alpha·(1−alpha)^(k−1) with alpha = 3/10 at the
# common denominator 10^14: W_k = 3 · 7^(k−1) · 10^(14−k), exactly.
_EWMA_W = [3 * 7 ** (k - 1) * 10 ** (EWMA_LAGS - k) for k in range(1, EWMA_LAGS + 1)]
_EWMA_DEN = sum(_EWMA_W)  # = 10^14 − 7^14


def events_ewma_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step truncated-EWMA forecast error of daily volume per type;
    see module docstring for the lag-window and exactness design."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    trail = w.rowsBetween(-EWMA_LAGS, -1)
    lagged = daily.select(
        "event_type",
        "d",
        "x",
        F.count(F.lit(1)).over(trail).alias("cnt"),
        F.min("d").over(trail).alias("dmin"),
        *[
            F.lag("x", k).over(w).alias(f"x{k}")
            for k in range(1, EWMA_LAGS + 1)
        ],
    ).filter(
        (F.col("cnt") == EWMA_LAGS)
        & (F.datediff(F.col("d"), F.col("dmin")) == EWMA_LAGS)
    )
    num = None
    for k, wk in enumerate(_EWMA_W, start=1):
        term = F.col(f"x{k}").cast("decimal(38,0)") * F.lit(wk).cast("decimal(38,0)")
        num = term if num is None else (num + term)
    err = (
        F.col("x").cast("decimal(38,0)") * F.lit(_EWMA_DEN).cast("decimal(38,0)")
        - num
    )
    scored = lagged.select("event_type", err.alias("err_num"))
    den_f = float(_EWMA_DEN)
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days_scored"),
            F.sum(F.abs(F.col("err_num"))).alias("sae"),
            F.sum("err_num").alias("se"),
        )
        .select(
            "event_type",
            "n_days_scored",
            F.round(
                F.col("sae").cast("double")
                / F.col("n_days_scored").cast("double")
                / F.lit(den_f),
                6,
            ).alias("mae"),
            F.round(
                F.col("se").cast("double")
                / F.col("n_days_scored").cast("double")
                / F.lit(den_f),
                6,
            ).alias("mean_bias"),
        )
        .orderBy("event_type")
    )


_EWMA_NUM_SQL = " + ".join(
    f"CAST(x{k} AS DECIMAL(38,0)) * CAST({wk} AS DECIMAL(38,0))"
    for k, wk in enumerate(_EWMA_W, start=1)
)
_EWMA_LAG_COLS = ", ".join(
    f"LAG(x, {k}) OVER (PARTITION BY event_type ORDER BY d) AS x{k}"
    for k in range(1, EWMA_LAGS + 1)
)

EWMA_FORECAST_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, d, x,
    COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN {EWMA_LAGS} PRECEDING AND 1 PRECEDING) AS cnt,
    MIN(d) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN {EWMA_LAGS} PRECEDING AND 1 PRECEDING) AS dmin,
    {_EWMA_LAG_COLS}
  FROM daily
),
scored AS (
  SELECT event_type,
    CAST(x AS DECIMAL(38,0)) * CAST({_EWMA_DEN} AS DECIMAL(38,0))
      - ({_EWMA_NUM_SQL}) AS err_num
  FROM lagged
  WHERE cnt = {EWMA_LAGS} AND d - dmin = {EWMA_LAGS}
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_days_scored,
  round(CAST(SUM(abs(err_num)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        / {float(_EWMA_DEN)!r}, 6) AS mae,
  round(CAST(SUM(err_num) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        / {float(_EWMA_DEN)!r}, 6) AS mean_bias
FROM scored GROUP BY event_type ORDER BY event_type
"""

# --------------------------------------------------------------------------
# encoding_anomaly_report
# --------------------------------------------------------------------------

_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
_LONGWORD_RE = r"\S{41,}"
_NONASCII_RE = r"[^\x00-\x7F]"


def encoding_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding hygiene counters (replacement chars, raw
    control bytes, unbroken >40-char tokens, non-ASCII presence) —
    row-local predicates, one combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    flag = lambda c: c.cast("long")  # noqa: E731
    rep = flag(F.col("text").contains("�"))
    ctrl = flag(F.col("text").rlike(_CTRL_RE))
    longw = flag(F.col("text").rlike(_LONGWORD_RE))
    nonascii = flag(F.col("text").rlike(_NONASCII_RE))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(rep).alias("n_replacement_char"),
            F.sum(ctrl).alias("n_control_chars"),
            F.sum(longw).alias("n_long_token"),
            F.sum(nonascii).alias("n_non_ascii"),
        )
        .select(
            "source",
            "n_docs",
            "n_replacement_char",
            "n_control_chars",
            "n_long_token",
            "n_non_ascii",
            F.round(
                F.col("n_long_token").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("frac_long_token"),
        )
        .orderBy("source")
    )


ENCODING_ANOMALY_SQL = f"""
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_replacement_char,
  CAST(SUM(CASE WHEN regexp_matches(text, '{_CTRL_RE}') THEN 1 ELSE 0 END)
    AS BIGINT) AS n_control_chars,
  CAST(SUM(CASE WHEN regexp_matches(text, '{_LONGWORD_RE}') THEN 1 ELSE 0 END)
    AS BIGINT) AS n_long_token,
  CAST(SUM(CASE WHEN regexp_matches(text, '{_NONASCII_RE}') THEN 1 ELSE 0 END)
    AS BIGINT) AS n_non_ascii,
  round(CAST(SUM(CASE WHEN regexp_matches(text, '{_LONGWORD_RE}') THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS frac_long_token
FROM documents GROUP BY source ORDER BY source
"""


QUERIES = {
    "split_ks_statistic": split_ks_statistic,
    "label_agreement_kappa": label_agreement_kappa,
    "events_ewma_forecast_error": events_ewma_forecast_error,
    "encoding_anomaly_report": encoding_anomaly_report,
}

ORACLES = {
    "split_ks_statistic": SPLIT_KS_SQL,
    "label_agreement_kappa": LABEL_KAPPA_SQL,
    "events_ewma_forecast_error": EWMA_FORECAST_SQL,
    "encoding_anomaly_report": ENCODING_ANOMALY_SQL,
}

# --------------------------------------------------------------------------
# mann_whitney_source_shift
# --------------------------------------------------------------------------


def mann_whitney_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney rank-sum z-score of each source's document-length
    distribution against the REST of its language — the nonparametric
    one-vs-rest drift screen (KS asks "are the split CDFs equal?"; this
    asks "does one SOURCE stochastically dominate its peers?", the
    per-provider intake question).

    Scale/exactness design: the corpus-sized work is ONE
    ``groupBy(lang, n_chars, source)`` count; midranks come from a
    LANGUAGE-partitioned window over the grouped distinct values
    (doubled to stay integral: 2·midrank = 2·cum_before + t + 1), and
    every moment — rank sums, tie correction Σ(t³−t) — accumulates in
    DECIMAL(38,0), exact at any corpus size.  The only floats are the
    final sqrt and one division; zero variance (a single tied value)
    yields NULL.  z is signed: positive means the source's documents
    are LONGER than its language peers'.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "n_chars", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vals = g.groupBy("lang", "n_chars").agg(F.sum("c").alias("t"))
    w = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    vals = vals.select(
        "lang",
        "n_chars",
        "t",
        # 2*midrank = 2*(cum - t) + t + 1 = 2*cum - t + 1
        (F.lit(2) * F.sum("t").over(w) - F.col("t") + F.lit(1)).alias("mr2"),
    )
    per_sv = g.join(vals, ["lang", "n_chars"]).groupBy("lang", "source").agg(
        F.sum("c").cast("long").alias("n_s"),
        F.sum(dec("c") * dec("mr2")).alias("r2"),
    )
    lang_tot = vals.groupBy("lang").agg(
        F.sum("t").cast("long").alias("n_all"),
        F.sum(dec("t") * dec("t") * dec("t") - dec("t")).alias("tie3"),
    )
    j = per_sv.join(F.broadcast(lang_tot), "lang")
    n_s, n_r = dec("n_s"), (dec("n_all") - dec("n_s"))
    # 2U = R2_s - 2*n_s(n_s+1)/2 = R2_s - n_s(n_s+1); 2*mU = n_s*n_r
    u2_minus_2mu = F.col("r2") - n_s * (n_s + F.lit(1)) - n_s * n_r
    n_all = dec("n_all")
    # var = n_s*n_r/12 * [(N+1) - tie3/(N(N-1))]  (double at the end)
    var = (
        (n_s * n_r).cast("double")
        / 12.0
        * (
            (n_all + F.lit(1)).cast("double")
            - F.col("tie3").cast("double")
            / (n_all * (n_all - F.lit(1))).cast("double")
        )
    )
    return (
        j.select(
            "lang",
            "source",
            "n_s",
            (F.col("n_all") - F.col("n_s")).cast("long").alias("n_rest"),
            F.when(
                (var > 0) & (F.col("n_s") > 0) & (F.col("n_all") > F.col("n_s")),
                F.round(
                    u2_minus_2mu.cast("double") / (F.lit(2.0) * F.sqrt(var)), 6
                )
                + F.lit(0.0),
            ).alias("z_mw"),
        )
        .orderBy("lang", "source")
    )


MANN_WHITNEY_SQL = """
WITH g AS (
  SELECT lang, n_chars, source, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, n_chars, source
),
vals AS (
  SELECT lang, n_chars, CAST(SUM(c) AS BIGINT) AS t
  FROM g GROUP BY lang, n_chars
),
mr AS (
  SELECT lang, n_chars, t,
    2 * SUM(t) OVER (PARTITION BY lang ORDER BY n_chars
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - t + 1 AS mr2
  FROM vals
),
per_sv AS (
  SELECT g.lang, g.source,
    CAST(SUM(g.c) AS BIGINT) AS n_s,
    CAST(SUM(CAST(g.c AS DECIMAL(38,0)) * CAST(m.mr2 AS DECIMAL(38,0)))
      AS DECIMAL(38,0)) AS r2
  FROM g JOIN mr m ON g.lang = m.lang AND g.n_chars = m.n_chars
  GROUP BY g.lang, g.source
),
lang_tot AS (
  SELECT lang, CAST(SUM(t) AS BIGINT) AS n_all,
    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
             * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0)))
      AS DECIMAL(38,0)) AS tie3
  FROM vals GROUP BY lang
)
SELECT p.lang, p.source, p.n_s,
  CAST(l.n_all - p.n_s AS BIGINT) AS n_rest,
  CASE WHEN p.n_s > 0 AND l.n_all > p.n_s AND
    (CAST(p.n_s AS DECIMAL(38,0)) * (l.n_all - p.n_s))::DOUBLE / 12.0
      * ((l.n_all + 1)::DOUBLE
         - tie3::DOUBLE / (CAST(l.n_all AS DECIMAL(38,0)) * (l.n_all - 1))::DOUBLE)
    > 0
  THEN round(
    (p.r2 - CAST(p.n_s AS DECIMAL(38,0)) * (p.n_s + 1)
          - CAST(p.n_s AS DECIMAL(38,0)) * (l.n_all - p.n_s))::DOUBLE
    / (2.0 * sqrt(
        (CAST(p.n_s AS DECIMAL(38,0)) * (l.n_all - p.n_s))::DOUBLE / 12.0
        * ((l.n_all + 1)::DOUBLE
           - tie3::DOUBLE
             / (CAST(l.n_all AS DECIMAL(38,0)) * (l.n_all - 1))::DOUBLE))), 6)
    + 0.0
  END AS z_mw
FROM per_sv p JOIN lang_tot l ON p.lang = l.lang
ORDER BY p.lang, p.source
"""

QUERIES["mann_whitney_source_shift"] = mann_whitney_source_shift
ORACLES["mann_whitney_source_shift"] = MANN_WHITNEY_SQL

# --------------------------------------------------------------------------
# event_mix_jsd_weekly
# --------------------------------------------------------------------------


def event_mix_jsd_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each ISO week's event-type mix from
    the corpus mix — the BOUNDED drift metric (JSD ∈ [0, ln 2]) that
    complements the chi-square screens: chi-square grows with volume,
    JSD reads the same at any scale, so weeks of different sizes share
    one alert threshold.

    Scale/exactness: one (week, type) count aggregate + one O(types)
    corpus aggregate broadcast back; each of the ≤|types| JSD terms per
    week rounds to 12 dp into DECIMAL so the term-sum is
    order-independent; p·ln(p/m) terms with p = 0 contribute exactly 0
    by definition (handled explicitly, never ln(0))."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.weekofyear(F.col("ts")).cast("int")
    cells = ev.groupBy(wk.alias("week"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    week_tot = cells.groupBy("week").agg(F.sum("c").cast("long").alias("wn"))
    corpus = cells.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("gc")
    )
    gtot = corpus.agg(F.sum("gc").cast("long").alias("gn"))
    j = (
        cells.join(week_tot, "week")
        .join(F.broadcast(corpus), "event_type")
        .crossJoin(F.broadcast(gtot))
    )
    p = F.col("c").cast("double") / F.col("wn").cast("double")
    q = F.col("gc").cast("double") / F.col("gn").cast("double")
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    return (
        j.select(
            "week", F.round(term, 12).cast("decimal(38,12)").alias("t")
        )
        .groupBy("week")
        .agg(F.sum("t").alias("s"))
        .select(
            "week",
            (F.round(F.col("s").cast("double"), 6) + F.lit(0.0)).alias("jsd"),
        )
        .orderBy("week")
    )


EVENT_JSD_SQL = """
WITH cells AS (
  SELECT CAST(weekofyear(CAST(ts AS TIMESTAMP)) AS INTEGER) AS week,
         event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
week_tot AS (SELECT week, CAST(SUM(c) AS BIGINT) AS wn FROM cells GROUP BY week),
corpus AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS gc FROM cells GROUP BY event_type
),
gtot AS (SELECT CAST(SUM(gc) AS BIGINT) AS gn FROM corpus),
j AS (
  SELECT c.week,
    CAST(c.c AS DOUBLE) / CAST(w.wn AS DOUBLE) AS p,
    CAST(g.gc AS DOUBLE) / CAST(t.gn AS DOUBLE) AS q
  FROM cells c
  JOIN week_tot w ON c.week = w.week
  JOIN corpus g ON c.event_type = g.event_type
  CROSS JOIN gtot t
),
terms AS (
  SELECT week,
    CAST(round(
      ((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END)
       + (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END))
      / 2.0, 12) AS DECIMAL(38,12)) AS t
  FROM j
)
SELECT week, round(CAST(SUM(t) AS DOUBLE), 6) + 0.0 AS jsd
FROM terms GROUP BY week ORDER BY week
"""

QUERIES["event_mix_jsd_weekly"] = event_mix_jsd_weekly
ORACLES["event_mix_jsd_weekly"] = EVENT_JSD_SQL

# --------------------------------------------------------------------------
# lang_source_mutual_information
# --------------------------------------------------------------------------


def lang_source_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between language and source (in nats), with
    the normalized variant (MI / min(H(lang), H(source))) — the
    one-number answer to "are these two slicing dimensions confounded?"
    that decides whether per-source and per-language quality numbers can
    be read independently.  MI = 0 means the grid is a product measure;
    normalized 1 means one determines the other.

    Scale/exactness: ONE (lang, source) contingency aggregate plus two
    broadcast marginals; each of the |langs × sources| MI terms and each
    entropy term rounds to 12 dp into DECIMAL, so the sums are
    order-independent; empty cells contribute exactly 0."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ml = cells.groupBy("lang").agg(F.sum("c").cast("long").alias("cl"))
    ms = cells.groupBy("source").agg(F.sum("c").cast("long").alias("cs"))
    tot = cells.agg(F.sum("c").cast("long").alias("n")).withColumn(
        "__k", F.lit(1)
    )
    j = (
        cells.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(tot), "__k")
    )
    n = F.col("n").cast("double")
    pxy = F.col("c").cast("double") / n
    px = F.col("cl").cast("double") / n
    py = F.col("cs").cast("double") / n
    mi_term = F.round(pxy * F.log(pxy / (px * py)), 12).cast("decimal(38,12)")
    mi = j.agg(F.sum(mi_term).alias("s_mi"))
    hl = ml.crossJoin(F.broadcast(tot.drop("__k"))).select(
        F.round(
            -(F.col("cl").cast("double") / F.col("n").cast("double"))
            * F.log(F.col("cl").cast("double") / F.col("n").cast("double")),
            12,
        )
        .cast("decimal(38,12)")
        .alias("t")
    ).agg(F.sum("t").alias("h_lang"))
    hs = ms.crossJoin(F.broadcast(tot.drop("__k"))).select(
        F.round(
            -(F.col("cs").cast("double") / F.col("n").cast("double"))
            * F.log(F.col("cs").cast("double") / F.col("n").cast("double")),
            12,
        )
        .cast("decimal(38,12)")
        .alias("t")
    ).agg(F.sum("t").alias("h_source"))
    out = mi.crossJoin(F.broadcast(hl)).crossJoin(F.broadcast(hs))
    h_min = F.least(
        F.col("h_lang").cast("double"), F.col("h_source").cast("double")
    )
    return out.select(
        (F.round(F.col("s_mi").cast("double"), 6) + F.lit(0.0)).alias(
            "mi_nats"
        ),
        (F.round(F.col("h_lang").cast("double"), 6) + F.lit(0.0)).alias(
            "h_lang"
        ),
        (F.round(F.col("h_source").cast("double"), 6) + F.lit(0.0)).alias(
            "h_source"
        ),
        F.when(
            h_min > 0,
            F.round(F.col("s_mi").cast("double") / h_min, 6) + F.lit(0.0),
        ).alias("normalized_mi"),
    )


LANG_SOURCE_MI_SQL = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, source
),
ml AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cl FROM cells GROUP BY lang),
ms AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM cells GROUP BY source),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
mi AS (
  SELECT CAST(SUM(CAST(round(
    (CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
    * ln((CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
         / ((CAST(l.cl AS DOUBLE) / CAST(t.n AS DOUBLE))
            * (CAST(s.cs AS DOUBLE) / CAST(t.n AS DOUBLE)))), 12)
    AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s_mi
  FROM cells c
  JOIN ml l ON c.lang = l.lang
  JOIN ms s ON c.source = s.source
  CROSS JOIN tot t
),
hl AS (
  SELECT CAST(SUM(CAST(round(
    -(CAST(cl AS DOUBLE) / CAST(t.n AS DOUBLE))
    * ln(CAST(cl AS DOUBLE) / CAST(t.n AS DOUBLE)), 12)
    AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS h_lang
  FROM ml CROSS JOIN tot t
),
hs AS (
  SELECT CAST(SUM(CAST(round(
    -(CAST(cs AS DOUBLE) / CAST(t.n AS DOUBLE))
    * ln(CAST(cs AS DOUBLE) / CAST(t.n AS DOUBLE)), 12)
    AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS h_source
  FROM ms CROSS JOIN tot t
)
SELECT
  round(CAST(s_mi AS DOUBLE), 6) + 0.0 AS mi_nats,
  round(CAST(h_lang AS DOUBLE), 6) + 0.0 AS h_lang,
  round(CAST(h_source AS DOUBLE), 6) + 0.0 AS h_source,
  CASE WHEN least(CAST(h_lang AS DOUBLE), CAST(h_source AS DOUBLE)) > 0 THEN
    round(CAST(s_mi AS DOUBLE)
          / least(CAST(h_lang AS DOUBLE), CAST(h_source AS DOUBLE)), 6) + 0.0
  END AS normalized_mi
FROM mi CROSS JOIN hl CROSS JOIN hs
"""

QUERIES["lang_source_mutual_information"] = lang_source_mutual_information
ORACLES["lang_source_mutual_information"] = LANG_SOURCE_MI_SQL

# --------------------------------------------------------------------------
# spearman_quality_length
# --------------------------------------------------------------------------


def spearman_quality_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the heuristic quality score and
    document length, per language — the monotone-association number
    behind the RBO top-K view: ρ ≈ 1 says the quality gate is a length
    gate over the WHOLE distribution, not just the head.

    Scale/exactness: midranks come from LANGUAGE-partitioned windows
    over grouped DISTINCT values (the KS/Mann-Whitney shape), doubled to
    stay integral; each doc picks up its two midranks through two
    (lang, value) equi-joins against those grouped tables; ρ is Pearson
    on the integer doubled-midranks via DECIMAL(38,0) moments with one
    final double division."""
    from debezium_server_bigquery_spark.functions.text import quality_scores
    from debezium_server_bigquery_spark.sources.tables import (
        checkpoint_parquet,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    # checkpoint: base feeds THREE branches (both midrank tables and the
    # final join) and its lineage is the full quality scan — regexp
    # tokenization plus ordered_output's exchange — which would re-run
    # per branch (measured 2.3x on this query at sf0.1, round 12; the
    # derived-aggregate-chain pathology, tools/plans.py scan).
    # The checkpoint is the narrow 4-scalar doc-level projection: at
    # 100 TB that is a per-doc-row table, the sanctioned data-sized
    # substrate shape (same contract as the graph adjacency lists).
    base = checkpoint_parquet(docs.join(q, "doc_id"), "dsbq_spearman_base_")

    def midranks(df: DataFrame, col: str, out: str) -> DataFrame:
        g = df.groupBy("lang", col).agg(
            F.count(F.lit(1)).cast("long").alias("t")
        )
        w = (
            Window.partitionBy("lang")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return g.select(
            "lang",
            col,
            (F.lit(2) * F.sum("t").over(w) - F.col("t") + F.lit(1)).alias(out),
        )
    rq = midranks(base, "quality_score", "mr_q")
    rx = midranks(base, "n_chars", "mr_x")
    j = base.join(rq, ["lang", "quality_score"]).join(rx, ["lang", "n_chars"])
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("mr_q")).alias("sq"),
        F.sum(dec("mr_x")).alias("sx"),
        F.sum(dec("mr_q") * dec("mr_x")).alias("sqx"),
        F.sum(dec("mr_q") * dec("mr_q")).alias("sqq"),
        F.sum(dec("mr_x") * dec("mr_x")).alias("sxx"),
    )
    cov = dec("n") * F.col("sqx") - F.col("sq") * F.col("sx")
    vq = dec("n") * F.col("sqq") - F.col("sq") * F.col("sq")
    vx = dec("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.when(
            (vq > 0) & (vx > 0),
            F.round(
                cov.cast("double")
                / F.sqrt(vq.cast("double") * vx.cast("double")),
                6,
            )
            + F.lit(0.0),
        ).alias("spearman_rho"),
    ).orderBy("lang")


def _spearman_sql() -> str:
    from debezium_server_bigquery_spark.functions.curation import _QUALITY_CTE

    return f"""
WITH quality AS ({_QUALITY_CTE}),
base AS (
  SELECT d.doc_id, d.lang, d.n_chars, q.quality_score
  FROM documents d JOIN quality q USING (doc_id)
),
gq AS (
  SELECT lang, quality_score, CAST(COUNT(*) AS BIGINT) AS t
  FROM base GROUP BY lang, quality_score
),
rq AS (
  SELECT lang, quality_score,
    2 * SUM(t) OVER (PARTITION BY lang ORDER BY quality_score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - t + 1 AS mr_q
  FROM gq
),
gx AS (
  SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS t
  FROM base GROUP BY lang, n_chars
),
rx AS (
  SELECT lang, n_chars,
    2 * SUM(t) OVER (PARTITION BY lang ORDER BY n_chars
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - t + 1 AS mr_x
  FROM gx
),
j AS (
  SELECT b.lang, rq.mr_q, rx.mr_x
  FROM base b
  JOIN rq ON b.lang = rq.lang AND b.quality_score = rq.quality_score
  JOIN rx ON b.lang = rx.lang AND b.n_chars = rx.n_chars
),
m AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CAST(mr_q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq,
    CAST(SUM(CAST(mr_x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
    CAST(SUM(CAST(mr_q AS DECIMAL(38,0)) * CAST(mr_x AS DECIMAL(38,0)))
      AS DECIMAL(38,0)) AS sqx,
    CAST(SUM(CAST(mr_q AS DECIMAL(38,0)) * CAST(mr_q AS DECIMAL(38,0)))
      AS DECIMAL(38,0)) AS sqq,
    CAST(SUM(CAST(mr_x AS DECIMAL(38,0)) * CAST(mr_x AS DECIMAL(38,0)))
      AS DECIMAL(38,0)) AS sxx
  FROM j GROUP BY lang
)
SELECT lang, n AS n_docs,
  CASE WHEN (CAST(n AS DECIMAL(38,0)) * sqq - sq * sq) > 0
        AND (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx) > 0 THEN
    round(CAST(CAST(n AS DECIMAL(38,0)) * sqx - sq * sx AS DOUBLE)
          / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sqq - sq * sq AS DOUBLE)
                 * CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)),
          6) + 0.0
  END AS spearman_rho
FROM m ORDER BY lang
"""


SPEARMAN_SQL = _spearman_sql()

QUERIES["spearman_quality_length"] = spearman_quality_length
ORACLES["spearman_quality_length"] = SPEARMAN_SQL

# --------------------------------------------------------------------------
# quality_items_cronbach_alpha
# --------------------------------------------------------------------------


def quality_items_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the three binary sub-gates of the heuristic
    quality score (length band, stopword rate, punctuation cleanliness)
    — the internal-consistency number for a composite score: high alpha
    means the items measure one construct (and two of them are
    redundant), near-zero means the composite averages unrelated
    signals.  k = 3 items: α = (k/(k−1))·(1 − Σvar_i / var_total).

    Scale/exactness: the three items are row-local 0/1 expressions
    replicating TEXT_QUALITY_SQL's criteria; ONE aggregate collects all
    item sums, pairwise sums, and the total's moments as exact
    integers; α is a fixed-order expression over them (population
    variances — n divides out)."""
    from debezium_server_bigquery_spark.functions.dedup_fuzzy import words

    docs = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))
    wl = words(F.lower(F.col("text")))
    stop = F.array(
        *[F.lit(t) for t in
          ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")]
    )
    i1 = ((F.size(w) >= 10) & (F.size(w) <= 1000)).cast("long")
    # stopword-rate gate: fraction of lowercased tokens in the stop list
    n_stop = F.size(F.filter(wl, lambda t: F.array_contains(stop, t)))
    i2 = (
        n_stop.cast("double") / F.greatest(F.size(wl), F.lit(1)).cast("double")
        > 0.01
    ).cast("long")
    nonalnum = F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
    i3 = (
        nonalnum.cast("double")
        / F.greatest(F.length("text"), F.lit(1)).cast("double")
        < 0.1
    ).cast("long")
    tot = i1 + i2 + i3
    m = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(i1).cast("long").alias("s1"),
        F.sum(i2).cast("long").alias("s2"),
        F.sum(i3).cast("long").alias("s3"),
        F.sum(tot).cast("long").alias("st"),
        F.sum(tot * tot).cast("long").alias("stt"),
    )
    n = F.col("n").cast("double")
    # binary item: var_i = p(1-p); total: var from exact moments
    var_i = lambda s: (F.col(s).cast("double") / n) * (  # noqa: E731
        F.lit(1.0) - F.col(s).cast("double") / n
    )
    var_t = F.col("stt").cast("double") / n - (
        F.col("st").cast("double") / n
    ) * (F.col("st").cast("double") / n)
    alpha = (F.lit(3.0) / F.lit(2.0)) * (
        F.lit(1.0) - (var_i("s1") + var_i("s2") + var_i("s3")) / var_t
    )
    return m.select(
        F.col("n").alias("n_docs"),
        (F.round(F.col("s1").cast("double") / n, 6) + F.lit(0.0)).alias("p_len"),
        (F.round(F.col("s2").cast("double") / n, 6) + F.lit(0.0)).alias(
            "p_stopword"
        ),
        (F.round(F.col("s3").cast("double") / n, 6) + F.lit(0.0)).alias(
            "p_punct"
        ),
        F.when(var_t > 0, F.round(alpha, 6) + F.lit(0.0)).alias(
            "cronbach_alpha"
        ),
    )


CRONBACH_SQL = r"""
WITH items AS (
  SELECT
    CAST(CASE WHEN len(w) BETWEEN 10 AND 1000 THEN 1 ELSE 0 END AS BIGINT) AS i1,
    CAST(CASE WHEN len(list_filter(wl, t -> list_contains(
          ['the','a','and','of','to','in','is','on','for','with'], t)))
        / CAST(greatest(len(wl), 1) AS DOUBLE) > 0.01 THEN 1 ELSE 0 END
      AS BIGINT) AS i2,
    CAST(CASE WHEN length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
        / CAST(greatest(length(text), 1) AS DOUBLE) < 0.1 THEN 1 ELSE 0 END
      AS BIGINT) AS i3
  FROM (
    SELECT text,
      list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w,
      list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS wl
    FROM documents)
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(i1) AS BIGINT) AS s1,
    CAST(SUM(i2) AS BIGINT) AS s2,
    CAST(SUM(i3) AS BIGINT) AS s3,
    CAST(SUM(i1 + i2 + i3) AS BIGINT) AS st,
    CAST(SUM((i1 + i2 + i3) * (i1 + i2 + i3)) AS BIGINT) AS stt
  FROM items
)
SELECT n AS n_docs,
  round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS p_len,
  round(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS p_stopword,
  round(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS p_punct,
  CASE WHEN (CAST(stt AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) > 0 THEN
    round((3.0 / 2.0) * (1.0 -
      ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         * (1.0 - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       + (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
         * (1.0 - CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
       + (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
         * (1.0 - CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)))
      / (CAST(stt AS DOUBLE) / CAST(n AS DOUBLE)
         - (CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(st AS DOUBLE) / CAST(n AS DOUBLE)))), 6) + 0.0
  END AS cronbach_alpha
FROM m
"""

QUERIES["quality_items_cronbach_alpha"] = quality_items_cronbach_alpha
ORACLES["quality_items_cronbach_alpha"] = CRONBACH_SQL

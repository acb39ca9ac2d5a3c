"""Distributed BPE merge-table training over the documents corpus.

Byte-pair-encoding tokenizer training is the canonical iterative text
operator an LLM-data pipeline runs besides dedup/quality: repeatedly count
adjacent symbol pairs (weighted by word frequency) and merge the most
frequent pair.  The heavy work per round — pair counting over the corpus
vocabulary — is a map-side-combinable explode + sum aggregate; the greedy
in-word merge is one codegen'd separator-string ``replace`` pass per word
(the exact greedy left-to-right semantics of reference BPE — see
``_merge_expr``).

Scale design: training runs on the WORD-FREQUENCY table, not the corpus —
one corpus scan builds (word, freq), after which every round touches only
|vocabulary| rows.  Each round materializes the symbol table to the
reliable scratch-parquet checkpoint (O(1) plan depth at any merge count;
the table is vocabulary-sized, so the materialization must survive
executor loss — sources/tables.py) and collects exactly ONE row — the
argmax pair — O(1) driver data per round.

Correctness: merge selection is iterative and data-dependent (each
round's counts depend on the previous round's chosen pair), so no SINGLE
flat SQL aggregate expresses it — but the merge count K is a compile-time
constant, so the DuckDB twin UNROLLS the K rounds into chained CTEs
(``_build_bpe_train_sql``): per round, a pair-count aggregate, a 1-row
argmax, and the greedy in-word merge as a ``list_reduce`` with a
separator-joined string accumulator (exactly the Spark ``aggregate`` fold
re-expressed; chr(31) never occurs inside a symbol because both paths drop
it where the initial symbol table is built).  This turned
the registry's last rows-only gate entry into a hash-checked row (r8
verdict ask #4).  tests/test_bpe.py additionally pins the trainer against
a pure-Python reference BPE bit-for-bit, including tie-breaks, on both
fixed and property-generated corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.sources.tables import load_table

K_MERGES = 8


def _sq(s: str) -> str:
    # Spark SQL string literals treat backslash as an escape character
    return s.replace("\\", "\\\\").replace("'", "\\'")


_SEP = "\x1f"  # unit separator; never inside a symbol — the SAME invariant
# the DuckDB twin's list_reduce string accumulator already relies on.
# _SYMS guards it: the initial symbols are single characters, and a chr(31)
# character is dropped there (merges only concatenate symbols), exactly as
# the twin's state0 drops it.
_SYMS = "filter(split(word, ''), x -> x <> '' AND x <> chr(31))"


def _merge_expr(a: str, b: str, col: str = "syms") -> str:
    """Greedy left-to-right merge of adjacent (a, b) into one symbol.

    ``col`` names the array column (parameterized, never string-replaced:
    a trained merge could itself spell a column name).

    One codegen'd string pass (round 14, guide §4.1) instead of the
    previous array-building ``aggregate`` fold, whose
    ``concat(acc, array(x))`` allocated a fresh accumulator array per
    symbol — O(len²) allocation per word, the same per-step-allocation
    pathology the r13 census bitset fold had.  The symbols are rendered
    as a string joined by a DOUBLED separator with a separator pair at
    both ends, so every symbol boundary is exactly SEP·SEP and the
    literal scan for SEP·a·SEP·SEP·b·SEP can only match two whole
    adjacent symbols (a symbol that merely ends with ``a`` or starts
    with ``b`` has no SEP at the inner position); each match consumes
    one SEP from each flanking boundary and the replacement
    SEP·ab·SEP restores them, so back-to-back merges in a symbol run
    still match.  ``replace`` scans left to right and resumes AFTER each
    replacement — exactly the fold's greedy no-cascade-within-a-round
    semantics ('aaaa' + (a,a) → [aa, aa]; the merged symbol can never
    re-match inside the round because the round's pair is fixed and
    ``a`` is non-empty).  Equivalence: 0 mismatches vs the fold over a
    2M-word randomized vocabulary, plus the reference-BPE pins in
    tests/test_bpe.py; measured 6.3× faster on that vocabulary
    (OPTIMIZATION_r14.md).

    Caveat: ``array_join`` without a null replacement silently drops NULL
    elements, so a NULL symbol would vanish from its word instead of
    failing.  Symbols come from ``split`` (see ``_SYMS``) and are never
    NULL."""
    a, b, ab = _sq(a), _sq(b), _sq(a + b)
    s2 = _SEP * 2
    return (
        f"filter(split(replace("
        f"concat('{s2}', array_join({col}, '{s2}'), '{s2}'), "
        f"'{_SEP}{a}{s2}{b}{_SEP}', '{_SEP}{ab}{_SEP}'), "
        f"'{s2}'), x -> x <> '')"
    )


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _pair_counts(syms: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over a (freq, syms) symbol table —
    the map-side-combinable core of every BPE round."""
    return (
        syms.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) as a, "
                    "element_at(syms, i + 1) as b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def train_bpe_merges(
    spark: SparkSession, words: DataFrame, k: int = K_MERGES
) -> list[tuple[int, str, str, str, int]]:
    """Train ``k`` BPE merges on a (word, freq) table.

    Returns [(rank, left, right, merged, support)] — support is the
    weighted count of the pair when it was chosen.  Ties break on
    (left, right) ascending so the result is fully deterministic.
    """
    from debezium_server_bigquery_spark.sources.tables import checkpoint_parquet

    # Reliable scratch-parquet checkpoint per round, not localCheckpoint:
    # the symbol table is vocabulary-sized (every distinct word), so its
    # materialization must survive executor loss (sources/tables.py).
    syms = checkpoint_parquet(
        words.withColumn("syms", F.expr(_SYMS)),
        "dsbq_bpe_",
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, k + 1):
        pairs = _pair_counts(syms)
        top = (
            # bounded-collect: limit(1) argmax row per merge round
            pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1).collect()
        )  # 1 row — O(1) driver data per round
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["cnt"]
        merges.append((rank, a, b, a + b, cnt))
        syms = checkpoint_parquet(
            syms.withColumn("syms", F.expr(_merge_expr(a, b))), "dsbq_bpe_"
        )
    return merges


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    merges = train_bpe_merges(spark, word_frequencies(docs), K_MERGES)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, merged string, support long"
    ).orderBy("rank")


def bpe_encode_words(words: DataFrame, merges: list[tuple]) -> DataFrame:
    """Apply a trained merge table to a word table: adds ``tokens``
    (array<string>) — each word's BPE segmentation.

    Applying rank-by-rank greedy left-to-right reproduces reference BPE
    encoding exactly (same procedure as training applies after each
    argmax).  The merges arrive as the trainer's [(rank, a, b, ...), ...]
    list — O(k) driver metadata compiled into k chained in-JVM array
    folds, no Python on the executors.
    """
    out = words.withColumn(
        "tokens", F.expr(_SYMS)
    )
    for _rank, a, b, *_rest in merges:
        out = out.withColumn("tokens", F.expr(_merge_expr(a, b, col="tokens")))
    return out


def bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE round 1 as a STATIC query: the argmax adjacent character pair
    over the initial (per-character) symbol table.  Unlike the full
    trainer — whose per-round argmax feedback loop no single SQL
    statement can express — round 1 has no loop dependency, so it gets a
    hash-checked oracle twin and gives the BPE family a driver-graded
    row alongside the rows-only ``bpe_train_merges``."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    syms = word_frequencies(docs).withColumn(
        "syms", F.expr(_SYMS)
    )
    return (
        _pair_counts(syms)
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
        .select(
            F.col("a").alias("left"),
            F.col("b").alias("right"),
            F.concat("a", "b").alias("merged"),
            F.col("cnt").alias("support"),
        )
    )


BPE_FIRST_MERGE_SQL = r"""
WITH words AS (
  SELECT replace(w, chr(31), '') AS word, COUNT(*) AS freq
  FROM documents, UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t(w)
  WHERE w <> ''
  GROUP BY w
), pairs AS (
  SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b,
    CAST(SUM(freq) AS BIGINT) AS cnt
  FROM words, UNNEST(range(1, length(word))) AS r(i)
  GROUP BY 1, 2
)
SELECT a AS "left", b AS "right", a || b AS merged, cnt AS support
FROM pairs ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
"""


def _build_bpe_train_sql(k: int) -> str:
    """Unroll the K-round BPE trainer into one static DuckDB statement.

    Per round r: ``pairs{r}`` (weighted adjacent-pair counts over the
    current symbol table), ``top{r}`` (the 1-row argmax with the trainer's
    exact tie-break: cnt DESC, a ASC, b ASC), ``state{r}`` (every word's
    symbols after the greedy left-to-right merge).  The merge fold keeps
    the symbols as a chr(31)-joined string accumulator: the pair (a, b)
    applies when the accumulator's LAST symbol is exactly ``a`` — i.e. the
    accumulator is ``a`` itself or ends with SEP||a (symbol boundaries are
    unambiguous because chr(31) never appears inside a symbol) — mirroring
    the Spark ``aggregate`` fold in ``_merge_expr`` including its
    no-cascade-within-a-round semantics (the merged symbol ab, not a,
    becomes the new tail).  If a round's argmax is empty (corpus exhausted
    before K merges), its state and all later rounds are empty too,
    matching the trainer's early ``break``."""
    sep = "chr(31)"
    parts = [
        r"""state0 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS freq,
    list_filter(regexp_split_to_array(w, ''), c -> c <> '' AND c <> chr(31)) AS syms
  FROM documents, UNNEST(regexp_split_to_array(lower(text), '\s+')) AS t(w)
  WHERE w <> ''
  GROUP BY w
)"""
    ]
    for r in range(1, k + 1):
        prev = f"state{r - 1}"
        parts.append(
            f"""pairs{r} AS (
  SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM {prev}, UNNEST(range(1, len(syms))) AS rr(i)
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""top{r} AS (
  SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
)"""
        )
        if r < k:
            parts.append(
                f"""state{r} AS (
  SELECT freq, string_split(list_reduce(syms, (acc, x) -> CASE
      WHEN (acc = m.a OR ends_with(acc, {sep} || m.a)) AND x = m.b
      THEN substr(acc, 1, length(acc) - length(m.a)) || m.a || m.b
      ELSE acc || {sep} || x END), {sep}) AS syms
  FROM {prev}, top{r} m
)"""
            )
    unions = "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS BIGINT) AS rank, a AS "left", b AS "right",'
        f" a || b AS merged, cnt AS support FROM top{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\n{unions}\nORDER BY rank"


BPE_TRAIN_MERGES_SQL = _build_bpe_train_sql(K_MERGES)


QUERIES = {"bpe_train_merges": bpe_train_merges, "bpe_first_merge": bpe_first_merge}
ORACLES: dict[str, str] = {
    "bpe_train_merges": BPE_TRAIN_MERGES_SQL,
    "bpe_first_merge": BPE_FIRST_MERGE_SQL,
}

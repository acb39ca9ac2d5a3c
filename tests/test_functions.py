"""Unit tests for the data-pipeline function library (text analysis,
fuzzy dedup, similarity, multimodal plumbing) on tiny inline data; the
sf0.01 oracle gate covers the same operators at scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_token_and_quality_columns(spark):
    from debezium_server_bigquery_spark.functions.text import (
        punct_ratio,
        rolling_hash,
        token_count_bpeish,
        word_count,
    )

    df = spark.createDataFrame([("the cat, and the dog!",)], "text string")
    row = df.select(
        word_count(F.col("text")).alias("w"),
        token_count_bpeish(F.col("text")).alias("b"),
        punct_ratio(F.col("text")).alias("p"),
        rolling_hash(F.col("text")).alias("h"),
    ).collect()[0]
    assert row.w == 5
    assert row.b == 7  # the, cat, ',', and, the, dog, '!'
    assert row.p == 2 / 21
    # rolling hash: deterministic fold h*31 + ascii mod 1e9+7
    expect = 0
    for ch in "the cat, and the dog!":
        expect = (expect * 31 + ord(ch)) % 1_000_000_007
    assert row.h == expect


def test_exact_dedup_keep_first(spark):
    from debezium_server_bigquery_spark.functions import dedup_fuzzy

    # monkey-load via a temp view is overkill: call the internal pieces
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique")], "doc_id long, text string"
    )
    hashed = df.select("doc_id", F.md5("text").alias("h"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("h")
    out = {
        r.doc_id: (r.keeper, r.n)
        for r in hashed.withColumn("keeper", F.min("doc_id").over(w))
        .withColumn("n", F.count("*").over(w))
        .collect()
    }
    assert out[1] == (1, 2) and out[2] == (1, 2) and out[3] == (3, 1)


def test_shingles_and_minhash_detect_neardup(spark, tmp_path, sf_dir):
    from debezium_server_bigquery_spark.functions.dedup_fuzzy import shingles

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"  # high overlap
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sh = {r.doc_id: set(r.s) for r in df.select("doc_id", shingles(F.col("text")).alias("s")).collect()}
    j12 = len(sh[1] & sh[2]) / len(sh[1] | sh[2])
    j13 = len(sh[1] & sh[3]) / len(sh[1] | sh[3])
    assert j12 > 0.8 and j13 == 0.0
    # degenerate input: fewer words than the shingle width
    tiny = spark.createDataFrame([(9, "two words")], "doc_id long, text string")
    assert tiny.select(shingles(F.col("text")).alias("s")).collect()[0].s == []


def test_minhash_lsh_flags_planted_duplicates(spark, sf_dir):
    # the driver's documents table has planted near-dups; LSH must agree
    # with exact jaccard on the strongest pair
    from debezium_server_bigquery_spark.functions.dedup_fuzzy import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    lsh_pairs = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    exact = dedup_ngram_jaccard(spark, sf_dir)
    strong = {
        (r.doc_a, r.doc_b)
        for r in exact.filter(F.col("jaccard") > 0.8).collect()
    }
    assert strong, "test data should contain strong near-duplicates"
    assert strong <= lsh_pairs  # no false negatives on strong pairs


def test_cosine_identities(spark):
    from debezium_server_bigquery_spark.functions.similarity import dot, with_norm

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [2.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    n = with_norm(df)
    rows = {r.vec_id: r.norm for r in n.collect()}
    assert rows[1] == 1.0 and rows[2] == 2.0
    d = (
        n.alias("a")
        .join(n.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("i"),
            F.col("b.vec_id").alias("j"),
            (dot(F.col("a.embedding"), F.col("b.embedding"))
             / (F.col("a.norm") * F.col("b.norm"))).alias("sim"),
        )
        .collect()
    )
    sims = {(r.i, r.j): r.sim for r in d}
    assert sims[(1, 2)] == 0.0  # orthogonal
    assert sims[(1, 3)] == 1.0  # parallel


@pytest.mark.heavy
def test_multimodal_stub_contract(spark):
    from debezium_server_bigquery_spark.functions.multimodal import (
        FRAME_SIZE,
        with_binary_payload,
        _extract_features,
        _sample_frames,
    )

    docs = _docs(spark, [(1, "x" * 200, "en", "s", 200)])
    binary = with_binary_payload(docs)
    row = binary.collect()[0]
    assert bytes(row.payload) == b"x" * 200
    assert row.meta.n_bytes == 200

    from debezium_server_bigquery_spark.functions.multimodal import (
        FEATURE_SCHEMA,
        FRAME_SCHEMA,
    )

    feats = binary.mapInPandas(_extract_features, FEATURE_SCHEMA).collect()
    assert feats[0].n_bytes == 200
    assert feats[0].head_hex == ("78" * 16).upper()

    frames = binary.mapInPandas(_sample_frames, FRAME_SCHEMA).collect()
    # 200 bytes -> 4 frames (64,64,64,8), stride 2 keeps idx 0 and 2
    assert [(f.frame_idx, f.frame_bytes) for f in frames] == [(0, FRAME_SIZE), (2, FRAME_SIZE)]


def test_dedup_exact_stream_matches_batch_hash_groups(spark, sf_dir, tmp_path):
    """Streaming first-writer dedup: one survivor per content hash, each a
    member of the batch form's hash group; state bounded by the watermark."""
    from debezium_server_bigquery_spark.functions.dedup_fuzzy import (
        dedup_exact,
        dedup_exact_stream,
    )
    from debezium_server_bigquery_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ts", F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("doc_id"))
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        dedup_exact_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.sql("SELECT * FROM dedup_stream_out").collect()

    batch = dedup_exact(spark, sf_dir).collect()
    groups = {}
    for r in batch:
        groups.setdefault(r["text_hash"], set()).add(r["doc_id"])
    # exactly one survivor per distinct hash, and it is a real group member
    assert sorted(r["text_hash"] for r in kept) == sorted(groups)
    for r in kept:
        assert r["doc_id"] in groups[r["text_hash"]]


def test_repetition_score_degenerate_vs_unique(spark):
    from debezium_server_bigquery_spark.functions.text import text_repetition_score
    import debezium_server_bigquery_spark.sources.tables as tables

    # "a b a b a b a b": 3-grams = 6, distinct = 2 -> ratio 2/3
    # unique text: ratio 0
    df = _docs(
        spark,
        [
            (0, "a b a b a b a b", "en", "s", 15),
            (1, "one two three four five", "en", "s", 23),
        ],
    )
    orig = tables.load_table
    try:
        tables.load_table = lambda spark, sf_dir, name, spread=False: df
        import debezium_server_bigquery_spark.functions.text as text_mod

        orig_tm = text_mod.load_table
        text_mod.load_table = tables.load_table
        try:
            rows = {r.doc_id: r for r in text_mod.text_repetition_score(spark, "x").collect()}
        finally:
            text_mod.load_table = orig_tm
    finally:
        tables.load_table = orig
    assert rows[0].n_3grams == 6 and rows[0].n_distinct_3grams == 2
    assert abs(rows[0].repetition_ratio - (1 - 2 / 6)) < 1e-6
    assert rows[1].repetition_ratio == 0.0


def test_contamination_flags_only_overlapping_docs(spark):
    import debezium_server_bigquery_spark.functions.text as text_mod

    df = _docs(
        spark,
        [
            (0, "alpha beta gamma delta", "en", "src0", 1),  # benchmark
            (1, "alpha beta gamma other words here", "en", "src1", 1),  # overlaps
            (2, "totally different content entirely", "en", "src1", 1),  # clean
        ],
    )
    orig = text_mod.load_table
    try:
        text_mod.load_table = lambda spark, sf_dir, name, spread=False: df
        rows = {r.doc_id: r.n_overlap_3grams for r in text_mod.text_contamination_check(spark, "x").collect()}
    finally:
        text_mod.load_table = orig
    assert 1 in rows and rows[1] == 1  # shares exactly 'alpha beta gamma'
    assert 2 not in rows


def test_trimmed_mean_resists_outliers(spark):
    """Planting extreme outliers moves the raw mean but not the 5%-trimmed
    mean of the clean bulk."""
    import unittest.mock as mock

    from debezium_server_bigquery_spark.plans import diagnostics

    rows = [("a", float(50 + (i % 11)), i) for i in range(96)]
    rows += [("a", 1e9, 1001), ("a", 1e9, 1002), ("a", -1e9, 1003), ("a", -1e9, 1004)]
    ev = spark.createDataFrame(rows, "event_type string, value double, event_id long")
    with mock.patch.object(diagnostics, "load_table", return_value=ev):
        out = diagnostics.trimmed_mean_value_by_type(spark, "x").collect()[0]
    # n=100, floor(5%)=5 per tail: all 4 outliers (2 per tail) are shed
    assert out.n_kept == 90
    assert 50.0 <= out.trimmed_mean <= 61.0
    assert out.kept_lo >= 50.0 and out.kept_hi <= 61.0


def test_tokenizer_fertility_by_lang(spark, sf_dir):
    from debezium_server_bigquery_spark.functions.text import (
        tokenizer_fertility_by_lang,
    )

    rows = tokenizer_fertility_by_lang(spark, sf_dir).collect()
    assert rows and [r.lang for r in rows] == sorted({r.lang for r in rows})
    total_docs = sum(r.n_docs for r in rows)
    assert total_docs > 0
    for r in rows:
        # the BPE-ish pre-tokenizer only ever SPLITS whitespace words
        # (letter runs / digit runs / single punctuation), so pretokens
        # per word can never drop below 1
        assert r.total_pretokens >= r.total_words
        assert r.fertility >= 1.0
        assert r.chars_per_pretoken > 0


def test_char_diversity_gini_known_values(spark, tmp_path):
    from debezium_server_bigquery_spark.functions.text import char_diversity_gini

    rows = [
        (1, "aaaa", "en", "web", 4),          # one symbol -> impurity 0
        (2, "ab", "en", "web", 2),            # two equiprobable -> 0.5
        (3, "abcd", "en", "web", 4),          # uniform over 4 -> 0.75
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in char_diversity_gini(spark, str(tmp_path)).collect()}
    assert out[1].char_gini == 0.0 and out[1].n_distinct_chars == 1
    assert out[2].char_gini == 0.5
    assert out[3].char_gini == 0.75 and out[3].n_chars_counted == 4


def test_k_anonymity_report_flags_small_groups(spark, sf_dir):
    from debezium_server_bigquery_spark.plans.diagnostics import (
        K_ANON,
        k_anonymity_report,
    )

    rows = k_anonymity_report(spark, sf_dir).collect()
    assert rows  # the synthetic feed always has rare QI combos
    for r in rows:
        assert 0 < r.n_users < K_ANON
        assert r.n_rows >= r.n_users
    counts = [r.n_users for r in rows]
    assert counts == sorted(counts)


@pytest.mark.heavy
def test_stream_dedup_watermark_e2e_deterministic(spark, sf_dir):
    """The graded summary must be identical across runs (survivor identity
    may differ; the keep-count may not) and equal the batch distinct."""
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.plans.pipeline_queries import (
        stream_dedup_watermark_e2e,
    )
    from debezium_server_bigquery_spark.sources.tables import load_table

    a = stream_dedup_watermark_e2e(spark, sf_dir).collect()[0]
    b = stream_dedup_watermark_e2e(spark, sf_dir).collect()[0]
    assert tuple(a) == tuple(b)
    docs = load_table(spark, sf_dir, "documents")
    assert a.n_kept == docs.select(F.md5("text")).distinct().count()
    assert a.n_input == docs.count()
    assert a.n_dropped == a.n_input - a.n_kept >= 0


def test_language_purity_detects_mixed_docs(spark, tmp_path):
    """A doc stuffed with two languages' markers must count as mixed; a
    single-language doc must not."""
    from debezium_server_bigquery_spark.functions.text import (
        language_purity_report,
    )

    # en and de markers are disjoint (the/and/of vs der/und/von); fr, es,
    # and zh deliberately share markers in the toy model, so they cannot
    # serve as the "pure" fixtures here
    rows = [
        (1, "the cat and the dog of the house", "en", "web", 0),
        (2, "der hund und der mann von hier", "de", "web", 0),
        (3, "the house und der hund and von hund of", "en", "web", 0),  # mixed
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.lang: r for r in language_purity_report(spark, str(tmp_path)).collect()}
    assert out["de"].n_mixed == 0 and out["de"].n_with_signal == 1
    assert out["en"].n_docs == 2 and out["en"].n_mixed == 1
    assert out["en"].max_secondary_hits >= 2


def test_hill_alpha_exact_pareto_tail(spark, tmp_path):
    """Lengths x_i = 2^(i/alpha) give ln(x_(i)/x_ref) sums with a known
    closed form; verify against a plain Python replication."""
    import math

    import debezium_server_bigquery_spark.functions.text as T

    n = 50
    alpha = 2.0
    lengths = sorted(
        (int(round(100 * (2 ** (i / alpha)))) for i in range(n)), reverse=True
    )
    rows = [(i, "t", "en", "s", x) for i, x in enumerate(lengths)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = T.hill_tail_index_doclen(spark, str(tmp_path)).collect()[0]
    assert out.k == n - 1  # corpus smaller than HILL_K: frame is all docs
    x_ref = min(lengths)
    s = sum(round(math.log(x / x_ref), 12) for x in lengths)
    expect = round((n - 1) / s, 6)
    assert abs(out.hill_alpha - expect) < 1e-9

"""Pin the distributed BPE trainer against a pure-Python reference —
the oracle for the registry's one rows-only entry (see functions/bpe.py)."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from hypothesis import strategies as st

from debezium_server_bigquery_spark.functions.bpe import (
    train_bpe_merges,
    word_frequencies,
)


def _py_bpe(word_freq: dict[str, int], k: int):
    # chr(31) is the merge separator: the symbol table drops it
    syms = {w: [c for c in w if c != "\x1f"] for w in word_freq}
    merges = []
    for rank in range(1, k + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            f = word_freq[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        # max count; ties to the lexicographically smallest (a, b)
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def _spark_bpe(spark, word_freq: dict[str, int], k: int):
    words = spark.createDataFrame(
        list(word_freq.items()), "word string, freq long"
    )
    return train_bpe_merges(spark, words, k)


def test_bpe_fixed_corpus(spark):
    wf = {"lower": 3, "low": 5, "newest": 6, "widest": 3, "newer": 2}
    assert _spark_bpe(spark, wf, 6) == _py_bpe(wf, 6)


def test_bpe_repeated_symbol_runs_merge_greedily(spark):
    # 'aaaa' with pair (a,a): greedy left-to-right gives [aa, aa]
    wf = {"aaaa": 4, "aab": 1}
    got = _spark_bpe(spark, wf, 2)
    assert got == _py_bpe(wf, 2)
    assert got[0][1:4] == ("a", "a", "aa")


def test_bpe_on_documents_table(spark, sf_dir):
    from debezium_server_bigquery_spark.functions.bpe import bpe_train_merges
    from debezium_server_bigquery_spark.sources.tables import load_table

    rows = bpe_train_merges(spark, sf_dir).collect()
    assert 0 < len(rows) <= 8
    # the distributed result equals python BPE on the same frequencies
    docs = load_table(spark, sf_dir, "documents")
    wf = {r.word: r.freq for r in word_frequencies(docs).collect()}
    expected = _py_bpe(wf, 8)
    assert [(r.rank, r.left, r.right, r.merged, r.support) for r in rows] == expected


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.dictionaries(
        st.text(alphabet="abcde", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=8,
    )
)
@pytest.mark.heavy
def test_bpe_property_matches_python(spark, wf):
    assert _spark_bpe(spark, wf, 4) == _py_bpe(wf, 4)


def test_bpe_symbols_with_quotes_and_backslashes(spark):
    # symbols are spliced into SQL expressions — escaping must hold; a
    # chr(31) (the merge separator) inside a word is dropped, not merged
    wf = {"a'b": 3, "a\\b": 2, "ab": 5, "b\x1fa\x1f\x1fb": 4}
    assert _spark_bpe(spark, wf, 3) == _py_bpe(wf, 3)


def test_bpe_merge_respects_symbol_boundaries(spark):
    """Round-14 pin for the separator-string merge (_merge_expr): a
    symbol that merely ENDS with the pair's left element (or starts with
    its right element) must not merge, across rounds where multi-char
    symbols exist.  Crafted so round 1 merges (a, b) — producing 'ab'
    symbols adjacent to single 'a'/'b' and to symbols with 'a'/'b' as
    substrings — and later rounds merge multi-char pairs."""
    wf = {"xab": 5, "ab": 4, "xa": 2, "xaab": 3, "aab": 2, "abab": 2}
    assert _spark_bpe(spark, wf, 4) == _py_bpe(wf, 4)


def test_bpe_merge_expr_matches_fold_form(spark):
    """The separator-string _merge_expr must be pointwise identical to
    the r13 aggregate-fold form on adversarial symbol arrays (runs of
    the pair, boundary suffix/prefix collisions, multi-char symbols)."""
    from pyspark.sql import functions as F

    from debezium_server_bigquery_spark.functions.bpe import _merge_expr, _sq

    def fold_expr(a: str, b: str, col: str = "syms") -> str:
        a, b, ab = _sq(a), _sq(b), _sq(a + b)
        return f"""
        aggregate({col}, cast(array() as array<string>),
          (acc, x) -> case
            when size(acc) > 0 and element_at(acc, -1) = '{a}' and x = '{b}'
            then concat(slice(acc, 1, size(acc) - 1), array('{ab}'))
            else concat(acc, array(x)) end)
        """

    arrays = [
        ["a", "a", "a", "a"],          # greedy run: [aa, aa]
        ["a", "a", "a"],               # odd run: [aa, a]
        ["x", "a", "b"],               # plain adjacent merge
        ["xa", "a", "b"],              # left symbol ends with 'a'
        ["a", "bc"],                   # right symbol starts with 'b'
        ["ab", "a", "b", "ab"],        # merged symbol already present
        ["b", "a"],                    # reversed — no merge
        [],                            # empty word
        ["a"],                         # single symbol
        ["a", "b", "a", "b", "a"],     # alternating: [ab, ab, a]
    ]
    df = spark.createDataFrame([(v,) for v in arrays], "syms array<string>")
    for pair in [("a", "b"), ("a", "a"), ("ab", "a"), ("a", "ab")]:
        rows = df.select(
            F.expr(_merge_expr(*pair)).alias("new"),
            F.expr(fold_expr(*pair)).alias("old"),
        ).collect()
        for r in rows:
            assert r.new == r.old, (pair, r.new, r.old)


# -- encoding (applying a trained merge table) -----------------------------
def _py_encode(word: str, merges) -> list[str]:
    s = list(word)
    for _rank, a, b, *_ in merges:
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


def test_bpe_encode_matches_python(spark):
    from debezium_server_bigquery_spark.functions.bpe import bpe_encode_words

    wf = {"lower": 3, "low": 5, "newest": 6, "widest": 3, "newer": 2}
    merges = _spark_bpe(spark, wf, 6)
    words = spark.createDataFrame([(w,) for w in wf], "word string")
    got = {r.word: list(r.tokens) for r in bpe_encode_words(words, merges).collect()}
    assert got == {w: _py_encode(w, merges) for w in wf}
    # the training corpus's own words re-encode consistently: every token
    # is either a merged symbol or a single character
    vocab = {m[3] for m in merges}
    for toks in got.values():
        assert all(len(t) == 1 or t in vocab for t in toks)

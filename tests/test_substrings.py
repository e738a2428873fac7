"""Substring (suffix-array-equivalent) dedup tier.

Golden strategy: a hand-built fixture with planted verbatim overlaps,
spans checked against a pure-python mirror, and the blocked+LCS scale
path checked against the exact all-pairs listing (same contract as the
MinHash rep-level tests)."""

from __future__ import annotations

import pytest

from who_owns_mass_processing_spark.operators.substrings import (
    lcs_substring_py,
    substring_dup_pairs_blocked,
    substring_dup_pairs_exact,
    substring_dup_spans,
)

L = 10

DOCS = [
    # 0/1 share a 24-char verbatim run in the middle
    (0, "aaaa THE QUICK BROWN FOX JUMPS zzzz padding tail 0"),
    (1, "bbbb THE QUICK BROWN FOX JUMPS yyyy other tail 111"),
    # 2 repeats a window within itself (within-doc duplication)
    (2, "cccc REPEATED BLOCK HERE.. REPEATED BLOCK HERE.. q"),
    # 3 shares nothing >= L with anyone
    (3, "unique content entirely of its own kind 3333333333"),
    # 4 short doc (< L): must emit nothing
    (4, "tiny"),
    # 5/6 share a run at the very start (pos-0 edge)
    (5, "SHARED PREFIX RUN X tail five ............... 5555"),
    (6, "SHARED PREFIX RUN X tail six ................ 6666"),
]


def _mirror_spans(docs, min_len, min_count=2):
    """Pure-python mirror of the L-gram span semantics."""
    occ = []  # (doc, pos, gram)
    for did, text in docs:
        for p in range(len(text) - min_len + 1):
            occ.append((did, p, text[p : p + min_len]))
    from collections import Counter

    freq = Counter(g for _, _, g in occ)
    spans = {}
    for did, text in docs:
        positions = [
            p
            for (d, p, g) in occ
            if d == did and freq[g] >= min_count
        ]
        out = []
        for p in sorted(positions):
            if out and p <= out[-1][1]:
                s, e, n = out[-1]
                out[-1] = (s, max(e, p + min_len), n + 1)
            else:
                out.append((p, p + min_len, 1))
        for s, e, n in out:
            spans[(did, s)] = (e, n)
    return spans


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_spans_match_python_mirror(spark, docs_df):
    got = {
        (r.doc_id, r.span_start): (r.span_end, r.n_grams)
        for r in substring_dup_spans(docs_df, "doc_id", "text", L).collect()
    }
    want = _mirror_spans(DOCS, L)
    assert got == want
    # sanity on the fixture itself: docs 0,1,2,5,6 have spans; 3,4 don't
    assert {d for d, _ in got} == {0, 1, 2, 5, 6}
    # pos-0 edge: docs 5/6 span starts at 0
    assert (5, 0) in got and (6, 0) in got


def test_short_docs_emit_nothing(spark):
    df = spark.createDataFrame([(0, "tiny"), (1, "tin")], ["doc_id", "text"])
    assert substring_dup_spans(df, "doc_id", "text", L).count() == 0


def test_cross_doc_only_excludes_within_doc_repeats(spark, docs_df):
    spans = substring_dup_spans(
        docs_df, "doc_id", "text", L, cross_doc_only=True
    ).collect()
    assert {r.doc_id for r in spans} == {0, 1, 5, 6}  # doc 2 drops out


def test_blocked_pairs_match_exact_with_lcs(spark, docs_df):
    exact = {
        (r.a, r.b)
        for r in substring_dup_pairs_exact(docs_df, "doc_id", "text", L).collect()
    }
    blocked, metrics = substring_dup_pairs_blocked(docs_df, "doc_id", "text", L)
    rows = blocked.collect()
    got = {(r.a, r.b) for r in rows}
    # every cross-doc pair with a shared L-gram has LCS >= L, so the two
    # listings agree exactly (no caps hit on this fixture)
    assert got == exact == {(0, 1), (5, 6)}
    # LCS values are exact per the python kernel
    texts = dict(DOCS)
    for r in rows:
        assert r.lcs_len == lcs_substring_py(texts[r.a], texts[r.b])
        assert r.lcs_len >= L
    assert metrics.count() >= 1


def test_lcs_kernel():
    assert lcs_substring_py("", "abc") == 0
    assert lcs_substring_py("abc", "") == 0
    assert lcs_substring_py("abcdef", "zabcq") == 3  # "abc"
    assert lcs_substring_py("xyz", "abc") == 0
    assert lcs_substring_py("banana", "ananas") == 5  # "anana"
    # symmetric
    assert lcs_substring_py("hello world", "world hello") == lcs_substring_py(
        "world hello", "hello world"
    )


def test_spans_partition_invariant(spark, docs_df):
    base = substring_dup_spans(docs_df, "doc_id", "text", L).collect()
    rep = substring_dup_spans(
        docs_df.repartition(7), "doc_id", "text", L
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, rep))


def test_lcs_kernel_property_vs_bruteforce():
    """Property: suffix-automaton LCS == brute-force LCS on random
    small-alphabet strings (the adversarial case for substring logic)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    def brute_lcs(s, t):
        best = 0
        for i in range(len(s)):
            for j in range(len(t)):
                k = 0
                while i + k < len(s) and j + k < len(t) and s[i + k] == t[j + k]:
                    k += 1
                best = max(best, k)
        return best

    @settings(max_examples=200, deadline=None)
    @given(
        st.text(alphabet="ab", max_size=30),
        st.text(alphabet="ab", max_size=30),
    )
    def check(s, t):
        assert lcs_substring_py(s, t) == brute_lcs(s, t)

    check()


def test_span_mirror_property(spark):
    """Property: Spark spans == pure-python mirror on random small-vocab
    corpora (within-doc repeats, cross-doc shares, short docs)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="xy ", min_size=0, max_size=40),
            min_size=1,
            max_size=6,
        )
    )
    def check(texts):
        docs = list(enumerate(texts))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r.doc_id, r.span_start): (r.span_end, r.n_grams)
            for r in substring_dup_spans(df, "doc_id", "text", 5).collect()
        }
        assert got == _mirror_spans(docs, 5)

    check()


def test_apply_span_cuts_python_mirror(spark):
    """Cut semantics vs a direct python mirror on hand-built docs:
    duplicated regions removed, survivors concatenated in order,
    span-free docs untouched, fully-duplicated docs -> empty string."""
    import pandas as pd

    from who_owns_mass_processing_spark.operators.substrings import (
        apply_span_cuts,
        substring_dup_spans,
    )

    L = 10
    shared = "0123456789abcdefghij"  # 20 chars, >= L
    docs = {
        1: f"AAA{shared}BBB",
        2: f"CCCC{shared}DDDD",
        3: "totally unique text here",
        4: shared,            # fully duplicated -> empty after cut
    }
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    spans = substring_dup_spans(df, "doc_id", "text", min_len=L)
    got = {
        r.doc_id: r.text_dedup
        for r in apply_span_cuts(df, spans, "doc_id", "text").collect()
    }
    # python mirror: remove every char covered by a duplicated L-window
    def mirror(corpus):
        from collections import Counter
        grams = Counter()
        for t in corpus.values():
            for i in range(max(len(t) - L + 1, 0)):
                grams[t[i:i + L]] += 1
        out = {}
        for k, t in corpus.items():
            covered = [False] * len(t)
            for i in range(max(len(t) - L + 1, 0)):
                if grams[t[i:i + L]] >= 2:
                    for j in range(i, i + L):
                        covered[j] = True
            out[k] = "".join(c for c, cov in zip(t, covered) if not cov)
        return out

    assert got == mirror(docs)
    assert got[3] == docs[3] and got[4] == ""


def test_lgram_vectorized_matches_expression_twin(spark):
    """The vectorized gram stage must induce the SAME occurrence
    structure as the Catalyst expression twin: identical (id, pos)
    sets, and the hash-equality classes over positions must partition
    identically (hash VALUES legitimately differ — they are internal
    blocking keys; every span/pair output is hash-free)."""
    from pyspark.sql import functions as F

    from who_owns_mass_processing_spark.operators.substrings import lgram_occurrences
    from tests.oracles import lgram_occurrences_expr

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = lgram_occurrences(d, "doc_id", "text", 25)
    old = lgram_occurrences_expr(d, "doc_id", "text", 25)
    assert new.select("doc_id", "pos").exceptAll(old.select("doc_id", "pos")).count() == 0
    assert old.select("doc_id", "pos").exceptAll(new.select("doc_id", "pos")).count() == 0
    j = new.alias("n").join(old.alias("o"), ["doc_id", "pos"])
    for a, b in (("n", "o"), ("o", "n")):
        cls = j.groupBy(f"{a}.gram_hash").agg(
            F.min(F.struct(f"{b}.gram_hash")).alias("mn"),
            F.max(F.struct(f"{b}.gram_hash")).alias("mx"),
        )
        assert cls.where(F.col("mn") != F.col("mx")).count() == 0

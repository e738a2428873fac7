"""Pair-listing vs edge (connectivity) dedup variants must agree on
components; rep-level LSH must equal member-level semantics."""
import pandas as pd

from who_owns_mass_processing_spark.config import DedupeConfig
from who_owns_mass_processing_spark.operators.dedupe import (
    exact_fingerprint_edges,
    exact_fingerprint_pairs,
    lsh_near_dup_edges,
    lsh_near_dup_pairs,
    minhash_signatures,
    representatives,
)

from tests.oracles import components_py

CFG = DedupeConfig(stop_band_min=10**6)  # tiny fixture: no drops


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),   # near dup
        (4, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG!"),  # normalizes == 1
        (5, "completely different text about spark engines"),
        (6, "completely different text about spark engines"), # exact dup of 5
        (7, "unrelated singleton document right here"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_pairs_and_edges_same_components(spark):
    df = _docs(spark)
    pairs, _ = lsh_near_dup_pairs(df, "doc_id", "text", CFG)
    edges, _ = lsh_near_dup_edges(minhash_signatures(df, "doc_id", "text", CFG), "doc_id", CFG)
    nodes = [r[0] for r in df.select("doc_id").collect()]
    cp = components_py([(r.a, r.b) for r in pairs.collect()], nodes)
    ce = components_py([(r.a, r.b) for r in edges.collect()], nodes)
    assert cp == ce
    assert cp[1] == cp[2] == cp[3] == cp[4]
    assert cp[5] == cp[6] != cp[1]
    assert cp[7] not in (cp[1], cp[5])


def test_pair_listing_includes_within_group_pairs(spark):
    df = _docs(spark)
    pairs, _ = lsh_near_dup_pairs(df, "doc_id", "text", CFG)
    got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
    # exact group {1,2,4}: all three pairs listed at jaccard 1.0
    for p in [(1, 2), (1, 4), (2, 4)]:
        assert got.get(p) == 1.0, (p, got)
    # edges variant lists only star edges for the group
    edges, _ = lsh_near_dup_edges(minhash_signatures(df, "doc_id", "text", CFG), "doc_id", CFG)
    ge = {(r.a, r.b) for r in edges.collect()}
    assert (1, 2) in ge and (1, 4) in ge and (2, 4) not in ge


def test_exact_tier_pairs_vs_edges(spark):
    df = _docs(spark)
    sigs = minhash_signatures(df, "doc_id", "text", CFG)
    pairs = exact_fingerprint_pairs(sigs, "doc_id").toPandas()
    edges = exact_fingerprint_edges(sigs, "doc_id", "fingerprint").toPandas()
    assert len(pairs) == 4   # C(3,2)=3 for {1,2,4} + 1 for {5,6}
    assert len(edges) == 3   # star: 2 for {1,2,4} + 1 for {5,6}
    # one representative per fingerprint, the min doc_id (the star
    # centre), each with its own surrogate id
    reps = representatives(sigs, "doc_id", "fingerprint").toPandas()
    assert sorted(reps.doc_id) == [1, 3, 5, 7]
    assert reps._sid.is_unique
    assert set(edges.a) <= set(reps.doc_id)


def test_winnow_pairs_detects_shared_runs(spark):
    """winnow_pairs recall contract: any pair sharing a run of
    >= w+k-1 chars shares >= 1 fingerprint and becomes a candidate;
    verified n_shared equals the exact fingerprint-set intersection
    (numpy/python mirror)."""
    from who_owns_mass_processing_spark.operators.dedupe import winnow_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iotas"),  # long shared prefix
        (3, "completely unrelated words nothing matches here"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs, metrics = winnow_pairs(df, "doc_id", "text", k=5, w=4, min_shared=2)
    got = {(r.a, r.b): r.n_shared for r in pairs.collect()}
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert all(3 not in p for p in got)

    # python mirror of the winnow picks -> exact n_shared parity
    import re

    def picks(text, k=5, w=4):
        t = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
        if len(t) < k:
            return set()
        grams = [t[i : i + k] for i in range(len(t) - k + 1)]
        n = max(len(grams) - (w - 1), 1)
        return {min(grams[i : i + w]) for i in range(n)}

    texts = dict(rows)
    for (a, b), n_shared in got.items():
        assert n_shared == len(picks(texts[a]) & picks(texts[b])), (a, b)


def test_containment_lsh_superset_of_exact_oracle(spark):
    """VERDICT r3 #6 done-gate: containment_pairs_lsh output must
    contain every pair of the O(n^2) exact containment twin on the
    sf0.01 fixture (and, with the exact verify, equal it)."""
    import os

    from who_owns_mass_processing_spark.operators.dedupe import (
        containment_pairs_lsh,
        ngram_containment_pairs,
    )

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("sf0.01 fixture not present")
    df = spark.read.parquet(f"{sf}/documents.parquet")
    exact = ngram_containment_pairs(df, "doc_id", "text", 3, 0.9).toPandas()
    lsh, _ = containment_pairs_lsh(
        df, "doc_id", "text", CFG, threshold=0.9, max_size_ratio=4.0
    )
    lsh = lsh.toPandas()
    exact_set = set(zip(exact.a, exact.b))
    lsh_set = set(zip(lsh.a, lsh.b))
    assert exact_set <= lsh_set, f"missing {sorted(exact_set - lsh_set)[:5]}"
    # exact verify => no false positives either
    assert lsh_set == exact_set

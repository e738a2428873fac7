"""Independent mirrors of the engine's operators, used only by tests.

Each function computes what one production operator computes, by a
different route, so a test can compare the two:

  components_py             union-find  vs  operators.connected_components
  minhash_py                per-row numpy  vs  functions.minhash.minhash_batch
  simhash_py                per-row numpy  vs  functions.simhash.simhash_batch
  winnow_fingerprints_expr  Catalyst lambdas  vs  functions.text.winnow_fingerprints
  lgram_occurrences_expr    Catalyst lambdas  vs  operators.substrings.lgram_occurrences
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.functions.minhash import minhash_from_codes, shingle_codes
from who_owns_mass_processing_spark.functions.simhash import fnv1a64_tokens
from who_owns_mass_processing_spark.functions.text import normalize_text


def components_py(edges: list[tuple], nodes: list | None = None) -> dict:
    """Driver-side union-find: node -> min node id of its component.
    Python compares str by code point, which orders like Spark's UTF-8
    byte order, so string ids check the same `least` order."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for n in nodes or []:
        find(n)
    return {n: find(n) for n in parent}


def minhash_py(text: str, k: int, keys: np.ndarray) -> np.ndarray:
    """One row's MinHash signature with the batch UDF's math."""
    from who_owns_mass_processing_spark.synth import normalize_text as pynorm

    return minhash_from_codes(shingle_codes(pynorm(text), k), keys)


def simhash_py(text: str) -> int:
    """64-bit SimHash of the whitespace tokens of already-normalized
    text, weighting each distinct token by its count."""
    toks = [t for t in (text or "").split() if t]
    if not toks:
        return 0
    uniq, counts = np.unique(np.array(toks, dtype=object), return_counts=True)
    hashes = fnv1a64_tokens(list(uniq))
    bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    acc = ((bits * 2 - 1) * counts[:, None].astype(np.int64)).sum(axis=0)
    out = np.uint64(0)
    for i in range(64):
        if acc[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(np.int64(out))


def winnow_fingerprints_expr(col: Column, k: int = 5, w: int = 4) -> Column:
    """Catalyst-builtin twin of `winnow_fingerprints` (transform/slice/
    array_min/array_distinct — no UDF)."""
    t = normalize_text(col)
    n = F.length(t)
    n_grams = n - F.lit(k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: t.substr(i, F.lit(k)),
    )
    # let-binding idiom: wrap `grams` in a 1-element array and bind it as
    # a lambda variable, so the gram array is EVALUATED ONCE per row.  A
    # direct reference inside the window lambda would be inlined by the
    # expression compiler and recomputed per window — O(n^2) substr work
    # per document (observed: minutes instead of seconds on sf0.01).
    picks_of = lambda g: F.transform(  # noqa: E731
        F.sequence(F.lit(1), F.greatest(F.size(g) - F.lit(w - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(g, i, w)),
    )
    picks = F.element_at(F.transform(F.array(grams), picks_of), 1)
    return F.when(n < F.lit(k), F.array().cast("array<string>")).otherwise(
        F.array_sort(F.array_distinct(picks))
    )


def lgram_occurrences_expr(
    df: DataFrame, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """Catalyst-builtin twin of `lgram_occurrences` (transform + substr +
    double xxhash64, no UDF).  Hash values differ from the vectorized
    path, but the induced (id, pos) occurrence structure and every
    downstream span/pair output are identical.

    The gram strings are let-bound in a first transform and hashed by a
    second, so each window substring is materialized exactly ONCE even
    though two salted hashes consume it.
    """
    L = int(min_len)
    txt = F.col(text_col)
    last = (F.length(txt) - F.lit(L)).cast("int")
    gram_strs = F.when(
        last >= 0,
        F.transform(
            F.sequence(F.lit(0), last),
            lambda p: txt.substr(p + F.lit(1), F.lit(L)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.transform(
        gram_strs,
        lambda g: F.struct(
            F.xxhash64(g).alias("h1"),
            F.xxhash64(F.lit(1), g).alias("h2"),
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram_hash")
    ).select(F.col(id_col), F.col("pos").cast("long").alias("pos"), "gram_hash")

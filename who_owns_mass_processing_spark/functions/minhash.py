"""MinHash signatures over char k-shingles — vectorized pandas UDF (Arrow).

Replaces, per north_rule, the reference's char-3-gram TF-IDF cosine
all-pairs (quanteda corpus -> tokens(what="character") -> tokens_ngrams(3)
-> dfm_tfidf -> textstat_simil(cosine, min_simil), reference
R/deduplicaters.R:313-359) with MinHash-over-shingles whose LSH banding
is the *blocking* stage and exact Jaccard the *verify* stage.

All math is numpy inside the Arrow batch (no per-row Python objects in
the inner loops):

  shingle -> uint64 code   k<=8 ascii chars pack directly into a uint64
                           (normalized text is [a-z0-9 ] so this is
                           injective), then splitmix64 finalizer.
  perm_i(code)             splitmix64(code XOR key_i) with a random
                           64-bit key per permutation — a full-width
                           mix, so minima are independent across perms.
                           (A low-width affine (a*h+b) mod p with a<2^31
                           wraps the modulus only a handful of times and
                           correlates the perms — measurably biased;
                           rejected.)
  signature                column-wise min across shingles, >>3 so the
                           value fits a positive int64 (Spark LongType).

The same functions run driver-side (numpy) in the test oracle
`minhash_py` (tests/oracles.py), guaranteeing the "same shingle/signature
config" clause of the recall gate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

_EMPTY_SENTINEL = np.int64((1 << 61) - 2)  # signature value for empty text


def perm_params(num_perm: int, seed: int) -> np.ndarray:
    """One random 64-bit xor-key per permutation."""
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)


def splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


def shingle_codes(normalized: str, k: int) -> np.ndarray:
    """Distinct uint64 codes of the char k-shingles of normalized text."""
    raw = normalized.encode("utf-8", "ignore")
    if len(raw) == 0:
        return np.empty(0, dtype=np.uint64)
    buf = np.frombuffer(raw, dtype=np.uint8)
    if len(buf) <= k:
        window = np.zeros((1, 8), dtype=np.uint8)
        window[0, : len(buf)] = buf
    else:
        sw = np.lib.stride_tricks.sliding_window_view(buf, k)
        window = np.zeros((sw.shape[0], 8), dtype=np.uint8)
        window[:, :k] = sw
    codes = window.view(np.uint64).ravel()
    return splitmix64(np.unique(codes))


def minhash_from_codes(codes: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """(num_perm,) int64 signature; empty input -> sentinel signature."""
    if codes.size == 0:
        return np.full(keys.shape[0], _EMPTY_SENTINEL, dtype=np.int64)
    # (num_perm, n_shingles) full 64-bit mix; >>3 keeps int64 positive
    vals = splitmix64(codes[None, :] ^ keys[:, None]).min(axis=1)
    return (vals >> np.uint64(3)).astype(np.int64)


def minhash_batch(
    texts: "pd.Series", k: int, keys: np.ndarray
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Batch-vectorized MinHash: one perm loop over the *concatenated*
    code array of the whole Arrow batch with np.minimum.reduceat — no
    per-row×per-perm matrices.  Returns (signatures (n, num_perm) int64,
    per-row code arrays for reuse as the exact-verify feature)."""
    from who_owns_mass_processing_spark.synth import normalize_text

    per_row = [shingle_codes(normalize_text(t or ""), k) for t in texts]
    lens = np.array([len(c) for c in per_row], dtype=np.int64)
    n = len(per_row)
    sigs = np.full((n, keys.shape[0]), _EMPTY_SENTINEL, dtype=np.int64)
    nonempty = lens > 0
    if nonempty.any():
        cat = np.concatenate([c for c in per_row if len(c)]) if nonempty.any() else None
        offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=offsets[1:])
        for j, key in enumerate(keys):
            mixed = splitmix64(cat ^ key)
            mins = np.minimum.reduceat(mixed, offsets)
            sigs[nonempty, j] = (mins >> np.uint64(3)).astype(np.int64)
    return sigs, per_row


def signature_udf(k: int, num_perm: int, seed: int):
    """pandas UDF: text -> struct(codes array<long>, minhash array<long>).

    One pass produces both the MinHash signature (LSH blocking) and the
    sorted distinct shingle *codes* (the exact-Jaccard verify feature —
    8-byte longs instead of string shingles: cheaper to shuffle and to
    intersect)."""
    from pyspark.sql.types import StructField, StructType

    keys = perm_params(num_perm, seed)
    schema = StructType(
        [
            StructField("codes", ArrayType(LongType())),
            StructField("minhash", ArrayType(LongType())),
        ]
    )

    @F.pandas_udf(schema)
    def _udf(texts: pd.Series) -> pd.DataFrame:
        sigs, per_row = minhash_batch(texts, k, keys)
        codes = [np.sort(c).astype(np.int64) for c in per_row]
        return pd.DataFrame({"codes": codes, "minhash": list(sigs)})

    return _udf


def band_explode(
    df, sig_col: str, id_col: str, bands: int, rows_per_band: int
) -> "pyspark.sql.DataFrame":  # noqa: F821
    """Split signature into LSH bands -> (id, band_id, band_hash).

    Pure builtins: slice + posexplode + xxhash64(array).  The (band_id,
    band_hash) pair is the blocking key — the direct analog of the
    reference's blocking by standardized name / bounded address
    (R/deduplicaters.R:446-462): candidates only form inside a bucket.
    """
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.slice(F.col(sig_col), i * rows_per_band + 1, rows_per_band),
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(slices).alias("band_id", "band_vals")
    )
    return exploded.select(
        id_col,
        "band_id",
        F.xxhash64(F.col("band_id"), F.col("band_vals")).alias("band_hash"),
    )

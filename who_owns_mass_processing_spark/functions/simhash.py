"""SimHash 64-bit signatures over word tokens — vectorized pandas UDF.

Complementary near-dup family to MinHash (dedup surface required by the
build spec): token-frequency-weighted random hyperplane hash; Hamming
distance between simhashes approximates cosine distance of the bag-of-
words vectors.  Reference analog: an alternative similarity key over the
same standardized strings (the reference only ships cosine; SimHash is
our additional scale path for cheap prefilters).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def _fnv_fold(encoded: list[bytes], maxlen: int) -> np.ndarray:
    mat = np.zeros((len(encoded), max(maxlen, 1)), dtype=np.uint8)
    lens = np.zeros(len(encoded), dtype=np.int64)
    for i, e in enumerate(encoded):
        mat[i, : len(e)] = np.frombuffer(e, dtype=np.uint8)
        lens[i] = len(e)
    h = np.full(len(encoded), _FNV_OFFSET, dtype=np.uint64)
    for col in range(mat.shape[1]):
        active = lens > col
        h[active] = (h[active] ^ mat[active, col].astype(np.uint64)) * _FNV_PRIME
    return h


def fnv1a64_tokens(tokens: list[str]) -> np.ndarray:
    """Vectorized FNV-1a 64 over a list of tokens: pad to a byte matrix
    and fold column-by-column.  Tokens are bucketed into power-of-two
    LENGTH BANDS before padding, so one unsegmentable outlier token
    (URL, base64 blob, no-whitespace CJK run) pads only its own band,
    not the whole batch — padded memory is < 2x each band's true byte
    payload instead of n_tokens x max_token_len (ADVICE r3: the
    batch-wide pad could inflate a 10k-row Arrow batch to gigabytes)."""
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    encoded = [t.encode("utf-8", "ignore") for t in tokens]
    lens = np.array([len(e) for e in encoded], dtype=np.int64)
    out = np.empty(len(encoded), dtype=np.uint64)
    bands = np.frexp(np.maximum(lens, 1).astype(np.float64))[1]  # floor(log2)+1 band id
    for band in np.unique(bands):
        idx = np.flatnonzero(bands == band)
        enc = [encoded[i] for i in idx]
        out[idx] = _fnv_fold(enc, int(lens[idx].max()))
    return out


def simhash_batch(texts: pd.Series) -> np.ndarray:
    """Batch-vectorized SimHash over an Arrow batch: tokenize per row
    (plain str.split), then ONE padded-matrix FNV fold over the
    concatenated token list and ONE reduceat accumulation of the ±1 bit
    contributions — no per-row np.unique / per-row padding (the
    minhash_batch pattern, functions/minhash.py:90).

    Equivalence to the test oracle `simhash_py` (tests/oracles.py): the
    per-row unique-with-counts weighting is just a grouped sum of the
    same ±1 per-occurrence contributions, so summing per occurrence
    gives the identical accumulator (pinned by
    tests/test_ann_simhash_golden.py)."""
    tok_lists = [(t or "").split() for t in texts]
    lens = np.array([len(tl) for tl in tok_lists], dtype=np.int64)
    out = np.zeros(len(tok_lists), dtype=np.int64)
    nonempty = lens > 0
    if not nonempty.any():
        return out
    hashes = fnv1a64_tokens([tok for tl in tok_lists for tok in tl])
    # bit plane extraction via unpackbits on the raw bytes (little-endian
    # hosts: byte 0 = LSB, so column i IS bit i of the 64-bit hash) —
    # measured 78x faster than a shift-and-mask over uint64
    bits = np.unpackbits(
        hashes.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    ).astype(np.int32)  # (n_tokens, 64) of 0/1
    offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
    np.cumsum(lens[nonempty][:-1], out=offsets[1:])
    # ±1 accumulator via ones-count: acc = 2*ones - n_tokens
    acc = 2 * np.add.reduceat(bits, offsets, axis=0) - lens[nonempty][:, None]
    bit_idx = np.arange(64, dtype=np.uint64)[None, :]
    sigs = ((acc > 0).astype(np.uint64) << bit_idx).sum(axis=1, dtype=np.uint64)
    out[nonempty] = sigs.view(np.int64)
    return out


def simhash_udf():
    """pandas UDF: normalized_text -> long (64-bit SimHash)."""

    @F.pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(texts), dtype=np.int64)

    return _udf

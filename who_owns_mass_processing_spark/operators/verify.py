"""Exact verification of banded candidate pairs (block-then-verify).

Reference analog: the reference *blocks* by name/address then keeps only
pairs whose TF-IDF cosine clears min_simil (0.85 inst / 0.95 individual,
R/deduplicaters.R:342-346, config.R:28-29).  Here:

  caption tier  exact Jaccard over shingle-code arrays (a sorted-list
                intersect in numpy) >= cfg.jaccard_threshold; the
                containment and winnow tiers intersect the same way;
  image tier    popcount Hamming over pHash <= cfg.hamming_radius,
                fused into pair generation (blocking.hamming_pairs),
                plus for *lossy* formats a PSNR >= 40 dB decoded-pixel
                check (pandas UDF) — the two-tier strict/loose rule
                mirroring the reference's 0.85/0.95.

Each set tier (Jaccard, containment, winnow) and the embedding-cosine
tier has ONE verdict: a numpy `score(a, b, ia, ib, value)` over a
per-tier feature layout (`value` = (row ids, *layout)).  Two paths
bring the features to it and differ only in that; which one runs is
decided once, before any Spark job, from one measured number: the
feature table's size in bytes (the set tiers read the stored size of
the table `with_surrogate_ids` checkpointed, `checkpointed_bytes`; the
cosine tier its exact n * dim * 8 matrix size).

  map-side  at most BROADCAST_VERIFY_MAX_BYTES with long ids: a
            `build_*_mapside_bvar` builder collects the features once,
            lays them out sorted by id and broadcasts them
            (`_broadcast_layout`), usually on a driver side thread
            (`prefetch_broadcast`) so the collect overlaps blocking.
            One `map_pairs` pass then reads bare (a, b) pairs — 16
            bytes per pair cross the Python boundary — and looks both
            ids up (`_lookup`; a pair with an absent id is dropped, as
            the join drops it).
  join      the scale path, when the gate (`_mapside_eligible`) refuses
            — the builder's only `return None`: `join_pairs` attaches
            both ids' features by an equi-join on id that AQE can
            re-plan, and lays each batch out with the same layout.
            Bytes are re-joined ONLY for the lossy-pair PSNR subset
            (tiny), and the set tiers carry code arrays, not raw text.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.functions.images import psnr_pair_udf

# Map-side verify engages only when the feature table's measured size
# is at most this: the same magnitude Spark itself allows a broadcast
# hash join, and every reused python worker holds one copy of the
# broadcast value.  Larger tables take the equi-join path, which is the
# correct 100-TB shape (features cannot be resident per worker).
BROADCAST_VERIFY_MAX_BYTES = 256 * 1024 * 1024

# verify_jaccard's minhash estimate gate sits this many binomial standard
# deviations below the threshold (see verify_jaccard).
_GATE_SIGMAS = 6.5


@contextmanager
def prefetch_broadcast(build, *args):
    """Run the broadcast builder `build(*args)` on a driver side thread
    while the block runs, so its collect job and pickle overlap the
    caller's census/cell phase instead of serializing after it (guide
    §2.6; measured ~0.7 s of driver-only gaps per LSH tier).  Yields
    `mapside`: calling it waits for the build and returns its broadcast
    or None (a builder exception is raised there).  When the block
    raises, the build is waited for and its broadcast destroyed — no
    broadcast or thread outlives a failed block; on a clean exit the
    broadcast stays alive for the lazily evaluated result."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        future = pool.submit(build, *args)
        try:
            yield future.result
        except BaseException:
            bvar = None if future.exception() else future.result()
            if bvar is not None:
                bvar.destroy()
            raise


def _mapside_eligible(features: DataFrame, id_col: str, nbytes: int | None) -> bool:
    """The one gate of every map-side builder, checked before any Spark
    job: a measured feature size within BROADCAST_VERIFY_MAX_BYTES (None,
    unknown, refuses) and long ids."""
    return (
        nbytes is not None
        and nbytes <= BROADCAST_VERIFY_MAX_BYTES
        and features.schema[id_col].dataType.simpleString() == "bigint"
    )


def _ragged(col, order: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Arrow list<bigint> array -> (offs, flat) with its rows
    re-laid-out in `order` — every step a vectorized numpy gather, no
    per-row Python: the list array's (offsets, values) buffers are
    consumed directly (its offsets index the values buffer absolutely,
    so a sliced array needs no special case), and the flat layout is
    one fancy-index gather.

    `flat` is uint64: every code array is sorted in UNSIGNED order
    (signature_udf sorts the uint64 shingle codes before its int64
    store; winnow codes are big-endian ascii grams, below 2**63), so the
    reinterpreted bits are what `_intersect_counts` searches."""
    offs_a = col.offsets.to_numpy().astype(np.int64, copy=False)
    vals = col.values.to_numpy(zero_copy_only=False)
    lens = np.diff(offs_a)[order]
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    pos = (
        np.arange(int(offs[-1]), dtype=np.int64)
        - np.repeat(offs[:-1], lens)
        + np.repeat(offs_a[:-1][order], lens)
    )
    return offs, vals[pos].astype(np.uint64, copy=False)


def _fixed_matrix_from_list_column(col, width: int, order: np.ndarray):
    """Arrow list array of uniform `width` -> (n, width) numpy matrix in
    `order` row order.  Rows of another width (never produced by
    signature_udf, and rejected by the cosine tier's matmul UDFs before
    any verify) raise ValueError."""
    offs = col.offsets.to_numpy().astype(np.int64, copy=False)
    if not bool(np.all(np.diff(offs) == width)):
        raise ValueError(f"list rows are not all {width} wide")
    n = len(offs) - 1
    vals = col.values.to_numpy(zero_copy_only=False)
    return vals[offs[0] : offs[0] + n * width].reshape(n, width)[order]


def _codes_layout(cols, order):
    """(offs, codes) of one ragged code column: the containment and
    winnow tiers' layout."""
    return _ragged(cols[0], order)


def _jaccard_layout(num_perm: int, cols, order):
    """(offs, codes, minhash): the shingle codes plus the (n, num_perm)
    signature matrix the estimate gate compares."""
    mh = _fixed_matrix_from_list_column(cols[1], num_perm, order)
    return (*_ragged(cols[0], order), mh.astype(np.int64, copy=False))


def _broadcast_layout(features: DataFrame, id_col: str, cols, layout):
    """Arrow-collect (id, *cols), sort the rows by id and broadcast
    (sorted ids, *layout(arrays, order)) — the value `map_pairs` reads."""
    tab = features.select(id_col, *cols).toArrow()
    ids = tab.column(0).to_numpy().astype(np.int64, copy=False)
    order = np.argsort(ids, kind="stable")
    value = (ids[order], *layout([c.combine_chunks() for c in tab.columns[1:]], order))
    return features.sparkSession.sparkContext.broadcast(value)


def _spark_round6(x: np.ndarray) -> np.ndarray:
    """Spark's round(double, 6) (BigDecimal HALF_UP) for the Jaccard
    rationals: floor(x*1e6 + 0.5 + 1e-9)/1e6.  Exact-equivalence
    argument: J = I/U with U = |A∪B|; the fractional part of J*1e6 is
    either exactly .5 (then the 1e-9 bump rounds up = HALF_UP) or at
    least 1/(2U) >= 5e-9 away from .5 for U up to 1e8 — far beyond the
    float64 error (~1e-10 at this scale) plus the bump."""
    return np.floor(x * 1e6 + 0.5 + 1e-9) / 1e6


def _ratio(num: np.ndarray, den: np.ndarray, empty: float) -> np.ndarray:
    """num / den as float64 (the IEEE division Python's int / int
    performs), `empty` where den == 0."""
    out = np.full(len(num), empty, dtype=np.float64)
    return np.divide(num, den, out=out, where=den > 0)


def _row_lens(offs: np.ndarray, idx: np.ndarray) -> np.ndarray:
    return offs[idx + 1] - offs[idx]


def _lookup(sids: np.ndarray, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row of each id in the sorted broadcast ids, and a mask of the ids
    present.  The index is clipped and checked for equality: an absent
    id would otherwise read its neighbour's features (or index past the
    end), where the join path's inner join drops the pair."""
    idx = np.minimum(np.searchsorted(sids, ids), max(len(sids) - 1, 0))
    found = sids[idx] == ids if len(sids) else np.zeros(len(ids), dtype=bool)
    return idx, found


def _intersect_counts(
    offs: np.ndarray, flat: np.ndarray, ia: np.ndarray, ib: np.ndarray
) -> np.ndarray:
    """|A ∩ B| for each row pair (ia[i], ib[i]) of the ragged layout
    (`flat` uint64, each row sorted and distinct): the shorter row is
    binary-searched in the longer one (sorted-list intersection)."""
    out = np.zeros(len(ia), dtype=np.int64)
    for i, (x, y) in enumerate(zip(ia.tolist(), ib.tolist())):
        A = flat[offs[x] : offs[x + 1]]
        B = flat[offs[y] : offs[y + 1]]
        if len(A) > len(B):
            A, B = B, A
        if len(A):
            pos = np.searchsorted(B, A)
            out[i] = int((B[np.minimum(pos, len(B) - 1)] == A).sum())
    return out


def _scored(df: DataFrame, schema: str, verdict) -> DataFrame:
    """One mapInArrow pass over `df`: each non-empty batch goes to
    `verdict(batch)`, which returns the output columns of `schema` as
    numpy arrays, or None for no rows."""
    import pyarrow as pa

    names = [field.split()[0] for field in schema.split(",")]

    def gen(batches):
        for batch in batches:
            cols = verdict(batch) if batch.num_rows else None
            if cols is not None:
                yield pa.RecordBatch.from_arrays([pa.array(c) for c in cols], names)

    return df.mapInArrow(gen, schema)


def _ids(batch, name: str) -> np.ndarray:
    return batch.column(name).to_numpy(zero_copy_only=False).astype(np.int64)


def map_pairs(pairs: DataFrame, bvar, schema: str, score) -> DataFrame:
    """The map-side verify: one mapInArrow pass over the bare (a, b)
    pairs against the broadcast `bvar` (sorted ids first).  Pairs whose
    ids are both present go to `score(a, b, ia, ib, value)` — ids, their
    broadcast rows, and the broadcast value — which returns the output
    columns of `schema` as numpy arrays."""

    def verdict(batch):
        value = bvar.value
        a, b = _ids(batch, "a"), _ids(batch, "b")
        ia, found_a = _lookup(value[0], a)
        ib, found_b = _lookup(value[0], b)
        keep = found_a & found_b
        if keep.any():
            return score(a[keep], b[keep], ia[keep], ib[keep], value)
        return None

    return _scored(pairs.select("a", "b"), schema, verdict)


def join_pairs(
    pairs: DataFrame, features: DataFrame, id_col: str, cols, layout, schema: str, score
) -> DataFrame:
    """The join verify (the scale path): each pair attaches both ids'
    feature columns `cols` by equi-joins on `a` and `b` (a pair with an
    absent id is dropped), then one mapInArrow pass scores it.  A batch
    of n pairs is laid out as 2n feature rows — the a sides, then the b
    sides — by the tier's broadcast `layout`, and goes to the tier's
    map_pairs `score` with ia = i and ib = n + i."""
    import pyarrow as pa

    def side(key: str) -> DataFrame:
        return features.select(
            F.col(id_col).alias(key), *(F.col(c).alias(f"_{key}{i}") for i, c in enumerate(cols))
        )

    feat = [f"_{key}{i}" for key in "ab" for i in range(len(cols))]
    joined = pairs.select("a", "b").join(side("a"), "a").join(side("b"), "b")

    def verdict(batch):
        n = batch.num_rows
        a, b = _ids(batch, "a"), _ids(batch, "b")
        arrays = [
            pa.concat_arrays([batch.column(f"_a{i}"), batch.column(f"_b{i}")])
            for i in range(len(cols))
        ]
        value = (np.concatenate([a, b]), *layout(arrays, np.arange(2 * n)))
        i = np.arange(n)
        return score(a, b, i, n + i, value)

    return _scored(joined.select("a", "b", *feat), schema, verdict)


def build_jaccard_mapside_bvar(
    features: DataFrame,
    id_col: str,
    shingle_col: str,
    minhash_col: str,
    num_perm: int,
    nbytes: int | None,
):
    """Collect + numpy-layout + broadcast of the Jaccard verify features
    (sids, offs, codes, minhash), or None — the caller takes the join
    path — when `_mapside_eligible` refuses the feature table's measured
    size `nbytes`.  Side-thread-safe (prefetch_broadcast)."""
    if not _mapside_eligible(features, id_col, nbytes):
        return None
    return _broadcast_layout(
        features, id_col, (shingle_col, minhash_col), partial(_jaccard_layout, num_perm)
    )


def build_containment_mapside_bvar(
    features: DataFrame, id_col: str, codes_col: str, nbytes: int | None
):
    """Collect + broadcast (sids, offs, codes) of an int64-code set
    column, or None when `_mapside_eligible` refuses `nbytes` (see
    build_jaccard_mapside_bvar)."""
    if not _mapside_eligible(features, id_col, nbytes):
        return None
    return _broadcast_layout(features, id_col, (codes_col,), _codes_layout)


# The winnow tier verifies `winnow_codes` (int64-packed grams) with the
# same ragged-codes layout; it keeps its own name so traces and callers
# name the tier.
build_winnow_mapside_bvar = build_containment_mapside_bvar


def verify_jaccard(
    pairs: DataFrame,
    features: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    minhash_col: str,
    num_perm: int,
    mapside=None,
) -> DataFrame:
    """pairs(a,b) x features(id, shingles, minhash) -> (a, b, jaccard)
    passing rows, jaccard = |A∩B|/|A∪B| rounded like Spark's
    round(double, 6) (`_spark_round6`).

    mapside: the broadcast from build_jaccard_mapside_bvar (usually
    prebuilt on a side thread, prefetch_broadcast), or None for the join
    path.  Both paths run the one `score` below: the gates, the exact
    intersect and the rounding in one Arrow pass.

    An EXACT size-ratio pre-filter runs first: |A∩B| <= min(|A|,|B|)
    and |A∪B| >= max, so J <= min/max — a pair failing min/max >=
    threshold can never verify.  Its epsilon covers the output's
    round(J, 6) boundary (0.7999995 rounds to 0.8 and passes) plus float
    slop: the filter may only ADMIT extra pairs, never reject a true
    one.

    An ESTIMATE GATE runs before the exact shingle intersect: the
    fraction of equal minhash positions is Binomial(num_perm, J)/num_perm,
    so gating at threshold - _GATE_SIGMAS * sqrt(threshold(1-threshold)/num_perm)
    drops a true pair at J == threshold with probability Phi(-_GATE_SIGMAS)
    (~4e-11 at 6.5 sigma, 128 perms) while eliminating the
    bulk of sub-threshold candidates before they pay the O(|codes|)
    intersect (position compare is O(num_perm) on fixed-width longs).
    Survivors always get the exact verify, so emitted rows are exact;
    the gate only changes *cost*, with the stated recall
    bound.  Measured at sf0.1 docs (tiny-vocab adversarial corpus):
    2.33M candidates -> 0.90M survivors; at web-corpus similarity
    profiles (background J << threshold) the survivor cut is >90%."""
    ratio_floor = float(threshold) - 1e-6
    gate = threshold - _GATE_SIGMAS * (threshold * (1 - threshold) / num_perm) ** 0.5
    thr, nperm = float(threshold), float(num_perm)

    def score(a, b, ia, ib, value):
        _sids, offs, flat, mh = value
        na, nb = _row_lens(offs, ia), _row_lens(offs, ib)
        keep = np.minimum(na, nb).astype(np.float64) >= ratio_floor * np.maximum(
            na, nb
        ).astype(np.float64)
        keep &= (mh[ia] == mh[ib]).sum(axis=1) / nperm >= gate
        a, b, ia, ib, na, nb = (x[keep] for x in (a, b, ia, ib, na, nb))
        inter = _intersect_counts(offs, flat, ia, ib)
        j = _spark_round6(_ratio(inter, na + nb - inter, 1.0))
        ok = j >= thr
        return a[ok], b[ok], j[ok]

    schema = "a bigint, b bigint, jaccard double"
    if mapside is not None:
        return map_pairs(pairs, mapside, schema, score)
    layout = partial(_jaccard_layout, num_perm)
    return join_pairs(pairs, features, id_col, (shingle_col, minhash_col), layout, schema, score)


def verify_containment(
    pairs: DataFrame,
    features: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    mapside=None,
) -> DataFrame:
    """pairs(a,b) x features(id, codes) -> (ra, rb, containment) for BOTH
    ordered directions, containment = |A∩B|/|A| rounded like Spark's
    round(double, 6), kept at >= threshold; a side with empty codes
    emits nothing (containment undefined).  `mapside`: the broadcast
    from build_containment_mapside_bvar, or None for the join path (the
    rounding exactness argument is `_spark_round6`'s rational-gap one;
    denominators here are single-doc shingle counts)."""
    thr = float(threshold)

    def score(a, b, ia, ib, value):
        _sids, offs, flat = value
        na, nb = _row_lens(offs, ia), _row_lens(offs, ib)
        inter = _intersect_counts(offs, flat, ia, ib)
        c = _spark_round6(np.concatenate([_ratio(inter, na, 0.0), _ratio(inter, nb, 0.0)]))
        ok = (c >= thr) & np.concatenate([na > 0, nb > 0])
        return np.concatenate([a, b])[ok], np.concatenate([b, a])[ok], c[ok]

    schema = "ra bigint, rb bigint, containment double"
    if mapside is not None:
        return map_pairs(pairs, mapside, schema, score)
    return join_pairs(pairs, features, id_col, (shingle_col,), _codes_layout, schema, score)


def verify_winnow(
    pairs: DataFrame,
    features: DataFrame,
    id_col: str,
    fps_col: str,
    min_shared: int,
    mapside=None,
) -> DataFrame:
    """pairs(a,b) x features(id, winnow codes) -> (a, b, n_shared) with
    n_shared = |fps_a ∩ fps_b| >= min_shared — an integer count, no
    rounding concerns.  `mapside`: the broadcast from
    build_winnow_mapside_bvar, or None for the join path."""
    ms = int(min_shared)

    def score(a, b, ia, ib, value):
        _sids, offs, flat = value
        inter = _intersect_counts(offs, flat, ia, ib)
        ok = inter >= ms
        return a[ok], b[ok], inter[ok]

    schema = "a bigint, b bigint, n_shared bigint"
    if mapside is not None:
        return map_pairs(pairs, mapside, schema, score)
    return join_pairs(pairs, features, id_col, (fps_col,), _codes_layout, schema, score)


def verify_psnr(
    pairs: DataFrame,
    blobs: DataFrame,
    id_col: str,
    bytes_col: str,
    fmt_col: str,
    min_db: float,
) -> DataFrame:
    """Lossy-tier pixel verify: pairs where either side is a lossy format
    must clear PSNR >= min_db on decoded pixels; lossless-only pairs pass
    through (their Hamming check suffices — exact pixels).

    Returns (a, b, psnr, lossy) for ALL input pairs that pass.

    Payload discipline (guide §8: decide with small rows, move big rows
    once): lossiness is decided from a bytes-FREE (id, fmt) projection —
    column pruning keeps that scan tiny — so the `bytes` column is read
    exactly once, for the ids of LOSSY pairs only, and the pruned blob
    set is pinned (localCheckpoint) so the two pair-side joins do not
    re-scan the corpus payload per side (the previous shape scanned the
    full bytes column twice to fetch a few hundred blobs, ~40% of the
    image-tier wall at bench scale).  The pinned set is bounded by the
    lossy candidate-pair count, never the corpus.
    """
    fmts = blobs.select(F.col(id_col), F.col(fmt_col))
    pa = fmts.select(F.col(id_col).alias("a"), F.col(fmt_col).alias("_fa"))
    pb = fmts.select(F.col(id_col).alias("b"), F.col(fmt_col).alias("_fb"))
    lossy = F.col("_fa").isin("jpeg", "qjp") | F.col("_fb").isin("jpeg", "qjp")
    tagged = pairs.join(pa, "a").join(pb, "b").withColumn("lossy", lossy)
    lossy_pairs = tagged.where(F.col("lossy"))
    # fetch ONLY the blobs lossy pairs need: broadcast semi-join prunes
    # the payload scan instead of shuffling every image's bytes
    needed = (
        lossy_pairs.select(F.col("a").alias(id_col))
        .unionByName(lossy_pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    picked = blobs.join(F.broadcast(needed), id_col, "left_semi").select(
        F.col(id_col), F.col(bytes_col)
    ).localCheckpoint(eager=True)
    fa = picked.select(F.col(id_col).alias("a"), F.col(bytes_col).alias("_ba"))
    fb = picked.select(F.col(id_col).alias("b"), F.col(bytes_col).alias("_bb"))
    # non-deterministic mark (guide §4.4): the psnr >= min_db filter below
    # otherwise gets pushed past the repartition as a SECOND evaluation of
    # the UDF — every lossy pair's image decode ran twice, and the pushed
    # copy ran below the exchange on the (unspread) stream-side partitions
    # (measured: a 1-task 1.7 s decode stage ahead of the 32-wide one).
    # The mark pins ONE evaluation above the repartition; the decode is
    # pure, so results are unchanged.
    udf = psnr_pair_udf().asNondeterministic()
    # spread the decode: the joined pair+blob rows follow the (tiny)
    # broadcast-join stream side's partitioning, so the expensive pixel
    # decode otherwise lands on 1-2 tasks (measured).  One explicit
    # repartition of the BOUNDED candidate-blob rows puts the UDF on
    # every core — the same "move heavy bytes once, then compute wide"
    # shape as guide §8's placement pass.
    n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    scored_lossy = (
        lossy_pairs.join(fa, "a")
        .join(fb, "b")
        .repartition(n_part)
        .withColumn("psnr", udf(F.col("_ba"), F.col("_bb")))
    )
    passthrough = tagged.where(~F.col("lossy")).withColumn("psnr", F.lit(999.0))
    return (
        scored_lossy.select("a", "b", "psnr", "lossy")
        .unionByName(passthrough.select("a", "b", "psnr", "lossy"))
        .where(F.col("psnr") >= min_db)
    )

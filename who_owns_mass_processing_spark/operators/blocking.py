"""LSH band blocking -> candidate pairs, with explicit skew control.

The heart of the engine.  Reference analog chain:
  * blocking by standardized name / bounded address
    (dedupe_naive R/deduplicaters.R:208-223, dedupe_cosine_bounded
    :446-539) -> here: (band_id, band_hash) bucket keys;
  * the reference kills its hottest key by NULLing blank names
    (std_replace_blank R/standardizers.R:343-379) -> here: stop-band
    dropping + salted intra-bucket pair generation, all logged to the
    metrics table (north_rule: "salted keys and AQE handling hot-band
    skew").

Physical strategy (the part that must survive 100 TB):

  * Bucket census first (groupBy count — map-side partial agg), then one
    hash join tags every band row with its bucket size.  The census
    output is tiny (one row per bucket) and eagerly checkpointed, so the
    join broadcasts under AQE.
  * Every bucket is treated as a SALTED bucket with m = ceil(n/cap)
    cells (normal buckets are the m=1 special case — one code path, not
    three).  ONE groupBy produces the cell table: (band_id, band_hash,
    salt, items sort_array(collect_list)); the band table is scanned
    exactly twice total (census + cell build) and NOTHING is persisted —
    the cell table is eagerly localCheckpoint'ed (bounded: ids +
    payloads, never raw rows) and its blocks are freed by the context
    cleaner when the DataFrame goes out of scope.  Round 1 persisted the
    tagged band table across four consumers and never unpersisted it;
    repeated calls accumulated cache and the storage-vs-execution memory
    contention was a measured drag at 32 cores.
  * Every pair comes out of ONE vectorized Arrow generator
    (`_cell_pairs`, mapInArrow), NOT a self-join: a cell of n rows is
    one array row and emits its C(n,2) pairs as numpy index arithmetic
    plus one Arrow `take` per side.  For pHash bands the popcount
    Hamming check filters the index arrays before any id is taken:
    failing pairs are never materialized (measured: 17.5M candidates ->
    38k emitted pairs on the 280k-image bench).
  * Cross-cell pairs of split buckets: a cell-level self-join
    (salt_l < salt_r) feeds the same generator, which emits the full
    left x right product — no row-level join, each cell-pair task does
    <= cap^2 bounded work.
  * Buckets above `hard_cap` are stop bands: dropped and *counted*,
    mirroring the reference's blank-name NULLing.
  * Cross-band duplicate candidates collapse via groupBy(a, b) —
    map-side partial aggregation halves the shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def bucket_sizes(bands_df: DataFrame) -> DataFrame:
    return bands_df.groupBy("band_id", "band_hash").agg(F.count("*").alias("bucket_n"))


def spread_small_input(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Project to `columns` and repartition up to the session's shuffle
    parallelism when the input has FEWER partitions than that (guide
    §2.5 input skew): a small single-file scan pins every downstream
    per-row UDF stage to one core, because scan split count follows file
    size, not CPU count — measured at sf0.1: the substring gram UDF and
    the simhash signature UDF each ran as ONE task for seconds while 31
    cores idled.  The projection happens BEFORE the repartition so only
    the columns the consumer needs are shuffled; at 100 TB the input has
    thousands of splits, n_in >= n_part, and this is a no-op.

    The partition probe is job-free: `inputFiles` is a metadata call for
    file scans; `.rdd.getNumPartitions` only runs for non-file sources
    (cached/checkpointed inputs already have materialized partitions).
    Same contract as the signature stage has used since round 4
    (operators/dedupe.py minhash_signatures) — now shared by every
    corpus-wide UDF consumer."""
    slim = df.select(*columns) if columns else df
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    files = slim.inputFiles()
    n_in = len(files) if files else slim.rdd.getNumPartitions()
    if n_in < n_part:
        slim = slim.repartition(n_part)
    return slim


def with_surrogate_ids(df: DataFrame) -> DataFrame:
    """Attach an 8-byte surrogate id `_sid` and PIN the mapping (eager
    localCheckpoint), so every blocking/verify consumer sees the same
    id <-> surrogate bijection.

    Why: band, cell, and pair rows are the dominant shuffle bytes of
    every LSH tier, and each carried the STRING document/image id (plus
    a payload struct) through banding, the cell groupBy, the pair-dedup
    groupBy, and the verify joins.  Dictionary-encoding the id to a
    dense long before `band_explode`/`candidate_pairs` cuts those
    shuffles' id bytes ~2-4x at 100 TB (ids repeat once per band);
    original ids are restored by `decode_pair_ids` after verify.

    `monotonically_increasing_id` is unique (partition-prefixed long)
    and job-free — no global sort, no dictionary join: the input here
    is the per-doc signature table (one row per id), so the surrogate
    is minted in place and the following checkpoint (which these
    signature tables needed anyway — they feed banding AND verify)
    makes the assignment stable across consumers.  Surrogate values are
    run-dependent; outputs are not: pairs are decoded back to original
    ids, and every emitted pair is exact-verified, so the pair SET is
    invariant (pytest-pinned bit-identical in tests/test_blocking.py).
    """
    return df.withColumn("_sid", F.monotonically_increasing_id()).localCheckpoint(eager=True)


def checkpointed_bytes(df: DataFrame) -> int | None:
    """Actual stored size of an eagerly localCheckpoint'ed DataFrame
    (e.g. a `with_surrogate_ids` output), from the block manager's RDD
    storage info — a driver metadata call, zero jobs.  The checkpointed
    plan is a LogicalRDD whose rdd id keys the storage entry (thread-safe:
    the id is taken from THIS DataFrame's plan, not from 'most recent
    RDD').  None when the lookup fails (non-checkpointed plan, API
    drift): callers treat None as 'unknown' — no coalesce in
    connected_components, the join path in the map-side verify gate."""
    try:
        rid = df._jdf.queryExecution().analyzed().rdd().id()
        sc = df.sparkSession.sparkContext
        for info in sc._jsc.sc().getRDDStorageInfo():
            if info.id() == rid:
                return int(info.memSize()) + int(info.diskSize())
    except Exception:
        return None
    return None


def decode_pair_ids(pairs: DataFrame, id_map: DataFrame, id_col: str) -> DataFrame:
    """Map surrogate pair ids (a, b) back to original ids, keeping every
    other column.  id_map: (_sid, id_col), one row per id.  Pairs are
    re-normalized to a < b in ORIGINAL id order (surrogate order is
    arbitrary)."""
    keep = [c for c in pairs.columns if c not in ("a", "b")]
    da = id_map.select(F.col("_sid").alias("a"), F.col(id_col).alias("_ida"))
    db = id_map.select(F.col("_sid").alias("b"), F.col(id_col).alias("_idb"))
    out = pairs.join(da, "a").join(db, "b")
    return out.select(
        F.least("_ida", "_idb").alias("a"),
        F.greatest("_ida", "_idb").alias("b"),
        *keep,
    )


def popcount64_np(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR) — numpy 1.x has no
    bitwise_count; the numpy twin of Spark's bit_count."""
    x = x.astype(np.int64, copy=False).view(np.uint64)
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return ((x * h01) >> np.uint64(56)).astype(np.int64)


def _cell_ranks(P: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(cell, r) for every pair of a batch of cells holding P[c] pairs
    each: the owning cell and the pair's rank within it."""
    cell = np.repeat(np.arange(len(P), dtype=np.int64), P)
    r = np.arange(int(P.sum()), dtype=np.int64) - np.repeat(np.cumsum(P) - P, P)
    return cell, r


def _triu_pairs_np(sizes: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All (cell, i, j) index triples with i < j for a batch of cells of
    the given sizes — fully vectorized (no per-cell loop): the pair rank
    r within a cell of size s maps back to (i, j) by inverting the
    triangular number base(i) = i*(2s-i-1)/2 with one float sqrt plus an
    integer fix-up step (float64 is exact far beyond the hard-cap cell
    sizes; the fix-up absorbs the boundary rounding)."""
    sizes = sizes.astype(np.int64, copy=False)
    cell, r = _cell_ranks((sizes * (sizes - 1)) // 2)
    s = sizes[cell]
    t = (2 * s - 1).astype(np.float64)
    i = np.floor((t - np.sqrt(t * t - 8.0 * r)) / 2.0).astype(np.int64)
    base = (i * (2 * s - i - 1)) // 2
    over = base > r
    i -= over
    base = np.where(over, (i * (2 * s - i - 1)) // 2, base)
    under = (base + (s - 1 - i)) <= r
    i += under
    base = np.where(under, (i * (2 * s - i - 1)) // 2, base)
    j = r - base + i + 1
    return cell, i, j


def _cross_pairs_np(nl: np.ndarray, nr: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All (cell, i, j) index triples of the nl[c] x nr[c] product of
    each cell pair c, row-major — the cross-cell twin of
    `_triu_pairs_np`."""
    nl = nl.astype(np.int64, copy=False)
    nr = nr.astype(np.int64, copy=False)
    cell, r = _cell_ranks(nl * nr)
    w = nr[cell]
    return cell, r // w, r % w


def _cell_pairs(cells: DataFrame, id_type, cross: bool, radius: int | None) -> DataFrame:
    """Every candidate pair of a cell table as ONE vectorized Arrow pass
    (guide §4.2).  `cells` holds `items` (within-cell: C(n,2) pairs,
    a < b by the id sort of the array) or `items_l`, `items_r` (two
    cells of one salted bucket: the full product, normalized to a < b
    by an Arrow comparison — UTF-8 byte order for strings, as Spark
    sorts them).  Each batch is numpy index arithmetic plus one `take`
    per side; items stay zero-copy (list offsets + flat child arrays).
    With a `radius`, the payloads are 64-bit hashes: one popcount per
    pair filters the index arrays to Hamming <= radius BEFORE any id is
    taken, and the surviving distances are emitted as int `hamming`.
    Output pair batches are budgeted to ~4M rows so one batch of large
    cells cannot buffer unboundedly."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def gen(batches):
        budget = 4_000_000
        for batch in batches:
            left = batch.column(0)
            right = batch.column(1) if cross else left
            offs_l = left.offsets.to_numpy().astype(np.int64)
            offs_r = right.offsets.to_numpy().astype(np.int64)
            n_l, n_r = np.diff(offs_l), np.diff(offs_r)
            P = n_l * n_r if cross else n_l * (n_l - 1) // 2
            if int(P.sum()) == 0:
                continue
            ids_l, ids_r = left.values.field("id"), right.values.field("id")
            if radius is not None:
                pay_l = left.values.field("payload").to_numpy(zero_copy_only=False)
                pay_r = right.values.field("payload").to_numpy(zero_copy_only=False)
            cum = np.cumsum(P)
            start = 0
            while start < len(P):
                base_cum = int(cum[start - 1]) if start else 0
                end = int(np.searchsorted(cum, base_cum + budget, side="left")) + 1
                end = min(max(end, start + 1), len(P))
                if cross:
                    cell, i, j = _cross_pairs_np(n_l[start:end], n_r[start:end])
                else:
                    cell, i, j = _triu_pairs_np(n_l[start:end])
                I = offs_l[start:end][cell] + i
                J = offs_r[start:end][cell] + j
                start = end
                if radius is not None:
                    ham = popcount64_np(pay_l[I] ^ pay_r[J])
                    keep = ham <= radius
                    I, J, ham = I[keep], J[keep], ham[keep]
                if len(I) == 0:
                    continue
                a, b = ids_l.take(pa.array(I)), ids_r.take(pa.array(J))
                if cross:
                    swap = pc.greater(a, b)
                    a, b = pc.if_else(swap, b, a), pc.if_else(swap, a, b)
                arrays, names = [a, b], ["a", "b"]
                if radius is not None:
                    arrays.append(pa.array(ham, type=pa.int32()))
                    names.append("hamming")
                yield pa.RecordBatch.from_arrays(arrays, names)

    fields = [StructField("a", id_type), StructField("b", id_type)]
    if radius is not None:
        fields.append(StructField("hamming", IntegerType()))
    cols = ["items_l", "items_r"] if cross else ["items"]
    return cells.select(*cols).mapInArrow(gen, StructType(fields))


def candidate_pairs(
    bands_df: DataFrame,
    id_col: str,
    cap: int = 500,
    hard_cap: int = 100000,
    hash_col: str | None = None,
    radius: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(band_id, band_hash, id [, hash]) -> distinct candidate pairs
    (a < b).

    hash_col/radius: Hamming verification fused into generation — pairs
    whose 64-bit `hash_col` values differ in more than `radius` bits are
    never emitted, and the distance rides along as `hamming`, so
    consumers need no feature re-join to recover it.  Cross-band
    duplicates carry the identical distance (a pure function of the two
    hashes), so the dedup aggregation takes min(hamming) == the value.

    Returns (pairs(a, b[, hamming]), skew_metrics) — skew_metrics has
    one row per bucket class (kept / salted / dropped_stop_band) with
    bucket/row counts (feeds the metrics table).
    """
    cap = min(cap, hard_cap)  # stop threshold may undercut the salt cap
    if hash_col is None:
        radius = None
    payload = F.col(hash_col) if hash_col else F.lit(0)
    item = F.struct(F.col(id_col).alias("id"), payload.alias("payload"))

    # census of DUP buckets only (bucket_n >= 2): singleton buckets
    # generate no pairs, so they must never enter the tag join or the
    # cell groupBy.  For gram-style blocking (substring tier) the
    # overwhelming majority of buckets are singletons — pruning here cut
    # the 1M-doc substring bench's banding input from 206M rows to the
    # ~4M rows that actually share a gram, and keeps the checkpointed
    # census bounded by the true duplicate volume (whose join-side stats
    # are then accurate: Spark broadcasts it only when genuinely small;
    # the unpruned 206M-row census was mis-broadcast and blew
    # spark.driver.maxResultSize).  The inner join doubles as the
    # singleton filter.
    sizes = bucket_sizes(bands_df)
    census = sizes.where(F.col("bucket_n") >= 2).localCheckpoint(eager=True)
    # ONE tiny job over the CHECKPOINTED census decides the plan shape:
    # when no live bucket exceeds the salt cap there are no split
    # buckets, the cross-cell join is provably empty, and the cell table
    # has exactly ONE consumer — its eager localCheckpoint (a full
    # materialization barrier per tier, ~1 s at bench scale) is skipped
    # and within-pairs stream straight out of the cell aggregation
    # (salted corpora keep the checkpointed three-consumer shape).
    has_salted = not census.where(
        (F.col("bucket_n") > cap) & (F.col("bucket_n") <= hard_cap)
    ).isEmpty()

    tagged = bands_df.join(census, ["band_id", "band_hash"]).where(
        F.col("bucket_n") <= hard_cap
    )
    m = F.ceil(F.col("bucket_n") / F.lit(cap)).cast("int")
    salted = tagged.withColumn("m", m).withColumn(
        "salt",
        F.when(F.col("m") > 1, F.pmod(F.xxhash64(F.col(id_col)), F.col("m")))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    # ONE pass builds every cell (normal buckets are m=1 cells); eager
    # checkpoint only when cross-pairs exist (then it feeds within-pairs
    # once and cross-pairs twice)
    cells = salted.groupBy("band_id", "band_hash", "m", "salt").agg(
        F.sort_array(F.collect_list(item)).alias("items")
    )
    if has_salted:
        cells = cells.localCheckpoint(eager=True)

    id_type = bands_df.schema[id_col].dataType
    pairs = _cell_pairs(cells, id_type, False, radius)
    if has_salted:
        multi = cells.where(F.col("m") > 1)
        cl = multi.select(
            "band_id", "band_hash", F.col("salt").alias("salt_l"), F.col("items").alias("items_l")
        )
        cr = multi.select(
            "band_id", "band_hash", F.col("salt").alias("salt_r"), F.col("items").alias("items_r")
        )
        cell_pairs = cl.join(cr, ["band_id", "band_hash"]).where(F.col("salt_l") < F.col("salt_r"))
        pairs = pairs.unionByName(_cell_pairs(cell_pairs, id_type, True, radius))
    if radius is not None:
        # duplicates of a pair carry the identical distance (pure function
        # of the two hashes): min == the value, partial-agg'd map-side
        pairs = pairs.groupBy("a", "b").agg(F.min("hamming").alias("hamming"))
    else:
        pairs = pairs.groupBy("a", "b").agg(F.lit(1).alias("_one")).drop("_one")

    # metrics reuse the CHECKPOINTED dup census (no second banding
    # aggregation — round 3 recomputed the full census from bands_df
    # whenever the caller materialized the skew table, so the pipeline
    # paid banding twice per stage).  Singleton buckets (all "kept")
    # are reconstructed arithmetically: one shuffle-free count over
    # bands_df, minus the dup census's row total.
    dup_classes = (
        census.select(
            F.when(F.col("bucket_n") > hard_cap, F.lit("dropped_stop_band"))
            .when(F.col("bucket_n") > cap, F.lit("salted"))
            .otherwise(F.lit("kept"))
            .alias("bucket_class"),
            "bucket_n",
        )
        .groupBy("bucket_class")
        .agg(
            F.count("*").alias("buckets"),
            F.sum("bucket_n").alias("rows"),
            F.max("bucket_n").alias("max_bucket"),
        )
    )
    total = bands_df.select(F.count("*").alias("_total"))
    dup_total = census.select(
        F.coalesce(F.sum("bucket_n"), F.lit(0)).alias("_dup")
    )
    singletons = (
        total.crossJoin(dup_total)
        .select((F.col("_total") - F.col("_dup")).alias("_n"))
        .where(F.col("_n") > 0)
        .select(
            F.lit("kept").alias("bucket_class"),
            F.col("_n").alias("buckets"),
            F.col("_n").alias("rows"),
            F.lit(1).cast("long").alias("max_bucket"),
        )
    )
    metrics = (
        dup_classes.unionByName(singletons)
        .groupBy("bucket_class")
        .agg(
            F.sum("buckets").alias("buckets"),
            F.sum("rows").alias("rows"),
            F.max("max_bucket").alias("max_bucket"),
        )
    )
    return pairs, metrics


def hamming_pairs(
    bands_df: DataFrame,
    id_col: str,
    hash_col: str,
    radius: int,
    cap: int = 500,
    hard_cap: int = 100000,
) -> tuple[DataFrame, DataFrame]:
    """Hamming-fused blocking: candidate generation with the popcount
    check applied inside the pair generator, and the distance EMITTED
    alongside each surviving pair — consumers read the `hamming` column
    instead of re-joining the hash table twice to recompute
    bit_count(xor) (guide §2.4: the value was already computed inside
    the fused check).
    Returns (pairs(a, b, hamming), metrics)."""
    return candidate_pairs(
        bands_df, id_col, cap=cap, hard_cap=hard_cap, hash_col=hash_col, radius=radius
    )

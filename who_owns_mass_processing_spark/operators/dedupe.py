"""High-level dedup operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine — the training-data-pipeline dedup surface,
each composable over any (id, text) or (id, vector) table.

Reference analogs: dedupe_naive exact blocking (R/deduplicaters.R:208-223)
and the cosine block-verify-cluster chain (:313-378).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.config import DedupeConfig
from who_owns_mass_processing_spark.functions import text as T
from who_owns_mass_processing_spark.functions.minhash import band_explode, signature_udf
from who_owns_mass_processing_spark.functions.simhash import simhash_udf
from who_owns_mass_processing_spark.operators.blocking import (
    candidate_pairs,
    checkpointed_bytes,
    decode_pair_ids,
    with_surrogate_ids,
)
from who_owns_mass_processing_spark.operators import verify
from who_owns_mass_processing_spark.operators.verify import (
    prefetch_broadcast,
    verify_containment,
    verify_jaccard,
    verify_winnow,
)


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5-of-normalized-text fingerprint; returns
    (id, fingerprint, group_size, is_canonical) — canonical = min id.
    One shuffle (groupBy fingerprint), map-side partial agg."""
    fp = df.select(F.col(id_col), T.fingerprint_md5(F.col(text_col)).alias("fingerprint"))
    groups = fp.groupBy("fingerprint").agg(
        F.count("*").alias("group_size"), F.min(id_col).alias("_canon")
    )
    return fp.join(groups, "fingerprint").select(
        id_col,
        "fingerprint",
        "group_size",
        (F.col(id_col) == F.col("_canon")).alias("is_canonical"),
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, cfg: DedupeConfig) -> DataFrame:
    """(id, fingerprint, codes, minhash) — the signature stage.

    One Arrow pass emits both the MinHash signature (blocking) and the
    sorted shingle-code array (exact-verify feature: longs, not strings).
    `fingerprint` (md5 of normalized text, builtin) feeds the exact tier.

    The (id, text) projection is repartitioned to the session's shuffle
    parallelism first: small single-file inputs otherwise pin the UDF
    stage to one core (scan split count follows file size, not CPU
    count).  Projecting BEFORE repartitioning matters — repartitioning
    the raw input would shuffle the payload column, i.e. ~the whole
    table at 100 TB.
    """
    # partition spread: see spread_small_input (projection before the
    # conditional repartition — repartitioning the raw input would
    # shuffle the payload column, i.e. ~the whole table at 100 TB)
    from who_owns_mass_processing_spark.operators.blocking import spread_small_input

    df = spread_small_input(df, [id_col, text_col])
    sig = signature_udf(cfg.shingle_k, cfg.num_perm, cfg.minhash_seed)
    return df.select(
        F.col(id_col),
        T.fingerprint_md5(F.col(text_col)).alias("fingerprint"),
        sig(F.col(text_col)).alias("_sig"),
    ).select(id_col, "fingerprint", F.col("_sig.codes").alias("codes"),
             F.col("_sig.minhash").alias("minhash"))


def exact_fingerprint_pairs(sigs: DataFrame, id_col: str) -> DataFrame:
    """All (a<b, jaccard=1.0) pairs of identical normalized text — the
    exact tier (reference dedupe_naive, R/deduplicaters.R:208-223).

    Identical texts must never depend on LSH banding: their band buckets
    are exactly the degenerate stop-band buckets the skew control drops.
    QUADRATIC in group size by construction (it *lists* the pairs, for
    the pair-listing queries / all-pairs oracle parity); anything that
    only needs connectivity must use `exact_fingerprint_edges`."""
    fa = sigs.select(F.col(id_col).alias("a"), "fingerprint")
    fb = sigs.select(F.col(id_col).alias("b"), "fingerprint")
    return (
        fa.join(fb, "fingerprint")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(1.0).alias("jaccard"))
    )


def exact_fingerprint_edges(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """STAR edges (member -> group-min) for rows sharing `key_col` (a
    text fingerprint, an image byte hash): linear in group size, same
    connected components as the all-pairs version — the scale path for
    the clustering tiers (a 10^7-member identical-caption group yields
    10^7-1 edges, not 10^13 pairs).  Rows with a NULL key get no edge."""
    mins = df.groupBy(key_col).agg(F.min(id_col).alias("a"))
    return (
        df.join(mins, key_col)
        .where(F.col(id_col) != F.col("a"))
        .select("a", F.col(id_col).alias("b"), F.lit(1.0).alias("jaccard"))
    )


def representatives(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """One representative row per distinct `key_col`: the min-`id_col`
    row, selected with ONE shuffle (a window rank over the key
    partition; a groupBy-then-semi-join shuffles the table twice for the
    same selection), plus a pinned 8-byte surrogate id `_sid`
    (`with_surrogate_ids`: its checkpoint serves banding AND verify).

    Identical keys carry identical features, so only representatives
    enter blocking: member multiplicity never reaches a band bucket, and
    rep-level verdicts hold for every member.  Within-key links are the
    star edges' job (`exact_fingerprint_edges`)."""
    w = Window.partitionBy(key_col).orderBy(F.col(id_col).asc())
    return with_surrogate_ids(
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def rep_pairs_from_sigs(
    sigs: DataFrame, id_col: str, cfg: DedupeConfig, corpus_rows: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """LSH over one representative per distinct fingerprint.

    Identical texts have identical signatures, so running LSH over
    members (a) multiplies every band bucket by the dup multiplicity
    and (b) turns exact-dup families (40%+ of a web corpus) into
    quadratic bucket fan-out.  Deduping to the group-min representative
    BEFORE banding removes both — cross-group recall is unchanged
    (rep signatures == member signatures) and within-group pairs are
    the exact tier's job.

    Returns (rep_pairs(a, b, jaccard, fp_a, fp_b), skew_metrics); a, b
    are representative ids (a < b in original-id order).

    Banding, candidate generation, and verify all ride an 8-byte
    surrogate id (`with_surrogate_ids`) instead of the string id — the
    band/cell/pair shuffles are the tier's dominant bytes, and ids
    repeat once per band (VERDICT r4 #1); the decode join back to
    original ids doubles as the fingerprint-attach join the output
    needed anyway, so the surrogate path adds ZERO extra joins.
    """
    rep_sigs = representatives(sigs, id_col, "fingerprint")
    # stop threshold scales with the corpus; callers that already know the
    # row count pass it and skip a count job (one fewer barrier per call —
    # using corpus rows instead of rep rows only RAISES the drop threshold,
    # i.e. fewer drops: recall-safe)
    n_rows = corpus_rows if corpus_rows is not None else rep_sigs.count()
    features = rep_sigs.select("_sid", "codes", "minhash")
    # the map-side verify's feature collect + broadcast build overlaps the
    # census/cell phase below: rep_sigs is already checkpointed, so the
    # side thread's collect job runs while candidate_pairs does its census
    # collects and checkpoint.  Its stored size (a zero-job lookup)
    # upper-bounds the features': above the cap the builder returns None
    # (join path).
    with prefetch_broadcast(
        verify.build_jaccard_mapside_bvar,
        features, "_sid", "codes", "minhash", cfg.num_perm, checkpointed_bytes(rep_sigs),
    ) as mapside:
        bands = band_explode(rep_sigs, "minhash", "_sid", cfg.bands, cfg.rows_per_band)
        cands, metrics = candidate_pairs(
            bands, "_sid", cap=cfg.band_bucket_cap, hard_cap=cfg.stop_band_threshold(n_rows)
        )
        verified = verify_jaccard(
            cands,
            features,
            "_sid",
            "codes",
            cfg.jaccard_threshold,
            minhash_col="minhash",
            num_perm=cfg.num_perm,
            mapside=mapside(),
        )
    # decode surrogates AND attach rep fingerprints in the same two joins;
    # (a, b) re-normalized to original-id order with fps swapped in step
    dm = rep_sigs.select("_sid", F.col(id_col), "fingerprint")
    da = dm.select(
        F.col("_sid").alias("a"), F.col(id_col).alias("_ida"),
        F.col("fingerprint").alias("_fpa"),
    )
    db = dm.select(
        F.col("_sid").alias("b"), F.col(id_col).alias("_idb"),
        F.col("fingerprint").alias("_fpb"),
    )
    joined = verified.join(da, "a").join(db, "b")
    swap = F.col("_ida") > F.col("_idb")
    return (
        joined.select(
            F.when(swap, F.col("_idb")).otherwise(F.col("_ida")).alias("a"),
            F.when(swap, F.col("_ida")).otherwise(F.col("_idb")).alias("b"),
            "jaccard",
            F.when(swap, F.col("_fpb")).otherwise(F.col("_fpa")).alias("fp_a"),
            F.when(swap, F.col("_fpa")).otherwise(F.col("_fpb")).alias("fp_b"),
        ),
        metrics,
    )


def lsh_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, cfg: DedupeConfig
) -> tuple[DataFrame, DataFrame]:
    """Full block-then-verify pair LISTING: rep-level LSH expanded to all
    member pairs (identical texts share the rep's Jaccard), UNION
    within-group exact pairs.  Output size == true near-dup pair count
    (inherently quadratic in dup-family size — use `lsh_near_dup_edges`
    when only connectivity is needed).  Returns (pairs(a, b, jaccard),
    skew_metrics)."""
    sigs = minhash_signatures(df, id_col, text_col, cfg)
    rep_pairs, metrics = rep_pairs_from_sigs(sigs, id_col, cfg)
    groups = sigs.select(F.col(id_col), "fingerprint")
    expanded = (
        rep_pairs.select("fp_a", "fp_b", "jaccard")
        .join(groups.select(F.col(id_col).alias("ma"), F.col("fingerprint").alias("fp_a")), "fp_a")
        .join(groups.select(F.col(id_col).alias("mb"), F.col("fingerprint").alias("fp_b")), "fp_b")
        .select(
            F.least("ma", "mb").alias("a"),
            F.greatest("ma", "mb").alias("b"),
            "jaccard",
        )
    )
    # NO dedup aggregation on the union (guide §2.4: distinct on already-
    # unique data is a wasted exchange — here it was an output-sized
    # shuffle at scale).  Disjointness proof: expanded pairs join two
    # DIFFERENT fingerprints (reps are one-per-fingerprint, so a rep
    # pair's sides have fp_a != fp_b, and each member belongs to exactly
    # one fingerprint group => ma != mb and each unordered member pair
    # arises from exactly one rep pair); exact pairs share ONE
    # fingerprint.  Within each branch rows are unique by construction
    # (rep pairs from groupBy(a,b); member expansion of distinct rep
    # pairs over disjoint groups; exact pairs a < b per group).
    # Verified empirically: union rows == distinct(a,b) on the
    # adversarial sf0.1 corpus, and the oracle hash pins it at sf0.01.
    pairs = expanded.unionByName(exact_fingerprint_pairs(sigs, id_col))
    return pairs, metrics


def lsh_near_dup_edges(
    sigs: DataFrame, id_col: str, cfg: DedupeConfig, corpus_rows: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Connectivity-only edge list over a `minhash_signatures` table:
    rep-level LSH pairs + star edges for exact-dup families — linear in
    dup-family size, same connected components as the full listing.
    No dedup on the union: rep pairs join two DIFFERENT fingerprints,
    star edges share one (the `lsh_near_dup_pairs` argument).
    `corpus_rows` is passed to `rep_pairs_from_sigs`.  Returns
    (edges(a, b, jaccard), skew_metrics)."""
    rep_pairs, metrics = rep_pairs_from_sigs(sigs, id_col, cfg, corpus_rows)
    edges = rep_pairs.select("a", "b", "jaccard").unionByName(
        exact_fingerprint_edges(sigs, id_col, "fingerprint")
    )
    return edges, metrics


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int, threshold: float
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold (a < b) — O(n^2)
    oracle-scale baseline, pure builtins (the DuckDB-checkable twin of
    `lsh_near_dup_pairs`; at scale always use the LSH path)."""
    sh = df.select(
        F.col(id_col), T.char_shingles(F.col(text_col), k).alias("_sh")
    )
    a = sh.select(F.col(id_col).alias("a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col(id_col).alias("b"), F.col("_sh").alias("_sb"))
    joined = a.join(b, F.col("a") < F.col("b"))
    return joined.select(
        "a", "b", F.round(T.jaccard_arrays(F.col("_sa"), F.col("_sb")), 6).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int, threshold: float
) -> DataFrame:
    """Asymmetric containment pairs: |Sa ∩ Sb| / |Sa| >= threshold for
    ordered (a, b), a != b — catches doc-in-doc subsumption that
    symmetric Jaccard misses when |Sb| >> |Sa| (a quoted/embedded
    document).  O(n^2) oracle-scale twin like ngram_jaccard_pairs; at
    scale verbatim containment is served by the substring tier
    (operators/substrings.py — an embedded doc is one long shared
    span), and set-containment candidates ride the same LSH machinery
    with the threshold mapped via J >= c/(1 + |Sb|/|Sa| - c).
    Empty-shingle docs emit nothing (containment undefined)."""
    sh = df.select(
        F.col(id_col), T.char_shingles(F.col(text_col), k).alias("_sh")
    )
    a = sh.select(F.col(id_col).alias("a"), F.col("_sh").alias("_sa"))
    b = sh.select(F.col(id_col).alias("b"), F.col("_sh").alias("_sb"))
    joined = a.join(b, F.col("a") != F.col("b")).where(F.size("_sa") > 0)
    cont = F.round(
        F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("double")
        / F.size("_sa").cast("double"),
        6,
    )
    return joined.select("a", "b", cont.alias("containment")).where(
        F.col("containment") >= threshold
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    cap: int = 500,
    hard_cap: int = 100000,
) -> tuple[DataFrame, DataFrame]:
    """Winnowing-fingerprint pair detection (block-then-verify) over the
    int64 gram codes of `T.winnow_codes` (k <= 8).  Docs sharing >= 1
    winnow fingerprint become candidates through the salted/capped
    blocking machinery; candidates are verified EXACTLY by intersecting
    the two docs' full code arrays (small: ~n/w picks per doc, and
    per-doc picks are distinct, so join-count == intersect size).

    Returns (pairs(a, b, n_shared), skew_metrics) with n_shared =
    distinct shared fingerprints >= min_shared.  Recall contract: any
    pair with n_shared >= 1 shares a fingerprint bucket, so it is a
    candidate unless every shared fingerprint's bucket exceeded
    hard_cap (stop grams — counted in the metrics).  Winnowing's own
    guarantee (Schleimer et al.): any shared run of >= w+k-1 chars
    yields >= 1 shared fingerprint.

    Reference analog: block on a derived key, verify exactly
    (R/deduplicaters.R:313-359 blocks on standardized names, verifies
    with exact cosine)."""
    # checkpoint (inside with_surrogate_ids): feeds banding AND the
    # verify join; blocking rides the 8-byte surrogate (VERDICT r4 #1).
    # The (id, text) projection is spread across cores first — the
    # fingerprint UDF otherwise runs as one task on single-file inputs
    # (guide §2.5; no-op at scale, see spread_small_input)
    from who_owns_mass_processing_spark.operators.blocking import spread_small_input

    slim = spread_small_input(df, [id_col, text_col])
    fps = with_surrogate_ids(
        slim.select(
            F.col(id_col),
            T.winnow_codes(F.col(text_col), k=k, w=w).alias("_fps"),
        ).where(F.size("_fps") > 0)
    )
    features = fps.select("_sid", "_fps")
    # overlap the feature collect + broadcast with the census/cell phase
    # below (see rep_pairs_from_sigs); fingerprints are int64 gram codes
    # end to end, so blocking, the intersect and the counts need no
    # decode or re-pack
    with prefetch_broadcast(
        verify.build_winnow_mapside_bvar, features, "_sid", "_fps", checkpointed_bytes(fps)
    ) as mapside:
        bands = fps.select(
            F.col("_sid"),
            F.lit(0).alias("band_id"),
            F.explode("_fps").alias("_g"),
        ).select("_sid", "band_id", F.xxhash64("_g").alias("band_hash"))
        cands, metrics = candidate_pairs(bands, "_sid", cap=cap, hard_cap=hard_cap)
        sid_pairs = verify_winnow(
            cands, features, "_sid", "_fps", min_shared, mapside=mapside()
        )
    pairs = decode_pair_ids(sid_pairs, fps.select("_sid", id_col), id_col)
    return pairs, metrics


def containment_pairs_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: DedupeConfig,
    threshold: float = 0.9,
    max_size_ratio: float = 4.0,
    min_recall: float = 1 - 1e-9,
) -> tuple[DataFrame, DataFrame]:
    """Scale path for asymmetric shingle containment — the runnable twin
    of `ngram_containment_pairs` (which is an O(n^2) oracle).

    Containment c = |Sa∩Sb|/|Sa| relates to Jaccard via
    J = c / (|Sb|/|Sa| + 1 - c), so any ordered pair with c >= threshold
    and size ratio |Sb|/|Sa| <= max_size_ratio has
    J >= threshold / (1 + max_size_ratio - threshold).  Banding is
    solved (solve_bands) for `min_recall` at that Jaccard floor; exact
    asymmetric containment (array_intersect over shingle-code arrays)
    verifies candidates in BOTH directions, so emitted rows are exact.
    Pairs beyond the size-ratio bound are out of contract: covering
    ratio r costs r-fold looser banding, and at web scale verbatim
    doc-in-doc containment is the substring tier's job
    (operators/substrings.py — an embedded doc is one long shared span).

    Identical-text members ride the exact-fingerprint tier (ordered
    within-group pairs at containment 1.0, rep pairs expanded to
    members) — LSH never sees the duplicate multiplicity, same as
    `lsh_near_dup_pairs`.

    Skew note: the corpus-fraction stop-band threshold the Jaccard tier
    uses is WRONG here — a low mapped floor (e.g. c=0.9, r_max=4 =>
    J >= 0.22) forces r=1 banding, where a hub document contained in
    many others legitimately shares a single-minhash bucket with its
    whole containment family.  Dropping that bucket as a "degenerate
    stop band" drops exactly the signal (measured: 9 true pairs of one
    hub doc lost at sf0.01).  So the drop threshold is the ABSOLUTE
    hard cap; bucket cost stays bounded by salting (cap x cells).

    Returns (pairs(a, b, containment), skew_metrics), ordered a != b.
    """
    from who_owns_mass_processing_spark.functions.lsh_params import solve_bands

    j_floor = threshold / (1.0 + max_size_ratio - threshold)
    n_bands, n_rows = solve_bands(cfg.num_perm, j_floor, min_recall)

    sigs = minhash_signatures(df, id_col, text_col, cfg)
    # rep-level verdicts leave this scope keyed by FINGERPRINT, so no
    # separate surrogate decode join is needed
    rep_sigs = representatives(sigs, id_col, "fingerprint")
    features = rep_sigs.select("_sid", "codes")
    # overlap the feature collect + broadcast with the census/cell phase
    # below (see rep_pairs_from_sigs); both paths emit both containment
    # directions
    with prefetch_broadcast(
        verify.build_containment_mapside_bvar,
        features, "_sid", "codes", checkpointed_bytes(rep_sigs),
    ) as mapside:
        bands = band_explode(rep_sigs, "minhash", "_sid", n_bands, n_rows)
        cands, metrics = candidate_pairs(
            bands, "_sid", cap=cfg.band_bucket_cap, hard_cap=cfg.band_bucket_hard_cap
        )
        rep_hits = verify_containment(
            cands, features, "_sid", "codes", threshold, mapside=mapside()
        )
    # expand rep-level verdicts to members (identical text => identical
    # shingle sets => identical containment) + ordered within-group pairs;
    # surrogate rep ids resolve to fingerprints here (the member join key)
    groups = sigs.select(F.col(id_col), "fingerprint")
    fp = rep_sigs.select("_sid", "fingerprint")
    expanded = (
        rep_hits.join(fp.select(F.col("_sid").alias("ra"), F.col("fingerprint").alias("_fa")), "ra")
        .join(fp.select(F.col("_sid").alias("rb"), F.col("fingerprint").alias("_fb")), "rb")
        .join(groups.select(F.col(id_col).alias("a"), F.col("fingerprint").alias("_fa")), "_fa")
        .join(groups.select(F.col(id_col).alias("b"), F.col("fingerprint").alias("_fb")), "_fb")
        .select("a", "b", "containment")
    )
    ga = groups.select(F.col(id_col).alias("a"), "fingerprint")
    gb = groups.select(F.col(id_col).alias("b"), "fingerprint")
    # empty-shingle docs are excluded (containment undefined).  Emptiness
    # is a property of the FINGERPRINT (identical normalized text =>
    # identical shingle codes), so the filter reads the CHECKPOINTED rep
    # table instead of re-running the signature UDF corpus-wide — the
    # previous sigs.where(size(codes) > 0) put a second full signature
    # pass (and its subtree) into the plan just to test emptiness.
    nonempty_fps = rep_sigs.where(F.size("codes") > 0).select("fingerprint")
    within = (
        ga.join(gb, "fingerprint")
        .where(F.col("a") != F.col("b"))
        .join(nonempty_fps, "fingerprint", "left_semi")
        .select("a", "b", F.lit(1.0).alias("containment"))
    )
    # no dedup on the union: expanded rides rep pairs whose sides carry
    # different fingerprints, `within` pairs share one fingerprint —
    # disjoint branches, each internally unique (same §2.4 argument and
    # empirical check as lsh_near_dup_pairs; oracle hash pins it)
    return expanded.unionByName(within), metrics


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, radius: int = 3, n_bands: int = 4
) -> DataFrame:
    """SimHash banded near-dup: 64-bit simhash, blocked on every
    (n_bands - radius)-subset of its 16-bit bands (`phash_combo_bands`;
    pigeonhole guarantees recall for radius <= n_bands - 1, so single
    bands at radius 3 with 4 bands), verify with bit_count. Returns
    (a, b, hamming).

    Blocking rides the 8-byte surrogate id (VERDICT r4 #1); the
    checkpoint inside with_surrogate_ids also runs the signature UDF
    once instead of once per consumer (bands + both verify sides)."""
    from who_owns_mass_processing_spark.functions.images import phash_combo_bands
    from who_owns_mass_processing_spark.operators.blocking import (
        hamming_pairs,
        spread_small_input,
    )

    # spread the (id, text) projection across cores before the signature
    # UDF: a single-file input otherwise runs the whole simhash pass as
    # one task (measured 1.4 s single-core at sf0.1 — guide §2.5)
    slim = spread_small_input(df, [id_col, text_col])
    sh = with_surrogate_ids(
        slim.select(
            F.col(id_col),
            simhash_udf()(T.normalize_text(F.col(text_col))).alias("simhash"),
        )
    )
    bands = phash_combo_bands(sh, "simhash", "_sid", n_bands=n_bands, radius=radius)
    # hamming_pairs emits the fused popcount distance with each pair —
    # the two feature re-joins that recomputed bit_count(xor) are gone
    # (the generator already guarantees hamming <= radius)
    cands, _ = hamming_pairs(bands, "_sid", "simhash", radius)
    return decode_pair_ids(cands, sh.select("_sid", id_col), id_col)

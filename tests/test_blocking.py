"""Skew control: salting must not change the candidate set; stop bands
must drop and be logged."""
import pandas as pd
import pytest
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.operators.blocking import candidate_pairs


def _bands_df(spark, n_hot=30, n_cold=6, hot_ids=None):
    hot_ids = hot_ids or [f"h{i}" for i in range(n_hot)]
    rows = [(i, 0, 7777) for i in hot_ids]
    rows += [(f"c{i}", 1, 1000 + i // 2) for i in range(n_cold)]  # buckets of 2
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "band_id", "band_hash"])
    )


# one hot bucket whose ids mix case, prefixes and non-ASCII: the salted
# cross-cell path must order each pair as Spark orders strings (UTF-8
# bytes), so the same a < b pairs come out with and without salting
_MIXED_IDS = [
    "Z", "a", "aa", "z", "é", "Ω", "A", "Ab", "ab", "b", "É", "ω",
    "zz", "ä", "日本", "Zé", "e", "eé", "é1", "~", "ÿ", "aé",
]


@pytest.mark.parametrize("hot_ids", [None, _MIXED_IDS], ids=["ascii", "mixed_utf8"])
def test_salting_preserves_pair_set(spark, hot_ids):
    df = _bands_df(spark, hot_ids=hot_ids)
    pairs_unsalted, _ = candidate_pairs(df, "id", cap=1000, hard_cap=10**6)
    pairs_salted, metrics = candidate_pairs(df, "id", cap=5, hard_cap=10**6)
    a = set(map(tuple, pairs_unsalted.toPandas().values))
    b = set(map(tuple, pairs_salted.toPandas().values))
    assert a == b
    for pairs in (pairs_unsalted, pairs_salted):
        assert pairs.where(F.col("a") >= F.col("b")).count() == 0
    m = {r.bucket_class: r for r in metrics.collect()}
    assert "salted" in m and m["salted"].buckets == 1


def test_hot_bucket_pair_count_exact(spark):
    df = _bands_df(spark, n_hot=30, n_cold=0)
    pairs, _ = candidate_pairs(df, "id", cap=4, hard_cap=10**6)
    assert pairs.count() == 30 * 29 // 2


def test_stop_band_dropped_and_logged(spark):
    df = _bands_df(spark, n_hot=50, n_cold=4)
    pairs, metrics = candidate_pairs(df, "id", cap=5, hard_cap=40)
    ids = pairs.select("a").union(pairs.select("b")).distinct().toPandas().iloc[:, 0]
    assert not any(str(i).startswith("h") for i in ids)  # stop band contributed nothing
    m = {r.bucket_class: r for r in metrics.collect()}
    assert m["dropped_stop_band"].rows == 50


def test_cross_band_dedup(spark):
    # same pair found in two bands -> emitted once
    rows = [("x", 0, 1), ("y", 0, 1), ("x", 1, 2), ("y", 1, 2)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "band_id", "band_hash"]))
    pairs, _ = candidate_pairs(df, "id")
    assert pairs.count() == 1


def test_surrogate_ids_bit_identical_pairs(spark):
    """VERDICT r4 #1 gate: routing blocking through 8-byte surrogate ids
    (with_surrogate_ids -> candidate_pairs -> decode_pair_ids) must
    yield the EXACT pair set of running candidate_pairs on the original
    string ids, with (a, b) normalized in original-id order."""
    from who_owns_mass_processing_spark.operators.blocking import (
        decode_pair_ids,
        with_surrogate_ids,
    )

    rows = []
    # several buckets, one hot enough to salt under a small cap
    for b in range(4):
        for i in range(3 + 7 * b):
            rows.append((f"doc_{b}_{i:03d}", 0, b))
    base = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "band_id", "band_hash"])
    )
    direct, _ = candidate_pairs(base, "id", cap=5, hard_cap=10**6)
    want = set(map(tuple, direct.toPandas().values))

    docs = base.select("id").distinct()
    enc = with_surrogate_ids(docs)
    bands_sid = base.join(enc, "id").select("_sid", "band_id", "band_hash")
    sid_pairs, _ = candidate_pairs(bands_sid, "_sid", cap=5, hard_cap=10**6)
    got_df = decode_pair_ids(sid_pairs, enc.select("_sid", "id"), "id")
    got = set(map(tuple, got_df.toPandas().values))
    assert got == want


@pytest.fixture(scope="module")
def sf0001_tiers(spark):
    """Per set tier, on the sf0.001 documents' LSH candidates: (build,
    verify, oracle) where build() makes the tier's map-side broadcast,
    verify(mapside) runs the tier's verify on that broadcast or, given
    None, on the join path, and oracle is the tier's rows computed with
    Python sets."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import Window

    from who_owns_mass_processing_spark.config import DedupeConfig
    from who_owns_mass_processing_spark.functions.minhash import band_explode
    from who_owns_mass_processing_spark.functions.text import winnow_codes
    from who_owns_mass_processing_spark.operators import verify as V
    from who_owns_mass_processing_spark.operators.blocking import (
        checkpointed_bytes,
        with_surrogate_ids,
    )
    from who_owns_mass_processing_spark.operators.dedupe import minhash_signatures

    cfg = DedupeConfig(bands=32)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = minhash_signatures(d, "doc_id", "text", cfg)
    w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
    rep_sigs = with_surrogate_ids(
        sigs.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )
    n = rep_sigs.count()
    bands = band_explode(rep_sigs, "minhash", "_sid", cfg.bands, cfg.rows_per_band)
    cands, _ = candidate_pairs(
        bands, "_sid", cap=cfg.band_bucket_cap, hard_cap=cfg.stop_band_threshold(n)
    )
    cands = cands.localCheckpoint(eager=True)
    feats = rep_sigs.select("_sid", "codes", "minhash")
    fps = (
        d.join(rep_sigs.select("doc_id", "_sid"), "doc_id")
        .select("_sid", winnow_codes(F.col("text"), k=5, w=4).alias("_fps"))
        .localCheckpoint(eager=True)
    )
    # the gate input the engine passes: each checkpointed table's stored size
    rep_bytes, fps_bytes = checkpointed_bytes(rep_sigs), checkpointed_bytes(fps)
    thr, nperm = cfg.jaccard_threshold, cfg.num_perm

    def round6(x: float) -> float:
        """Spark's round(double, 6): HALF_UP on the shortest decimal repr."""
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    pairs = [tuple(r) for r in cands.select("a", "b").collect()]
    codes = {r[0]: set(r[1]) for r in feats.select("_sid", "codes").collect()}
    grams = {r[0]: set(r[1]) for r in fps.collect()}
    jaccard = [
        (a, b, round6(len(codes[a] & codes[b]) / len(codes[a] | codes[b]))) for a, b in pairs
    ]
    containment = [
        (x, y, round6(len(codes[x] & codes[y]) / len(codes[x])))
        for a, b in pairs
        for x, y in ((a, b), (b, a))
        if codes[x]
    ]
    shared = [(a, b, len(grams[a] & grams[b])) for a, b in pairs]
    # winnow min_shared 35 is about the candidates' median shared count,
    # so pairs on both sides of the filter are compared
    return {
        "jaccard": (
            lambda: V.build_jaccard_mapside_bvar(
                feats, "_sid", "codes", "minhash", nperm, rep_bytes
            ),
            lambda m: V.verify_jaccard(
                cands, feats, "_sid", "codes", thr,
                minhash_col="minhash", num_perm=nperm, mapside=m,
            ),
            [r for r in jaccard if r[2] >= thr],
        ),
        "containment": (
            lambda: V.build_containment_mapside_bvar(feats, "_sid", "codes", rep_bytes),
            lambda m: V.verify_containment(cands, feats, "_sid", "codes", 0.9, mapside=m),
            [r for r in containment if r[2] >= 0.9],
        ),
        "winnow": (
            lambda: V.build_winnow_mapside_bvar(fps, "_sid", "_fps", fps_bytes),
            lambda m: V.verify_winnow(cands, fps, "_sid", "_fps", 35, mapside=m),
            [r for r in shared if r[2] >= 35],
        ),
    }


@pytest.mark.parametrize("tier", ["jaccard", "containment", "winnow"])
def test_mapside_verify_matches_join_path(sf0001_tiers, tier):
    """Each set tier's broadcast map-side verify must emit exactly its
    join path's rows: the two paths share the tier's scorer and differ
    in how features reach it — a broadcast lookup, or equi-joins."""
    build, verify, _oracle = sf0001_tiers[tier]
    slow = verify(None)
    fast = verify(build())
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in fast_plan and "Join" not in fast_plan
    assert "Join" in slow._jdf.queryExecution().executedPlan().toString()
    assert slow.exceptAll(fast).count() == 0
    assert fast.exceptAll(slow).count() == 0
    assert fast.count() > 0


@pytest.mark.parametrize("tier", ["jaccard", "containment", "winnow"])
def test_set_tier_verify_matches_python_oracle(sf0001_tiers, tier):
    """Each set tier's verdict (gates, numpy intersect, HALF_UP rounding)
    equals the same verdict computed with Python sets over the sf0.001
    candidates: containment in both directions, rounded to 6 places;
    winnow the shared-gram count."""
    build, verify, oracle = sf0001_tiers[tier]
    got = sorted(map(tuple, verify(build()).collect()))
    assert got == sorted(oracle)
    assert got


@pytest.mark.parametrize("tier", ["jaccard", "containment", "winnow", "cosine"])
def test_mapside_verify_drops_absent_ids(spark, tier):
    """A pair naming an id the broadcast does not hold — below the
    smallest id, between the two ids, above the largest — is dropped
    map-side, as the join path's inner join drops it: not scored against
    a neighbouring row's features, and not an out-of-range index."""
    from functools import partial

    from who_owns_mass_processing_spark.functions import vectors
    from who_owns_mass_processing_spark.operators import verify as V

    row = ([1, 5, -(2**63) + 7], [3, 1, 4, 1], [0.6, 0.8, 0.0])
    feats = spark.createDataFrame(
        [(10, *row), (20, *row)],
        "id long, codes array<bigint>, minhash array<bigint>, vec array<double>",
    )
    nbytes = 1 << 10  # far below the cap: the map-side path is taken
    pairs = spark.createDataFrame([(5, 10), (10, 15), (10, 20), (10, 99)], "a long, b long")
    if tier == "cosine":
        bvar = vectors.build_cosine_mapside_bvar(feats, "id", "vec", nbytes, 3)
        schema = "a bigint, b bigint, _cos double"
        fast = V.map_pairs(pairs, bvar, schema, vectors._cosine_score)
        slow = V.join_pairs(
            pairs, feats, "id", ("vec",), partial(vectors._cosine_layout, 3), schema,
            vectors._cosine_score,
        )
    else:
        build, verify = {
            "jaccard": (
                partial(V.build_jaccard_mapside_bvar, feats, "id", "codes", "minhash", 4, nbytes),
                partial(V.verify_jaccard, pairs, feats, "id", "codes", 0.8,
                        minhash_col="minhash", num_perm=4),
            ),
            "containment": (
                partial(V.build_containment_mapside_bvar, feats, "id", "codes", nbytes),
                partial(V.verify_containment, pairs, feats, "id", "codes", 0.9),
            ),
            "winnow": (
                partial(V.build_winnow_mapside_bvar, feats, "id", "codes", nbytes),
                partial(V.verify_winnow, pairs, feats, "id", "codes", 2),
            ),
        }[tier]
        fast, slow = verify(mapside=build()), verify(mapside=None)
    got = sorted(map(tuple, fast.collect()))
    assert got == sorted(map(tuple, slow.collect()))
    assert got and {(a, b) for a, b, _ in got} <= {(10, 20), (20, 10)}


@pytest.mark.parametrize("refused", ["cap_plus_1", "unknown"])
@pytest.mark.parametrize("tier", ["jaccard", "containment", "winnow", "cosine"])
def test_mapside_gate_refuses_before_any_job(spark, tier, refused):
    """A feature size of cap + 1 bytes, or no measured size, makes every
    map-side builder return None (the caller's join path) before any
    Spark job runs.  Jobs are counted in a job group of their own; a
    size under the cap collects in the same group, so the count is seen
    to catch the builder's work."""
    from who_owns_mass_processing_spark.functions import vectors
    from who_owns_mass_processing_spark.operators import verify as V

    feats = spark.createDataFrame(
        [(10, [1, 5], [3, 1], [0.6, 0.8])],
        "id long, codes array<bigint>, minhash array<bigint>, vec array<double>",
    )
    build = {
        "jaccard": lambda n: V.build_jaccard_mapside_bvar(feats, "id", "codes", "minhash", 2, n),
        "containment": lambda n: V.build_containment_mapside_bvar(feats, "id", "codes", n),
        "winnow": lambda n: V.build_winnow_mapside_bvar(feats, "id", "codes", n),
        "cosine": lambda n: vectors.build_cosine_mapside_bvar(feats, "id", "vec", n, 2),
    }[tier]
    sc = spark.sparkContext
    key = "spark.jobGroup.id"

    def jobs_during(nbytes, group):
        prev = sc.getLocalProperty(key)
        sc.setLocalProperty(key, group)
        try:
            bvar = build(nbytes)
        finally:
            sc.setLocalProperty(key, prev)
        return bvar, len(sc.statusTracker().getJobIdsForGroup(group))

    nbytes = V.BROADCAST_VERIFY_MAX_BYTES + 1 if refused == "cap_plus_1" else None
    assert jobs_during(nbytes, f"gate-{tier}-{refused}") == (None, 0)
    bvar, n_jobs = jobs_during(1 << 10, f"gate-{tier}-{refused}-taken")
    assert bvar is not None and n_jobs >= 1
    bvar.destroy()


def test_checkpointed_bytes_reads_storage_info(spark):
    """The zero-job size lookup must keep working on the supported Spark:
    if an API drift made it return None, connected_components would
    silently stop coalescing its edge list and every map-side verify
    would take the join path."""
    from who_owns_mass_processing_spark.operators.blocking import (
        checkpointed_bytes,
        with_surrogate_ids,
    )

    df = spark.range(1000).selectExpr("id AS a", "id + 1 AS b")
    nbytes = checkpointed_bytes(df.localCheckpoint(eager=True))
    assert isinstance(nbytes, int) and nbytes > 0
    assert checkpointed_bytes(df) is None
    sid_bytes = checkpointed_bytes(with_surrogate_ids(df))
    assert isinstance(sid_bytes, int) and sid_bytes > 0


def test_hamming_value_emitted_and_salting_invariant(spark):
    """hamming_pairs emits the fused popcount distance with every pair
    (no feature re-join), and the emitted (a, b, hamming) set is
    identical unsalted and salted, both produced by the one Arrow pair
    generator — cross-band duplicates must collapse to the single
    deterministic value."""
    import numpy as np

    from who_owns_mass_processing_spark.operators.blocking import hamming_pairs

    rng = np.random.default_rng(11)
    hashes = rng.integers(0, 2**62, size=40, dtype=np.int64)
    # 3 near-dup clones of hash[0] within radius 2, plus two bands so the
    # same close pair appears in two buckets (cross-band duplicate).  The
    # flipped bits sit above the 16-bit band hash, so all three clones
    # share one bucket per band.
    hashes[1] = hashes[0] ^ (0b11 << 20)
    hashes[2] = hashes[0] ^ (1 << 20)
    rows = []
    for band in (0, 1):
        for i, h in enumerate(hashes):
            rows.append((int(i), band, int(h) & 0xFFFF, int(h)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "band_id", "band_hash", "h"])
    )
    expect = None
    for cap in (1000, 2):  # unsalted vs salted (the 3-clone bucket splits)
        pairs, metrics = hamming_pairs(df, "id", "h", radius=2, cap=cap, hard_cap=10**6)
        got = sorted(map(tuple, pairs.toPandas().values))
        assert len(got) >= 3
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "Generate" not in plan
        # cross-band duplicates collapse to one row per pair
        assert len({(a, b) for a, b, _ in got}) == len(got)
        assert all(hm <= 2 for _, _, hm in got)
        classes = {r["bucket_class"] for r in metrics.collect()}
        assert ("salted" in classes) == (cap == 2)
        # values match a direct popcount recompute
        hs = {i: int(h) for i, h in enumerate(hashes)}
        for a, b, hm in got:
            assert hm == bin(hs[int(a)] ^ hs[int(b)]).count("1")
        if expect is None:
            expect = got
        else:
            assert got == expect

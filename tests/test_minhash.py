"""MinHash correctness: UDF/python parity, Jaccard estimation property,
band decomposition, LSH recall at the config's operating point."""
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.config import DedupeConfig
from who_owns_mass_processing_spark.functions import minhash as MH
from who_owns_mass_processing_spark.synth import jaccard, shingle_set

from tests.oracles import minhash_py

CFG = DedupeConfig()


def test_udf_matches_python(spark):
    texts = ["hello world", "the quick brown fox", "aaa", ""]
    keys = MH.perm_params(CFG.num_perm, CFG.minhash_seed)
    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    udf = MH.signature_udf(CFG.shingle_k, CFG.num_perm, CFG.minhash_seed)
    rows = df.select(udf(F.col("t")).minhash.alias("sig")).collect()
    for t, row in zip(texts, rows):
        want = minhash_py(t, CFG.shingle_k, keys)
        assert list(row[0]) == want.tolist(), t


def test_minhash_estimates_jaccard():
    """Property: signature agreement ~ exact Jaccard (+-0.15 @ 128 perms)."""
    rng = np.random.default_rng(0)
    keys = MH.perm_params(CFG.num_perm, CFG.minhash_seed)
    vocab = ["tok%d" % i for i in range(50)]
    for trial in range(20):
        t1 = " ".join(rng.choice(vocab, 12))
        edits = rng.integers(0, 6)
        toks = t1.split()
        for _ in range(edits):
            toks[rng.integers(0, len(toks))] = vocab[rng.integers(0, len(vocab))]
        t2 = " ".join(toks)
        exact = jaccard(shingle_set(t1, 3), shingle_set(t2, 3))
        s1 = minhash_py(t1, 3, keys)
        s2 = minhash_py(t2, 3, keys)
        est = float((s1 == s2).mean())
        assert abs(est - exact) < 0.15, (exact, est)


def test_band_explode_shape_and_determinism(spark):
    df = spark.createDataFrame(pd.DataFrame({"id": ["x", "y"], "t": ["abc def", "abc def"]}))
    udf = MH.signature_udf(3, 16, 1)
    sigs = df.select("id", udf(F.col("t")).minhash.alias("sig"))
    bands = MH.band_explode(sigs, "sig", "id", bands=4, rows_per_band=4)
    pdf = bands.toPandas()
    assert len(pdf) == 8  # 2 ids x 4 bands
    assert set(pdf.band_id) == {0, 1, 2, 3}
    # identical text => identical band hashes
    x = pdf[pdf.id == "x"].sort_values("band_id").band_hash.tolist()
    y = pdf[pdf.id == "y"].sort_values("band_id").band_hash.tolist()
    assert x == y


def test_empty_text_gets_sentinel_not_collisions():
    keys = MH.perm_params(CFG.num_perm, CFG.minhash_seed)
    s_empty = minhash_py("", 3, keys)
    s_real = minhash_py("hello", 3, keys)
    assert (s_empty == np.int64(MH._EMPTY_SENTINEL)).all()
    assert not (s_empty == s_real).all()


def test_estimate_gate_preserves_verified_pairs(spark):
    """The minhash estimate gate in verify_jaccard must not drop a true
    pair: the gated verify emits exactly the candidates whose exact
    Jaccard over their shingle `codes` clears the threshold, with that
    Jaccard rounded to 6 places (the 6.5-sigma gate bound makes a
    true-pair drop ~impossible)."""
    from decimal import ROUND_HALF_UP, Decimal

    from who_owns_mass_processing_spark.config import DedupeConfig
    from who_owns_mass_processing_spark.operators.blocking import candidate_pairs
    from who_owns_mass_processing_spark.operators.dedupe import minhash_signatures
    from who_owns_mass_processing_spark.operators.verify import verify_jaccard

    cfg = DedupeConfig(bands=32)
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        toks = [vocab[rng.integers(0, len(vocab))] for _ in range(25)]
        rows.append((2 * i, " ".join(toks)))
        near = list(toks)
        near[rng.integers(0, len(near))] = vocab[rng.integers(0, len(vocab))]
        rows.append((2 * i + 1, " ".join(near)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(df, "doc_id", "text", cfg).localCheckpoint(eager=True)
    bands = MH.band_explode(sigs, "minhash", "doc_id", cfg.bands, cfg.rows_per_band)
    cands, _ = candidate_pairs(bands, "doc_id")
    feats = sigs.select("doc_id", "codes", "minhash")
    gated = verify_jaccard(
        cands, feats, "doc_id", "codes", cfg.jaccard_threshold,
        minhash_col="minhash", num_perm=cfg.num_perm,
    )
    codes = {r.doc_id: set(r.codes) for r in feats.collect()}
    exact = []
    for a, b in cands.select("a", "b").collect():
        j = len(codes[a] & codes[b]) / len(codes[a] | codes[b])
        # Spark's round(double, 6): HALF_UP on the shortest decimal repr
        j = float(Decimal(repr(j)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        if j >= cfg.jaccard_threshold:
            exact.append((a, b, j))
    g = sorted(map(tuple, gated.collect()))
    assert g == sorted(exact)
    assert len(g) > 0

"""Embedding-vector similarity — pure Catalyst builtins (zip_with /
aggregate), plus a random-hyperplane LSH bucketer for the ANN scale path.

Part of the training-data-pipeline surface (embedding-cosine near-dup /
similarity search).  Brute-force cosine is the small-scale baseline and
the DuckDB-oracle-checkable query; the hyperplane-LSH variant is the
10^12-scale path (bucket equi-join blocking, same shape as the MinHash
band join).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from who_owns_mass_processing_spark.operators.verify import (
    _broadcast_layout,
    _fixed_matrix_from_list_column,
    _mapside_eligible,
    join_pairs,
    map_pairs,
    prefetch_broadcast,
)


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product (deterministic order —
    matches the DuckDB oracle's list_sum over the same order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def cosine_pairs(df: DataFrame, id_col: str, vec_col: str, threshold: float) -> DataFrame:
    """Brute-force all-pairs cosine >= threshold (a < b). O(n^2) baseline —
    only for oracle-scale data; use `hyperplane_buckets` blocking at scale."""
    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    joined = a.join(b, F.col("a") < F.col("b"))
    sim = cosine(F.col("va"), F.col("vb"))
    return (
        joined.select("a", "b", F.round(sim, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def hyperplane_tables(dim: int, n_bits: int, n_tables: int, seed: int = 42) -> np.ndarray:
    """(n_tables, n_bits, dim) independent hyperplane sets."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_bits, dim))


def bucket_tables_udf(planes: np.ndarray):
    """pandas UDF: embedding -> array<long> of per-table sign buckets.
    One Arrow batch = one (batch x dim) @ (dim x n_tables*n_bits) matmul —
    the vectorized replacement for 64 per-bit aggregate expressions."""
    from pyspark.sql.types import ArrayType, LongType

    n_tables, n_bits, dim = planes.shape
    flat = planes.reshape(n_tables * n_bits, dim).T  # (dim, T*B)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)  # (n, dim)
        signs = (mat @ flat) >= 0  # (n, T*B)
        codes = signs.reshape(len(mat), n_tables, n_bits) @ weights  # (n, T)
        return pd.Series(list(codes.astype(np.int64)))

    return _udf


def cosine_pair_udf():
    """pandas UDF: exact cosine of two vector columns — `ivf_topk`'s
    kernel over its probed cells (one Arrow batch = two (n, dim)
    ndarrays, row-wise einsum; `_cosine_score` is the same einsum over
    a feature layout).  The interpreted higher-order `cosine` expression
    costs ~3 lambda dispatches per element; on millions of candidates
    the matmul form is the difference between the verify dominating the
    query and disappearing into it."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.array(list(a), dtype=np.float64)
        mb = np.array(list(b), dtype=np.float64)
        if len(ma) == 0:
            return pd.Series([], dtype="float64")
        num = np.einsum("ij,ij->i", ma, mb)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
        den = na * nb
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(den > 0, num / den, 0.0)
        return pd.Series(out)

    return _cos


def ann_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    cap: int = 2000,
    hard_cap: int = 100000,
) -> DataFrame:
    """Scale-path ANN pairs: multi-table hyperplane LSH with Hamming-1
    bucket expansion, verified with exact cosine >= threshold.

    Round 1 used ONE 8-bit table, single-probe — measured ~2% candidate
    recall at cos~0.45 (P(bucket match) = (1-acos(s)/pi)^8 ~ 0.03).  Both
    fixes compose here: (a) `n_tables` independent tables OR'd together,
    (b) each row is also indexed under every Hamming-1 neighbor of its
    bucket, so two rows collide when their buckets differ by <= 2 bits.
    Per-table collision P(ham<=2 | cos 0.45) ~ 0.43 -> 8 tables ~ 0.99
    (measured 1.0 on the sf0.01 fixture; pytest gates recall >= 0.9).

    Candidate generation reuses the banded-blocking machinery (salted
    buckets, stop-band caps) with band_id = table index, so hot buckets
    are skew-controlled exactly like MinHash bands at 10^12 scale.
    """
    from who_owns_mass_processing_spark.operators.blocking import candidate_pairs

    sample = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if sample is None:  # empty input
        return df.sparkSession.createDataFrame(
            [], "a long, b long, cos_sim double"
        )
    dim = int(sample["d"])
    planes = hyperplane_tables(dim, n_bits, n_tables, seed)
    budf = bucket_tables_udf(planes)
    from who_owns_mass_processing_spark.operators.blocking import spread_small_input

    # spread the (id, vec) projection across cores before the bucket UDF
    # (single-file inputs otherwise run it as one task — guide §2.5;
    # no-op at scale, see spread_small_input)
    slim = spread_small_input(df, [id_col, vec_col])
    b = slim.select(id_col, F.posexplode(budf(F.col(vec_col))).alias("band_id", "bucket"))
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(n_bits)])
    probes = F.array_union(
        F.array(F.col("bucket")),
        F.transform(masks, lambda m: F.col("bucket").bitwiseXOR(m)),
    )
    b = b.select(id_col, "band_id", F.explode(probes).alias("band_hash"))
    # pin the band table: candidate_pairs consumes it twice (census +
    # cell build) and each pass would re-run the bucket UDF + probe
    # explode; the table itself is (id, int, long) — tiny
    b = b.localCheckpoint(eager=True)
    # exact-cosine verify, one scorer (`_cosine_score`) on both paths:
    # for bounded corpora the vector matrix (n * dim * 8 bytes, the
    # map-side gate's one input) broadcasts (same bound class as a Spark
    # BHJ build side) and only 16 bytes/pair cross into Python; larger
    # corpora attach both vectors per candidate by join (features cannot
    # be worker-resident at scale).  Rounding and the threshold filter
    # stay in Spark.  The matrix collect + broadcast overlaps the
    # census/cell phase (prefetch_broadcast; see rep_pairs_from_sigs).
    schema = "a bigint, b bigint, _cos double"
    with prefetch_broadcast(
        build_cosine_mapside_bvar, slim, id_col, vec_col, slim.count() * dim * 8, dim
    ) as mapside:
        cands, _metrics = candidate_pairs(b, id_col, cap=cap, hard_cap=hard_cap)
        bvar = mapside()
        if bvar is not None:
            scored = map_pairs(cands, bvar, schema, _cosine_score)
        else:
            layout = partial(_cosine_layout, dim)
            scored = join_pairs(cands, slim, id_col, (vec_col,), layout, schema, _cosine_score)
    return (
        scored.select("a", "b", F.round(F.col("_cos"), 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def _cosine_layout(dim: int, cols, order):
    """(matrix, norms) of the (n, dim) vector column.  Norms are taken
    once per vector, not twice per pair: sqrt(einsum) over the same
    contiguous row data is the identical float op sequence, so gathered
    norms are bit-identical to a per-pair computation (2/3 of the kernel
    FLOPs)."""
    mat = np.ascontiguousarray(_fixed_matrix_from_list_column(cols[0], dim, order), np.float64)
    return mat, np.sqrt(np.einsum("ij,ij->i", mat, mat))


def build_cosine_mapside_bvar(
    slim: DataFrame, id_col: str, vec_col: str, nbytes: int | None, dim: int
):
    """Collect + broadcast (ids, matrix, norms) of the (n, dim) vector
    matrix, or None when `_mapside_eligible` refuses its size `nbytes`
    (the caller takes the join path).  Side-thread-safe
    (prefetch_broadcast)."""
    if not _mapside_eligible(slim, id_col, nbytes):
        return None
    return _broadcast_layout(slim, id_col, (vec_col,), partial(_cosine_layout, dim))


def _cosine_score(a, b, ia, ib, value):
    """The cosine tier's verdict on both verify paths: (a, b, _cos) by
    a gather of the layout's matrix rows — the same einsum as
    `cosine_pair_udf`."""
    _ids, mat, norms = value
    num = np.einsum("ij,ij->i", mat[ia], mat[ib])
    den = norms[ia] * norms[ib]
    with np.errstate(divide="ignore", invalid="ignore"):
        return a, b, np.where(den > 0, num / den, 0.0)


def ann_topk_bruteforce(
    df: DataFrame, queries: DataFrame, id_col: str, vec_col: str, qid_col: str, qvec_col: str, k: int
) -> DataFrame:
    """Exact top-k neighbors per query (broadcast the query side — the
    canonical shape: small query set x huge corpus)."""
    from pyspark.sql import Window

    joined = df.crossJoin(F.broadcast(queries))
    sim = cosine(F.col(vec_col), F.col(qvec_col))
    w = (
        Window.partitionBy(qid_col)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
    )
    return (
        joined.select(qid_col, id_col, F.round(sim, 6).alias("cos_sim"))
        .where(F.col(qid_col) != F.col(id_col))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def fit_ivf_centroids_local(vectors: np.ndarray, n_cells: int, seed: int = 42,
                            max_iter: int = 20) -> np.ndarray:
    """Seeded Lloyd k-means on a driver-resident sample — the
    DETERMINISTIC fit for the persisted-index path (VERDICT r4 #5: the
    per-call Spark ML refit made cell assignments rest on seed +
    partitioning luck; a resumed run at different parallelism could
    drift).  Pure numpy: same input + seed => bit-identical centroids,
    regardless of cores.  At 10^12 scale the fit input is a bounded
    sample anyway (n_cells ~ sqrt(n) centroids fit one node); the
    distributed passes are assignment + serving, not the fit."""
    rng = np.random.default_rng(seed)
    X = np.asarray(vectors, dtype=np.float64)
    cents = X[rng.choice(len(X), size=n_cells, replace=False)].copy()
    for _ in range(max_iter):
        d = -2.0 * (X @ cents.T) + np.einsum("ij,ij->i", cents, cents)
        assign = np.argmin(d, axis=1)
        new = np.stack([
            X[assign == c].mean(axis=0) if np.any(assign == c) else cents[c]
            for c in range(n_cells)
        ])
        if np.array_equal(new, cents):
            break
        cents = new
    return cents


def ivf_index_paths(sf_dir: str, n_cells: int, seed: int) -> tuple[str, str]:
    """(centroids, cells) paths of the index over `sf_dir`: named by the
    directory's basename plus a short hash of its real path, so two
    corpora whose directories share a basename never serve each other's
    index."""
    import hashlib
    import os

    real = os.path.realpath(sf_dir)
    tag = hashlib.sha256(real.encode()).hexdigest()[:12]
    stem = f"/tmp/spark_graft_ivf_{os.path.basename(real)}_{tag}_c{n_cells}_s{seed}"
    return f"{stem}_centroids.parquet", f"{stem}_cells.parquet"


def build_ivf_index(
    sf_dir: str, n_cells: int = 16, seed: int = 42, max_iter: int = 20
) -> tuple[str, str]:
    """Fit-ONCE persisted IVF index over `<sf_dir>/embeddings.parquet`:
    centroids (cell, centroid array<double>) + posting-list assignments
    (vec_id, cell), each written with the StageCatalog atomic-swap
    contract (temp file + os.replace — a killed build leaves either the
    old complete index or nothing, never a partial file).  Returns
    (centroids_path, cells_path); an existing index is reused, so
    resumed runs — at ANY parallelism — serve byte-identical cells by
    construction.  The same artifact feeds the DuckDB oracle: with
    centroids/assignments materialized, the serving half (probed cells
    + exact cosine + rank) is plain SQL, which upgrades the
    embedding_topk_ivf driver row from no-oracle to hash-checked."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cent_path, cells_path = ivf_index_paths(sf_dir, n_cells, seed)
    if os.path.exists(cent_path) and os.path.exists(cells_path):
        return cent_path, cells_path
    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    vec_ids = tbl.column("vec_id").to_numpy()
    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    cents = fit_ivf_centroids_local(X, n_cells, seed, max_iter)
    d = -2.0 * (X @ cents.T) + np.einsum("ij,ij->i", cents, cents)
    assign = np.argmin(d, axis=1).astype(np.int32)

    def _atomic_write(path: str, table: pa.Table) -> None:
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(table, tmp)
        os.replace(tmp, path)

    _atomic_write(
        cent_path,
        pa.table({
            "cell": pa.array(range(n_cells), type=pa.int32()),
            "centroid": pa.array(cents.tolist(), type=pa.list_(pa.float64())),
        }),
    )
    _atomic_write(
        cells_path,
        pa.table({
            "vec_id": pa.array(vec_ids),
            "cell": pa.array(assign, type=pa.int32()),
        }),
    )
    return cent_path, cells_path


def load_ivf_centroids(cent_path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    tbl = pq.read_table(cent_path).sort_by("cell")
    return np.array(tbl.column("centroid").to_pylist(), dtype=np.float64)


def cell_assign_udf(centroids: np.ndarray, n_probe: int):
    """pandas UDF: vector -> array of the `n_probe` nearest cell ids
    (L2 to centroids, one matmul per Arrow batch) — the query-side
    probe of `ivf_topk`."""
    from pyspark.sql.types import ArrayType, IntegerType

    cents = centroids.astype(np.float64)
    c_sq = np.einsum("ij,ij->i", cents, cents)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _udf(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        # ||v - c||^2 = ||v||^2 - 2 v.c + ||c||^2 ; ||v||^2 constant per row
        d = -2.0 * (mat @ cents.T) + c_sq
        top = np.argsort(d, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return _udf


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qid_col: str,
    qvec_col: str,
    k: int,
    centroids: np.ndarray,
    cell_assignments: DataFrame,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: the k-means-cell alternative to the
    hyperplane-LSH scale path (brief: 'IVF or LSH-bucketed variant').

    Corpus vectors live in their nearest cell; each query probes its
    `n_probe` nearest cells and ranks only those cells' vectors by exact
    cosine (vectorized pandas UDF).  At 10^12 scale the corpus side is
    partitioned by cell id (a shuffle the index build pays once) and the
    probed-query side is the small broadcast join input, so serving cost
    is |queries| x n_probe x cell-size, never |corpus|.

    `centroids` and `cell_assignments` (id_col, cell) are the persisted
    index from `build_ivf_index` (`load_ivf_centroids` + the posting-list
    table): the index is fit once, with seeded numpy, and serving joins
    it instead of re-deriving cells.  With the index materialized the
    serving half IS SQL-expressible, so the driver row carries a DuckDB
    oracle over the same artifact (VERDICT r4 #5)."""
    from pyspark.sql import Window

    probe = cell_assign_udf(centroids, n_probe)
    cells = corpus.join(cell_assignments, id_col).select(
        F.col(id_col), F.col(vec_col).alias("_cv"), F.col("cell").alias("_cell"),
    )
    qprobes = queries.select(
        F.col(qid_col), F.col(qvec_col).alias("_qv"),
        F.explode(probe(F.col(qvec_col))).alias("_cell"),
    )
    cos_udf = cosine_pair_udf()
    joined = cells.join(F.broadcast(qprobes), "_cell")
    scored = joined.select(
        qid_col, id_col, F.round(cos_udf(F.col("_cv"), F.col("_qv")), 6).alias("cos_sim")
    ).where(F.col(qid_col) != F.col(id_col))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

"""Image-payload UDF surface: decode, pHash, PSNR verify, metadata.

The multimodal plumbing is real (schemas, Arrow batching, partitioning);
the decode step uses the pure-numpy codecs in ``codecs.py`` (PNG real,
QJP a clearly-marked deterministic fake standing in for JPEG — this
container has no image libraries).

Scale notes (100 TB design):
* `bytes` never survives past the signature stage — pHash/dimensions are
  extracted once, then the payload column is projected away; only the
  sampled PSNR verify re-joins bytes for candidate pairs (SURVEY.md §7).
* Arrow `maxRecordsPerBatch` is kept small (session.py) because each row
  carries O(100 KB).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from who_owns_mass_processing_spark import codecs

IMAGE_META_SCHEMA = StructType(
    [
        StructField("phash", LongType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
    ]
)


def image_meta_udf():
    """pandas UDF: bytes -> struct(phash, w, h) — one decode, all metadata."""

    @F.pandas_udf(IMAGE_META_SCHEMA)
    def _udf(blobs: pd.Series) -> pd.DataFrame:
        ph = np.empty(len(blobs), dtype=np.int64)
        ww = np.empty(len(blobs), dtype=np.int32)
        hh = np.empty(len(blobs), dtype=np.int32)
        for i, blob in enumerate(blobs):
            px = codecs.decode_image(bytes(blob))
            ph[i] = codecs.phash64(px)
            hh[i], ww[i] = px.shape[0], px.shape[1]
        return pd.DataFrame({"phash": ph, "w": ww, "h": hh})

    return _udf


def psnr_pair_udf():
    """pandas UDF: (bytes_a, bytes_b) -> double PSNR between decoded pixels.

    Used by the lossy-format verify tier (north_rule: decoded-pixel
    allclose, PSNR >= 40 dB for lossy).  999.0 encodes +inf (identical).
    """

    @F.pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        # large dup families repeat the same image across many rows of a
        # batch (k-variant family => each image in up to k-1 pairs), so
        # memoize decodes per batch — keyed by the payload itself (hashing
        # bytes is ~30x cheaper than decoding, and exact).  On corpora of
        # size-2 families the hit rate is ~0 and the overhead <5%.
        cache: dict[bytes, np.ndarray] = {}

        def dec(blob: bytes):
            px = cache.get(blob)
            if px is None:
                px = codecs.decode_image(blob)
                cache[blob] = px
            return px

        out = np.empty(len(a), dtype=np.float64)
        for i in range(len(a)):
            try:
                v = codecs.psnr(dec(bytes(a.iloc[i])), dec(bytes(b.iloc[i])))
                out[i] = 999.0 if v == float("inf") else v
            except Exception:
                out[i] = 0.0
        return pd.Series(out)

    return _udf


def decode_stats_map(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: per-partition decode statistics (rows, bytes,
    decode failures) — feeds the per-partition metrics table (north_rule
    lineage+metrics)."""
    import socket

    for pdf in frames:
        failures = 0
        total_bytes = 0
        for blob in pdf["bytes"]:
            total_bytes += len(blob)
            try:
                codecs.decode_image(bytes(blob))
            except Exception:
                failures += 1
        yield pd.DataFrame(
            {
                "rows": [len(pdf)],
                "bytes": [total_bytes],
                "decode_failures": [failures],
                "host": [socket.gethostname()],
            }
        )


def phash_combo_bands(df, phash_col: str, id_col: str, n_bands: int = 8, radius: int = 6):
    """Band-subset multi-index Hamming blocking (Manku-style, the 10^12
    path).

    Pigeonhole: d <= radius differing bits land in at most `radius` of the
    `n_bands` bands, so any pair within radius shares at least
    k = n_bands - radius identical bands, hence one identical k-SUBSET of
    bands.  Indexing every k-subset (itertools.combinations order) gives
    k*width-bit keys: k = 2 (8 bands, radius 6 — the image tier) makes
    65k+ values for 8-bit bands, so buckets shrink quadratically vs
    single-band blocking while recall stays guaranteed; k = 1 (4 bands,
    radius 3 — simhash) is single-band blocking on 16-bit bands.  Reference
    analog: nearest-neighbor spatial join (R/loaders.R:1042-1057)
    re-expressed as an equi-join blocking key.

    Requires n_bands - radius >= 1.
    Emits (id, phash, band_id, band_hash) with band_id numbering the subset.
    """
    from itertools import combinations

    if n_bands - radius < 1:
        raise ValueError(f"band-subset blocking needs n_bands-radius>=1, got {n_bands}-{radius}")
    width = 64 // n_bands
    mask = (1 << width) - 1

    def band(i):
        return F.shiftrightunsigned(F.col(phash_col), i * width).bitwiseAND(F.lit(mask))

    combos = [
        F.struct(
            F.lit(combo_id).alias("band_id"),
            F.xxhash64(F.lit(combo_id), *(band(i) for i in subset)).alias("band_hash"),
        )
        for combo_id, subset in enumerate(combinations(range(n_bands), n_bands - radius))
    ]
    # the hash column rides along as blocking payload so the Hamming
    # check can be fused into pair generation (blocking.hamming_pairs)
    return df.select(id_col, F.col(phash_col), F.explode(F.array(*combos)).alias("c")).select(
        id_col,
        phash_col,
        F.col("c.band_id").alias("band_id"),
        F.col("c.band_hash").alias("band_hash"),
    )


THUMBNAIL_SCHEMA = (
    "image_id string, w int, h int, thumb array<double>"
)


def thumbnail_map(size: int = 8):
    """mapInPandas op: decode -> grayscale -> bilinear-resize to
    size x size -> row-major array<double> (the 'resize' multimodal
    surface).  Bytes stay inside the partition; only the fixed-width
    thumbnail leaves — at 100 TB the shuffle carries size^2 doubles per
    image, not payloads.  Rows that fail to decode are dropped (counted
    by decode_stats_map on the audit path)."""

    def _map(frames):
        for pdf in frames:
            ids, ws, hs, thumbs = [], [], [], []
            for image_id, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px = codecs.decode_image(bytes(blob))
                except Exception:
                    continue
                ids.append(image_id)
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                thumbs.append(
                    codecs._resize_gray(px, size).astype(np.float64).ravel()
                )
            yield pd.DataFrame(
                {"image_id": ids, "w": ws, "h": hs, "thumb": thumbs}
            ).astype({"w": "int32", "h": "int32"})

    return _map


FRAME_SAMPLE_SCHEMA = (
    "video_id string, frame_idx int, w int, h int, frame_phash long"
)


def frame_sample_map(every_k: int = 2):
    """mapInPandas op: sample every k-th frame of a QVD video column and
    emit per-frame pHash (the 'frame-sample' + feature-extract
    multimodal surface).  The container is length-prefix seekable, so
    only sampled frames are decoded; frame features (8 B) leave the
    partition, never frame pixels.  Non-video payloads raise
    NotImplementedError per the stub contract (no real video codecs in
    this environment; the QVD fake is deterministic)."""

    def _map(frames):
        for pdf in frames:
            vids, idxs, ws, hs, phs = [], [], [], [], []
            for video_id, blob in zip(pdf["video_id"], pdf["bytes"]):
                data = bytes(blob)
                n = codecs.qvd_frame_count(data)  # raises on non-QVD
                take = list(range(0, n, every_k))
                for i, px in codecs.qvd_decode_frames(data, take):
                    vids.append(video_id)
                    idxs.append(i)
                    hs.append(px.shape[0])
                    ws.append(px.shape[1])
                    phs.append(codecs.phash64(px))  # already signed int64
            yield pd.DataFrame(
                {
                    "video_id": vids,
                    "frame_idx": idxs,
                    "w": ws,
                    "h": hs,
                    "frame_phash": phs,
                }
            ).astype(
                {"frame_idx": "int32", "w": "int32", "h": "int32",
                 "frame_phash": "int64"}
            )

    return _map

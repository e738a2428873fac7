"""Image codecs + pixel metrics (pure numpy/zlib — no PIL in this runtime).

The engine's image tier needs to (1) decode ``bytes`` -> pixels inside
vectorized pandas UDFs, (2) compute a DCT pHash over decoded pixels, and
(3) verify lossy-format candidate pairs with PSNR >= 40 dB (north_rule /
input_hint).  This container has no image libraries, so:

* ``png_encode`` / ``png_decode`` are a REAL minimal PNG codec
  (8-bit RGB, zlib DEFLATE, scanline filters 0-4 supported on decode,
  filter 0 written on encode).  Interoperable with any PNG reader.
* ``qjp_encode`` / ``qjp_decode`` are a DETERMINISTIC FAKE lossy codec
  (clearly marked): uniform quantization + zlib.  It stands in for JPEG
  purely so the lossy-verify tier (PSNR gate) has a real code path to
  exercise; quality 75-95 keeps PSNR >= 40 dB like the JPEG range the
  fixtures specify (FIXTURES.md F1).  Swap in a real JPEG codec by
  registering it in ``DECODERS``.

Reference analog: the reference standardizes *strings* before blocking
(R/standardizers.R); decoding bytes -> pixels -> pHash is our equivalent
"standardization" of the image payload.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
QJP_MAGIC = b"QJP1"  # fake lossy codec magic


# --------------------------------------------------------------------------
# PNG (real, minimal: 8-bit RGB truecolor)
# --------------------------------------------------------------------------

def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray, compress_level: int = 6) -> bytes:
    """Encode an (h, w, 3) uint8 array as a standard PNG (color type 2)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("png_encode expects (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # filter byte 0 per scanline
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), compress_level)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def png_decode(data: bytes) -> np.ndarray:
    """Decode an 8-bit RGB PNG (filters 0-4) to an (h, w, 3) uint8 array."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, 0
    h = bitdepth = colortype = 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bitdepth, colortype = struct.unpack(">IIBB", payload[:10])
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if bitdepth != 8 or colortype != 2:
        raise ValueError(f"unsupported PNG (bitdepth={bitdepth}, colortype={colortype})")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    bpp = 3
    out = np.zeros((h, w * 3), dtype=np.uint8)
    prev = np.zeros(w * 3, dtype=np.uint8)
    for y in range(h):
        f, line = raw[y, 0], raw[y, 1:].copy()
        if f == 0:
            cur = line
        elif f == 1:  # Sub
            cur = line
            for x in range(bpp, w * 3):
                cur[x] = (int(cur[x]) + int(cur[x - bpp])) & 0xFF
        elif f == 2:  # Up
            cur = (line.astype(np.int32) + prev).astype(np.uint8)
        elif f == 3:  # Average
            cur = line
            for x in range(w * 3):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(cur[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif f == 4:  # Paeth
            cur = line
            for x in range(w * 3):
                left = cur[x - bpp] if x >= bpp else np.uint8(0)
                ul = prev[x - bpp] if x >= bpp else np.uint8(0)
                cur[x] = (int(cur[x]) + int(_paeth(np.array(left), prev[x : x + 1][0], np.array(ul)))) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur
        prev = out[y]
    return out.reshape(h, w, 3)


# --------------------------------------------------------------------------
# QJP (DETERMINISTIC FAKE lossy codec — stands in for JPEG; see module doc)
# --------------------------------------------------------------------------

def _qjp_step(quality: int) -> int:
    # quality 95 -> step 2 (~54 dB), 75 -> step 6 (~43 dB); always PSNR>40dB
    return max(1, (100 - int(quality)) // 5 + 1)


def qjp_encode(pixels: np.ndarray, quality: int = 85) -> bytes:
    """FAKE lossy encode: uniform-quantize then DEFLATE. Not a real format."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("qjp_encode expects (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    step = _qjp_step(quality)
    q = ((pixels.astype(np.int32) + step // 2) // step).clip(0, 255 // step)
    header = QJP_MAGIC + struct.pack(">IIB", w, h, step)
    return header + zlib.compress(q.astype(np.uint8).tobytes(), 6)


def qjp_decode(data: bytes) -> np.ndarray:
    if data[:4] != QJP_MAGIC:
        raise ValueError("not a QJP payload")
    w, h, step = struct.unpack(">IIB", data[4:13])
    q = np.frombuffer(zlib.decompress(data[13:]), dtype=np.uint8).reshape(h, w, 3)
    return (q.astype(np.int32) * step).clip(0, 255).astype(np.uint8)


DECODERS = {
    "png": png_decode,
    "jpeg": qjp_decode,  # fixtures label the lossy tier "jpeg"; payload is QJP (fake)
    "qjp": qjp_decode,
}

def decode_image(data: bytes, fmt: str | None = None) -> np.ndarray:
    """Decode by sniffing magic bytes (fmt is advisory)."""
    if data[:8] == PNG_SIG:
        return png_decode(data)
    if data[:4] == QJP_MAGIC:
        return qjp_decode(data)
    if fmt in DECODERS:
        return DECODERS[fmt](data)
    raise NotImplementedError(f"no decoder for format {fmt!r}")


# --------------------------------------------------------------------------
# Pixel metrics + pHash
# --------------------------------------------------------------------------

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    if a.shape != b.shape:
        return 0.0
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n).reshape(-1, 1)
    i = np.arange(n).reshape(1, -1)
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2.0 * n))
    m[0, :] = np.sqrt(1.0 / n)
    return m


_DCT32 = _dct_matrix(32)


def _resize_gray(pixels: np.ndarray, size: int = 32) -> np.ndarray:
    """Grayscale + nearest-index resample to size x size (deterministic)."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    yi = (np.arange(size) * h // size).clip(0, h - 1)
    xi = (np.arange(size) * w // size).clip(0, w - 1)
    return gray[np.ix_(yi, xi)]


def phash64(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash (signed int64, Spark LongType-compatible).

    32x32 grayscale -> 2D DCT-II -> top-left 8x8 block (minus DC) ->
    bit i = coeff_i > median.  Same family as the classic pHash.
    """
    g = _resize_gray(pixels, 32)
    d = _DCT32 @ g @ _DCT32.T
    block = d[:8, :8].flatten()
    block = block[1:]  # drop DC
    med = np.median(block)
    bits = np.uint64(0)
    for idx, v in enumerate(block):
        if v > med:
            bits |= np.uint64(1) << np.uint64(idx)
    return int(np.int64(bits))


def hamming64(a: int, b: int) -> int:
    return int(bin((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).count("1"))


# --------------------------------------------------------------------------
# QVD: deterministic synthetic video container (frame-sample surface)
# --------------------------------------------------------------------------
# No video libraries exist in this environment, so the *codec* is a
# deterministic fake per the multimodal contract — but the container is
# genuinely seekable (length-prefixed frames), so the Spark-side
# frame-sampling plumbing (schema, mapInPandas batch shape, selective
# decode) exercises the real access pattern: sampling frame k reads ONLY
# frame k's payload.

QVD_MAGIC = b"QVD1"


def qvd_encode(frames: list[np.ndarray], quality: int = 85) -> bytes:
    """Concatenate QJP-encoded frames with a length-prefix index."""
    out = [QVD_MAGIC, struct.pack(">I", len(frames))]
    for f in frames:
        fb = qjp_encode(f, quality)
        out.append(struct.pack(">I", len(fb)))
        out.append(fb)
    return b"".join(out)


def qvd_frame_count(data: bytes) -> int:
    if data[:4] != QVD_MAGIC:
        raise NotImplementedError("no video decoder for this payload")
    return struct.unpack(">I", data[4:8])[0]


def qvd_decode_frames(data: bytes, indices: list[int] | None = None) -> list[tuple[int, np.ndarray]]:
    """Decode selected frames (all when indices is None).  Walks the
    length-prefix index and decodes ONLY requested frames."""
    n = qvd_frame_count(data)
    want = set(range(n)) if indices is None else {i for i in indices if 0 <= i < n}
    out = []
    pos = 8
    for i in range(n):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        pos += 4
        if i in want:
            out.append((i, qjp_decode(data[pos : pos + ln])))
        pos += ln
    return out

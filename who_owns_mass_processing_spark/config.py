"""Pipeline configuration.

The reference keeps its knobs in ``config.R`` (similarity thresholds
``COSINE_THRESH=0.85`` institutional / ``COSINE_THRESH_INDIV=0.95``
address-bounded individual, reference config.R:28-29; dev-subset knobs
``MUNI_IDS`` / ``COMPANY_TEST_COUNT`` config.R:19,25-26).  We mirror the
same *two-tier threshold* idea — a looser tier for captions (MinHash
Jaccard) and a stricter tier for images (pHash Hamming radius + PSNR
verify for lossy formats) — in one frozen dataclass so every stage and
every test runs off a single hashable config fingerprint (which is also
the checkpoint cache key).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupeConfig:
    # --- caption / text tier (ref analog: char-3-gram TF-IDF cosine >= 0.85,
    #     reference R/deduplicaters.R:342-346) -------------------------------
    shingle_k: int = 3                 # char k-shingles of normalized caption
    num_perm: int = 128                # MinHash permutations
    # bands=16 -> r=8 rows/band: the SCALE operating point.  At the verify
    # threshold 0.8 a single band matches with p=0.8^8=0.17, so 16 bands
    # give 95% one-band recall per pair — but background pairs (J~0.5,
    # p=0.004) almost never become candidates (6% vs 87% at r=4), which
    # is a ~14x cut of the candidate shuffle (measured: 11.3M -> see
    # BENCH.md).  End-to-end dup recall stays ~1: exact dups ride the
    # fingerprint tier, paraphrase dups share pixels (image tier), and
    # J>=0.9 caption dups hit 1-(1-0.43)^16 = 99.99%.  Oracle-exactness
    # queries use an explicit bands=32 (r=4) config where all-pairs
    # equality is required at small scale (__spark_entry__.CFG).
    bands: int = 16                    # LSH bands (rows = num_perm // bands)
    jaccard_threshold: float = 0.80    # exact-verify threshold for captions
    minhash_seed: int = 42

    # --- image tier (analog of the stricter 0.95 individual tier) ----------
    hamming_radius: int = 6            # max pHash Hamming distance for a dup
    phash_bands: int = 8               # 64-bit sig split into 8x8-bit bands
    psnr_min_db: float = 40.0          # lossy-format verify (north_rule)

    # --- skew control (ref analog: blank-name NULLing kills the hottest
    #     blocking key, reference R/standardizers.R:343-379) ----------------
    band_bucket_cap: int = 500         # max rows per (band, hash) bucket before salting
    stop_band_min: int = 200           # absolute floor for the stop-band drop threshold
    stop_band_frac: float = 0.05       # bucket holding > frac of the corpus = degenerate
    band_bucket_hard_cap: int = 100000 # absolute ceiling regardless of corpus size

    def fingerprint(self) -> str:
        """Stable hash of all semantic knobs — the checkpoint cache key."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def stop_band_threshold(self, corpus_rows: int) -> int:
        """Drop threshold for degenerate band buckets: a bucket holding more
        than ``stop_band_frac`` of the corpus carries ~no discriminative
        signal (a true dup pair in it shares other, smaller bands w.h.p.);
        its quadratic pair fan-out is pure cost.  Mirrors the reference
        NULLing blank names so they never become blocking keys
        (R/standardizers.R:343-379).  Dropped buckets are logged in the
        skew metrics; identical-text pairs never depend on LSH at all
        (exact-fingerprint edge tier)."""
        return min(
            self.band_bucket_hard_cap,
            max(self.stop_band_min, int(self.stop_band_frac * corpus_rows)),
        )

    @property
    def rows_per_band(self) -> int:
        if self.num_perm % self.bands:
            raise ValueError(f"num_perm={self.num_perm} not divisible by bands={self.bands}")
        return self.num_perm // self.bands

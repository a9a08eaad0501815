"""Frozen configuration dataclasses.

The reference fixes its whole configuration in compile-time globals
(/root/reference/src/main.cc:203-238: n=2^16, d=128, k=2, L=8,
num_rotations=3, bulk=512, seeds 49628583 / PCG32(42,1337)).  We make the
same knobs explicit, serializable config objects so they can be hashed into
stage manifests and shipped to executors.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class CrossPolytopeConfig:
    """Cross-polytope LSH parameters.

    Mirrors the reference's knobs: ``d`` (src/main.cc:205-206), ``k``
    hashes/table (src/main.cc:208), ``num_tables`` L (src/main.cc:238),
    ``num_rotations`` (src/main.cc:238).  ``cldim`` = bits per sub-hash =
    ceil(log2 d)+1 (src/lsh.c:331) is derived, not stored.
    """

    # k = 3 for d = 64 per the FALCONN-side formula 31/(ceil(log2 d)+1) - 1
    # rounded to keep bucket keys selective (21 bits here): at k = 2 the
    # 14-bit key space floods with O(b^2) candidate pairs at web scale
    dim: int = 64
    k: int = 3
    num_tables: int = 8
    num_rotations: int = 3
    seed: int = 49628583  # reference's C++ seed, src/main.cc:20

    @property
    def cldim(self) -> int:
        return (self.dim - 1).bit_length() + 1

    @property
    def hadamard_dim(self) -> int:
        # reference truncates to the largest power of two <= d, src/lsh.c:112-113
        return 1 << (self.dim.bit_length() - 1) if self.dim & (self.dim - 1) else self.dim


@dataclass(frozen=True)
class MinHashConfig:
    """MinHash-over-shingles parameters (Broder '97; no reference analog —
    mandated by the dedup graft)."""

    shingle_size: int = 3  # word shingles
    num_perm: int = 64
    num_bands: int = 16  # rows_per_band = num_perm // num_bands
    seed: int = 7206161
    # Mersenne prime for the universal hash family h(x) = (a*x + b) mod p
    prime: int = (1 << 61) - 1

    @property
    def rows_per_band(self) -> int:
        return self.num_perm // self.num_bands


@dataclass(frozen=True)
class SimHashConfig:
    """SimHash band hashing (Charikar '02).

    TWO independent 56-bit fingerprints (plain + salted hash family), each
    sliced into 2 bands of 28 bits: the concatenated 112-bit fingerprint
    split into num_bands = 4 slices keeps the pigeonhole guarantee (any
    pair within Hamming <= 3 of the concat collides on >= 1 band) while
    the 2^28 per-band key space keeps random fingerprints from colliding
    at any realistic corpus size.  A single 56-bit fingerprint's 4x14-bit
    bands sit at n/2^14 members per bucket — measured ~8.4M quadratic
    candidate pairs at n = 266k, a scale-killer.
    """

    num_bits: int = 56  # per fingerprint (14 md5 hex chars, int64-safe)
    num_hashes: int = 2  # independent fingerprints (second = salted md5)
    num_bands: int = 4  # total bands across the concatenated fingerprint
    hamming_threshold: int = 3

    @property
    def bands_per_hash(self) -> int:
        return self.num_bands // self.num_hashes

    @property
    def bits_per_band(self) -> int:
        return self.num_bits // self.bands_per_hash


@dataclass(frozen=True)
class SubstringConfig:
    """Suffix-array / winnowing substring-duplicate pass (Schleimer '03,
    Lee et al. '22)."""

    # UTF-8 BYTES of exact common substring that count as dup (the winnow
    # hashes and the LCS verify both run over encoded bytes; on non-ASCII
    # text this is NOT a character count — the DuckDB oracles gram over
    # octets to match)
    min_length: int = 50
    # k-gram width trades fingerprint volume against false-candidate rate
    # while the ACCEPT SET stays exactly "LCS >= min_length" for any k
    # (the winnow guarantee k + w - 1 = min_length holds by construction
    # of `window`).  Round-5 ran k=20: any shared 20-byte gram became a
    # candidate — ~1.0M candidate pairs per 66k-image bench shard, 98% of
    # them rejected by the LCS verify, which made the Python verify the
    # single hottest stage of the whole pipeline.  k=35 makes a candidate
    # require a shared 35-byte winnowed gram: measured 41k scan pairs on
    # the same shard (24x fewer) for 2.6x more (narrow) fingerprint rows.
    kgram: int = 35
    seed: int = 991

    @property
    def window(self) -> int:
        # winnowing guarantee: any common substring of >= min_length chars
        # shares at least one selected fingerprint when w = min_length - kgram + 1
        return self.min_length - self.kgram + 1


@dataclass(frozen=True)
class PipelineConfig:
    """End-to-end dedup pipeline configuration."""

    cp: CrossPolytopeConfig = field(default_factory=CrossPolytopeConfig)
    minhash: MinHashConfig = field(default_factory=MinHashConfig)
    simhash: SimHashConfig = field(default_factory=SimHashConfig)
    substring: SubstringConfig = field(default_factory=SubstringConfig)
    # exact-verify thresholds
    phash_hamming_threshold: int = 10
    jaccard_threshold: float = 0.5
    # OR-union the suffix-array substring modality (operators/substring.py)
    # into the verified-pair set before clustering (SURVEY.md §7 M2: the
    # engine's output is the OR of all modalities).  Honored by the batch
    # pipeline, the checkpointed pipeline, AND the streaming incremental
    # path (fingerprint + caption stores, streaming/incremental.py).
    substring_enabled: bool = True
    # skew control: buckets larger than this contribute star pairs instead
    # of all O(b^2) pairs (see operators/candidates.py).  True duplicate
    # groups are overwhelmingly smaller; a bigger bucket is hash degeneracy
    # (e.g. SimHash 14-bit bands at web scale sit near-uniformly at
    # rows/2^14 members — quadratic pair generation there is catastrophic).
    # (The reference's analog caps buckets at 2^k = 4 slots with silent
    # drop, /root/reference/src/lsh.c:179-189 — ours keeps linear coverage.)
    hot_bucket_threshold: int = 32

    def config_hash(self) -> str:
        return hashlib.sha256(
            json.dumps(asdict(self), sort_keys=True).encode()
        ).hexdigest()[:16]

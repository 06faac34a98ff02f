"""Runtime configuration for the cuckoo-filter sketch.

Mirrors the reference's compile-time ``CuckooConfig`` template
(``/root/reference/include/CuckooFilter.cuh:44-74``) as a runtime
dataclass: fingerprint width ``bits_per_tag`` ∈ {8,16,32}, bucket
size (power of two), max eviction-chain length, and the bucket
addressing policy. The default here is f=16, b=4 (the classic Fan
et al. 2014 configuration named by the project north-star); the
reference default b=16 (``CuckooFilter.cuh:49``) is expressible by
passing ``bucket_size=16``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

#: fp == 0 is the EMPTY-slot sentinel; computed fingerprints of 0 are
#: remapped to 1 (reference: ``bucket_policies.cuh:50-53``).
EMPTY = 0

#: Salts for the JVM-parity chained hash family
#: (``hashing.chained_hash``): H(x, salt) = XXH64(salt, XXH64(x, 42)).
#: FP_SALT drives fingerprint + primary-bucket bits; DISP_SALT drives
#: the alternate-bucket displacement. The second avalanche pass
#: decorrelates both from the seed-42 shard router even though they
#: share its inner hash.
FP_SALT = 0xA0761D6478BD642F
DISP_SALT = 0xE7037ED1A0B428DB


def next_power_of_two(n: int) -> int:
    """Smallest power of two >= n (reference: ``helpers.cuh:31-45``)."""
    if n <= 1:
        return 1
    return 1 << (n - 1).bit_length()


@dataclass(frozen=True)
class CuckooConfig:
    """Geometry + policy knobs for a cuckoo filter.

    Parameters mirror ``CuckooConfig<T, bitsPerTag, maxEvictions,
    blockSize, bucketSize, AltBucketPolicy>`` in the reference
    (``CuckooFilter.cuh:44-74``); ``block_size`` has no Spark analog
    (Arrow batch size plays that role) and is omitted.
    """

    bits_per_tag: int = 16
    bucket_size: int = 4
    max_kicks: int = 500  # maxEvictions default (CuckooFilter.cuh:47)
    #: 'dfs' (class default, CuckooFilter.cuh:51) or 'bfs'
    #: (README-documented default; shallow lookahead then DFS
    #: fallback, CuckooFilter.cuh:967-1018). Does not affect the
    #: stored layout or membership semantics, only insert paths.
    eviction_policy: str = "dfs"
    #: 'xor' — partial-key XOR displacement, pow2 buckets
    #: (bucket_policies.cuh:14-84); 'addsub' — two-block add/sub
    #: displacement, any even bucket count (ASCF paper,
    #: bucket_policies.cuh:96-182); 'offset' — choice-bit offset
    #: displacement, exact bucket count (bucket_policies.cuh:190-351).
    #: All three run on ``core.cuckoo.CuckooFilter``.
    bucket_policy: str = "xor"

    def __post_init__(self) -> None:
        if self.bits_per_tag not in (8, 16, 32):
            # static_assert parity: CuckooFilter.cuh:152-155
            raise ValueError("bits_per_tag must be 8, 16 or 32")
        if self.bucket_size < 1 or self.bucket_size & (self.bucket_size - 1):
            raise ValueError("bucket_size must be a power of two")
        # fill vectors are int8; 64 already exceeds any published
        # cuckoo-filter configuration (reference max is 16)
        if self.bucket_size > 64:
            raise ValueError("bucket_size must be <= 64")
        if self.eviction_policy not in ("dfs", "bfs"):
            raise ValueError("eviction_policy must be 'dfs' or 'bfs'")
        if self.bucket_policy not in ("xor", "addsub", "offset"):
            raise ValueError(
                "bucket_policy must be 'xor', 'addsub' or 'offset'"
            )
        if self.bucket_policy == "offset" and self.bits_per_tag > 16:
            # Offset runs on the kernel's 2^f-entry displacement
            # table, the only path its tests cover
            raise ValueError("bucket_policy 'offset' needs bits_per_tag <= 16")

    @property
    def tag_dtype(self) -> np.dtype:
        """Smallest uint dtype holding a tag (CuckooFilter.cuh:61-64)."""
        return np.dtype(
            {8: np.uint8, 16: np.uint16, 32: np.uint32}[self.bits_per_tag]
        )

    @property
    def tag_mask(self) -> int:
        return (1 << self.bits_per_tag) - 1

    def num_buckets_for(self, capacity: int) -> int:
        """Bucket count for a target capacity. XOR policy: next power
        of two of ceil(capacity / bucket_size)
        (``bucket_policies.cuh:80-83``) — pow2 is REQUIRED by the
        XOR displacement. AddSub policy: next even count
        (``bucket_policies.cuh:172-181``) — no pow2 rounding, so
        memory is within 1 bucket of the request. Offset policy: the
        exact count (``bucket_policies.cuh:347-350``)."""
        required = max(1, -(-capacity // self.bucket_size))
        if self.bucket_policy == "offset":
            return required
        if self.bucket_policy == "addsub":
            return required + (required & 1)
        return next_power_of_two(required)

    def theoretical_fpr(self, load_factor: float) -> float:
        """Published bound ε = 2·b·α / 2^f (reference prints this in
        ``src/main.cu:113-126``)."""
        return 2.0 * self.bucket_size * load_factor / float(1 << self.bits_per_tag)


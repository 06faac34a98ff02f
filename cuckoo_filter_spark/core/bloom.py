"""Bloom filter — from-scratch mergeable membership sketch.

The reference benchmarks its cuckoo filter against cuco's bloom
filter (``/root/reference/benchmark/fpr_benchmark.cu:28,133-180``,
``cuckoo_vs_bloom.cu``); north_star asks for a Bloom companion for
cross-checks. Double hashing (Kirsch-Mitzenmacher): the i-th probe
is ``h1 + i*h2 mod m``. Bit array packed in uint64 words; add and
contains are one xxhash64 batch each plus vectorized bit ops;
merge is bitwise OR (associative, commutative).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from cuckoo_filter_spark.core._codec import unpack_arrays, unpack_header
from cuckoo_filter_spark.hashing import xxhash64_u64

_S1, _S2 = 0x6C62272E, 0x2545F491
_HEADER = struct.Struct("<4sIQQ")
_MAGIC = b"BLMS"


class BloomFilter:
    __slots__ = ("num_bits", "num_hashes", "words", "n_added")

    def __init__(self, expected_items: int, fpp: float = 0.01):
        n = max(1, expected_items)
        m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        self.num_bits = max(64, (m + 63) // 64 * 64)
        self.num_hashes = max(1, round(self.num_bits / n * math.log(2)))
        self.words = np.zeros(self.num_bits // 64, dtype=np.uint64)
        self.n_added = 0

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        h1 = xxhash64_u64(keys, seed=_S1)
        h2 = xxhash64_u64(keys, seed=_S2) | np.uint64(1)  # odd → full cycle
        i = np.arange(self.num_hashes, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.num_bits)).astype(
                np.int64
            )

    def add_many(self, keys: np.ndarray) -> None:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        if len(keys) == 0:
            return
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(
            self.words, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64)
        )
        self.n_added += len(keys)

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)  # (k, n)
        bits = (self.words[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
        return (bits == 1).all(axis=0)

    def expected_fpp(self) -> float:
        """(1 - e^{-kn/m})^k with the actual fill."""
        frac_set = np.count_nonzero(
            np.unpackbits(self.words.view(np.uint8))
        ) / self.num_bits
        return float(frac_set ** self.num_hashes)

    def merge_in_place(self, other: "BloomFilter") -> "BloomFilter":
        if (self.num_bits, self.num_hashes) != (other.num_bits, other.num_hashes):
            raise ValueError("geometry mismatch")
        np.bitwise_or(self.words, other.words, out=self.words)
        self.n_added += other.n_added
        return self

    def to_bytes(self) -> bytes:
        return _HEADER.pack(
            _MAGIC, self.num_hashes, self.num_bits, self.n_added
        ) + self.words.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        k, m, n = unpack_header(_HEADER, _MAGIC, blob, "bloom")
        f = cls.__new__(cls)
        f.num_bits, f.num_hashes, f.n_added = m, k, n
        (f.words,) = unpack_arrays(
            blob, _HEADER.size, "bloom", (np.uint64, (m + 63) // 64)
        )
        return f

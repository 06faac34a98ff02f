"""Count-Min sketch — from-scratch mergeable frequency sketch.

Cormode & Muthukrishnan 2005. Covers the counting use-case the
reference benchmarks via the GQF/counting-quotient-filter
(``/root/reference/benchmark/fpr_benchmark.cu:294-348``). d rows of
w counters; update/estimate are one xxhash64 batch per row; merge
is element-wise add (associative, commutative). Guarantees
estimate >= true count, and estimate <= true + eps*N with
probability 1-delta, for eps = e/w, delta = e^-d.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from cuckoo_filter_spark.core._codec import unpack_arrays, unpack_header
from cuckoo_filter_spark.hashing import xxhash64_u64

_SEED_BASE = 0x7A3C9B15
_HEADER = struct.Struct("<4sIIQ")
_MAGIC = b"CMSS"


class CountMinSketch:
    __slots__ = ("depth", "width", "table", "total")

    def __init__(self, eps: float = 0.0001, confidence: float = 0.99):
        self.width = int(math.ceil(math.e / eps))
        self.depth = int(math.ceil(math.log(1.0 / (1 - confidence))))
        self.depth = max(1, self.depth)
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0

    @property
    def eps(self) -> float:
        return math.e / self.width

    def _rows(self, keys: np.ndarray) -> np.ndarray:
        return np.stack([
            (xxhash64_u64(keys, seed=_SEED_BASE + 1000003 * d)
             % np.uint64(self.width)).astype(np.int64)
            for d in range(self.depth)
        ])

    def add_many(self, keys: np.ndarray, counts: np.ndarray | None = None) -> None:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        if len(keys) == 0:
            return
        if counts is None:
            counts = np.ones(len(keys), dtype=np.int64)
        idx = self._rows(keys)
        for d in range(self.depth):
            # bincount beats np.add.at's buffered scatter ~10x here
            self.table[d] += np.bincount(
                idx[d], weights=counts, minlength=self.width
            ).astype(np.int64)
        self.total += int(counts.sum())

    def estimate_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        if len(keys) == 0:
            return np.zeros(0, dtype=np.int64)
        idx = self._rows(keys)
        ests = np.stack([self.table[d][idx[d]] for d in range(self.depth)])
        return ests.min(axis=0)

    def merge_in_place(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.depth, self.width) != (other.depth, other.width):
            raise ValueError("geometry mismatch")
        self.table += other.table
        self.total += other.total
        return self

    def to_bytes(self) -> bytes:
        return _HEADER.pack(
            _MAGIC, self.depth, self.width, self.total
        ) + self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountMinSketch":
        d, w, total = unpack_header(_HEADER, _MAGIC, blob, "CMS")
        s = cls.__new__(cls)
        s.depth, s.width, s.total = d, w, total
        (table,) = unpack_arrays(blob, _HEADER.size, "CMS", (np.int64, d * w))
        s.table = table.reshape(d, w)
        return s

"""HyperLogLog — from-scratch mergeable cardinality sketch.

Flajolet et al. 2007 / Heule et al. 2013 (HLL++ small-range
correction via linear counting). The reference library has no HLL;
it is required as a companion sketch for cardinality cross-checks
(BASELINE.json north_star/north_rule). Register updates are fully
vectorized (one xxhash64 batch + np.maximum.at); merge is
element-wise max, hence associative and commutative.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from cuckoo_filter_spark.core._codec import unpack_arrays, unpack_header
from cuckoo_filter_spark.hashing import xxhash64_u64

HLL_SEED = 0x1F0D3F77
_HEADER = struct.Struct("<4sBxxx")
_MAGIC = b"HLLS"


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _msb_position(x: np.ndarray) -> np.ndarray:
    """floor(log2(x)) per element for uint64 x>0 (branchless, exact —
    float log2 would mis-round near powers of two)."""
    r = np.zeros(len(x), dtype=np.int64)
    x = x.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= (np.uint64(1) << np.uint64(s))
        r[m] += s
        x[m] >>= np.uint64(s)
    return r


class HyperLogLog:
    """Dense HLL with 2^p uint8 registers."""

    __slots__ = ("p", "m", "registers")

    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.registers = np.zeros(self.m, dtype=np.uint8)

    def add_many(self, keys: np.ndarray) -> None:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        if len(keys) == 0:
            return
        h = xxhash64_u64(keys, seed=HLL_SEED)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)  # remaining 64-p bits, top-aligned
        # rho = leading zeros of w within 64-p bits, +1; w==0 → max
        rho = np.where(
            w == 0, 64 - self.p + 1, np.uint64(63) - _msb_position(w) + np.uint64(1)
        ).astype(np.uint8)
        np.maximum.at(self.registers, idx, rho)

    def estimate(self) -> float:
        m = self.m
        regs = self.registers
        est = _alpha(m) * m * m / np.sum(np.exp2(-regs.astype(np.float64)))
        if est <= 2.5 * m:
            zeros = int(np.count_nonzero(regs == 0))
            if zeros:
                return m * math.log(m / zeros)  # linear counting
        return float(est)

    @property
    def relative_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def merge_in_place(self, other: "HyperLogLog") -> "HyperLogLog":
        if self.p != other.p:
            raise ValueError("p mismatch")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, self.p) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HyperLogLog":
        (p,) = unpack_header(_HEADER, _MAGIC, blob, "HLL")
        h = cls(p)
        (h.registers,) = unpack_arrays(blob, _HEADER.size, "HLL", (np.uint8, h.m))
        return h

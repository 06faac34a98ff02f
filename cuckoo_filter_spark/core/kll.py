"""KLL — from-scratch mergeable rank/quantile sketch.

Karnin, Lang, Liberty, "Optimal quantile approximation in streams"
(FOCS 2016). Level h holds items each representing 2^h originals;
a full level is sorted and every other item (deterministic
counter-seeded coin) is promoted to level h+1. Level capacities
shrink geometrically (c = 2/3) from the top. Rank error is
O(1/k)·n with high probability. Merge concatenates level-wise then
re-compacts — associative in distribution; determinism for tests
comes from the counter-based coin. Required by north_rule; no
reference analog (Spark's percentile_approx plays the built-in
cross-check role).
"""

from __future__ import annotations

import struct

import numpy as np

from cuckoo_filter_spark.core._codec import unpack_arrays, unpack_header

_C = 2.0 / 3.0
#: magic, k, n, coin counter, level count, total stored items; then
#: the uint64 level lengths and the float64 items, level by level
_HEADER = struct.Struct("<4sQQQQQ")
_MAGIC = b"KLLS"


class KLLSketch:
    __slots__ = ("k", "levels", "n", "_coin_ctr")

    def __init__(self, k: int = 200):
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.zeros(0, dtype=np.float64)]
        self.n = 0
        self._coin_ctr = 0

    def _capacity(self, h: int) -> int:
        depth = len(self.levels)
        return max(2, int(np.ceil(self.k * _C ** (depth - 1 - h))))

    def _compact(self) -> None:
        h = 0
        while h < len(self.levels):
            if len(self.levels[h]) >= self._capacity(h):
                buf = np.sort(self.levels[h], kind="stable")
                # deterministic coin: parity of a counter-based hash
                self._coin_ctr += 1
                offset = int(
                    np.random.default_rng(self._coin_ctr * 2654435761 % 2**32)
                    .integers(0, 2)
                )
                promoted = buf[offset::2]
                self.levels[h] = np.zeros(0, dtype=np.float64)
                if h + 1 == len(self.levels):
                    self.levels.append(np.zeros(0, dtype=np.float64))
                self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])
            h += 1

    def add_many(self, values: np.ndarray) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return
        self.n += len(values)
        cap0 = self._capacity(0)
        for lo in range(0, len(values), cap0):
            self.levels[0] = np.concatenate([self.levels[0], values[lo:lo + cap0]])
            self._compact()

    def merge_in_place(self, other: "KLLSketch") -> "KLLSketch":
        if self.k != other.k:
            raise ValueError("k mismatch")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.zeros(0, dtype=np.float64))
        for h, buf in enumerate(other.levels):
            self.levels[h] = np.concatenate([self.levels[h], buf])
        self.n += other.n
        self._coin_ctr = max(self._coin_ctr, other._coin_ctr) + 1
        self._compact()
        return self

    def _weighted_items(self):
        vals, wts = [], []
        for h, buf in enumerate(self.levels):
            if len(buf):
                vals.append(buf)
                wts.append(np.full(len(buf), 1 << h, dtype=np.int64))
        if not vals:
            return np.zeros(0), np.zeros(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        v, w = self._weighted_items()
        if len(v) == 0:
            return float("nan")
        cum = np.cumsum(w)
        target = q * cum[-1]
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(v[min(idx, len(v) - 1)])

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def rank(self, x: float) -> float:
        """approximate fraction of items <= x"""
        v, w = self._weighted_items()
        if len(v) == 0:
            return float("nan")
        cum = np.cumsum(w)
        idx = int(np.searchsorted(v, x, side="right"))
        return float(cum[idx - 1] / cum[-1]) if idx else 0.0

    def to_bytes(self) -> bytes:
        lengths = np.array([len(b) for b in self.levels], dtype=np.uint64)
        return (
            _HEADER.pack(
                _MAGIC, self.k, self.n, self._coin_ctr, len(self.levels),
                int(lengths.sum()),
            )
            + lengths.tobytes()
            + np.concatenate(self.levels).tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KLLSketch":
        k, n, ctr, depth, items = unpack_header(_HEADER, _MAGIC, blob, "KLL")
        lengths, values = unpack_arrays(
            blob, _HEADER.size, "KLL", (np.uint64, depth), (np.float64, items)
        )
        if depth == 0 or int(lengths.sum()) != items:
            raise ValueError("bad KLL blob: level lengths do not sum to n")
        s = cls(k)
        s.n, s._coin_ctr = n, ctr
        s.levels = np.split(values, np.cumsum(lengths[:-1].astype(np.int64)))
        return s

"""t-digest — from-scratch mergeable quantile sketch.

Dunning & Ertl, "Computing extremely accurate quantiles using
t-digests" (2019). This is the k1-scale *clustering* formulation:
after sorting, points are grouped into centroids by integer bins of
the scale function k1(q) = (δ/2π)·asin(2q−1), which bounds every
centroid to ≈1 k-unit and yields the classic O(q(1−q)/δ) quantile
error with tight tails. Fully vectorized (sort + cumsum + bin);
merge = concatenate centroids and re-cluster, which is associative
up to re-clustering (estimates agree within the sketch's own error
bound regardless of merge order — the property tests assert this).
Required by north_rule as a companion sketch; no reference analog.
"""

from __future__ import annotations

import struct

import numpy as np

from cuckoo_filter_spark.core._codec import unpack_arrays, unpack_header

_HEADER = struct.Struct("<4sdQd")
_MAGIC = b"TDGS"


class TDigest:
    __slots__ = ("delta", "means", "weights", "_min", "_max")

    def __init__(self, delta: float = 200.0):
        self.delta = float(delta)
        self.means = np.zeros(0, dtype=np.float64)
        self.weights = np.zeros(0, dtype=np.float64)
        self._min = np.inf
        self._max = -np.inf

    @property
    def total_weight(self) -> float:
        return float(self.weights.sum())

    def _cluster(self, means: np.ndarray, weights: np.ndarray) -> None:
        order = np.argsort(means, kind="stable")
        m, w = means[order], weights[order]
        W = w.sum()
        if W <= 0:
            return
        # midpoint quantile of each item
        q = (np.cumsum(w) - 0.5 * w) / W
        q = np.clip(q, 1e-12, 1 - 1e-12)
        k = (self.delta / (2 * np.pi)) * np.arcsin(2 * q - 1)
        bins = np.floor(k).astype(np.int64)
        # group consecutive equal bins (k is monotone in q)
        new_run = np.empty(len(bins), dtype=bool)
        new_run[0] = True
        np.not_equal(bins[1:], bins[:-1], out=new_run[1:])
        gid = np.cumsum(new_run) - 1
        n_groups = int(gid[-1]) + 1
        gw = np.bincount(gid, weights=w, minlength=n_groups)
        gm = np.bincount(gid, weights=w * m, minlength=n_groups) / gw
        self.means, self.weights = gm, gw

    def add_many(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if len(values) == 0:
            return
        if weights is None:
            weights = np.ones(len(values), dtype=np.float64)
        self._min = min(self._min, float(values.min()))
        self._max = max(self._max, float(values.max()))
        self._cluster(
            np.concatenate([self.means, values]),
            np.concatenate([self.weights, weights]),
        )

    def merge_in_place(self, other: "TDigest") -> "TDigest":
        if self.delta != other.delta:
            raise ValueError("delta mismatch")
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        self._cluster(
            np.concatenate([self.means, other.means]),
            np.concatenate([self.weights, other.weights]),
        )
        return self

    def quantile(self, q: float) -> float:
        if len(self.means) == 0:
            return float("nan")
        if q <= 0:
            return self._min
        if q >= 1:
            return self._max
        W = self.weights.sum()
        cum = np.cumsum(self.weights) - 0.5 * self.weights
        target = q * W
        # interpolate between centroid midpoints, clamped to observed range
        x = np.interp(target, cum, self.means)
        return float(np.clip(x, self._min, self._max))

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def cdf(self, x: float) -> float:
        if len(self.means) == 0:
            return float("nan")
        W = self.weights.sum()
        cum = np.cumsum(self.weights) - 0.5 * self.weights
        return float(np.interp(x, self.means, cum / W, left=0.0, right=1.0))

    def to_bytes(self) -> bytes:
        hdr = _HEADER.pack(_MAGIC, self.delta, len(self.means), 0.0)
        return (
            hdr
            + np.array([self._min, self._max]).tobytes()
            + self.means.tobytes()
            + self.weights.tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "TDigest":
        delta, n, _ = unpack_header(_HEADER, _MAGIC, blob, "tdigest")
        t = cls(delta)
        mm, t.means, t.weights = unpack_arrays(
            blob, _HEADER.size, "tdigest",
            (np.float64, 2), (np.float64, n), (np.float64, n),
        )
        t._min, t._max = float(mm[0]), float(mm[1])
        return t

"""Misra-Gries heavy-hitters summary — from-scratch mergeable
frequency-candidate sketch.

Misra & Gries 1982, in the batch/mergeable formulation of Agarwal,
Cormode, Huang, Phillips, Wei & Yi, "Mergeable Summaries" (PODS
2012): keep at most ``capacity`` (key, counter) pairs; when a batch
pushes the table over capacity, subtract the (capacity+1)-th largest
counter from EVERY counter and drop the non-positives — equivalent
to that many rounds of the classic one-at-a-time decrement, and the
same operation makes two summaries mergeable (concatenate, sum, one
batch decrement) without weakening the bound.

Guarantees (n = total weight seen, k = capacity):

* ``estimate(x) <= true_count(x)`` (never overcounts);
* ``true_count(x) - estimate(x) <= shed <= n / (k + 1)`` — every
  batch decrement of ``d`` removes at least ``(k+1) * d`` weight, so
  the cumulative decrement ``shed`` (tracked exactly) is a tighter,
  instance-specific error bound than ``n/(k+1)``;
* every x with ``true_count(x) > shed`` is IN the table — the
  candidate-completeness property the two-pass exact heavy-hitters
  operator builds on (no phi-heavy item can be missed for
  ``k >= 1/phi``).

State is two parallel sorted numpy arrays; ``add_many`` and
``merge_in_place`` are one sort + ``reduceat`` group-sum per call —
no per-item Python. Serialization mirrors the other sketches
(``to_bytes``/``from_bytes`` with a magic/version header) so
``aggregate_sketch`` / ``grouped_sketch_partial`` work unchanged.
"""

from __future__ import annotations

import struct

import numpy as np

from cuckoo_filter_spark.core._codec import unpack_arrays, unpack_header

_HEADER = struct.Struct("<4sQQQQ")
_MAGIC = b"MGS1"


class MisraGries:
    __slots__ = ("capacity", "keys", "counts", "total", "shed")

    def __init__(self, capacity: int = 256):
        if capacity < 1:
            raise ValueError("capacity must be >= 1")
        self.capacity = int(capacity)
        self.keys = np.empty(0, dtype=np.uint64)
        self.counts = np.empty(0, dtype=np.int64)
        self.total = 0   # total weight seen
        self.shed = 0    # cumulative decrement == max undercount

    def _combine(self, keys: np.ndarray, counts: np.ndarray) -> None:
        allk = np.concatenate([self.keys, keys])
        allc = np.concatenate([self.counts, counts])
        if len(allk) == 0:  # merging empty summaries (empty partition)
            return
        order = np.argsort(allk, kind="stable")
        sk, sc = allk[order], allc[order]
        bounds = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
        sums = np.add.reduceat(sc, bounds)
        uk = sk[bounds]
        if len(uk) > self.capacity:
            cut = len(sums) - self.capacity - 1
            d = np.partition(sums, cut)[cut]  # (capacity+1)-th largest
            sums = sums - d
            keep = sums > 0
            uk, sums = uk[keep], sums[keep]
            self.shed += int(d)
        self.keys, self.counts = uk, sums

    def add_many(
        self, keys: np.ndarray, counts: np.ndarray | None = None
    ) -> None:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        if len(keys) == 0:
            return
        if counts is None:
            uk, uc = np.unique(keys, return_counts=True)
            uc = uc.astype(np.int64)
        else:
            counts = np.ascontiguousarray(counts, dtype=np.int64)
            order = np.argsort(keys, kind="stable")
            sk, sc = keys[order], counts[order]
            bounds = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
            uk, uc = sk[bounds], np.add.reduceat(sc, bounds)
        self.total += int(uc.sum())
        self._combine(uk, uc)

    def estimate_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        pos = np.searchsorted(self.keys, keys)
        pos = np.clip(pos, 0, max(len(self.keys) - 1, 0))
        out = np.zeros(len(keys), dtype=np.int64)
        if len(self.keys):
            hit = self.keys[pos] == keys
            out[hit] = self.counts[pos[hit]]
        return out

    def candidates(self) -> tuple[np.ndarray, np.ndarray]:
        """(keys, lower-bound counts) of every surviving candidate —
        a superset of all items with true count > ``shed``."""
        return self.keys.copy(), self.counts.copy()

    @property
    def error_bound(self) -> int:
        """Exact max undercount (≤ total // (capacity + 1))."""
        return self.shed

    def merge_in_place(self, other: "MisraGries") -> "MisraGries":
        if self.capacity != other.capacity:
            raise ValueError("capacity mismatch")
        self.total += other.total
        self.shed += other.shed
        self._combine(other.keys, other.counts)
        return self

    def to_bytes(self) -> bytes:
        return (
            _HEADER.pack(
                _MAGIC, self.capacity, len(self.keys), self.total, self.shed
            )
            + self.keys.tobytes()
            + self.counts.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "MisraGries":
        cap, n, total, shed = unpack_header(_HEADER, _MAGIC, data, "MisraGries")
        sk = cls(cap)
        sk.keys, sk.counts = unpack_arrays(
            data, _HEADER.size, "MisraGries", (np.uint64, n), (np.int64, n)
        )
        sk.total = total
        sk.shed = shed
        return sk

"""Offset alt-bucket cuckoo filter (choice-bit fingerprints).

From-scratch numpy implementation of the reference's
``OffsetAltBucketPolicy`` (``bucket_policies.cuh:190-351``, after
"Smaller and More Flexible Cuckoo Filters"): the bucket count is
EXACT (``ceil(capacity / bucket_size)`` — no power-of-two rounding,
``bucket_policies.cuh:347-350``), the alternate bucket is
``(b + offset(pureFp)) % nb`` going forward and
``(b - offset) % nb`` going back, and the direction is recorded in
the fingerprint's MSB choice bit (``bucket_policies.cuh:199-205``):

* stored tag = pure fingerprint (f-1 bits, non-zero) | choice << (f-1)
* relocating a tag to its alternate bucket FLIPS the choice bit
  (``bucket_policies.cuh:296-318``) — the stored fingerprint
  changes across buckets, which is what buys exact (asymmetric)
  addressing without pow2 constraints.

This is a correctness-parity class — the per-shard kernel of
``ShardedCuckooFilter`` and ``stream_apply_ops`` under
``CuckooConfig(bucket_policy="offset")``, but not the hot path; the
XOR policy filter in ``core/cuckoo.py`` is the scale path. Hashing
uses the library's chained family, not the reference's exact bit
layout.
"""

from __future__ import annotations

import struct

import numpy as np

from cuckoo_filter_spark.config import DISP_SALT, FP_SALT
from cuckoo_filter_spark.core.cuckoo import probe_rows
from cuckoo_filter_spark.hashing import chained_hash

_MAGIC = b"OCKF"
#: magic, version, bits_per_tag, bucket_size, pad, num_buckets,
#: capacity, occupied, kicks, failures, max_kicks
_HEADER = struct.Struct("<4sBBH8xQQQQQQ")


class OffsetCuckooFilter:
    """Deletable cuckoo filter with offset addressing + choice bit."""

    CHUNK = 32768

    def __init__(
        self,
        capacity: int,
        bits_per_tag: int = 16,
        bucket_size: int = 4,
        max_kicks: int = 500,
    ):
        if bits_per_tag < 2:
            raise ValueError("bits_per_tag must be >= 2 for the choice bit")
        if bits_per_tag > 16:
            # the eager 2^(f-1)-entry offset table would be gigabytes
            # at f=32; wide tags belong to the XOR/addsub policies
            raise ValueError("OffsetCuckooFilter supports bits_per_tag <= 16")
        if not 1 <= bucket_size <= 64:
            # int8 fill vector (and parity with CuckooConfig's cap)
            raise ValueError("bucket_size must be in [1, 64]")
        self.bits_per_tag = bits_per_tag
        self.bucket_size = bucket_size
        self.max_kicks = max_kicks
        # exact bucket count — the point of this policy
        self.num_buckets = max(1, -(-int(capacity) // bucket_size))
        self.capacity = int(capacity)
        dtype = (
            np.uint8 if bits_per_tag <= 8
            else np.uint16 if bits_per_tag <= 16
            else np.uint32
        )
        self.buckets = np.zeros((self.num_buckets, bucket_size), dtype=dtype)
        self.fill = np.zeros(self.num_buckets, dtype=np.int8)
        self.occupied = 0
        self.kicks = 0
        self.failures = 0
        self._choice_bit = 1 << (bits_per_tag - 1)
        self._pure_mask = self._choice_bit - 1
        # offset table over pure fingerprints (f-1 bits)
        pures = np.arange(self._choice_bit, dtype=np.uint64)
        off = (chained_hash(pures, DISP_SALT) % np.uint64(self.num_buckets)
               ).astype(np.int64)
        off[off == 0] = 1  # non-zero offset (bucket_policies.cuh:249-252)
        self._offsets = off

    # -- addressing -----------------------------------------------------

    def candidates_from_hash(self, h: np.ndarray):
        """(i1, i2, tag in i1, tag in i2) from the chained hash
        ``h = chained_hash(key, FP_SALT)``
        (``bucket_policies.cuh:266-287``): the primary bucket holds the
        pure fingerprint (choice bit 0), the alternate one
        ``pure | choice bit``."""
        pure = ((h >> np.uint64(32)) & np.uint64(self._pure_mask)).astype(
            np.int64
        )
        pure[pure == 0] = 1
        i1 = ((h & np.uint64(0xFFFFFFFF)) % np.uint64(self.num_buckets)
              ).astype(np.int64)
        i2 = (i1 + self._offsets[pure]) % self.num_buckets
        t1 = pure.astype(self.buckets.dtype)
        return i1, i2, t1, t1 | self.buckets.dtype.type(self._choice_bit)

    def _candidates(self, keys: np.ndarray):
        """:meth:`candidates_from_hash` of each uint64 key."""
        return self.candidates_from_hash(
            chained_hash(np.ascontiguousarray(keys, dtype=np.uint64), FP_SALT)
        )

    def alternate(self, bucket: int, tag: int) -> tuple[int, int]:
        """(alt_bucket, new_tag) with the choice bit flipped
        (``bucket_policies.cuh:296-345``)."""
        pure = tag & self._pure_mask
        choice = tag >> (self.bits_per_tag - 1)
        off = int(self._offsets[pure])
        if choice == 0:
            alt = (bucket + off) % self.num_buckets
        else:
            alt = (bucket + self.num_buckets - off) % self.num_buckets
        return alt, pure | ((1 - choice) << (self.bits_per_tag - 1))

    # -- placement helpers ----------------------------------------------

    def _place(self, bucket_idx: np.ndarray, tags: np.ndarray) -> np.ndarray:
        """First-empty-slot placement with intra-batch conflict
        ranking (sorted-run variant)."""
        n = len(bucket_idx)
        if n == 0:
            return np.zeros(0, dtype=bool)
        order = np.argsort(bucket_idx, kind="stable")
        sb = bucket_idx[order]
        new_run = np.empty(n, dtype=bool)
        new_run[0] = True
        np.not_equal(sb[1:], sb[:-1], out=new_run[1:])
        run_id = np.cumsum(new_run) - 1
        run_start = np.flatnonzero(new_run)
        rank = np.arange(n) - run_start[run_id]
        rb = sb[run_start]
        fill_run = self.fill[rb].astype(np.int64)
        avail_run = self.bucket_size - fill_run
        ok = rank < avail_run[run_id]
        self.buckets[sb[ok], (fill_run[run_id] + rank)[ok]] = tags[order][ok]
        run_len = np.diff(np.append(run_start, n))
        self.fill[rb] += np.minimum(run_len, avail_run).astype(np.int8)
        success = np.zeros(n, dtype=bool)
        success[order[ok]] = True
        return success

    def _kick_chain(self, bucket: int, tag: int) -> bool:
        """Scalar DFS chain; every hop flips the victim's choice bit
        (``CuckooFilter.cuh:917-954`` + offset-policy fp update)."""
        b = self.bucket_size
        for k in range(self.max_kicks):
            f = int(self.fill[bucket])
            if f < b:
                self.buckets[bucket, f] = tag
                self.fill[bucket] = f + 1
                return True
            slot = (tag + k * 7) % b
            victim = int(self.buckets[bucket, slot])
            self.buckets[bucket, slot] = tag
            self.kicks += 1
            bucket, tag = self.alternate(bucket, victim)
        self.failures += 1
        return False

    # -- operations ------------------------------------------------------

    def insert_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        n = len(keys)
        success = np.zeros(n, dtype=bool)
        for lo in range(0, n, self.CHUNK):
            hi = min(lo + self.CHUNK, n)
            i1, i2, t1, t2 = self._candidates(keys[lo:hi])
            s = self._place(i1, t1)
            rem = np.flatnonzero(~s)
            if rem.size:
                s2 = self._place(i2[rem], t2[rem])
                s[rem[s2]] = True
                for j in rem[~s2]:
                    # stuck: evict from the alternate bucket with the
                    # choice=1 tag (start of the DFS chain)
                    if self._kick_chain(int(i2[j]), int(t2[j])):
                        s[j] = True
            success[lo:hi] = s
        self.occupied += int(success.sum())
        return success

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        n = len(keys)
        out = np.empty(n, dtype=bool)
        for lo in range(0, n, self.CHUNK):
            hi = min(lo + self.CHUNK, n)
            probe_rows(
                self.buckets, *self._candidates(keys[lo:hi]), out=out[lo:hi]
            )
        return out

    def delete_many(self, keys: np.ndarray) -> np.ndarray:
        """Multiset delete: remove one stored instance per success
        (scalar per-key for parity-grade simplicity)."""
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        n = len(keys)
        out = np.zeros(n, dtype=bool)
        i1a, i2a, t1a, t2a = self._candidates(keys)
        for j in range(n):
            for bucket, tag in (
                (int(i1a[j]), int(t1a[j])), (int(i2a[j]), int(t2a[j])),
            ):
                f = int(self.fill[bucket])
                row = self.buckets[bucket]
                hits = np.flatnonzero(row[:f] == tag)
                if hits.size:
                    row[hits[0]] = row[f - 1]
                    row[f - 1] = 0
                    self.fill[bucket] = f - 1
                    out[j] = True
                    break
        self.occupied -= int(out.sum())
        return out

    def load_factor(self) -> float:
        return self.occupied / float(self.num_buckets * self.bucket_size)

    # -- serialization (shard blob for the distributed path) -------------

    BLOB_VERSION = 2  # kept in lockstep with CuckooFilter.BLOB_VERSION
    #: every blob starts with a fixed-size header
    HEADER_BYTES = _HEADER.size

    @staticmethod
    def blob_num_buckets(header: bytes) -> int:
        """Bucket count of a blob, read from its first
        :attr:`HEADER_BYTES` alone."""
        return _HEADER.unpack_from(header)[4]

    def to_bytes(self) -> bytes:
        hdr = _HEADER.pack(
            _MAGIC, self.BLOB_VERSION, self.bits_per_tag, self.bucket_size,
            self.num_buckets, self.capacity, self.occupied, self.kicks,
            self.failures, self.max_kicks,
        )
        return hdr + self.buckets.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "OffsetCuckooFilter":
        if len(blob) < _HEADER.size:
            raise ValueError(
                f"offset blob of {len(blob)} bytes is shorter than its "
                f"{_HEADER.size}-byte header"
            )
        magic, ver, f, b, nb, cap, occ, kicks, fails, maxk = (
            _HEADER.unpack_from(blob)
        )
        if magic != _MAGIC:
            raise ValueError("bad offset cuckoo filter blob")
        if ver != cls.BLOB_VERSION:
            raise ValueError(
                f"offset blob version {ver} not supported "
                f"(expected {cls.BLOB_VERSION})"
            )
        flt = cls(cap, bits_per_tag=f, bucket_size=b, max_kicks=maxk)
        if flt.num_buckets != nb:
            raise ValueError(
                f"offset blob records {nb} buckets, its capacity "
                f"{cap} gives {flt.num_buckets}"
            )
        tags = np.frombuffer(
            blob, dtype=flt.buckets.dtype, offset=_HEADER.size
        )
        if len(tags) != nb * b:
            raise ValueError(
                f"offset blob holds {len(tags)} tags, expected {nb * b}"
            )
        flt.buckets = tags.reshape(nb, b).copy()
        # prefix-fill invariant holds (insert fills first-empty,
        # delete compacts) and stored tags are never zero
        flt.fill = np.count_nonzero(flt.buckets, axis=1).astype(np.int8)
        flt.occupied, flt.kicks, flt.failures = occ, kicks, fails
        return flt

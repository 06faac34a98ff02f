"""Vectorized single-node cuckoo filter (the per-partition kernel).

A from-scratch numpy implementation of a partial-key cuckoo filter
(Fan et al., "Cuckoo Filter: Practically Better Than Bloom", 2014)
with batch insert / contains / delete and a bucket-wise merge — the
same capability surface as the reference GPU kernels:

* batch insert w/ eviction chains — ``CuckooFilter.cuh:457-464,
  859-954,1029-1141`` (insertMany / tryInsertAtBucket /
  insertWithEvictionDFS / insert kernel)
* batch contains — ``CuckooFilter.cuh:518-523,1088-1098,1143-1155``
* batch delete (multiset semantics) — ``CuckooFilter.cuh:536-548,
  805-848,1106-1116,1157-1183``
* bucket policies as a strategy of one kernel, as the reference's
  one ``CuckooFilter`` template takes ``AltBucketPolicy`` as a
  parameter: XOR (fp from upper hash bits, i1 from lower,
  i2 = i1 ^ (h(fp) & mask)) — ``bucket_policies.cuh:14-84``; AddSub
  (two blocks, add/sub displacement) — ``:96-182``; Offset (exact
  bucket count, choice-bit fingerprint flipped on relocation) —
  ``:190-351``
* merge (union of same-geometry filters by re-inserting every
  stored fingerprint at its bucket or alt bucket) — generalizes the
  reference's disjoint multi-GPU union
  (``CuckooFilterMultiGPU.cuh:335-363,558-565``) into an
  associative-for-membership combine usable in tree reduction.

Design differences from the reference, deliberate and Spark-first:

* One writer per filter (a Spark partition), so the word-packed
  SWAR + CAS machinery (``CuckooFilter.cuh:224-346``,
  ``helpers.cuh:78-151``) is replaced by numpy array ops — numpy's
  vectorization over an (n, bucket_size) gather IS our SWAR.
* Buckets keep a "prefix-filled" invariant (occupied slots first,
  holes compacted on delete). Membership semantics only depend on
  the multiset of tags per bucket, so this is observationally
  identical to the reference's tag-dependent slot placement while
  making the batch-insert fully vectorizable.
* Metrics (inserts, kicks, failures) are always on — they feed the
  per-partition lineage the checkpoint layer records (the reference
  gates this behind ``CUCKOO_FILTER_COUNT_EVICTIONS``,
  ``CuckooFilter.cuh:706-726``).
"""

from __future__ import annotations

import struct
from typing import Tuple

import numpy as np

from cuckoo_filter_spark.config import DISP_SALT, EMPTY, FP_SALT, CuckooConfig
from cuckoo_filter_spark.hashing import chained_hash

_MAGIC = b"CKFS"
#: magic, version, bits_per_tag, bucket_size, eviction policy,
#: bucket policy, pad, num_buckets, capacity, occupied, kicks,
#: failures, inserts
_HEADER = struct.Struct("<4sBBHBB6xQQQQQQ")
_POLICIES = ("dfs", "bfs")
_BUCKET_POLICIES = ("xor", "addsub", "offset")


def swar_params(bits_per_tag: int, bucket_size: int):
    """(words_per_bucket, lane_low_ones, lane_high_bits) when a
    bucket row is an integer number of 64-bit words; None otherwise.
    Mirrors the reference's SWAR word layout (``helpers.cuh:78-151``)."""
    if (bucket_size * bits_per_tag) % 64 != 0:
        return None
    f = bits_per_tag
    lanes = 64 // f
    low = np.uint64(sum(1 << (f * i) for i in range(lanes)))
    high = np.uint64(sum(1 << (f * i + f - 1) for i in range(lanes)))
    return (bucket_size * f) // 64, low, high


def probe_rows(
    buckets: np.ndarray, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray,
    t2: np.ndarray, out: np.ndarray | None = None,
) -> np.ndarray:
    """Membership of tag ``t1[j]`` in row ``i1[j]`` or of ``t2[j]`` in
    row ``i2[j]`` of a (N, bucket_size) tag array — SWAR zero-in-word
    bithack (``CuckooFilter.cuh:290-346``) over lanes of the array's
    dtype when the row is word-aligned, equality broadcast otherwise.
    Shared by ``contains_many`` and the stacked broadcast probe."""
    res = out if out is not None else np.empty(len(t1), dtype=bool)
    sw = swar_params(8 * buckets.dtype.itemsize, buckets.shape[1])
    if sw:
        wpb, low, high = sw
        words = buckets.view(np.uint64).reshape(len(buckets), wpb)
        rep1 = t1.astype(np.uint64) * low
        rep2 = rep1 if t2 is t1 else t2.astype(np.uint64) * low
        hit = None
        with np.errstate(over="ignore"):
            for idx, rep in ((i1, rep1), (i2, rep2)):
                for j in range(wpb):
                    x = words[idx, j] ^ rep
                    h = ((x - low) & ~x & high) != 0
                    hit = h if hit is None else (hit | h)
        res[:] = hit
    else:
        np.logical_or(
            (buckets[i1] == t1[:, None]).any(axis=1),
            (buckets[i2] == t2[:, None]).any(axis=1),
            out=res,
        )
    return res


class CuckooFilter:
    """A deletable, mergeable membership sketch over uint64 keys."""

    __slots__ = (
        "config", "capacity", "num_buckets", "_mask",
        "buckets", "fill", "occupied", "kicks", "failures", "inserts",
        "_alt_tab", "_claim", "_win_scratch",
    )

    #: hot-path chunk size — keeps per-chunk temporaries L2-resident
    #: so random filter-array access (latency-bound, parallelizes) is
    #: the only DRAM traffic; streaming full-batch temporaries
    #: saturate the memory bus and kill multi-core scaling.
    CHUNK = 65536

    #: remap a zero displacement to 1 under every bucket policy, so
    #: each tag's two candidate buckets differ (Offset always does)
    REMAP_ZERO_DISPLACEMENT = False

    def __init__(self, capacity: int, config: CuckooConfig | None = None):
        cfg = config or CuckooConfig()
        self._set_geometry(cfg, capacity, cfg.num_buckets_for(capacity))
        self.buckets = np.zeros(
            (self.num_buckets, cfg.bucket_size), dtype=cfg.tag_dtype
        )
        # bucket_size <= 127 always, so one byte per bucket keeps the
        # fill vector 8x smaller in cache than int64
        self.fill = np.zeros(self.num_buckets, dtype=np.int8)
        self.occupied = 0   # occupancy counter (CuckooFilter.cuh:349-357)
        self.kicks = 0      # eviction count metric
        self.failures = 0   # inserts dropped after max_kicks
        self.inserts = 0    # attempted inserts

    def _set_geometry(
        self, config: CuckooConfig, capacity: int, num_buckets: int
    ) -> None:
        """Config, capacity, bucket count and empty lazy caches — shared
        by ``__init__`` and :meth:`from_bytes`, before any table is
        allocated. i1 takes the low 32 hash bits, so past 2^32 buckets
        the rest would never be primaries (AddSub, Offset) or i1 would
        correlate with the fingerprint (XOR): refused."""
        if num_buckets > 1 << 32:
            raise ValueError(f"{num_buckets} buckets exceed 2^32")
        self.config = config
        self.capacity = int(capacity)
        self.num_buckets = num_buckets
        self._mask = np.uint64(num_buckets - 1)
        self._alt_tab = None  # lazy per-tag displacement table (f<=16)
        self._claim = None    # lazy per-bucket claim scratch (insert)
        self._win_scratch = None  # lazy per-bucket winner scratch (delete)

    # ------------------------------------------------------------------
    # addressing (bucket_policies.cuh:14-351)
    # ------------------------------------------------------------------

    def _displacement_of(self, tags: np.ndarray) -> np.ndarray:
        """Alt-bucket displacement per stored tag, from the chained
        JVM-parity hash family (``hashing.chained_hash``): XOR
        ``h(fp) & mask``, AddSub ``h(fp) % (nb/2)``, Offset
        ``h(pure fp) % nb`` (the choice bit is not hashed,
        ``bucket_policies.cuh:249-252``). A zero displacement is
        remapped to 1 under Offset and when the class sets
        :attr:`REMAP_ZERO_DISPLACEMENT`."""
        tags = np.asarray(tags).astype(np.uint64)
        policy = self.config.bucket_policy
        if policy == "offset":
            pure = tags & np.uint64(self.config.tag_mask >> 1)
            d = chained_hash(pure, DISP_SALT) % np.uint64(self.num_buckets)
        elif policy == "xor":
            d = chained_hash(tags, DISP_SALT) & self._mask
        else:
            bpb = np.uint64(self.num_buckets // 2)
            d = chained_hash(tags, DISP_SALT) % bpb
        if policy == "offset" or self.REMAP_ZERO_DISPLACEMENT:
            d[d == 0] = 1
        return d.astype(self._index_dtype)

    def _displacement(self, tags: np.ndarray) -> np.ndarray:
        """:meth:`_displacement_of` via a precomputed 2^f-entry gather
        table when f <= 16 — the table is L2-resident (<=256 KB) and
        replaces a full avalanche hash per probe/insert/delete."""
        if self.config.bits_per_tag <= 16:
            if self._alt_tab is None:
                self._alt_tab = self._displacement_of(
                    np.arange(1 << self.config.bits_per_tag, dtype=np.uint64)
                )
            return self._alt_tab[tags.astype(np.int64)]
        return self._displacement_of(tags)

    def candidates_from_hash(self, h: np.ndarray):
        """(i1, i2, tag in i1, tag in i2) from the chained hash
        ``h = chained_hash(key, FP_SALT)``.

        XOR and AddSub store one tag in either bucket: fp =
        upper-32-bits & tag_mask, 0 remapped to 1
        (bucket_policies.cuh:49-53); XOR i1 = lower-32-bits & mask
        (:56-58), AddSub i1 = lower-32-bits % (nb/2), block 0
        (:126-143). Offset masks fp to f-1 bits (choice bit 0) and takes
        i1 = lower-32-bits % nb (:266-287). (i2, tag in i2) is
        :meth:`relocate` of (i1, fp)."""
        cfg = self.config
        offset = cfg.bucket_policy == "offset"
        fp_mask = (cfg.tag_mask >> 1) if offset else cfg.tag_mask
        fp = ((h >> np.uint64(32)) & np.uint64(fp_mask)).astype(cfg.tag_dtype)
        fp[fp == EMPTY] = 1
        idt = self._index_dtype
        if cfg.bucket_policy == "xor":
            i1 = (h & self._mask).astype(idt)
        else:
            nb = self.num_buckets if offset else self.num_buckets // 2
            i1 = ((h & np.uint64(0xFFFFFFFF)) % np.uint64(nb)).astype(idt)
        i2, t2 = self.relocate(i1, fp)
        return i1, i2, fp, t2

    def candidates(self, keys: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(i1, i2, tag in i1) for each uint64 key
        (:meth:`candidates_from_hash`)."""
        i1, i2, fp, _ = self.candidates_from_hash(chained_hash(keys, FP_SALT))
        return i1, i2, fp

    @property
    def _index_dtype(self):
        """int32 bucket indices while they fit — halves the sort and
        gather traffic in the hot paths. Offset's forward move
        ``i + d`` reaches ``2·nb`` before its modulo."""
        span = self.num_buckets
        if self.config.bucket_policy == "offset":
            span *= 2
        return np.int32 if span <= (1 << 31) else np.int64

    def relocate(self, idx: np.ndarray, tag: np.ndarray):
        """(other bucket, tag stored there) for a tag stored in bucket
        ``idx``. XOR: i ^ (h(fp) & mask) — self-inverse
        (bucket_policies.cuh:71-74). AddSub: block 0 adds h(fp) % (nb/2)
        and moves to block 1, block 1 subtracts and moves back — also
        an involution (:156-166). Both keep the tag (the same object).
        Offset: choice bit 0 moves forward by the pure fingerprint's
        offset mod nb, choice bit 1 back, and the choice bit flips
        (:296-345) — an involution on (bucket, tag) pairs."""
        idx = np.asarray(idx)
        if idx.dtype.kind != "i":
            idx = idx.astype(self._index_dtype)
        d = self._displacement(np.asarray(tag))
        policy = self.config.bucket_policy
        if policy == "xor":
            return idx ^ d, tag
        if policy == "addsub":
            bpb = self.num_buckets // 2
            return np.where(
                idx < bpb, ((idx + d) % bpb) + bpb, (idx - d) % bpb
            ), tag
        choice = tag.dtype.type(1 << (self.config.bits_per_tag - 1))
        back = (tag & choice) != 0
        other = np.where(back, idx - d, idx + d) % self.num_buckets
        return other, tag ^ choice

    # ------------------------------------------------------------------
    # insert
    # ------------------------------------------------------------------

    def _place_batch(
        self, bucket_idx: np.ndarray, fp: np.ndarray
    ) -> np.ndarray:
        """Vectorized first-empty-slot placement of fp[j] into
        bucket_idx[j] for as many entries as fit; returns success
        mask. Intra-batch conflicts (several keys targeting one
        bucket) are resolved by ranking within the bucket group —
        the serial-equivalent of the reference's per-slot CAS race
        (``CuckooFilter.cuh:859-904``).
        """
        n = len(bucket_idx)
        if n == 0:
            return np.zeros(0, dtype=bool)
        b = self.config.bucket_size
        if self._claim is None:
            self._claim = np.empty(self.num_buckets, dtype=np.int64)
        claim = self._claim
        success = np.zeros(n, dtype=bool)
        pending = np.arange(n)
        # claim-scatter: each pass, every pending key scatters its
        # index into claim[bucket] (last writer wins — the serial
        # analog of the reference's CAS race) and winners take the
        # bucket's next free slot; keys whose bucket is already full
        # fail immediately (inserts never free slots). At most
        # bucket_size passes; cheaper than any sort-based grouping.
        for _ in range(b):
            if not pending.size:
                break
            pb = bucket_idx[pending]
            open_ = self.fill[pb] < b
            pending = pending[open_]
            if not pending.size:
                break
            pb = pb[open_]
            idxs = np.arange(len(pending))
            claim[pb] = idxs
            winpos = claim[pb] == idxs
            wins = pending[winpos]
            wb = pb[winpos]                 # unique buckets
            f = self.fill[wb].astype(np.intp)
            self.buckets[wb, f] = fp[wins]
            self.fill[wb] += 1
            success[wins] = True
            pending = pending[~winpos]
        return success

    def _bfs_relocate(self, cur: np.ndarray, tags: np.ndarray) -> np.ndarray:
        """One vectorized BFS lookahead pass (``CuckooFilter.cuh:
        967-1018``): among the first min(8, b/2) victims of each full
        bucket, move the first whose own alternate bucket has room,
        then claim its slot. Returns per-key placed mask; the rest
        fall back to the DFS chain, as in the reference."""
        b = self.config.bucket_size
        c = min(8, max(1, b // 2))
        n = len(cur)
        placed = np.zeros(n, dtype=bool)
        vict = self.buckets[cur[:, None], np.arange(c)[None, :]]  # (n, c)
        valt, vtag = self.relocate(np.repeat(cur, c), vict.ravel())
        valt, vtag = valt.reshape(n, c), vtag.reshape(n, c)
        room = self.fill[valt] < b
        has = room.any(axis=1)
        idx = np.flatnonzero(has)
        if not idx.size:
            return placed
        choice = room.argmax(axis=1)[idx]
        # serialize same-bucket evictors: claim-scatter race (losers
        # fall back to the DFS chain, as in the reference)
        if self._claim is None:
            self._claim = np.empty(self.num_buckets, dtype=np.int64)
        claim = self._claim
        cb = cur[idx]
        seq = np.arange(len(cb))
        claim[cb] = seq
        win = claim[cb] == seq
        act, aslot = idx[win], choice[win]
        ok = self._place_batch(valt[act, aslot], vtag[act, aslot])
        moved = act[ok]
        self.buckets[cur[moved], aslot[ok]] = tags[moved]
        placed[moved] = True
        self.kicks += int(len(moved))
        return placed

    def _kick_insert_batch(
        self, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray, t2: np.ndarray
    ) -> np.ndarray:
        """Vectorized eviction: all stuck keys run their DFS kick
        chains in lock-step rounds. Each round every pending key
        evicts one victim from its current (full) bucket — conflicts
        on the same (bucket, slot) are serialized across rounds —
        then victims try their alternate bucket via the vectorized
        placer. Semantically each key still performs the reference's
        DFS chain (``CuckooFilter.cuh:917-954``); only the
        interleaving differs, which membership cannot observe.

        Evictions never free slots and placements never target full
        buckets, so concurrent-round actions commute.
        """
        n = len(t1)
        first = (t1 & 1).astype(bool)
        cur = np.where(first, i1, i2).astype(np.int64)
        tag = np.where(first, t1, t2).astype(self.config.tag_dtype)
        kicks_done = np.zeros(n, dtype=np.int64)
        success = np.zeros(n, dtype=bool)
        pending = np.arange(n)
        b = self.config.bucket_size
        if self.config.eviction_policy == "bfs" and pending.size:
            placed = self._bfs_relocate(cur, tag)
            success |= placed
            pending = pending[~placed]
        while pending.size:
            if pending.size <= 512:
                # the tail: a handful of long chains would otherwise
                # cost hundreds of small lock-step numpy rounds —
                # run each remaining chain to completion scalar-side
                for j in pending:
                    success[j] = self._kick_chain_scalar(
                        int(cur[j]), int(tag[j]), int(kicks_done[j])
                    )
                break
            cp = cur[pending]
            slot = (tag[pending].astype(np.int64) + kicks_done[pending] * 7) & (b - 1)
            # serialize same-bucket evictors with the claim-scatter
            # race (losers just retry next round — WHICH key evicts
            # first is arbitrary, exactly like the reference's CAS):
            # O(k) vs the sort inside np.unique, which was ~20% of
            # insert wall time at 0.95 load
            if self._claim is None:
                self._claim = np.empty(self.num_buckets, dtype=np.int64)
            claim = self._claim
            idxs = np.arange(len(cp))
            claim[cp] = idxs
            win = claim[cp] == idxs
            act = pending[win]
            aslot = slot[win]
            victims = self.buckets[cur[act], aslot].copy()
            self.buckets[cur[act], aslot] = tag[act]
            kicks_done[act] += 1
            self.kicks += len(act)
            cur[act], tag[act] = self.relocate(cur[act], victims)
            placed = self._place_batch(cur[act], tag[act])
            success[act[placed]] = True
            # drop finished + exhausted chains
            alive = ~success[pending]
            exhausted = kicks_done[pending] >= self.config.max_kicks
            dead = alive & exhausted
            if dead.any():
                # chain exhausted: last displaced victim dropped, as in
                # the reference's failed DFS — net occupancy unchanged
                self.failures += int(dead.sum())
            pending = pending[alive & ~exhausted]
        return success

    def _kick_chain_scalar(self, cur: int, tag: int, kicks_done: int) -> bool:
        """One full DFS kick chain for a single key (the literal loop
        of ``CuckooFilter.cuh:917-954``), used for the small residual
        tail where per-round numpy overhead dominates."""
        b = self.config.bucket_size
        bmask = b - 1
        maxk = self.config.max_kicks
        buckets = self.buckets
        fill = self.fill
        policy = self.config.bucket_policy
        nb = self.num_buckets
        bpb = nb // 2
        choice = 1 << (self.config.bits_per_tag - 1)
        tab = None
        if self.config.bits_per_tag <= 16:
            self._displacement(np.array([1], dtype=np.uint64))  # build table
            tab = self._alt_tab
        k = kicks_done
        while k < maxk:
            f = int(fill[cur])
            if f < b:
                buckets[cur, f] = tag
                fill[cur] = f + 1
                return True
            slot = (tag + k * 7) & bmask
            victim = int(buckets[cur, slot])
            buckets[cur, slot] = tag
            tag = victim
            k += 1
            self.kicks += 1
            if tab is not None:
                d = int(tab[tag])
            else:
                d = int(self._displacement(np.array([tag], dtype=np.uint64))[0])
            if policy == "xor":
                cur = cur ^ d
            elif policy == "offset":
                cur = (cur - d if tag & choice else cur + d) % nb
                tag ^= choice
            elif cur < bpb:
                cur = ((cur + d) % bpb) + bpb
            else:
                cur = (cur - d) % bpb
        self.failures += 1
        return False

    def _key_cand(self, keys: np.ndarray):
        """``(n, cand)`` for uint64 keys: ``cand(lo, hi)`` hashes one
        chunk to its (i1, i2, t1, t2) (:meth:`candidates_from_hash`)."""
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        return len(keys), lambda lo, hi: self.candidates_from_hash(
            chained_hash(keys[lo:hi], FP_SALT)
        )

    def _packed_cand(self, packed: np.ndarray):
        """``(n, cand)`` for JVM-packed ``(i1 << bits_per_tag) | fp``
        values (the pack-kernel layout of ``insertManySorted``,
        ``CuckooFilter.cuh:1185-1207``): the hashing already happened
        in whole-stage codegen, so ``cand(lo, hi)`` only splits the
        value and derives (i2, t2)."""
        packed = np.ascontiguousarray(packed, dtype=np.int64)
        cfg = self.config

        def cand(lo, hi):
            pc = packed[lo:hi]
            fp = (pc & cfg.tag_mask).astype(cfg.tag_dtype)
            i1 = (pc >> cfg.bits_per_tag).astype(self._index_dtype)
            i2, t2 = self.relocate(i1, fp)
            return i1, i2, fp, t2

        return len(packed), cand

    def insert_many(self, keys: np.ndarray) -> np.ndarray:
        """Batch insert; returns per-key success (multiset semantics —
        duplicates each occupy a slot, ``tests/test_cuckoo_filter.cu:
        147-170``). Mirrors insertMany → insertKernel
        (``CuckooFilter.cuh:457-464,1119-1141``)."""
        return self._insert_chunked(*self._key_cand(keys))

    def insert_packed(self, packed: np.ndarray) -> np.ndarray:
        """Insert from JVM-packed values (see :meth:`_packed_cand`)."""
        return self._insert_chunked(*self._packed_cand(packed))

    def _place_pair(
        self, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray, t2: np.ndarray
    ) -> np.ndarray:
        """Placement policy: ``t1[j]`` in bucket ``i1[j]``, else
        ``t2[j]`` in ``i2[j]``; returns the placed mask."""
        s = self._place_batch(i1, t1)
        rem = np.flatnonzero(~s)
        if rem.size:
            s[rem[self._place_batch(i2[rem], t2[rem])]] = True
        return s

    def _evict(
        self, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray, t2: np.ndarray
    ) -> np.ndarray:
        """Eviction policy for what :meth:`_place_pair` left."""
        return self._kick_insert_batch(i1, i2, t1, t2)

    def _insert_chunked(self, n: int, cand) -> np.ndarray:
        self.inserts += n
        if n == 0:
            return np.zeros(0, dtype=bool)
        success = np.zeros(n, dtype=bool)
        resid: list[np.ndarray] = []
        res_cand: list[tuple] = []
        for lo in range(0, n, self.CHUNK):
            hi = min(lo + self.CHUNK, n)
            c = cand(lo, hi)
            s = self._place_pair(*c)
            stuck = np.flatnonzero(~s)
            if stuck.size:
                resid.append(stuck + lo)
                res_cand.append(tuple(a[stuck] for a in c))
            success[lo:hi] = s
        if resid:
            idxs = np.concatenate(resid)
            success[idxs] = self._evict(
                *(np.concatenate(a) for a in zip(*res_cand))
            )
        self.occupied += int(success.sum())
        return success

    def add_many(self, keys: np.ndarray) -> None:
        """Mergeable-sketch protocol adapter (``sketch_agg`` builders
        call ``add_many``); the success mask is tracked in
        ``occupied``/``failures`` metrics."""
        self.insert_many(keys)

    # ------------------------------------------------------------------
    # contains
    # ------------------------------------------------------------------

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        """Batch membership (``CuckooFilter.cuh:518-523,1143-1155``).

        Probe is the reference's SWAR zero-in-word bithack
        (``CuckooFilter.cuh:290-346``, ``helpers.cuh:78-151``)
        vectorized over the batch — see :func:`probe_rows` — in
        cache-resident chunks.
        """
        n, cand = self._key_cand(keys)
        out = np.empty(n, dtype=bool)
        for lo in range(0, n, self.CHUNK):
            hi = min(lo + self.CHUNK, n)
            probe_rows(self.buckets, *cand(lo, hi), out=out[lo:hi])
        return out

    def count_many(self, keys: np.ndarray) -> np.ndarray:
        """Exact stored multiplicity per key: occurrences of the
        key's fingerprint across both candidate buckets — the
        counting-structure query the reference benchmarks against GQF
        (count returns in ``benchmark/fpr_benchmark.cu:294-348`` and
        per-k-mer count queries in ``benchmark/kmer_benchmark.cu:
        259-355``). Because inserts have multiset semantics (each
        duplicate occupies a slot), the returned count is the exact
        number of stored instances; like every partial-key structure
        it can over-count when a DIFFERENT key collides on both
        fingerprint and bucket pair (probability ≈ the membership
        FPR). Deletes decrement it (multiset ``delete_many``).
        Geometry bound: a key's copies can only occupy its two
        candidate buckets, so stored multiplicity saturates at
        2*bucket_size — size ``bucket_size`` >= half the largest
        expected multiplicity (a GQF counter has no such cap; it
        trades this for approximate membership on deletion)."""
        n, cand = self._key_cand(keys)
        out = np.zeros(n, dtype=np.int64)
        for lo in range(0, n, self.CHUNK):
            hi = min(lo + self.CHUNK, n)
            self._count_rows(*cand(lo, hi), out[lo:hi])
        return out

    def _count_rows(
        self, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray,
        t2: np.ndarray, out: np.ndarray,
    ) -> None:
        """out[j] = occurrences of t1[j] in bucket i1[j] plus of t2[j]
        in bucket i2[j], the pair counted once when it aliases
        (i1 == i2 and t1 == t2 — an XOR displacement of 0)."""
        c1 = (self.buckets[i1] == t1[:, None]).sum(axis=1)
        c2 = (self.buckets[i2] == t2[:, None]).sum(axis=1)
        alias = (i1 == i2) & (t1 == t2)
        np.add(c1, np.where(alias, 0, c2), out=out, casting="unsafe")

    # ------------------------------------------------------------------
    # delete
    # ------------------------------------------------------------------

    def delete_many(self, keys: np.ndarray) -> np.ndarray:
        """Batch delete with multiset semantics: each successful
        delete removes one stored instance; deleting k duplicates
        removes up to k instances (``CuckooFilter.cuh:536-548,
        1157-1183``; ``tests/test_cuckoo_filter.cu:324-344``).

        Fully vectorized in lock-step rounds: each round picks one
        representative per pending (i1, t1) group, probes both
        buckets, and clears one matching slot per touched bucket
        (first toucher wins; the rest retry next round, exactly the
        serialization the reference's CAS race performs). A miss is
        final — removals never add tags to a bucket — so misses
        retire their key immediately. Duplicate deletes consume one
        stored instance per round.
        """
        n, cand_fn = self._key_cand(keys)
        if n == 0:
            return np.zeros(0, dtype=bool)
        success = np.zeros(n, dtype=bool)
        for clo in range(0, n, self.CHUNK):
            chi = min(clo + self.CHUNK, n)
            i1, i2, t1, t2 = cand_fn(clo, chi)
            # (i1, t1) fixes (i2, t2) under every policy
            packed = (i1.astype(np.uint64) << np.uint64(32)) | t1.astype(
                np.uint64
            )
            # ONE sort per chunk: `alive` holds original positions in
            # packed order, and subsetting preserves that order, so
            # every later round sees a still-sorted pending set and
            # pays zero sort cost (the per-round argsort used to be
            # the dominant delete cost — deletes ran at 0.7x insert
            # throughput)
            alive = np.argsort(packed, kind="stable")
            while alive.size:
                sa = alive
                pk = packed[sa]
                firsts = np.empty(len(pk), dtype=bool)
                firsts[0] = True
                np.not_equal(pk[1:], pk[:-1], out=firsts[1:])
                reps = sa[firsts]  # first pending instance per group
                b1 = i1[reps]
                m1 = self.buckets[b1] == t1[reps][:, None]
                has1 = m1.any(axis=1)
                # probe the alternate bucket only for primary misses
                miss1 = np.flatnonzero(~has1)
                b2m = i2[reps[miss1]]
                m2 = self.buckets[b2m] == t2[reps[miss1]][:, None]
                has2 = m2.any(axis=1)
                found = has1.copy()
                found[miss1] = has2
                retired = np.zeros(chi - clo, dtype=bool)
                retired[reps[~found]] = True  # miss is final
                cand = np.flatnonzero(found)
                if cand.size:
                    tb = b1.copy()
                    tslot = m1.argmax(axis=1)
                    tb[miss1] = b2m
                    tslot[miss1[has2]] = m2[has2].argmax(axis=1)
                    tb = tb[cand]
                    tslot = tslot[cand]
                    # one removal per bucket per round — pick ANY
                    # single winner per bucket (losers just retry
                    # next round, so which one wins is irrelevant):
                    # scatter-then-readback is O(k) vs the sort
                    # inside np.unique, and the scratch needs no
                    # init because only indices written this round
                    # are read back
                    scr = self._win_scratch
                    if scr is None or scr.size < self.num_buckets:
                        scr = np.empty(self.num_buckets, dtype=np.intp)
                        self._win_scratch = scr
                    seq = np.arange(tb.size)
                    scr[tb] = seq
                    win = scr[tb] == seq
                    db = tb[win]
                    ds = tslot[win]
                    lasts = self.fill[db].astype(np.intp) - 1
                    self.buckets[db, ds] = self.buckets[db, lasts]
                    self.buckets[db, lasts] = EMPTY
                    self.fill[db] = lasts.astype(np.int8)
                    winners = reps[cand[win]]
                    success[clo + winners] = True
                    retired[winners] = True
                alive = alive[~retired[alive]]
        removed = int(success.sum())
        self.occupied -= removed
        return success

    # ------------------------------------------------------------------
    # metrics / lifecycle
    # ------------------------------------------------------------------

    def clear(self) -> None:
        """memset parity (``CuckooFilter.cuh:675-682``)."""
        self.buckets.fill(EMPTY)
        self.fill.fill(0)
        self.occupied = self.kicks = self.failures = self.inserts = 0

    @property
    def slot_capacity(self) -> int:
        return self.num_buckets * self.config.bucket_size

    def load_factor(self) -> float:
        """occupied / capacity — note the reference divides by the
        *requested* capacity in tests (``tests/test_cuckoo_filter.cu:
        101-124`` asserts lf == inserted/capacity), while
        ``CuckooFilter.cuh:688-690`` divides by slot capacity; we
        expose both."""
        return self.occupied / float(self.capacity)

    def slot_load_factor(self) -> float:
        return self.occupied / float(self.slot_capacity)

    def count_occupied_slots(self) -> int:
        """Full-scan verification (``CuckooFilter.cuh:759-785``)."""
        return int(np.count_nonzero(self.buckets))

    def size_in_bytes(self) -> int:
        return self.buckets.nbytes

    def metrics(self) -> dict:
        return {
            "occupied": self.occupied,
            "inserts": self.inserts,
            "kicks": self.kicks,
            "failures": self.failures,
            "num_buckets": self.num_buckets,
            "bucket_size": self.config.bucket_size,
            "bits_per_tag": self.config.bits_per_tag,
            "capacity": self.capacity,
        }

    # ------------------------------------------------------------------
    # merge (mergeable-sketch contract for tree reduction)
    # ------------------------------------------------------------------

    def merge_in_place(self, other: "CuckooFilter") -> "CuckooFilter":
        """Fold ``other`` into ``self`` by re-inserting every stored
        tag at its current bucket or at :meth:`relocate` of it,
        through the placement and eviction policies inserts use
        (:meth:`_place_pair`, :meth:`_evict`) — valid because every
        policy's relocation is an involution, so a tag seen in bucket
        i belongs to the pair {(i, tag), relocate(i, tag)} regardless
        of which was its i1. Membership answers are invariant to the
        merge order as long as no insert fails (tests assert this
        across random orderings).
        Generalizes the disjoint multi-GPU union
        (``CuckooFilterMultiGPU.cuh:558-565``)."""
        a, b = self.config, other.config
        if (self.num_buckets, a.bits_per_tag, a.bucket_size, a.bucket_policy) != (
            other.num_buckets, b.bits_per_tag, b.bucket_size, b.bucket_policy
        ):
            raise ValueError("can only merge filters with identical geometry")
        bi, slot = np.nonzero(other.buckets)
        tags = other.buckets[bi, slot]
        bi = bi.astype(np.int64)
        alt, atags = self.relocate(bi, tags)
        success = self._place_pair(bi, alt, tags, atags)
        idxs = np.flatnonzero(~success)
        if idxs.size:
            success[idxs] = self._evict(
                bi[idxs], alt[idxs], tags[idxs], atags[idxs]
            )
        self.occupied += int(success.sum())
        self.inserts += other.inserts
        self.kicks += other.kicks
        self.failures += other.failures
        return self

    # ------------------------------------------------------------------
    # serialization (shard blob exchanged between Spark stages)
    # ------------------------------------------------------------------

    #: Blob format version. v1 used plain xxhash64 with a fixed
    #: fingerprint seed; v2 probes with the chained FP_SALT/DISP_SALT
    #: family, so v1 blobs MUST be rejected (probing them with the new
    #: family yields false negatives). v3 keeps the v2 hash family and adds
    #: a 1-byte payload-layout flag after the header: 0 = dense
    #: bucket table, 1 = sparse (uint32 bucket indices + stored tags)
    #: — the format partial-aggregation blobs ship when the table is
    #: mostly empty. Nothing writes v2 or layout 2 (uint64 indices:
    #: a filter holds at most 2^32 buckets), so neither is read.
    BLOB_VERSION = 3
    _LAYOUT_DENSE, _LAYOUT_SPARSE32 = 0, 1
    #: every blob starts with a fixed-size header
    HEADER_BYTES = _HEADER.size

    @staticmethod
    def blob_num_buckets(header: bytes) -> int:
        """Bucket count of a blob, read from its first
        :attr:`HEADER_BYTES` alone."""
        return _HEADER.unpack_from(header)[6]

    def to_bytes(self) -> bytes:
        """Serialize, choosing the smaller of the dense table and the
        sparse (bucket_idx, tag) listing. A stage-1 partial sketch in
        ``grouped_sketch_partial`` holds ~1/num_partitions of one
        group's keys in a table sized for the whole group — dense
        shipping made the stage-2 shuffle
        partitions x groups x full-filter-bytes; sparse blobs scale
        with what the partial actually stores."""
        hdr = _HEADER.pack(
            _MAGIC, self.BLOB_VERSION, self.config.bits_per_tag,
            self.config.bucket_size,
            _POLICIES.index(self.config.eviction_policy),
            _BUCKET_POLICIES.index(self.config.bucket_policy),
            self.num_buckets, self.capacity, self.occupied, self.kicks,
            self.failures, self.inserts,
        )
        stored = self.count_occupied_slots()
        sparse_cost = 8 + stored * (4 + self.buckets.dtype.itemsize)
        if sparse_cost < self.buckets.nbytes:
            bi, slot = np.nonzero(self.buckets)
            return (
                hdr
                + bytes([self._LAYOUT_SPARSE32])
                + struct.pack("<Q", stored)
                + bi.astype(np.uint32).tobytes()
                + self.buckets[bi, slot].tobytes()
            )
        return hdr + bytes([self._LAYOUT_DENSE]) + self.buckets.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        """Decode a :meth:`to_bytes` blob. Blobs come back from tables
        and checkpoints, so every length, index and count is checked
        and a malformed blob raises ``ValueError``."""
        if len(blob) < _HEADER.size + 1:
            raise ValueError(
                f"cuckoo blob of {len(blob)} bytes is shorter than its "
                f"{_HEADER.size + 1}-byte header"
            )
        magic, ver, f, b, pol, bpol, nb, cap, occ, kicks, fails, inserts = (
            _HEADER.unpack_from(blob)
        )
        if magic != _MAGIC:
            raise ValueError("bad cuckoo filter blob")
        if ver != cls.BLOB_VERSION:
            raise ValueError(
                f"cuckoo blob version {ver} not supported (expected "
                f"{cls.BLOB_VERSION}; the hash family changed — rebuild "
                "the filter from source keys)"
            )
        if pol >= len(_POLICIES) or bpol >= len(_BUCKET_POLICIES):
            raise ValueError(
                f"cuckoo blob has unknown policy codes ({pol}, {bpol})"
            )
        cfg = CuckooConfig(
            bits_per_tag=f, bucket_size=b, eviction_policy=_POLICIES[pol],
            bucket_policy=_BUCKET_POLICIES[bpol],
        )
        flt = cls.__new__(cls)
        flt._set_geometry(cfg, cap, nb)
        layout, off = blob[_HEADER.size], _HEADER.size + 1
        tag_size = np.dtype(cfg.tag_dtype).itemsize
        if layout == cls._LAYOUT_DENSE:
            if len(blob) - off != nb * b * tag_size:
                raise ValueError(
                    f"dense cuckoo blob payload is {len(blob) - off} bytes, "
                    f"expected {nb} x {b} x {tag_size}"
                )
            flt.buckets = (
                np.frombuffer(blob, dtype=cfg.tag_dtype, offset=off)
                .reshape(nb, b)
                .copy()
            )
        elif layout == cls._LAYOUT_SPARSE32:
            if len(blob) - off < 8:
                raise ValueError("sparse cuckoo blob has no stored count")
            (stored,) = struct.unpack_from("<Q", blob, off)
            off += 8
            if stored * (4 + tag_size) != len(blob) - off:
                raise ValueError(
                    f"sparse cuckoo blob lists {stored} tags but its "
                    f"payload is {len(blob) - off} bytes"
                )
            bi = np.frombuffer(
                blob, dtype=np.uint32, count=stored, offset=off
            ).astype(np.int64)
            off += stored * 4
            tags = np.frombuffer(
                blob, dtype=cfg.tag_dtype, count=stored, offset=off
            )
            flt.buckets = np.zeros((nb, b), dtype=cfg.tag_dtype)
            # bi is sorted (np.nonzero is row-major): slot within each
            # bucket = position minus the bucket run's start
            if stored:
                steps = np.diff(bi)
                if bi[0] < 0 or bi[-1] >= nb or (steps < 0).any():
                    raise ValueError(
                        "sparse cuckoo blob bucket indices must be "
                        f"non-decreasing and within [0, {nb})"
                    )
                starts = np.r_[0, np.flatnonzero(steps) + 1]
                counts = np.diff(np.r_[starts, stored])
                if counts.max() > b:
                    raise ValueError(
                        f"sparse cuckoo blob puts {counts.max()} tags in "
                        f"one bucket of {b} slots"
                    )
                slot = np.arange(stored) - np.repeat(starts, counts)
                flt.buckets[bi, slot] = tags
        else:
            raise ValueError(f"cuckoo blob has unknown layout {layout}")
        flt.fill = np.count_nonzero(flt.buckets, axis=1).astype(np.int8)
        flt.occupied, flt.kicks, flt.failures, flt.inserts = occ, kicks, fails, inserts
        return flt

    @classmethod
    def merge_blobs(cls, blobs) -> "CuckooFilter":
        """Merge serialized shards (driver-side or inside treeReduce)."""
        it = iter(blobs)
        acc = cls.from_bytes(next(it))
        for b in it:
            acc.merge_in_place(cls.from_bytes(b))
        return acc

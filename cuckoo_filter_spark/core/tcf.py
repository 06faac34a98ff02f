"""Two-choice filter (TCF) — the reference's third comparison
baseline (bulk-tcf: wired via ``subprojects/tcf.wrap`` and driven in
``/root/reference/benchmark/fpr_benchmark.cu:182-233``, delete/insert
comparisons in ``load_factor_benchmark.cu`` / ``kmer_benchmark.cu``).

Semantics reproduced from the benchmark harness's contract:

* blocked fingerprint store (16-bit tags), two candidate buckets per
  key, the key lands in the **less-full** of the two — the classic
  power-of-two-choices balance, which is the entire trick: no
  eviction chains, every insert touches at most two buckets;
* an insert **fails immediately** when both candidates are full (the
  reference surfaces this as the ``d_misses`` counter of
  ``bulk_insert`` and sizes capacity at 0.85 usable slots,
  ``fpr_benchmark.cu:189-192``);
* query probes both buckets; delete removes one stored instance
  (multiset, like the cuckoo filter).

Addressing reuses the partial-key XOR scheme shared with
:class:`~cuckoo_filter_spark.core.cuckoo.CuckooFilter` (alt bucket
derivable from ``(bucket, tag)``), which keeps the TCF *mergeable*:
a stored tag seen in bucket ``i`` belongs to pair ``{i, alt(i,
tag)}``, so same-geometry partials combine by two-choice re-placement
— the same mergeable-UDAF contract every other sketch in the library
satisfies. Everything except the placement policy (probe SWAR,
delete rounds, serialization, metrics) is inherited from the cuckoo
core; the blob header records the no-eviction policy so round-trips
preserve the type's invariant.
"""

from __future__ import annotations

import numpy as np

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import _MAGIC, CuckooFilter

#: reference usable-capacity factor (fpr_benchmark.cu:189)
TCF_CAPACITY_FACTOR = 0.85

_TCF_MAGIC = b"TCFS"


class TwoChoiceFilter(CuckooFilter):
    """Deletable, mergeable two-choice membership sketch.

    ``capacity`` is the intended number of stored items; bucket count
    is sized so that ``capacity`` fills at most
    ``TCF_CAPACITY_FACTOR`` of the slots (the reference's 0.85 rule),
    because without eviction the filter cannot pack the tail of a
    near-full table.
    """

    #: default block width: 32 slots is the narrowest power of two
    #: at which two-choice balancing absorbs the reference's 0.85
    #: usable load with zero overflow (measured: b=16 loses ~5e-5 of
    #: inserts at 0.85, b=32 loses none up to 3.6M keys) — the same
    #: big-block tradeoff bulk-tcf makes, paid for in FPR
    #: (ε = 2bα/2^f grows with b), which is exactly the regime the
    #: reference's FPR comparison shows TCF losing (fpr_benchmark.cu).

    def __init__(self, capacity: int, config: CuckooConfig | None = None):
        cfg = config or CuckooConfig(bits_per_tag=16, bucket_size=32)
        sized = int(np.ceil(capacity / TCF_CAPACITY_FACTOR))
        # at least 2 buckets: the d >= 1 remap means every key's alt
        # bucket differs from its primary, which a 1-bucket table
        # cannot represent (index 1 would be out of bounds)
        sized = max(sized, 2 * cfg.bucket_size)
        super().__init__(sized, cfg)
        assert self.num_buckets >= 2
        self.capacity = int(capacity)

    # ------------------------------------------------------------------
    # addressing: distinct candidate buckets, always
    # ------------------------------------------------------------------

    def _displacement(self, fp: np.ndarray) -> np.ndarray:
        """Zero displacements (h(fp) & mask == 0, probability
        1/num_buckets per tag) are remapped to 1 so every key truly
        has TWO candidate buckets — without eviction a degenerate
        i2 == i1 key has a single bucket and fails as soon as it
        fills (measured: ~5e-5 of inserts at 0.76 load before the
        remap, zero after). ``d → max(d, 1)`` preserves the xor
        involution (same d both directions), so probe/delete/merge
        stay consistent."""
        if self.config.bits_per_tag <= 16:
            if self._alt_tab is None:
                super()._displacement(
                    np.zeros(1, dtype=self.config.tag_dtype)
                )  # builds + caches the table
                self._alt_tab[self._alt_tab == 0] = 1
            return self._alt_tab[fp.astype(np.int64)]
        d = super()._displacement(fp)
        d[d == 0] = 1
        return d

    # ------------------------------------------------------------------
    # placement: less-full of two candidates, no eviction
    # ------------------------------------------------------------------

    def _two_choice_place(
        self, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray, t2: np.ndarray
    ) -> np.ndarray:
        """Vectorized two-choice placement. Each round every pending
        key targets its currently-less-full open candidate and races
        through the claim-scatter (the serial analog of the
        reference's per-slot CAS); losers observe the updated fills
        and retry, keys with both candidates full retire as failures.
        Terminates because every round either places a key or fills
        a bucket (guarded at 2×bucket_size+2 rounds)."""
        n = len(t1)
        success = np.zeros(n, dtype=bool)
        if n == 0:
            return success
        b = self.config.bucket_size
        pending = np.arange(n)
        for _ in range(2 * b + 2):
            if not pending.size:
                break
            p1 = i1[pending]
            p2 = i2[pending]
            f1 = self.fill[p1]
            f2 = self.fill[p2]
            open_ = (f1 < b) | (f2 < b)
            pending = pending[open_]
            if not pending.size:
                break
            p1, p2, f1, f2 = p1[open_], p2[open_], f1[open_], f2[open_]
            second = (f1 >= b) | ((f2 < b) & (f2 < f1))
            ok = self._place_batch(
                np.where(second, p2, p1),
                np.where(second, t2[pending], t1[pending]),
            )
            success[pending[ok]] = True
            pending = pending[~ok]
        return success

    def _place_refreshed(
        self, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray, t2: np.ndarray
    ) -> np.ndarray:
        """:meth:`_two_choice_place` in sub-batches of ~half the bucket
        count: the less-full decision is made against fills at most
        num_buckets/2 keys stale, which preserves the power-of-two-
        choices balance (with whole-batch staleness the first batch
        sees all-zero fills, every key picks i1, and the filter
        degenerates to single-choice hashing — measured 241/8192
        buckets full at 0.76 overall load; with sub-batch refresh,
        zero). Which bucket a tag lands in is invisible to
        contains/delete/merge — both candidates are always probed —
        so this is purely a balance/capacity concern."""
        success = np.zeros(len(t1), dtype=bool)
        sub = min(self.CHUNK, max(1024, self.num_buckets // 2))
        for lo in range(0, len(t1), sub):
            hi = lo + sub
            success[lo:hi] = self._two_choice_place(
                i1[lo:hi], i2[lo:hi], t1[lo:hi], t2[lo:hi]
            )
        return success

    def _insert_chunked(self, n: int, cand) -> np.ndarray:
        """Same chunked driver as the cuckoo core but the residual
        stage is the *other candidate via two-choice*
        (:meth:`_place_refreshed`), never a kick chain — both-full
        keys fail (bulk_insert misses counter)."""
        self.inserts += n
        success = np.zeros(n, dtype=bool)
        for lo in range(0, n, self.CHUNK):
            hi = min(lo + self.CHUNK, n)
            success[lo:hi] = self._place_refreshed(*cand(lo, hi))
        n_ok = int(success.sum())
        self.occupied += n_ok
        self.failures += n - n_ok
        return success

    # the BFS/DFS eviction entry points are unreachable here.

    def merge_in_place(self, other: "CuckooFilter") -> "TwoChoiceFilter":
        """Fold ``other`` into ``self`` by two-choice re-placement of
        every stored tag at its pair ``{(i, tag), relocate(i, tag)}``,
        with the fill refresh inserts use (:meth:`_place_refreshed`)
        — no kick fallback (the type has no eviction); both-full tags
        count as failures. At the sized load (≤0.85 usable, and callers
        typically well below) merges place every tag regardless of
        partition ordering — associativity is asserted in tests.

        A dropped tag would break the type's zero-false-negative
        contract silently, so placement failure raises a
        ``RuntimeWarning`` here in addition to moving ``failures`` —
        distributed builds (``aggregate_sketch``) must end with
        ``filter.failures == 0`` for membership to be trusted, as
        ``q_tcf_membership`` asserts."""
        import warnings

        same_geom = (
            self.num_buckets == other.num_buckets
            and self.config.bits_per_tag == other.config.bits_per_tag
            and self.config.bucket_size == other.config.bucket_size
            and self.config.bucket_policy == other.config.bucket_policy
        )
        if not same_geom:
            raise ValueError("can only merge filters with identical geometry")
        bi, slot = np.nonzero(other.buckets)
        tags = other.buckets[bi, slot]
        bi = bi.astype(np.int64)
        alt, atags = self.relocate(bi, tags)
        ok = self._place_refreshed(bi, alt, tags, atags)
        n_ok = int(ok.sum())
        dropped = len(tags) - n_ok
        if dropped:
            warnings.warn(
                f"TwoChoiceFilter.merge_in_place dropped {dropped} tag(s) "
                "(both candidate buckets full) — the merged filter can now "
                "return false negatives; resize capacity or check "
                "filter.failures == 0 after distributed builds",
                RuntimeWarning,
                stacklevel=2,
            )
        self.occupied += n_ok
        self.inserts += other.inserts
        self.failures += other.failures + dropped
        return self

    # ------------------------------------------------------------------
    # serialization: own magic so a plain CuckooFilter can never
    # deserialize (and mis-probe) a two-choice blob — the remapped
    # displacement family differs for the 1/num_buckets of tags whose
    # raw displacement is zero.
    # ------------------------------------------------------------------

    def to_bytes(self) -> bytes:
        return _TCF_MAGIC + super().to_bytes()[len(_TCF_MAGIC):]

    @classmethod
    def from_bytes(cls, blob: bytes) -> "TwoChoiceFilter":
        if blob[: len(_TCF_MAGIC)] != _TCF_MAGIC:
            raise ValueError("bad two-choice filter blob")
        return super().from_bytes(_MAGIC + blob[len(_TCF_MAGIC):])

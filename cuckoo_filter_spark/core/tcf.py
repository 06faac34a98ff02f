"""Two-choice filter (TCF) — the reference's third comparison
baseline (bulk-tcf, driven in ``benchmark/fpr_benchmark.cu:182-233``).

* two candidate buckets per key; the key lands in the **less-full**
  of the two — power-of-two-choices balance, no eviction chains;
* an insert **fails immediately** when both candidates are full (the
  ``d_misses`` counter of ``bulk_insert``), so capacity is sized at
  0.85 usable slots (``fpr_benchmark.cu:189-192``);
* query probes both buckets; delete removes one stored instance.

Two-choice placement is a policy of the one cuckoo kernel
(:class:`~cuckoo_filter_spark.core.cuckoo.CuckooFilter`): this class
overrides only its placement hook (``_place_pair``), its eviction hook
(``_evict``, which places nothing) and its zero-displacement remap.
The insert and merge drivers, probe, delete and codec are the
kernel's, and its partial-key addressing keeps the TCF mergeable. Its
own blob magic keeps round-trips in the type.
"""

from __future__ import annotations

import warnings

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

    #: Zero displacements (probability 1/num_buckets per tag) are
    #: remapped to 1 so every key truly has TWO candidate buckets —
    #: without eviction a degenerate i2 == i1 key has a single bucket
    #: and fails as soon as it fills (measured: ~5e-5 of inserts at
    #: 0.76 load before the remap, zero after). ``d → max(d, 1)``
    #: preserves the xor involution (same d both directions), so
    #: probe/delete/merge stay consistent.
    REMAP_ZERO_DISPLACEMENT = True

    def __init__(self, capacity: int, config: CuckooConfig | None = None):
        cfg = config or CuckooConfig(bits_per_tag=16, bucket_size=32)
        sized = int(np.ceil(capacity / TCF_CAPACITY_FACTOR))
        # at least 2 buckets: the d >= 1 remap means every key's alt
        # bucket differs from its primary, which a 1-bucket table
        # cannot represent (index 1 would be out of bounds)
        sized = max(sized, 2 * cfg.bucket_size)
        super().__init__(sized, cfg)
        self.capacity = int(capacity)

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
        and retry, keys with both candidates full stay unplaced.
        Terminates because every round either places a key or fills
        a bucket (guarded at 2×bucket_size+2 rounds)."""
        success = np.zeros(len(t1), dtype=bool)
        b = self.config.bucket_size
        pending = np.arange(len(t1))
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

    def _place_pair(
        self, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray, t2: np.ndarray
    ) -> np.ndarray:
        """The kernel's placement policy, made two-choice:
        :meth:`_two_choice_place` in sub-batches of ~half the bucket
        count, so the less-full decision is made against fills at most
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

    def _evict(
        self, i1: np.ndarray, i2: np.ndarray, t1: np.ndarray, t2: np.ndarray
    ) -> np.ndarray:
        """No eviction: a tag whose candidates are both full fails
        (bulk_insert's misses counter)."""
        self.failures += len(t1)
        return np.zeros(len(t1), dtype=bool)

    def merge_in_place(self, other: "CuckooFilter") -> "TwoChoiceFilter":
        """The kernel's merge through the two-choice hooks: no kick
        fallback, so both-full tags count as failures. At the sized
        load (≤0.85 usable) merges place every tag regardless of
        partition ordering — associativity is asserted in tests.
        A dropped tag would silently break the type's
        zero-false-negative contract, so it also raises a
        ``RuntimeWarning``: distributed builds (``aggregate_sketch``)
        must end with ``filter.failures == 0``, as
        ``q_tcf_membership`` asserts."""
        before = self.failures
        super().merge_in_place(other)
        dropped = self.failures - before - other.failures
        if dropped:
            warnings.warn(
                f"TwoChoiceFilter.merge_in_place dropped {dropped} tag(s) "
                "(both candidate buckets full) — the merged filter can now "
                "return false negatives; resize capacity or check "
                "filter.failures == 0 after distributed builds",
                RuntimeWarning,
                stacklevel=2,
            )
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

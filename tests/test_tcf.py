"""Two-choice filter (TCF) — reference baseline parity
(`/root/reference/benchmark/fpr_benchmark.cu:182-233`): insert to
0.85 usable load with zero misses, query both candidate buckets,
multiset delete, mergeable partials, own blob format.
"""

import numpy as np
import pytest

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter
from cuckoo_filter_spark.core.tcf import TCF_CAPACITY_FACTOR, TwoChoiceFilter


def _keys(n, seed=7, lo=0, hi=1 << 62):
    rng = np.random.default_rng(seed)
    return np.unique(
        rng.integers(lo, hi, n, dtype=np.int64).astype(np.uint64)
    )


def test_insert_contains_zero_false_negatives():
    keys = _keys(200_000)
    f = TwoChoiceFilter(len(keys))
    assert f.insert_many(keys).all()
    assert f.failures == 0
    assert f.contains_many(keys).all()


def test_atop_reference_usable_load():
    """Zero misses at exactly 0.85 of slots — the reference's
    TCF_CAPACITY_FACTOR sizing (fpr_benchmark.cu:189-192)."""
    f = TwoChoiceFilter(1)
    # rebuild with fixed geometry: 16384 buckets
    cfg = CuckooConfig(bits_per_tag=16, bucket_size=32)
    f = TwoChoiceFilter.__new__(TwoChoiceFilter)
    CuckooFilter.__init__(f, 16384 * 32, cfg)
    n = int(f.slot_capacity * TCF_CAPACITY_FACTOR)
    keys = _keys(3 * n)[:n]
    assert len(keys) == n
    assert f.insert_many(keys).all()
    assert f.failures == 0
    assert abs(f.slot_load_factor() - TCF_CAPACITY_FACTOR) < 0.01
    assert f.contains_many(keys).all()


def test_fpr_within_published_bound():
    keys = _keys(500_000)
    f = TwoChoiceFilter(len(keys))
    f.insert_many(keys)
    neg = _keys(200_000, seed=11, lo=1 << 62, hi=1 << 63)
    fpr = f.contains_many(neg).mean()
    alpha = f.occupied / f.slot_capacity
    eps = f.config.theoretical_fpr(alpha)
    assert fpr <= eps + 4 * np.sqrt(eps / len(neg))


def test_no_eviction_ever():
    keys = _keys(500_000)
    f = TwoChoiceFilter(len(keys))
    f.insert_many(keys)
    assert f.kicks == 0


def test_overload_fails_cleanly():
    """Past both-full, inserts miss (bulk_insert d_misses contract)
    and successes remain zero-false-negative."""
    f = TwoChoiceFilter(1000)
    keys = _keys(3 * f.slot_capacity)[: f.slot_capacity + 500]
    ok = f.insert_many(keys)
    assert f.failures == int((~ok).sum()) and f.failures > 0
    assert f.contains_many(keys[ok]).all()
    assert f.kicks == 0


def test_delete_multiset_and_requery():
    keys = _keys(100_000)
    f = TwoChoiceFilter(len(keys) + 10)
    f.insert_many(keys)
    dup = keys[:1]
    f.insert_many(dup)  # second instance of one key
    assert f.delete_many(dup).all()
    assert f.contains_many(dup).all()  # one instance remains
    assert f.delete_many(dup).all()
    assert not f.contains_many(dup).any()
    half = keys[1: len(keys) // 2]
    assert f.delete_many(half).all()
    assert f.contains_many(keys[len(keys) // 2:]).all()


def test_merge_associativity_any_order():
    keys = _keys(150_000)
    parts = np.array_split(keys, 8)
    blobs = []
    for p in parts:
        pf = TwoChoiceFilter(len(keys))
        pf.insert_many(p)
        blobs.append(pf.to_bytes())
    rng = np.random.default_rng(3)
    results = []
    for _ in range(4):
        order = rng.permutation(8)
        m = TwoChoiceFilter.merge_blobs([blobs[i] for i in order])
        assert m.failures == 0
        assert m.contains_many(keys).all()
        assert type(m) is TwoChoiceFilter
        results.append(m.occupied)
    assert len(set(results)) == 1


def test_merge_places_what_inserts_place():
    """Merging partials loses no tag at a load where inserting the same
    keys directly loses none: the merge re-places tags with the same
    sub-batched fill refresh as inserts, not in one stale batch."""
    import warnings

    rng = np.random.default_rng(11)
    keys = rng.integers(0, 1 << 62, 190_000, dtype=np.int64).astype(np.uint64)
    direct = TwoChoiceFilter(200_000)
    assert direct.insert_many(keys).all()
    merged = TwoChoiceFilter(200_000)
    merged.insert_many(keys[:90_000])
    part = TwoChoiceFilter(200_000)
    part.insert_many(keys[90_000:])
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        merged.merge_in_place(part)
    assert merged.failures == 0
    assert merged.occupied == len(keys)
    assert merged.contains_many(keys).all()


def test_blob_cross_class_rejection():
    f = TwoChoiceFilter(1000)
    c = CuckooFilter(1000)
    with pytest.raises(ValueError):
        CuckooFilter.from_bytes(f.to_bytes())
    with pytest.raises(ValueError):
        TwoChoiceFilter.from_bytes(c.to_bytes())
    rt = TwoChoiceFilter.from_bytes(f.to_bytes())
    assert type(rt) is TwoChoiceFilter


def test_displacement_never_zero():
    """Every key has two DISTINCT candidate buckets (the d=0 remap):
    without eviction, i2 == i1 keys are one-choice and overflow
    early."""
    f = TwoChoiceFilter(100_000)
    keys = _keys(200_000)
    i1, i2, _fp = f.candidates(keys)
    assert (i1 != i2).all()


def test_spark_mergeable_build(spark, sf_dir):
    """TCF through the same mergeable-UDAF aggregation path as every
    other sketch (partial per partition, blob-only merge)."""
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.hashing import content_key_expr, keys_to_unsigned
    from cuckoo_filter_spark.operators.sketch_agg import aggregate_sketch

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(content_key_expr(F.col("text")).alias("key"))
        .distinct()
    )
    n = docs.count()
    tcf = aggregate_sketch(docs, "key", lambda: TwoChoiceFilter(n))
    assert type(tcf) is TwoChoiceFilter
    assert tcf.failures == 0
    keys = keys_to_unsigned(
        np.array([r.key for r in docs.collect()], dtype=np.int64)
    )
    assert tcf.contains_many(keys).all()


def test_tiny_capacity_no_crash():
    """num_buckets is floored at 2: the d>=1 remap sends every key
    to a DIFFERENT alt bucket, which a 1-bucket table cannot index
    (regression: IndexError for capacity < ~bucket_size)."""
    for cap in (1, 5, 20):
        f = TwoChoiceFilter(cap)
        assert f.num_buckets >= 2
        keys = (np.arange(1, cap + 1, dtype=np.uint64)
                * np.uint64(0x9E3779B185EBCA87))
        assert f.insert_many(keys).all()
        assert f.contains_many(keys).all()

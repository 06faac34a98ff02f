"""OffsetAltBucketPolicy parity (bucket_policies.cuh:190-351):
choice-bit fingerprints, exact (non-pow2) bucket counts, symmetric
forward/backward displacement — a bucket policy of ``CuckooFilter``."""

import numpy as np
import pytest

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter

OFFSET_CFG = CuckooConfig(bits_per_tag=16, bucket_size=4,
                          bucket_policy="offset")


def _offset(capacity):
    return CuckooFilter(capacity, OFFSET_CFG)


def _keys(n, seed=42):
    return np.random.default_rng(seed).integers(
        1, 2**63, n, dtype=np.int64
    ).view(np.uint64)


def test_non_pow2_bucket_count():
    f = _offset(10_000)
    assert f.num_buckets == 2500  # exact ceil, not rounded to 4096


def test_zero_false_negatives_and_fpr():
    keys = _keys(50_000)
    flt = _offset(70_000)
    s = flt.insert_many(keys)
    assert s.mean() > 0.999
    assert flt.contains_many(keys)[s].all()
    neg = _keys(50_000, seed=9) | np.uint64(1 << 63)
    fpr = flt.contains_many(neg).mean()
    # epsilon = 2 b alpha / 2^(f-1) (choice bit costs one fp bit)
    alpha = flt.slot_load_factor()
    cfg = flt.config
    eps = 2 * cfg.bucket_size * alpha / (1 << (cfg.bits_per_tag - 1))
    assert fpr <= 3 * eps + 1e-3


def test_alternate_is_involution():
    flt = _offset(1000)
    choice = 1 << (OFFSET_CFG.bits_per_tag - 1)
    rng = np.random.default_rng(1)
    b = rng.integers(0, flt.num_buckets, 200).astype(np.int32)
    tag = rng.integers(1, choice, 200).astype(np.uint16)  # choice=0 tags
    b2, t2 = flt.relocate(b, tag)
    b3, t3 = flt.relocate(b2, t2)
    assert (b3 == b).all() and (t3 == tag).all()  # back where we started
    assert (t2 == tag | choice).all()  # choice bit flipped
    assert (b2 != b).all()  # offsets are never zero


def test_high_load_insert_with_kicks():
    flt = _offset(20_000)
    n = int(flt.slot_capacity * 0.95)
    keys = _keys(n, seed=5)
    s = flt.insert_many(keys)
    assert s.mean() >= 0.99  # >=99% at 0.95 load (test_cuckoo_filter.cu:135)
    # every successful insert must still be found after kick chains
    assert flt.contains_many(keys)[s].all()
    assert flt.kicks > 0  # chains actually exercised


def test_delete_semantics():
    keys = _keys(10_000, seed=3)
    flt = _offset(16_000)
    flt.insert_many(keys)
    evens = keys[::2]
    odds = keys[1::2]
    ok = flt.delete_many(evens)
    assert ok.all()
    assert flt.contains_many(odds).all()
    assert flt.delete_many(_keys(100, seed=77) | np.uint64(1 << 63)).sum() == 0
    assert flt.occupied == len(odds)


def test_offset_parameter_guards():
    """Regression (ADVICE r1): wide Offset tags and big buckets (which
    overflow the int8 fill vector) must be rejected; an accepted
    Offset config runs Offset addressing, not XOR's."""
    with pytest.raises(ValueError, match="bits_per_tag"):
        CuckooConfig(bits_per_tag=32, bucket_policy="offset")
    with pytest.raises(ValueError, match="bucket_size"):
        CuckooConfig(bucket_size=128, bucket_policy="offset")
    flt = CuckooFilter(1000, OFFSET_CFG)
    assert flt.num_buckets == 250  # exact, not the XOR policy's 256
    keys = _keys(500)
    i1, _, t1 = flt.candidates(keys)
    assert (t1 < (1 << 15)).all()  # choice bit 0 in the primary bucket


def test_offset_serialization_roundtrip():
    """Offset shards are CKFS blobs, dense or sparse, and round-trip
    exactly; a blob of the retired ``OCKF`` format raises."""
    import struct

    flt = _offset(20_000)
    keys = _keys(12_000)
    flt.insert_many(keys)
    sparse = _offset(20_000)
    sparse.insert_many(keys[:500])
    for f, layout in ((flt, CuckooFilter._LAYOUT_DENSE),
                      (sparse, CuckooFilter._LAYOUT_SPARSE32)):
        blob = f.to_bytes()
        assert blob[:4] == b"CKFS" and blob[CuckooFilter.HEADER_BYTES] == layout
        back = CuckooFilter.from_bytes(blob)
        assert back.config == f.config
        assert back.occupied == f.occupied
        assert np.array_equal(back.buckets, f.buckets)
        assert (back.contains_many(keys) == f.contains_many(keys)).all()
        assert back.delete_many(keys[:100]).all()

    blob = flt.to_bytes()
    stale = blob[:4] + bytes([1]) + blob[5:]
    with pytest.raises(ValueError, match="version"):
        CuckooFilter.from_bytes(stale)
    with pytest.raises(ValueError, match="expected"):
        CuckooFilter.from_bytes(blob[:-2 * OFFSET_CFG.bucket_size])
    with pytest.raises(ValueError, match="header"):
        CuckooFilter.from_bytes(b"CKFS\x03")
    # the retired OCKF layout: magic, version 2, f, b, pad, num_buckets,
    # capacity, occupied, kicks, failures, max_kicks, then dense tags
    ockf = struct.pack(
        "<4sBBH8xQQQQQQ", b"OCKF", 2, 16, 4, flt.num_buckets, 20_000,
        flt.occupied, 0, 0, 500,
    ) + flt.buckets.tobytes()
    with pytest.raises(ValueError, match="bad cuckoo filter blob"):
        CuckooFilter.from_bytes(ockf)


def test_sharded_offset_filter_spark(spark):
    """Distributed offset-policy path: sharded build + routed
    contains with zero false negatives and bounded FPR."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

    keys = _keys(20_000).view(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"key": keys}))
    filt = ShardedCuckooFilter.build(df, "key", 30_000, 8, OFFSET_CFG)
    m = filt.metrics().collect()[0]
    assert m["num_shards"] == 8 and m["failures"] == 0
    assert m["occupied"] == len(set(keys.tolist()))
    pos = filt.contains(df.select("key"))
    assert pos.filter(~F.col("member")).count() == 0
    neg_keys = (_keys(20_000, seed=3) | np.uint64(1 << 63)).view(np.int64)
    neg = spark.createDataFrame(pd.DataFrame({"key": neg_keys}))
    fpr = filt.contains(neg).filter(F.col("member")).count() / 20_000
    assert fpr <= 2.5 * (2 * 4 * 1.0 / (1 << 15))


def test_sharded_offset_broadcast_guard(spark):
    """VERDICT r4 task 1: guard parity with the XOR policy — an
    oversized offset filter must not be silently collected and
    broadcast: it warns and answers bit-identically through the
    routed lane (per-key join, not just aggregate counts)."""
    import warnings

    import pandas as pd
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

    keys = _keys(20_000).view(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"key": keys}))
    filt = ShardedCuckooFilter.build(df, "key", 30_000, 8, OFFSET_CFG)
    probes = df.select("key").distinct()
    routed = filt.contains(probes, "routed").persist()

    object.__setattr__(filt, "max_broadcast_bytes", 1024)  # force trip
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        fell_back = filt.contains_broadcast(probes).persist()
        fell_back.count()
        assert any("broadcast guard" in str(x.message) for x in w)
    # per-key agreement: zero mismatched (key, member) rows either way
    mism = (
        fell_back.join(routed, "key")
        .filter(F.col("member") != F.col("routed"))
        .count()
    )
    assert mism == 0
    assert fell_back.count() == routed.count()

    # an in-budget filter still takes the true broadcast lane
    object.__setattr__(filt, "max_broadcast_bytes", 512 << 20)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        bc = filt.contains_broadcast(probes)
        assert bc.filter(~F.col("member")).count() == 0
        assert not any("broadcast guard" in str(x.message) for x in w)
    fell_back.unpersist()
    routed.unpersist()
    filt.shards.unpersist()


def test_sharded_offset_delete(spark):
    """delete-then-requery parity for the distributed Offset path:
    deleted keys vanish, survivors all remain (reference deleteMany
    over OffsetAltBucketPolicy, bucket_policies.cuh:190-351)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

    keys = np.unique(_keys(20_000)).view(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"key": keys}))
    sharded = ShardedCuckooFilter.build(
        df, "key", 30_000, 8, OFFSET_CFG
    ).persist()
    n = len(keys)
    evens = df.filter(F.pmod(F.col("key"), 2) == 0).select("key")
    odds = df.join(evens, "key", "left_anti").select("key")
    n_even = evens.count()

    res, newf = sharded.delete(evens)
    assert res.filter(F.col("ok")).count() == n_even
    m = newf.metrics().collect()[0]
    assert m["occupied"] == n - n_even
    # deleted keys (almost) all gone — residual hits are FPs only —
    # and every survivor still found (zero false negatives)
    gone = newf.contains(evens)
    assert gone.filter(F.col("member")).count() <= int(0.01 * n_even) + 5
    still = newf.contains(odds)
    assert still.filter(~F.col("member")).count() == 0


def test_sharded_offset_delete_count_and_release(spark):
    """The delete's scalar n_ok aggregate is readable and the
    persisted delete plan is releasable (regression: every delete
    leaked a cached DataFrame with no way to free it)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

    keys = np.unique(_keys(5_000)).view(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"key": keys}))
    sharded = ShardedCuckooFilter.build(df, "key", 8_000, 4, OFFSET_CFG)
    evens = df.filter(F.pmod(F.col("key"), 2) == 0).select("key")
    _res, newf = sharded.delete(evens)
    assert newf.delete_success_count() == evens.count()
    assert newf._delete_src is not None
    newf.release()
    assert newf._delete_src is None
    with pytest.raises(ValueError):
        newf.delete_success_count()

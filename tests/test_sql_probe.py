"""JVM↔numpy parity of the chained hash family, and the JVM-packed
builds and routed ops that rest on it.

The whole design rests on bit-exactness between
``hashing.chained_hash`` (numpy) and ``F.xxhash64(col, lit(salt))``
(JVM), so these tests are the contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.config import DISP_SALT, FP_SALT, CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter
from cuckoo_filter_spark.hashing import (
    chained_hash, chained_hash_expr, keys_to_unsigned, packed_expr,
)
from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

CFG = CuckooConfig(bits_per_tag=16, bucket_size=4)
ADDSUB_CFG = CuckooConfig(bits_per_tag=16, bucket_size=4,
                          bucket_policy="addsub")


@pytest.fixture(scope="module")
def keys_df(spark):
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, 4096, dtype=np.int64)
    return spark.createDataFrame(
        [(int(k),) for k in keys], "key long"
    ), keys


def test_chained_hash_jvm_parity(spark, keys_df):
    df, keys = keys_df
    for salt in (FP_SALT, DISP_SALT, 12345):
        got = np.array(
            [r.h for r in df.select(
                chained_hash_expr(F.col("key"), salt).alias("h")
            ).collect()],
            dtype=np.int64,
        )
        # rows may come back in order (single partition createDataFrame)
        want = chained_hash(keys_to_unsigned(keys), salt).view(np.int64)
        assert np.array_equal(np.sort(got), np.sort(want))


@pytest.mark.parametrize("policy", ["xor", "addsub"])
def test_packed_expr_matches_kernel(spark, keys_df, policy):
    """JVM packed candidates ``(i1 << f) | fp`` == numpy kernel
    candidates per key. AddSub runs at a non-pow2 bucket count
    (1,500), where its primary bucket is a mod, not a bit mask."""
    df, keys = keys_df
    flt = CuckooFilter(6000, CFG if policy == "xor" else ADDSUB_CFG)
    if policy == "addsub":
        assert flt.num_buckets == 1500
    i1n, _, fpn = flt.candidates(keys_to_unsigned(keys))
    f = CFG.bits_per_tag
    packed = packed_expr("key", flt.num_buckets, f, policy)
    by_key = {
        r.key: r.p for r in df.select("key", packed.alias("p")).collect()
    }
    for k, fp, i1 in zip(keys, fpn, i1n):
        assert by_key[int(k)] == (int(i1) << f) | int(fp)


def test_packed_build_matches_key_build(spark, keys_df):
    df, keys = keys_df
    a = ShardedCuckooFilter.build(df, "key", 6000, 8, CFG)
    b = ShardedCuckooFilter._build_keys(df, "key", 6000, 8, CFG)
    blobs_a = {r.shard_id: (bytes(r.blob), r.rows, r.inserted)
               for r in a.shards.collect()}
    blobs_b = {r.shard_id: (bytes(r.blob), r.rows, r.inserted)
               for r in b.shards.collect()}
    assert blobs_a == blobs_b  # bit-identical filters


def test_bucketed_build_matches(spark, keys_df, tmp_path):
    df, keys = keys_df
    path = str(tmp_path / "bucketed")
    ShardedCuckooFilter.write_bucketed_keys(df, "key", 6000, 8, path, CFG)
    bucketed = spark.read.parquet(path)
    a = ShardedCuckooFilter.build_bucketed(bucketed, 6000, 8, CFG)
    b = ShardedCuckooFilter.build(df, "key", 6000, 8, CFG)
    blobs_a = {r.shard_id: bytes(r.blob) for r in a.shards.collect()}
    blobs_b = {r.shard_id: bytes(r.blob) for r in b.shards.collect()}
    assert set(blobs_a) == set(blobs_b)
    # same keys per shard -> same occupancy; layout may differ with
    # input order, so compare membership, not bytes
    out = a.contains_broadcast(df, "key")
    assert out.filter(~F.col("member")).count() == 0


def test_read_bucketed_keys_split_parallelism(spark, keys_df, tmp_path):
    """A small-file bucketed table must scan with ~one split per
    file, not the 2-3 splits the default 128 MB maxPartitionBytes +
    4 MB openCostInBytes would coalesce it into — build_bucketed's
    placement parallelism IS the split count (no Exchange)."""
    df, keys = keys_df
    path = str(tmp_path / "bucketed_split")
    ShardedCuckooFilter.write_bucketed_keys(df, "key", 6000, 8, path, CFG)
    n_files = len(
        [p for p in __import__("os").listdir(path) if p.endswith(".parquet")]
    )
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        bucketed = ShardedCuckooFilter.read_bucketed_keys(
            spark, path, target_splits=64
        )
        got = bucketed.rdd.getNumPartitions()
        assert got >= min(n_files, 64), (got, n_files)
        # the filter built from the matched-split read is unchanged
        a = ShardedCuckooFilter.build_bucketed(bucketed, 6000, 8, CFG)
        out = a.contains_broadcast(df, "key")
        assert out.filter(~F.col("member")).count() == 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)


def test_packed_build_matches_key_build_addsub(spark, keys_df):
    """AddSub policy through the JVM-packed lane: i1 = low-32 %
    (nb/2) in codegen (bucket_policies.cuh:126-143), alt bucket
    resolved numpy-side — bit-identical to the key-shipping build."""
    df, keys = keys_df
    a = ShardedCuckooFilter.build(df, "key", 6000, 8, ADDSUB_CFG)
    b = ShardedCuckooFilter._build_keys(df, "key", 6000, 8, ADDSUB_CFG)
    blobs_a = {r.shard_id: (bytes(r.blob), r.rows, r.inserted)
               for r in a.shards.collect()}
    blobs_b = {r.shard_id: (bytes(r.blob), r.rows, r.inserted)
               for r in b.shards.collect()}
    assert blobs_a == blobs_b
    # the packed build records the per-shard bucket count
    assert a.shard_num_buckets is not None


def test_addsub_routed_contains_delete(spark, keys_df):
    df, keys = keys_df
    sh = ShardedCuckooFilter.build(df, "key", 6000, 8, ADDSUB_CFG).persist()
    probes = df.unionByName(
        spark.range(4096).select((F.col("id") + 2**43).alias("key"))
    )
    res = {r.key: r.member for r in sh.contains(probes).collect()}
    assert all(res[int(k)] for k in keys)  # zero false negatives
    # delete half, requery: survivors all present (zero false
    # negatives is the invariant; deleted keys may still FP)
    half = spark.createDataFrame(
        [(int(k),) for k in keys[: len(keys) // 2]], "key long"
    )
    outcomes, sh2 = sh.delete(half, per_key=True)
    assert outcomes.filter(~F.col("ok")).count() == 0
    after = {r.key: r.member for r in sh2.contains(df).collect()}
    kept = keys[len(keys) // 2:]
    assert all(after[int(k)] for k in kept)


def test_bucketed_layout_sidecar_validation(spark, keys_df, tmp_path):
    """ADVICE r3: the packed layout is only decodable with write-time
    parameters. The sidecar must validate (matching params pass,
    mismatched capacity/num_shards/config raise) instead of silently
    mis-extracting shard ids and tags."""
    df, keys = keys_df
    path = str(tmp_path / "bucketed_sidecar")
    ShardedCuckooFilter.write_bucketed_keys(df, "key", 6000, 8, path, CFG)
    assert (tmp_path / "bucketed_sidecar" / "_cuckoo_layout.json").exists()
    bucketed = spark.read.parquet(path)
    ok = ShardedCuckooFilter.build_bucketed(
        bucketed, 6000, 8, CFG, path=path
    )
    assert ok.metrics().collect()[0]["failures"] == 0
    with pytest.raises(ValueError, match="layout mismatch"):
        ShardedCuckooFilter.build_bucketed(bucketed, 6000, 16, CFG, path=path)
    with pytest.raises(ValueError, match="layout mismatch"):
        ShardedCuckooFilter.build_bucketed(
            bucketed, 200_000, 8, CFG, path=path
        )
    from cuckoo_filter_spark.config import CuckooConfig as _CC
    with pytest.raises(ValueError, match="layout mismatch"):
        ShardedCuckooFilter.build_bucketed(
            bucketed, 6000, 8, _CC(bits_per_tag=8, bucket_size=8), path=path
        )

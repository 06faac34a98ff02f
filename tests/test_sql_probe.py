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
from cuckoo_filter_spark.operators.membership import (
    ShardedCuckooFilter, per_shard_capacity,
)

CFG = CuckooConfig(bits_per_tag=16, bucket_size=4)
ADDSUB_CFG = CuckooConfig(bits_per_tag=16, bucket_size=4,
                          bucket_policy="addsub")
OFFSET_CFG = CuckooConfig(bits_per_tag=16, bucket_size=4,
                          bucket_policy="offset")
POLICY_CFG = {"xor": CFG, "addsub": ADDSUB_CFG, "offset": OFFSET_CFG}


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


@pytest.mark.parametrize("policy", ["xor", "addsub", "offset"])
def test_packed_expr_matches_kernel(spark, keys_df, policy):
    """JVM packed candidates ``(i1 << f) | fp`` == numpy kernel
    candidates per key. AddSub runs at a non-pow2 bucket count
    (1,500) and Offset at an odd one (1,501), where the primary
    bucket is a mod, not a bit mask; Offset's fp has f-1 bits."""
    df, keys = keys_df
    flt = CuckooFilter(6000 if policy != "offset" else 6004, POLICY_CFG[policy])
    if policy != "xor":
        assert flt.num_buckets == {"addsub": 1500, "offset": 1501}[policy]
    i1n, _, fpn = flt.candidates(keys_to_unsigned(keys))
    f = CFG.bits_per_tag
    packed = packed_expr("key", flt.num_buckets, f, policy)
    by_key = {
        r.key: r.p for r in df.select("key", packed.alias("p")).collect()
    }
    for k, fp, i1 in zip(keys, fpn, i1n):
        assert by_key[int(k)] == (int(i1) << f) | int(fp)


def _assert_matches_local(sharded, keys, capacity, local_shards):
    """Every shard of ``sharded`` holds what ``insert_many`` of its keys
    gives a numpy filter: same shard ids, rows, occupancy and bucket
    count, and the same contains and count answers on the keys plus as
    many negatives."""
    local = local_shards(keys, capacity, sharded.num_shards, sharded.config)
    probes = keys_to_unsigned(np.concatenate([keys, keys ^ (1 << 62)]))
    rows = sharded.shards.collect()
    assert sorted(r.shard_id for r in rows) == sorted(local.filters)
    for r in rows:
        flt = CuckooFilter.from_bytes(bytes(r.blob))
        want = local.filters[r.shard_id]
        assert flt.config == want.config
        assert (r.rows, r.inserted, flt.num_buckets, flt.failures) == (
            want.inserts, want.occupied, want.num_buckets, 0
        )
        assert np.array_equal(
            flt.contains_many(probes), want.contains_many(probes)
        )
        assert np.array_equal(flt.count_many(probes), want.count_many(probes))


def test_packed_build_matches_key_build(spark, keys_df, local_shards):
    """The JVM-packed build holds the filters ``insert_many`` of each
    shard's keys builds in numpy (chained hash family parity)."""
    df, keys = keys_df
    a = ShardedCuckooFilter.build(df, "key", 6000, 8, CFG)
    _assert_matches_local(a, keys, 6000, local_shards)


def test_bucketed_build_matches(spark, keys_df, tmp_path):
    df, keys = keys_df
    path = str(tmp_path / "bucketed")
    ShardedCuckooFilter.write_bucketed_keys(df, "key", 6000, 8, path, CFG)
    bucketed = spark.read.parquet(path)
    a = ShardedCuckooFilter.build_bucketed(bucketed, 6000, 8, CFG)
    b = ShardedCuckooFilter.build(df, "key", 6000, 8, CFG)
    ids_a = [r.shard_id for r in a.shards.collect()]
    ids_b = [r.shard_id for r in b.shards.collect()]
    # one row per shard id: a shard built by two tasks would come back
    # as two partial rows
    assert sorted(ids_a) == sorted(set(ids_a)) == sorted(ids_b)
    # same keys per shard -> same occupancy; layout may differ with
    # input order, so compare membership, not bytes
    out = a.contains_broadcast(df, "key")
    assert out.filter(~F.col("member")).count() == 0


def _n_files(path):
    import os

    return len([p for p in os.listdir(path) if p.endswith(".parquet")])


def test_read_bucketed_keys_split_parallelism(
    spark, keys_df, tmp_path, split_confs
):
    """A small-file bucketed table scans as exactly one split per file,
    not the 2-3 splits the default 128 MB maxPartitionBytes + 4 MB
    openCostInBytes would coalesce it into — build_bucketed's
    placement parallelism IS the split count (no Exchange)."""
    df, keys = keys_df
    path = str(tmp_path / "bucketed_split")
    ShardedCuckooFilter.write_bucketed_keys(df, "key", 6000, 8, path, CFG)
    bucketed = ShardedCuckooFilter.read_bucketed_keys(spark, path)
    assert bucketed.rdd.getNumPartitions() == _n_files(path)
    a = ShardedCuckooFilter.build_bucketed(bucketed, 6000, 8, CFG)
    out = a.contains_broadcast(df, "key")
    assert out.filter(~F.col("member")).count() == 0


def test_read_bucketed_keys_runs_no_job(spark, keys_df, tmp_path, split_confs):
    """The layout sidecar gives the table's schema, so reading a
    bucketed table plans no schema-inference job (a one-task footer
    read that costs more driver CPU than the read itself)."""
    df, _ = keys_df
    path = str(tmp_path / "bucketed_no_job")
    ShardedCuckooFilter.write_bucketed_keys(df, "key", 6000, 8, path, CFG)
    sc = spark.sparkContext
    sc.setJobGroup("read_bucketed_keys_no_job", "schema from the sidecar")
    try:
        table = ShardedCuckooFilter.read_bucketed_keys(spark, path)
        jobs = sc.statusTracker().getJobIdsForGroup("read_bucketed_keys_no_job")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert table.columns == ["__packed"]
    assert table.count() == len(keys_df[1])


def test_shard_builder_rejects_null_key_column():
    """A schema column the scanned files lack reads as null; the
    placement worker refuses it instead of placing garbage tags."""
    import pyarrow as pa

    from cuckoo_filter_spark.operators.membership import _arrow_shard_builder

    rb = pa.record_batch({"__packed": pa.array([5, None], pa.int64())})
    with pytest.raises(ValueError, match="null"):
        list(_arrow_shard_builder(1000, CFG, 20)([rb]))


def test_bucketed_build_keeps_multi_row_group_shards_whole(
    spark, tmp_path, split_confs
):
    """A shard file of several parquet row groups is still built by ONE
    task: read_bucketed_keys scans every file as one split, so
    build_bucketed returns one row per shard and routed contains finds
    every key. Had the scan cut a file, each piece would build its own
    partial filter under the same shard id and the probes would read
    only one of them (false negatives)."""
    path = str(tmp_path / "bucketed_row_groups")
    keys = spark.range(0, 400_000).select(
        (F.col("id") * 7919 + 13).alias("key")
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(256 << 10))
    try:
        ShardedCuckooFilter.write_bucketed_keys(
            keys, "key", 800_000, 4, path, CFG
        )
    finally:
        if prev_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev_block)
    table = ShardedCuckooFilter.read_bucketed_keys(spark, path)
    assert table.rdd.getNumPartitions() == _n_files(path)
    filt = ShardedCuckooFilter.build_bucketed(
        table, 800_000, 4, CFG, path=path
    ).persist()
    ids = [r.shard_id for r in filt.shards.select("shard_id").collect()]
    assert sorted(ids) == [0, 1, 2, 3]
    assert filt.contains(keys).filter(~F.col("member")).count() == 0
    filt.shards.unpersist()


def test_packed_build_matches_key_build_addsub(spark, keys_df, local_shards):
    """AddSub and Offset through the JVM-packed lane: i1 = low-32 %
    (nb/2) or % nb in codegen (bucket_policies.cuh:126-143, 266-287),
    (i2, t2) resolved numpy-side — the same filters as ``insert_many``
    of each shard's keys."""
    df, keys = keys_df
    for cfg in (ADDSUB_CFG, OFFSET_CFG):
        a = ShardedCuckooFilter.build(df, "key", 6000, 8, cfg)
        _assert_matches_local(a, keys, 6000, local_shards)
        # the packed build records the per-shard bucket count
        assert a.shard_num_buckets == cfg.num_buckets_for(
            per_shard_capacity(6000, 8)
        )


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

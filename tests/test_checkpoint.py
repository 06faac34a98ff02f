"""Checkpoint/lineage/resume tests (FIXTURES.md §4
checkpoint_resume; north_rule resumability gate)."""

import json

import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter
from cuckoo_filter_spark.plans.checkpoint import (
    build_resumable, read_checkpoint, write_checkpoint,
)
from cuckoo_filter_spark.sources.repo_table import synthetic_repo_files

CFG = CuckooConfig(16, 4)
N = 12_000
CAP = 16_384
S = 8


@pytest.fixture(scope="module")
def repo_df(spark):
    df = synthetic_repo_files(spark, N, num_partitions=8).persist()
    df.count()
    return df


def test_checkpoint_roundtrip(spark, repo_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt") / "filter")
    filt = ShardedCuckooFilter.build(repo_df, "key", CAP, S, CFG)
    write_checkpoint(filt, path, input_desc="repo_files/N=12000")
    shards, lineage = read_checkpoint(spark, path)
    assert lineage["num_shards"] == S
    assert lineage["bucket_size"] == 4
    assert shards.count() == S
    restored = ShardedCuckooFilter(shards, S, CFG)
    out = restored.contains(repo_df.select("key"))
    assert out.filter(F.col("member")).count() == N


def test_resume_skips_completed_shards(spark, repo_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt") / "resume")
    # uninterrupted build as the semantic reference
    full = build_resumable(spark, repo_df, "key", CAP, S, path + "_full",
                           CFG, input_desc="x")
    # simulate an interrupted run: checkpoint containing only 5 shards
    partial = ShardedCuckooFilter(
        full.shards.filter(F.col("shard_id") < 5), S, CFG
    )
    write_checkpoint(partial, path, input_desc="x")
    resumed = build_resumable(spark, repo_df, "key", CAP, S, path, CFG,
                              input_desc="x")
    assert resumed.shards.count() == S
    # lineage check: completed shard blobs were reused byte-identically
    orig = {r.shard_id: bytes(r.blob) for r in full.shards.collect()
            if r.shard_id < 5}
    new = {r.shard_id: bytes(r.blob) for r in resumed.shards.collect()
           if r.shard_id < 5}
    assert orig == new
    # semantic equality with the uninterrupted build
    probes = synthetic_repo_files(spark, 20_000, num_partitions=4, seed=31)
    a = full.contains(probes.select("key")).withColumnRenamed("member", "a")
    b = resumed.contains(probes.select("key")).withColumnRenamed("member", "b")
    diff = a.join(b, "key").filter(F.col("a") != F.col("b")).count()
    assert diff == 0
    # and zero false negatives on the actual inserted set
    ins = resumed.contains(repo_df.select("key"))
    assert ins.filter(F.col("member")).count() == N


def test_lineage_mismatch_forces_full_rebuild(spark, repo_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt") / "mismatch")
    filt = ShardedCuckooFilter.build(repo_df, "key", CAP, S, CFG)
    write_checkpoint(filt, path, input_desc="OLD-INPUT")
    # different input_desc → checkpoint must be ignored, not reused
    rebuilt = build_resumable(spark, repo_df, "key", CAP, S, path, CFG,
                              input_desc="NEW-INPUT")
    _, lineage = read_checkpoint(spark, path)
    assert lineage["input"] == "NEW-INPUT"
    assert rebuilt.total_occupied() == N


def test_lineage_records_bucket_policy(spark, tmp_path_factory):
    """Two policies with the same per-shard bucket count (512 here)
    must not share a checkpoint: the addsub build must not come back
    holding the xor shards written before it."""
    from cuckoo_filter_spark.core.cuckoo import CuckooFilter

    path = str(tmp_path_factory.mktemp("ckpt") / "policy")
    keys = spark.range(0, 20_000).withColumnRenamed("id", "key")
    for policy in ("xor", "addsub"):
        cfg = CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy=policy)
        filt = build_resumable(spark, keys, "key", 8030, 4, path, cfg)
        assert filt.shard_num_buckets == 512
        stored = {
            CuckooFilter.from_bytes(bytes(r.blob)).config.bucket_policy
            for r in filt.shards.select("blob").collect()
        }
        assert stored == {policy}


def test_pre_change_lineage_rebuilds(spark, tmp_path_factory):
    """A checkpoint whose lineage predates Offset shards becoming CKFS
    blobs of the one kernel (lineage version 2: its Offset shards are
    ``OCKF`` blobs, which no longer decode) is rebuilt once, not
    loaded."""
    from cuckoo_filter_spark.operators.membership import (
        _SHARD_SCHEMA, per_shard_capacity,
    )
    from cuckoo_filter_spark.plans.checkpoint import _lineage

    path = str(tmp_path_factory.mktemp("ckpt") / "old_lineage")
    cfg = CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy="offset")
    keys = spark.range(0, 5_000).withColumnRenamed("id", "key")
    snb = cfg.num_buckets_for(per_shard_capacity(8_000, 4))
    old = json.loads(_lineage(4, cfg, "", snb))
    old["version"] = 2
    stale = spark.createDataFrame(
        [(s, b"OCKF\x02" + bytes(58), 0, 0, 0, 0) for s in range(4)],
        _SHARD_SCHEMA,
    )
    stale.withColumn(
        "lineage", F.lit(json.dumps(old, sort_keys=True))
    ).write.parquet(path)
    filt = build_resumable(spark, keys, "key", 8_000, 4, path, cfg)
    assert filt.contains(keys).filter(~F.col("member")).count() == 0
    _, lineage = read_checkpoint(spark, path)
    assert lineage["version"] == 3

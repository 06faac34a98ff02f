"""Resumable shard builds: checkpoint + per-partition lineage.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The sharded filter state (shard_id → blob + rows /
inserted / kicks / failures) is written to parquet together with a
lineage column describing the shard's input slice (shard router,
shard count, config, input fingerprint). A resumed build reads the
checkpoint, keeps finished shards, and rebuilds ONLY the missing
shard ids by filtering the input on the same router expression —
partition pruning on the shard column keeps the re-read cheap.

This layer also stands in for the reference's IPC server
capability (``CuckooFilterIPC.cuh``): one process builds and
persists the filter; any later job loads (or broadcasts) it.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.operators.membership import (
    ShardedCuckooFilter, shard_expr,
)


def _lineage(
    num_shards: int, config: CuckooConfig, input_desc: str,
    shard_num_buckets: int | None = None,
) -> str:
    return json.dumps({
        "router": "xxhash64_seed42_pmod",
        "hash_family": "chained_xxh64_v2",  # hashing.chained_hash
        "num_shards": num_shards,
        "bits_per_tag": config.bits_per_tag,
        "bucket_size": config.bucket_size,
        "bucket_policy": config.bucket_policy,
        "shard_num_buckets": shard_num_buckets,
        "input": input_desc,
        # 3: Offset shards are CKFS blobs of the one CuckooFilter
        # kernel; older checkpoints rebuild once
        "version": 3,
    }, sort_keys=True)


def write_checkpoint(
    filt: ShardedCuckooFilter, path: str, input_desc: str = ""
) -> None:
    lineage = _lineage(
        filt.num_shards, filt.config, input_desc, filt.shard_num_buckets
    )
    (
        filt.shards.withColumn("lineage", F.lit(lineage))
        .repartition(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_checkpoint(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    df = spark.read.parquet(path)
    lineage = json.loads(df.select("lineage").first()["lineage"])
    return df.drop("lineage"), lineage


def build_resumable(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    capacity: int,
    num_shards: int,
    checkpoint_path: str,
    config: CuckooConfig | None = None,
    input_desc: str = "",
) -> ShardedCuckooFilter:
    """Build a sharded filter, skipping shards already checkpointed.

    A fresh run builds everything and writes the checkpoint; an
    interrupted run resumes: completed shard ids are read from the
    checkpoint (lineage must match — different router/config/input
    would silently corrupt), only missing shards are rebuilt from
    the filtered input, and the union is re-written.
    """
    cfg = config or CuckooConfig()
    from cuckoo_filter_spark.operators.membership import per_shard_capacity
    snb = cfg.num_buckets_for(per_shard_capacity(capacity, num_shards))
    expected = _lineage(num_shards, cfg, input_desc, snb)
    done_df = None
    done_ids: set[int] = set()
    try:
        existing, lineage = read_checkpoint(spark, checkpoint_path)
        if json.dumps(lineage, sort_keys=True) == expected:
            done_df = existing.persist()
            done_ids = {r.shard_id for r in done_df.select("shard_id").collect()}
    except Exception:
        pass  # no (readable) checkpoint → full build

    if len(done_ids) == num_shards:
        return ShardedCuckooFilter(
            done_df, num_shards, cfg, key_col, shard_num_buckets=snb
        )

    remaining = df
    if done_ids:
        remaining = df.filter(
            ~shard_expr(key_col, num_shards).isin(list(done_ids))
        )
    built = ShardedCuckooFilter.build(remaining, key_col, capacity, num_shards, cfg)
    shards = built.shards if done_df is None else done_df.unionByName(built.shards)
    # materialize before overwriting the checkpoint we may have read from
    shards = shards.localCheckpoint(eager=True)
    result = ShardedCuckooFilter(
        shards, num_shards, cfg, key_col, shard_num_buckets=snb
    )
    write_checkpoint(result, checkpoint_path, input_desc)
    return result

"""Same-phase interleaved A/B of probe-table reads for `contains_broadcast`.

Round-3 VERDICT flagged a possible ~20-25% probe-path regression
(round-1 code hit 26.1M probes/s in-phase vs HEAD best-of-3 20.9M).
The round-1 and HEAD `contains_broadcast` UDFs are byte-identical
(verified via git), so any real difference must come from the bench
harness context — probe-table split sizing (round 1 read probes with
default confs; round 3 introduced matched-split reads) or lane
choice. This script settles it with data: ONE session, ONE filter
build, then interleaved reps of each variant (so host-phase drift
hits all variants equally), reporting per-variant times, split
counts, and probes/s.

Variants:
  matched   — read_matched_splits(probes)  (HEAD bench behavior)
  default   — default 128MB/4MB split confs (round-1 bench behavior)
  matched2x — matched splits at 2x parallelism (finer waves)

Usage: python scripts/contains_ab.py [reps]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from bench import CFG, TARGET_LOAD, OVER, build_session, prefault_memory, reclaim
from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter
from cuckoo_filter_spark.sources.parquet_io import read_matched_splits
from cuckoo_filter_spark.sources.repo_table import synthetic_repo_files


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_keys = int(os.environ.get(
        "SPARK_GRAFT_BENCH_KEYS", str(int((1 << 24) * TARGET_LOAD))
    ))
    prefault_memory(int(os.environ.get("SPARK_GRAFT_PREFAULT_GB", "12")))
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    num_shards = max(2 * cpus, 16)
    per_shard_slots = 1 << max(
        10, int(round(np.log2(n_keys / TARGET_LOAD / num_shards)))
    )
    slot_capacity = per_shard_slots * num_shards
    n_keys = int(slot_capacity * TARGET_LOAD)
    capacity = int(slot_capacity / OVER())
    while int(np.ceil(capacity / num_shards * OVER())) > per_shard_slots:
        capacity -= num_shards

    work_dir = os.environ.get("SPARK_GRAFT_WORK_DIR", "/tmp/spark_graft_bench")
    keys_path = f"{work_dir}/ab_keys_{n_keys}.parquet"
    probes_path = f"{work_dir}/ab_probes_{n_keys}.parquet"
    gen = synthetic_repo_files(spark, n_keys, num_partitions=cpus)
    gen.select("key").write.mode("overwrite").parquet(keys_path)
    repo = read_matched_splits(spark, keys_path)
    (
        repo.select("key")
        .unionByName(
            synthetic_repo_files(spark, n_keys, num_partitions=cpus, seed=777)
            .select("key")
        )
        .write.mode("overwrite").parquet(probes_path)
    )

    # warm the worker pool
    import pandas as _pd

    def _warm(it):
        from cuckoo_filter_spark.core.cuckoo import CuckooFilter  # noqa: F401
        for pdf in it:
            yield _pd.DataFrame({"x": [len(pdf)]})

    spark.range(0, cpus * 4, 1, cpus * 4).mapInPandas(_warm, "x long").count()

    filt = ShardedCuckooFilter.build(repo, "key", capacity, num_shards, CFG)
    filt.persist()
    filt.metrics().collect()

    def set_default_confs():
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
        spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))

    def read_default():
        set_default_confs()
        return spark.read.parquet(probes_path)

    variants = {
        "matched": lambda: read_matched_splits(spark, probes_path),
        "default": read_default,
        "matched2x": lambda: read_matched_splits(
            spark, probes_path, target_splits=2 * cpus
        ),
    }

    # warm the stacked-broadcast cache once, outside the timed reps —
    # steady-state serving is what the reference benchmark times (the
    # filter is built once, queried repeatedly)
    probes0 = read_matched_splits(spark, probes_path)
    n_probes = probes0.count()
    filt.contains_broadcast(probes0.limit(1000), "key").count()

    times: dict[str, list] = {k: [] for k in variants}
    splits: dict[str, int] = {}
    for rep in range(reps):
        for name, reader in variants.items():
            reclaim(spark)
            df = reader()
            splits[name] = df.rdd.getNumPartitions()
            t0 = time.time()
            filt.contains_broadcast(df, "key").filter(F.col("member")).count()
            times[name].append(round(time.time() - t0, 3))

    out = {}
    for name, ts in times.items():
        best = min(ts)
        out[name] = {
            "times": ts,
            "best_s": best,
            "median_s": sorted(ts)[len(ts) // 2],
            "splits": splits[name],
            "best_probes_per_sec": round(n_probes / best),
        }
    print(json.dumps({"n_probes": n_probes, "variants": out}, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()

"""Benchmark harness — prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {...per-query sec...}, "sf": ...,
 plus informational throughput fields}.

Headline workload mirrors the reference benchmark definitions
(BASELINE.md): batch fingerprint inserts to ~0.95 load factor,
batched membership queries (positive + disjoint negative probes),
batched deletes — on sha256-derived keys from a synthesized
Iceberg-shaped repo table — plus representative sf-scale table
queries (TPC-H Q1 ints, HLL distinct, t-digest quantiles, exact
dedup, token stats, ANN top-k).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
SPARK_GRAFT_BENCH_KEYS (default 2^24 filter slots' worth, ~16M keys;
snapped to pow2 geometry so true slot load is 0.95). The driver heap
is 40% of the host's MemTotal.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.hll import HyperLogLog
from cuckoo_filter_spark.core.tdigest import TDigest
from cuckoo_filter_spark.operators import dedup, similarity, text
from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter
from cuckoo_filter_spark.operators.sketch_agg import aggregate_sketch
from cuckoo_filter_spark.sources.parquet_io import read_matched_splits
from cuckoo_filter_spark.sources.repo_table import synthetic_repo_files

CFG = CuckooConfig(bits_per_tag=16, bucket_size=4)
TARGET_LOAD = 0.95


def host_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def driver_memory() -> str:
    """Driver heap for local mode (every executor lives in it): 40%
    of the host's MemTotal, leaving the rest to Python workers."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1, (kb * 2 // 5) >> 20)}g"


def build_session(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("cuckoo-filter-spark-bench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        # a 3s scheduler stall per stage otherwise (cached-block
        # locality preference is meaningless in local mode)
        .config("spark.locality.wait", "0ms")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .getOrCreate()
    )


def reclaim(spark: SparkSession) -> None:
    """Free the previous rep's memory between reps: a JVM GC also
    drops finished shuffle files via the ContextCleaner."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


def run_bench(spark: SparkSession, sf_dir: str, n_keys: int) -> dict:
    timings: dict[str, float] = {}
    info: dict[str, float] = {}
    cpus = spark.sparkContext.defaultParallelism

    # ---- headline: cuckoo insert / contains / delete ------------------
    # Size the request so the ACTUAL per-shard slot capacity (pow2
    # bucket rounding included) puts slot load at ~TARGET_LOAD — the
    # reference's protocol (loadFactor = occupied / slot capacity,
    # CuckooFilter.cuh:688-690; benchmarks insert 0.95 * capacity).
    num_shards = max(2 * cpus, 16)
    per_shard_slots = 1 << max(
        10, int(round(np.log2(n_keys / TARGET_LOAD / num_shards)))
    )
    slot_capacity = per_shard_slots * num_shards
    # snap n_keys to the pow2 geometry so slot load is exactly the target
    n_keys = int(slot_capacity * TARGET_LOAD)
    capacity = int(slot_capacity / OVER())
    while int(np.ceil(capacity / num_shards * OVER())) > per_shard_slots:
        capacity -= num_shards

    # materialize the key table to parquet OUTSIDE the timed region:
    # a parquet scan feeds ArrowEvalPython ~2x faster than an
    # InMemoryTableScan (row-at-a-time cache unpacking), and matches
    # the 100 TB deployment shape (filters built from files, not
    # from a driver-cached table)
    work_dir = os.environ.get("SPARK_GRAFT_WORK_DIR", "/tmp/spark_graft_bench")
    keys_path = f"{work_dir}/keys_{n_keys}.parquet"
    probes_path = f"{work_dir}/probes_{n_keys}.parquet"
    gen = synthetic_repo_files(spark, n_keys, num_partitions=cpus)
    gen.select("key").write.mode("overwrite").parquet(keys_path)
    # matched-split reads: these tables are a few MB per file, and
    # the default 128 MB maxPartitionBytes + 4 MB open cost packs
    # the whole scan into 2-3 splits — serializing the map side of
    # every stage they feed (measured: 123 MB / 32 files → 2 tasks)
    repo = read_matched_splits(spark, keys_path)
    n_rows = repo.count()

    # warm the Python worker pool (imports numpy/pandas/our package in
    # every worker) so timings measure operators, not interpreter start
    import pandas as _pd

    def _warm(it):
        from cuckoo_filter_spark.core.cuckoo import CuckooFilter  # noqa: F401
        for pdf in it:
            yield _pd.DataFrame({"x": [len(pdf)]})

    spark.range(0, cpus * 4, 1, cpus * 4).mapInPandas(_warm, "x long").count()

    # default 4: the three cuckoo build/delete ops dominate the noise
    # budget (host-phase drift up to ~2x) and one extra rep of each
    # costs ~7 s against a visibly better best-of sample
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "4"))

    # best-of-reps within this run, as in the reference's
    # google-benchmark repetitions (benchmark_common.cuh:377-384) —
    # noisy-neighbor CPU steal only ever slows a rep down
    best = None
    filt = None
    for _ in range(reps):
        if filt is not None:
            filt.shards.unpersist()
            filt = None
        reclaim(spark)
        t0 = time.time()
        filt = ShardedCuckooFilter.build(
            repo, "key", capacity, num_shards, CFG
        ).persist()
        m = filt.metrics().collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    timings["cuckoo_insert"] = best
    info["inserts_per_sec"] = n_rows / timings["cuckoo_insert"]
    info["insert_success_rate"] = m["occupied"] / m["rows"]
    info["load_factor"] = m["occupied"] / slot_capacity  # true slot load
    info["kicks_per_insert"] = m["kicks"] / m["rows"]

    # ---- zero-shuffle build from a pre-bucketed table -----------------
    # the 100 TB shape: the corpus is bucketed by the shard router at
    # ingest; every later filter build is scan -> placement, NO Exchange
    bucketed_path = f"{work_dir}/bucketed_{n_keys}.parquet"
    ShardedCuckooFilter.write_bucketed_keys(
        repo, "key", capacity, num_shards, bucketed_path, CFG
    )
    bucketed = ShardedCuckooFilter.read_bucketed_keys(spark, bucketed_path)
    best = None
    for _ in range(reps):
        reclaim(spark)
        t0 = time.time()
        bfilt = ShardedCuckooFilter.build_bucketed(
            bucketed, capacity, num_shards, CFG, path=bucketed_path
        )
        bm = bfilt.metrics().collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    # occupancy conservation: every key either occupies a slot or is
    # a counted kick-chain failure. Exact occupied equality between
    # the two builds is NOT an invariant at 0.95 load — which chain
    # exhausts max_kicks depends on arrival order (the reference's
    # CAS race is equally nondeterministic; success rate is a
    # reported metric, benchmark_common.cuh:331-339)
    assert bm["occupied"] + bm["failures"] == n_rows, (bm["occupied"], bm["failures"])
    assert m["occupied"] + m["failures"] == n_rows, (m["occupied"], m["failures"])
    assert abs(bm["occupied"] - m["occupied"]) <= 64
    timings["cuckoo_insert_bucketed"] = best
    info["inserts_bucketed_per_sec"] = n_rows / best

    (
        repo.select("key")
        .unionByName(
            synthetic_repo_files(spark, n_keys, num_partitions=cpus, seed=777)
            .select("key")
        )
        .write.mode("overwrite").parquet(probes_path)
    )
    # probes: DEFAULT split confs, not matched splits. Measured
    # same-phase interleaved A/B (BENCH/NOTES.md, 5 reps):
    # default sizing yields exactly one split per file (32 splits,
    # best 30.7M probes/s, median 1.12s) while the matched read's
    # bin-packing doubles the split count (64 splits, best 24.3M/s)
    # — a second task wave plus per-task UDF setup for nothing.
    # Spark's own bytesPerCore adaptation already matches this scan
    # to the core count; matched splits are for layouts it can't
    # adapt (see read_bucketed_keys).
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))
    probes = spark.read.parquet(probes_path)
    n_probes = probes.count()
    best = None
    for _ in range(max(reps, 5)):
        reclaim(spark)
        t0 = time.time()
        res = filt.contains_broadcast(probes, "key")
        n_member = res.filter(F.col("member")).count()
        best_dt = time.time() - t0
        best = best_dt if best is None else min(best, best_dt)
    timings["cuckoo_contains"] = best
    info["queries_per_sec"] = n_probes / timings["cuckoo_contains"]
    # zero false negatives → members >= inserted keys
    info["contains_fpr"] = max(0.0, (n_member - m["occupied"]) / (n_probes - n_rows))

    # reference delete protocol (benchmark_common.cuh:280-295):
    # delete EVERY inserted key; per-key outcomes stay in kernel
    # memory (the reference's d_output never leaves the device) and
    # the timed result is the scalar success count, exactly what the
    # reference's timed loop consumes from deleteMany
    deletes = repo
    n_del = n_rows
    best = None
    best_rate = 0.0
    for rep in range(reps):
        reclaim(spark)
        t0 = time.time()
        _, newf = filt.delete(deletes, per_key=False)  # filt unchanged
        n_ok = newf.delete_success_count()
        dt = time.time() - t0
        newf.release()
        if n_del / dt > best_rate:
            best_rate = n_del / dt
            best = dt
    timings["cuckoo_delete"] = best
    info["deletes_per_sec"] = best_rate
    info["delete_success_rate"] = n_ok / max(n_del, 1)

    # ---- table queries at sf ------------------------------------------
    # restore default split sizing: the sf tables are few large files
    # and row-group granularity makes sub-MB splits empty tasks
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))
    reclaim(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    t0 = time.time()
    (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("sum_qty"),
             F.count("*").alias("n"))
        .collect()
    )
    timings["q1_pricing"] = time.time() - t0

    t0 = time.time()
    hll = aggregate_sketch(
        li.select(F.col("l_orderkey").alias("key")), "key",
        lambda: HyperLogLog(14),
    )
    _ = hll.estimate()
    timings["hll_distinct"] = time.time() - t0

    t0 = time.time()
    td = aggregate_sketch(li, "l_extendedprice", lambda: TDigest(200),
                          unsigned_keys=False)
    _ = td.quantiles([0.1, 0.5, 0.9])
    timings["tdigest_quantiles"] = time.time() - t0

    t0 = time.time()
    dedup.exact_dedup(docs, "text", "doc_id").count()
    timings["dedup_exact"] = time.time() - t0

    t0 = time.time()
    docs.select("doc_id", *text.quality_features(F.col("text"))).agg(
        F.sum("n_tokens")
    ).collect()
    timings["token_stats"] = time.time() - t0

    t0 = time.time()
    queries = [(int(r.vec_id), list(r.embedding))
               for r in emb.limit(8).collect()]
    similarity.brute_force_topk(emb, queries, k=10).count()
    timings["ann_topk"] = time.time() - t0

    t0 = time.time()
    ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k")
    ).collect()
    timings["events_json_agg"] = time.time() - t0

    return {"timings": timings, "info": info, "n_keys": n_rows}


def OVER() -> float:
    from cuckoo_filter_spark.operators.membership import OVERPROVISION
    return OVERPROVISION


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    n_keys = int(os.environ.get(
        "SPARK_GRAFT_BENCH_KEYS", str(int((1 << 24) * TARGET_LOAD))
    ))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = run_bench(spark, sf_dir, n_keys)
    finally:
        spark.stop()
    total = sum(out["timings"].values())
    line = {
        "metric": "cuckoo sketch suite wall time (insert+contains+delete "
                  "@0.95 load + table queries)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in out["timings"].items()},
        "sf": sf,
        "cpus": cpus,
        "driver_memory": driver_memory(),
        "n_keys": out["n_keys"],
        "inserts_per_sec": round(out["info"]["inserts_per_sec"]),
        "inserts_bucketed_per_sec": round(
            out["info"]["inserts_bucketed_per_sec"]
        ),
        "queries_per_sec": round(out["info"]["queries_per_sec"]),
        "deletes_per_sec": round(out["info"]["deletes_per_sec"]),
        "load_factor": round(out["info"]["load_factor"], 4),
        "insert_success_rate": round(out["info"]["insert_success_rate"], 6),
        "delete_success_rate": round(out["info"]["delete_success_rate"], 6),
        "contains_fpr": round(out["info"]["contains_fpr"], 8),
        "kicks_per_insert": round(out["info"]["kicks_per_insert"], 3),
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()

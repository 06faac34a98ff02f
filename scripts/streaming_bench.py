"""Streaming membership throughput — the IPC-analog serving surface.

The reference's IPC capability keeps one long-lived filter answering
a continuous op stream (``/root/reference/include/CuckooFilterIPC.cuh
:190-445``). The Spark-first equivalents are the stateful streaming
operators (``streaming/membership.py``): sharded filter state lives
in ``applyInPandasWithState`` group state, each micro-batch applies
its ops. This bench measures sustained micro-batch ops/s for both:

* ``stream_build_sharded`` — insert-only stream (novelty gating),
* ``stream_apply_ops``    — mixed 90/10 insert/delete op stream.

Protocol: pre-write NB parquet files of OPS_PER_BATCH rows each; a
file-source stream with ``maxFilesPerTrigger=1`` turns each file
into one micro-batch; ``trigger(availableNow=True)`` drains them
all; a ``foreachBatch`` sink reduces every batch to tiny per-op
(count, ok) tallies, so correctness (success rates) is verified
without retaining outputs. Sustained rate = total ops / wall across
the drain (includes checkpointing + state round-trips — the number
a serving user would size from); the best single micro-batch rate
(engine's ``recentProgress``) is reported alongside as the
steady-state ceiling once the stream is warm.

Prints its run as one JSON line and writes nothing under BENCH/.

Usage: python scripts/streaming_bench.py
Env: SPARK_GRAFT_CPUS (usable CPUs), SPARK_GRAFT_STREAM_BATCHES (8),
     SPARK_GRAFT_STREAM_BATCH_ROWS (1000000), SPARK_GRAFT_WORK_DIR.
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import CFG, build_session, host_cpus, reclaim
from cuckoo_filter_spark.streaming.membership import (
    stream_apply_ops,
    stream_build_sharded,
)


def drain(result_df, ckpt: str, tally):
    """Run the streaming query to completion (availableNow) with a
    foreachBatch sink that reduces each batch through ``tally``.
    Returns (wall seconds, best single-batch ops/s)."""

    def sink(batch_df, batch_id):
        tally(batch_df)

    t0 = time.time()
    q = (
        result_df.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(sink)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    best = 0.0
    for p in q.recentProgress:
        dur = (p["durationMs"].get("triggerExecution") or 0) / 1000.0
        if p["numInputRows"] and dur > 0:
            best = max(best, p["numInputRows"] / dur)
    return wall, round(best)


def main():
    cpus = host_cpus()
    nb = int(os.environ.get("SPARK_GRAFT_STREAM_BATCHES", "8"))
    rows = int(os.environ.get("SPARK_GRAFT_STREAM_BATCH_ROWS", "1000000"))
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    work = os.environ.get("SPARK_GRAFT_WORK_DIR", "/tmp/spark_graft_bench")
    num_shards = max(2 * cpus, 16)
    total = nb * rows
    out = {
        "n_batches": nb, "rows_per_batch": rows, "cpus": cpus,
        "num_shards": num_shards,
    }

    # ---- op files: batch i inserts keys [i*rows, (i+1)*rows); the
    # mixed stream additionally deletes a 10% hash-sample of batch
    # i-1's keys (keys that ARE resident — delete success must be 1).
    ins_dir = f"{work}/stream_ins"
    mix_dir = f"{work}/stream_mix"
    for d in (ins_dir, mix_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    for i in range(nb):
        batch = spark.range(i * rows, (i + 1) * rows, 1, cpus).select(
            F.xxhash64("id").alias("key"),
            F.lit("insert").alias("op"),
            F.col("id").alias("seq"),
        )
        # one physical file per logical batch, so maxFilesPerTrigger=1
        # maps one file to one micro-batch
        batch.coalesce(1).write.parquet(f"{ins_dir}/b{i:03d}.parquet")
        if i > 0:
            prev = spark.range((i - 1) * rows, i * rows, 1, cpus).select(
                F.xxhash64("id").alias("key"),
                F.lit("delete").alias("op"),
                (F.col("id") + total).alias("seq"),
            ).filter(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(10)) == 0)
            batch = batch.unionByName(prev)
        batch.coalesce(1).write.parquet(f"{mix_dir}/b{i:03d}.parquet")
    schema = "key long, op string, seq long"

    # warm the worker pool so cold Python-process forks don't bill
    # the first micro-batch
    import pandas as _pd

    def _warm(it):
        from cuckoo_filter_spark.core.cuckoo import CuckooFilter  # noqa
        for pdf in it:
            yield _pd.DataFrame({"x": [len(pdf)]})

    spark.range(0, cpus * 4, 1, cpus * 4).mapInPandas(_warm, "x long").count()

    # ---- stream_build_sharded: insert-only novelty gating ----------
    reclaim(spark)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ins_dir}/*.parquet")
        .select("key")
    )
    built = stream_build_sharded(src, "key", int(total / 0.8), num_shards, CFG)
    tallies = {"rows": 0, "fresh": 0}

    def tally_build(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("fresh").cast("long")).alias("f"),
        ).collect()[0]
        tallies["rows"] += int(r["n"])
        tallies["fresh"] += int(r["f"] or 0)

    ckpt = f"{work}/ckpt_build"
    shutil.rmtree(ckpt, ignore_errors=True)
    wall, best_batch = drain(built, ckpt, tally_build)
    assert tallies["rows"] == total, tallies
    out["build_wall_s"] = round(wall, 2)
    out["build_ops_per_sec"] = round(total / wall)
    out["build_best_batch_ops_per_sec"] = best_batch
    # distinct xxhash64 keys: ~all fresh minus filter FPs + rare
    # 64-bit collisions
    out["build_fresh_rate"] = round(tallies["fresh"] / total, 6)

    # ---- stream_apply_ops: mixed 90/10 insert/delete ---------------
    reclaim(spark)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{mix_dir}/*.parquet")
    )
    applied = stream_apply_ops(
        src, "key", "op", int(total / 0.8), num_shards, CFG, seq_col="seq"
    )
    mix_tallies = {}

    def tally_apply(df):
        for r in df.groupBy("op").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("ok").cast("long")).alias("ok"),
        ).collect():
            cur = mix_tallies.setdefault(r["op"], [0, 0])
            cur[0] += int(r["n"])
            cur[1] += int(r["ok"] or 0)

    ckpt = f"{work}/ckpt_apply"
    shutil.rmtree(ckpt, ignore_errors=True)
    wall, best_batch = drain(applied, ckpt, tally_apply)
    n_ops = sum(v[0] for v in mix_tallies.values())
    out["apply_wall_s"] = round(wall, 2)
    out["apply_ops_per_sec"] = round(n_ops / wall)
    out["apply_best_batch_ops_per_sec"] = best_batch
    out["apply_n_ops"] = n_ops
    ins = mix_tallies.get("insert", [0, 0])
    dele = mix_tallies.get("delete", [1, 0])
    out["apply_insert_ok_rate"] = round(ins[1] / max(ins[0], 1), 6)
    # deletes target keys inserted by the PREVIOUS micro-batch —
    # every one must find its key resident
    out["apply_delete_ok_rate"] = round(dele[1] / max(dele[0], 1), 6)

    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

"""Genome-regime k-mer benchmark: the reference's n = 2^28 point
(``/root/reference/benchmark/benchmark_common.cuh:377-384`` sweeps
2^24..2^28 keys; ``kmer_benchmark.cu:26-47`` runs k in {21,31} from
E. coli to human-T2T k-mer sets).

Synthesizes ~2.5e8 DISTINCT packed 21-mers entirely JVM-side —
deterministic nucleotides from xxhash64(id) through the SAME 2-bit
pack codegen the real ingest uses (``sources.kmers.packed_kmer_expr``,
kmc_to_binary.cpp parity) — materializes them to parquet (the
deployment shape: filters build from files), then measures at
c = SPARK_GRAFT_CPUS:

* bucketed zero-Exchange build (write_bucketed_keys + build_bucketed)
* stacked-broadcast batched contains over positives + disjoint
  negatives (~2x keys)

Prints its run as one JSON line and writes nothing under BENCH/.
Memory: 2^28 slots x 2B tags = 512 MiB of filter state (plus the
stacked broadcast copy) and ~2 GB parquet; pass a smaller log2_slots
on a small host.

Usage: python scripts/kmer_scale_bench.py [log2_slots]  (default 28)
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from bench import CFG, TARGET_LOAD, OVER, build_session, host_cpus, reclaim
from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter
from cuckoo_filter_spark.sources.kmers import (
    load_packed_kmer_binary,
    packed_kmer_expr,
)

# the reference sweeps k in {21, 31} (kmer_benchmark.cu:26-47);
# the generator expression handles any k <= 31 (two xxhash64 words
# supply 2 bits per position)
K = int(os.environ.get("SPARK_GRAFT_KMER_K", "21"))


def kmer_string_expr(id_col, seed: int):
    """Deterministic 21-nucleotide string from a row id, derived
    JVM-side: 2 bits of xxhash64 per position → ACGT. Distinct ids
    give distinct strings with collision probability n^2/2^42-ish
    per seed-pair; duplicates are dropped after packing."""
    h1 = F.xxhash64(id_col, F.lit(seed))
    h2 = F.xxhash64(id_col, F.lit(seed + 1))
    chars = []
    for i in range(K):
        h = h1 if i < 16 else h2
        code = F.shiftrightunsigned(h, 2 * (i % 16)).bitwiseAND(F.lit(3))
        chars.append(
            F.element_at(F.lit(["A", "C", "G", "T"]), code.cast("int") + 1)
        )
    return F.concat(*chars)


def _make_binary_writer(bin_dir: str):
    """mapInArrow function writing one reference-layout binary file
    per input partition (uint64 count header, then the partition's
    packed keys as little-endian uint64s — ``loadKmerFile`` /
    kmc_to_binary.cpp:92-123 format). The header is back-patched
    after streaming the batches so the keys never accumulate in
    task memory. Emits the number of files written (1)."""

    def write_partition(batches):
        import struct

        import numpy as _np
        import pyarrow as _pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(bin_dir, f"part-{pid:05d}.bin")
        n = 0
        with open(path, "wb") as f:
            f.write(struct.pack("<Q", 0))  # placeholder count
            for rb in batches:
                arr = rb.column(0).to_numpy(zero_copy_only=False)
                f.write(arr.astype("<i8").view("<u8").tobytes())
                n += len(arr)
            f.seek(0)
            f.write(struct.pack("<Q", n))
        yield _pa.RecordBatch.from_arrays(
            [_pa.array(_np.array([1], dtype=_np.int64))], ["files"]
        )

    return write_partition


def main():
    log2_slots = int(sys.argv[1]) if len(sys.argv) > 1 else 28
    cpus = host_cpus()
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    num_shards = max(2 * cpus, 16)
    slot_capacity = 1 << log2_slots
    per_shard_slots = slot_capacity // num_shards
    n_keys = int(slot_capacity * TARGET_LOAD)
    capacity = int(slot_capacity / OVER())
    while int(np.ceil(capacity / num_shards * OVER())) > per_shard_slots:
        capacity -= num_shards

    work = os.environ.get("SPARK_GRAFT_WORK_DIR", "/tmp/spark_graft_bench")
    keys_path = f"{work}/kmers_{n_keys}.parquet"
    bucketed_path = f"{work}/kmers_bucketed_{n_keys}.parquet"
    probes_path = f"{work}/kmer_probes_{n_keys}.parquet"

    t0 = time.time()
    # hash-derived k-mer strings collide at ~n^2/2^43 (~0.003% of
    # rows at 2^28) — keep them: a dedup + LIMIT would force a
    # single-task GlobalLimit pass, and multiset inserts handle the
    # handful of duplicates exactly like the reference's real k-mer
    # multisets do
    gen = spark.range(n_keys, numPartitions=cpus * 2).select(
        packed_kmer_expr(
            kmer_string_expr(F.col("id"), seed=11), k=K
        ).alias("key")
    )
    gen.write.mode("overwrite").parquet(keys_path)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))
    keys = spark.read.parquet(keys_path)
    n_rows = keys.count()
    t_gen = time.time() - t0
    print(f"# generated {n_rows} packed {K}-mers in {t_gen:.1f}s", flush=True)

    binary_fields = {}
    if os.environ.get("SPARK_GRAFT_KMER_BINARY", "0") == "1":
        # pin the real ingest path at scale: write the reference
        # benchmark's exact binary layout (uint64 count + N packed
        # little-endian uint64s per file, kmc_to_binary.cpp:92-123 /
        # loadKmerFile), read it back through load_packed_kmer_binary,
        # verify it carries the identical key multiset, and feed the
        # BUILD from the binary reader instead of parquet.
        bin_dir = f"{work}/kmers_bin_{K}_{n_keys}"
        os.makedirs(bin_dir, exist_ok=True)
        t0 = time.time()
        n_files = keys.select("key").mapInArrow(
            _make_binary_writer(bin_dir), "files long"
        ).agg(F.sum("files")).collect()[0][0]
        binary_fields["binary_write_s"] = round(time.time() - t0, 2)
        binary_fields["binary_files"] = int(n_files)
        t0 = time.time()
        bin_keys = load_packed_kmer_binary(spark, f"{bin_dir}/*.bin")
        bstats = bin_keys.agg(
            F.count("key").alias("n"),
            F.expr("bit_xor(xxhash64(key))").alias("sig"),
        ).collect()[0]
        dt = time.time() - t0
        binary_fields["binary_ingest_s"] = round(dt, 2)
        binary_fields["binary_keys_per_sec"] = round(bstats["n"] / dt)
        pstats = keys.agg(
            F.count("key").alias("n"),
            F.expr("bit_xor(xxhash64(key))").alias("sig"),
        ).collect()[0]
        binary_fields["binary_matches_synthesized"] = bool(
            bstats["n"] == pstats["n"] and bstats["sig"] == pstats["sig"]
        )
        print(f"# binary ingest: {binary_fields}", flush=True)
        if not binary_fields["binary_matches_synthesized"]:
            raise SystemExit(
                "binary reader returned a different key multiset than "
                f"the synthesized parquet: {bstats} vs {pstats}"
            )
        keys = bin_keys  # downstream build ingests via the binary reader

    # negatives: a disjoint seed's k-mer population (packed values
    # collide with the positive set only by chance ~ n^2/4^21)
    (
        keys.select("key").unionByName(
            spark.range(n_keys, numPartitions=cpus * 2).select(
                packed_kmer_expr(
                    kmer_string_expr(F.col("id"), seed=777), k=K
                ).alias("key")
            )
        ).write.mode("overwrite").parquet(probes_path)
    )
    probes = spark.read.parquet(probes_path)
    n_probes = probes.count()

    # warm worker pool
    import pandas as _pd

    def _warm(it):
        from cuckoo_filter_spark.core.cuckoo import CuckooFilter  # noqa
        for pdf in it:
            yield _pd.DataFrame({"x": [len(pdf)]})

    spark.range(0, cpus * 4, 1, cpus * 4).mapInPandas(_warm, "x long").count()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    out = {"k": K, "n_keys": n_rows, "log2_slots": log2_slots, "cpus": cpus}

    # one-time bucketing (the ingest-time step), then the zero-
    # Exchange build — the reference's build benchmark shape
    t0 = time.time()
    ShardedCuckooFilter.write_bucketed_keys(
        keys, "key", capacity, num_shards, bucketed_path, CFG
    )
    out["bucket_write_s"] = round(time.time() - t0, 2)
    bucketed = ShardedCuckooFilter.read_bucketed_keys(spark, bucketed_path)
    best = None
    filt = None
    for _ in range(reps):
        if filt is not None:
            filt.shards.unpersist()
        reclaim(spark)
        t0 = time.time()
        filt = ShardedCuckooFilter.build_bucketed(
            bucketed, capacity, num_shards, CFG, path=bucketed_path
        ).persist()
        m = filt.metrics().collect()[0]
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out["build_bucketed_s"] = round(best, 2)
    out["inserts_per_sec"] = round(n_rows / best)
    out["load_factor"] = round(m["occupied"] / slot_capacity, 4)
    out["insert_success_rate"] = round(m["occupied"] / m["rows"], 6)
    out["kicks_per_insert"] = round(m["kicks"] / m["rows"], 3)

    # contains at ~2n probes; 2^28 slots = 512 MiB stacked state —
    # raise the broadcast guard past its 512 MiB default
    object.__setattr__(filt, "max_broadcast_bytes", 4 << 30)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))
    best = None
    for _ in range(reps):
        reclaim(spark)
        t0 = time.time()
        res = filt.contains_broadcast(probes, "key")
        n_member = res.filter(F.col("member")).count()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out["contains_s"] = round(best, 2)
    out["queries_per_sec"] = round(n_probes / best)
    out["n_probes"] = n_probes
    out["contains_fpr"] = round(
        max(0.0, (n_member - m["occupied"]) / max(n_probes - n_rows, 1)), 8
    )
    # the negative population is drawn from the same 4^k packed-value
    # space, so ~n/4^k of the "negatives" are true members of the
    # positive set (value collisions, not filter errors). Report the
    # filter's intrinsic FPR net of that, next to the 2*b*alpha/2^f
    # bound the reference publishes.
    collision_rate = n_rows / 4**K
    out["true_key_collision_rate"] = round(collision_rate, 8)
    out["contains_fpr_net_of_key_collisions"] = round(
        max(0.0, out["contains_fpr"] - collision_rate), 8
    )
    out["fpr_bound"] = round(
        2 * CFG.bucket_size * out["load_factor"] / 2**CFG.bits_per_tag, 8
    )

    # optional: the big-filter lane. When the stacked filter is too
    # large to broadcast, contains() routes probe keys to their
    # owning shard (ONE Exchange of 8-byte keys + cogroup against
    # resident shard state) — measure it at the same probe volume so
    # the oversize fallback has a genome-regime number too.
    if os.environ.get("SPARK_GRAFT_KMER_ROUTED", "0") == "1":
        best = None
        for _ in range(reps):
            reclaim(spark)
            t0 = time.time()
            res = filt.contains(probes)
            n_member_r = res.filter(F.col("member")).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out["routed_contains_s"] = round(best, 2)
        out["routed_queries_per_sec"] = round(n_probes / best)
        # agreement = identical per-key answer sets, not just equal
        # member counts (equal counts would hide an FP/FN swap): the
        # distinct (key, member) relation of each lane is reduced to
        # a count + an order-insensitive xor-of-hashes signature;
        # equal signatures ⇒ identical relations (collision ~2^-64).
        # Untimed — correctness audit, not part of the measured op.
        def _lane_sig(r):
            return (
                r.select("key", "member").distinct()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(xxhash64(key, member))").alias("sig"),
                ).collect()[0]
            )

        sig_r = _lane_sig(res)
        sig_b = _lane_sig(filt.contains_broadcast(probes, "key"))
        out["routed_member_agrees"] = bool(
            n_member_r == n_member
            and sig_r["n"] == sig_b["n"]
            and sig_r["sig"] == sig_b["sig"]
        )

    # optional: genome-regime deletes (the reference's third timed
    # op at 2^24..2^28, benchmark_common.cuh sweep). Reference
    # protocol: delete every inserted key, outcomes stay in kernel
    # memory, only the scalar success count returns (per_key=False).
    # One timed pass — delete is a functional state update, so each
    # rep would need a rebuilt filter.
    if os.environ.get("SPARK_GRAFT_KMER_DELETE", "0") == "1":
        reclaim(spark)
        t0 = time.time()
        _, after = filt.delete(keys.select("key"), per_key=False)
        after = after.persist()
        m2 = after.metrics().collect()[0]
        n_ok = after.delete_success_count()
        dt = time.time() - t0
        out["delete_s"] = round(dt, 2)
        out["deletes_per_sec"] = round(n_rows / dt)
        out["delete_success_rate"] = round(n_ok / n_rows, 6)
        out["occupied_after_delete"] = int(m2["occupied"])

    out.update(binary_fields)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

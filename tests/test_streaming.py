"""Structured Streaming tests: membership annotation and novel-key
gating over a file-source micro-batch run, watermarked dedup.
File source + availableNow trigger = deterministic input set."""

import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.operators.membership import DistributedCuckooFilter
from cuckoo_filter_spark.streaming import membership as sm

CFG = CuckooConfig(16, 4)


@pytest.fixture(scope="module")
def even_filter(spark):
    even_df = spark.range(0, 5000).select((F.col("id") * 2).alias("key"))
    return DistributedCuckooFilter.build(even_df, "key", 8192, CFG)


@pytest.fixture()
def key_stream(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    (
        spark.range(0, 3000)
        .select(
            F.col("id").alias("key"),
            F.timestamp_seconds(F.lit(1_700_000_000) + (F.col("id") % 7))
            .alias("ts"),
        )
        .write.parquet(src_dir)
    )
    return (
        spark.readStream.schema("key long, ts timestamp").parquet(src_dir)
    )


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_membership(spark, even_filter, key_stream):
    annotated = sm.stream_membership(key_stream, even_filter, "key").select(
        "key", "member"
    )
    rows = _run_stream(spark, annotated, "stream_membership_t").collect()
    assert len(rows) == 3000
    # zero false negatives: every inserted even key is a member
    assert all(r.member for r in rows if r.key % 2 == 0)
    # odd keys were never inserted; FPs are rare
    fp = sum(1 for r in rows if r.key % 2 == 1 and r.member)
    assert fp <= 10


def test_stream_novel_keys(spark, even_filter, key_stream):
    novel = sm.stream_novel_keys(key_stream, even_filter, "key")
    keys = [r.key for r in _run_stream(spark, novel, "stream_novel_t")
            .select("key").collect()]
    assert keys, "stream produced no rows"
    assert all(k % 2 == 1 for k in keys)  # all evens gated out (no FN)
    assert len(keys) >= 1400  # most odds survive (small FP loss only)


def test_stream_exact_dedup(spark, tmp_path):
    src_dir = str(tmp_path / "dups")
    (
        spark.range(0, 1000)
        .select(
            (F.col("id") % 100).alias("k"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id"))
            .alias("ts"),
        )
        .write.parquet(src_dir)
    )
    src = spark.readStream.schema("k long, ts timestamp").parquet(src_dir)
    deduped = sm.stream_exact_dedup(src, ["k"], "ts", "10 seconds")
    out = _run_stream(spark, deduped, "stream_dedup_t")
    ks = [r.k for r in out.select("k").collect()]
    assert len(ks) == len(set(ks))  # no duplicates within the run
    assert set(ks) == set(range(100))


@pytest.mark.parametrize("policy", ["xor", "offset"])
def test_stream_build_sharded_stateful(spark, tmp_path, policy):
    """applyInPandasWithState: per-shard filter state across
    micro-batches; duplicates (within and across batches) gate as
    not-fresh. The state kernel follows the config's bucket policy."""
    src_dir = str(tmp_path / "statesrc")
    # batch 1: keys 0..999; batch 2: keys 500..1499 (500 repeats)
    (
        spark.range(0, 1000).select(F.col("id").alias("key"))
        .write.parquet(src_dir + "/b1")
    )
    (
        spark.range(500, 1500).select(F.col("id").alias("key"))
        .write.parquet(src_dir + "/b2")
    )
    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", "2")
        .parquet(src_dir + "/*")
    )
    cfg = CuckooConfig(16, 4, bucket_policy=policy)
    out = sm.stream_build_sharded(stream, "key", 4096, 4, cfg)
    name = f"state_build_{policy}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table(name).collect()
    assert len(rows) == 2000
    fresh = sum(1 for r in rows if r.fresh)
    # 1500 distinct keys; tiny FP slack allowed (fresh undercount)
    assert 1490 <= fresh <= 1500
    by_key = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(r.fresh)
    # no key is fresh twice
    assert all(sum(v) <= 1 for v in by_key.values())


def test_stream_apply_ops(spark, tmp_path):
    """Mixed insert/delete op stream against stateful sharded
    filters: batch 1 inserts, batch 2 deletes half — deletes
    succeed for inserted keys and the state reflects removals in a
    later batch (re-inserting a deleted key succeeds). Batch 3 sends
    unknown ops ("INSERT", "remove", null) for resident keys: each
    comes back ok = false and leaves the key in the filter, so the
    "delete" batch 4 for the same keys succeeds."""
    src_dir = str(tmp_path / "opsrc")
    (
        spark.range(0, 1000)
        .select(F.col("id").alias("key"), F.lit("insert").alias("op"))
        .write.parquet(src_dir + "/b1")
    )
    (
        spark.range(0, 500)
        .select(F.col("id").alias("key"), F.lit("delete").alias("op"))
        .write.parquet(src_dir + "/b2")
    )
    bad_op = (
        F.when(F.col("id") % 3 == 0, F.lit("INSERT"))
        .when(F.col("id") % 3 == 1, F.lit("remove"))
        .otherwise(F.lit(None).cast("string"))
    )
    resident = spark.range(500, 530).coalesce(1)
    resident.select(
        F.col("id").alias("key"), bad_op.alias("op")
    ).write.parquet(src_dir + "/b3")
    resident.select(
        F.col("id").alias("key"), F.lit("delete").alias("op")
    ).write.parquet(src_dir + "/b4")
    stream = (
        spark.readStream.schema("key long, op string")
        # one file per micro-batch: inserts land (and are committed
        # to state) before the delete batch arrives
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )
    out = sm.stream_apply_ops(stream, "key", "op", 4096, 4, CFG)
    q = (
        out.writeStream.format("memory").queryName("apply_ops_t")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "opckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("apply_ops_t").collect()
    assert len(rows) == 1560
    ins = [r for r in rows if r.op == "insert"]
    dels = [r for r in rows if r.op == "delete"]
    bad = [r for r in rows if r.op not in ("insert", "delete")]
    assert len(ins) == 1000 and all(r.ok for r in ins)
    assert len(bad) == 30 and not any(r.ok for r in bad)
    assert {r.op for r in bad} == {"INSERT", "remove", None}
    assert len(dels) == 530 and all(r.ok for r in dels)


def test_stream_apply_ops_seq_order(spark, tmp_path):
    """With seq_col, intra-batch op order is the caller's sequence
    regardless of source partition layout: insert(seq=0) then
    delete(seq=1) of the same key in ONE micro-batch lands as the
    sequential reference calls even though the two rows arrive from
    different source partitions."""
    import pandas as pd

    src_dir = str(tmp_path / "seqsrc")
    # deliberately write delete rows first and in a separate
    # partition from the inserts
    pdf = pd.DataFrame({
        "key": list(range(100)) + list(range(100)),
        "op": ["delete"] * 100 + ["insert"] * 100,
        "seq": [1] * 100 + [0] * 100,
    })
    spark.createDataFrame(pdf).repartition(2, "op").write.parquet(src_dir)
    stream = (
        spark.readStream.schema("key long, op string, seq long")
        .parquet(src_dir)
    )
    out = sm.stream_apply_ops(stream, "key", "op", 4096, 4, CFG,
                              seq_col="seq")
    q = (
        out.writeStream.format("memory").queryName("apply_ops_seq_t")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "seqckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("apply_ops_seq_t").collect()
    assert len(rows) == 200
    assert all(r.ok for r in rows)  # delete AFTER insert: both succeed


def test_stream_apply_ops_offset_policy(spark, tmp_path):
    """All three bucket policies share the streaming op-stream
    surface: the same mixed insert/delete run as
    test_stream_apply_ops, with Offset-policy CuckooFilter state
    (choice-bit fingerprints, non-pow2 bucket counts) chosen by the
    config."""
    src_dir = str(tmp_path / "offsetopsrc")
    (
        spark.range(0, 1000)
        .select(F.col("id").alias("key"), F.lit("insert").alias("op"))
        .write.parquet(src_dir + "/b1")
    )
    (
        spark.range(0, 500)
        .select(F.col("id").alias("key"), F.lit("delete").alias("op"))
        .write.parquet(src_dir + "/b2")
    )
    stream = (
        spark.readStream.schema("key long, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )
    out = sm.stream_apply_ops(
        stream, "key", "op", 4096, 4, CuckooConfig(bucket_policy="offset"),
    )
    q = (
        out.writeStream.format("memory").queryName("offset_ops_t")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "offsetopckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("offset_ops_t").collect()
    assert len(rows) == 1500
    ins = [r for r in rows if r.op == "insert"]
    dels = [r for r in rows if r.op == "delete"]
    assert len(ins) == 1000 and all(r.ok for r in ins)
    assert len(dels) == 500 and all(r.ok for r in dels)


def test_stream_sketch_window(spark, tmp_path):
    """Watermarked per-window HLL rollup: windows finalize exactly
    once when the watermark passes their end, and the estimate
    matches the exact per-window distinct count (HLL p=14 is in its
    near-exact linear-counting range at these cardinalities)."""
    src_dir = str(tmp_path / "winsrc")
    base = 1_700_000_040  # any epoch; windows align to epoch/60s
    # batch 1: window W1, 300 rows over 120 distinct keys
    (
        spark.range(0, 300)
        .select(
            (F.col("id") % 120).alias("key"),
            F.timestamp_seconds(F.lit(base) + (F.col("id") % 50))
            .alias("ts"),
        )
        .write.parquet(src_dir + "/b1")
    )
    # batch 2: +200s (watermark still below W1 end during this batch)
    (
        spark.range(0, 200)
        .select(
            (F.col("id") % 77 + 1000).alias("key"),
            F.timestamp_seconds(F.lit(base + 200) + (F.col("id") % 30))
            .alias("ts"),
        )
        .write.parquet(src_dir + "/b2")
    )
    # batch 3: +400s — its processing uses watermark from batch 2
    # (base+229-5 > W1 end), so W1 finalizes here
    (
        spark.range(0, 50)
        .select(
            (F.col("id") + 5000).alias("key"),
            F.timestamp_seconds(F.lit(base + 400)).alias("ts"),
        )
        .write.parquet(src_dir + "/b3")
    )
    stream = (
        spark.readStream.schema("key long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )
    out = sm.stream_sketch_window(
        stream, "ts", "key", window_duration="60 seconds",
        watermark="5 seconds",
    )
    q = (
        out.writeStream.format("memory").queryName("sketch_window_t")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "winckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("sketch_window_t").collect()
    assert rows, "no windows finalized"
    # exact per-window truth from the same files
    import collections

    batch = spark.read.parquet(src_dir + "/*").collect()
    per_win = collections.defaultdict(set)
    n_win = collections.Counter()
    for r in batch:
        w = int(r.ts.timestamp()) // 60 * 60
        per_win[w].add(r.key)
        n_win[w] += 1
    finalized = {}
    for r in rows:
        w = int(r.window_start.timestamp())
        assert w not in finalized, "window emitted twice"
        finalized[w] = r
    # W1 must have finalized (watermark passed it by batch 3)
    w1 = base // 60 * 60
    assert w1 in finalized
    for w, r in finalized.items():
        assert r.n_rows == n_win[w]
        exact = len(per_win[w])
        assert abs(r.distinct_est - exact) <= max(2, int(0.05 * exact))


def test_stream_sketch_window_nonutc_timezone(spark, tmp_path):
    """Regression: the EventTimeTimeout epoch must not re-interpret
    the session-timezone-naive window timestamp as UTC. With a
    west-of-UTC session zone the old pd.Timestamp(...).timestamp()
    path set the timeout 8h early (premature finalize + duplicate
    emission, or IllegalArgumentException when it fell below the
    watermark); the JVM-computed epochs make the zone irrelevant."""
    src_dir = str(tmp_path / "tzsrc")
    base = 1_700_000_040
    (
        spark.range(0, 100)
        .select(
            (F.col("id") % 40).alias("key"),
            F.timestamp_seconds(F.lit(base) + (F.col("id") % 50)).alias("ts"),
        )
        .write.parquet(src_dir + "/b1")
    )
    (
        spark.range(0, 20)
        .select(
            (F.col("id") + 9000).alias("key"),
            F.timestamp_seconds(F.lit(base + 400)).alias("ts"),
        )
        .write.parquet(src_dir + "/b2")
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        stream = (
            spark.readStream.schema("key long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir + "/*")
        )
        out = sm.stream_sketch_window(
            stream, "ts", "key", window_duration="60 seconds",
            watermark="5 seconds",
        ).select(
            F.unix_timestamp("window_start").alias("ws_epoch"),
            "n_rows", "distinct_est",
        )
        q = (
            out.writeStream.format("memory").queryName("sketch_window_tz_t")
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "tzckpt"))
            .start()
        )
        q.awaitTermination(180)
        rows = spark.table("sketch_window_tz_t").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    # W1 finalizes exactly once, with the correct epoch and counts
    w1 = base // 60 * 60
    w1_rows = [r for r in rows if r.ws_epoch == w1]
    assert len(w1_rows) == 1, f"W1 emitted {len(w1_rows)} times"
    assert w1_rows[0].n_rows == 100  # all of b1 lands in [base, base+60)
    assert abs(w1_rows[0].distinct_est - 40) <= 2


def _run_once(df, out_dir, ckpt):
    # a FILE sink, not the memory sink: only fault-tolerant sinks
    # support recovering from a checkpoint, which is the point here
    q = (
        df.writeStream.format("parquet").option("path", out_dir)
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(180)


def _parquet_parts(out_dir):
    import glob

    return set(glob.glob(out_dir + "/*.parquet"))


def test_stream_build_sharded_restart(spark, tmp_path):
    """Kill-and-resume: filter state built in run 1 survives the
    checkpoint restart — keys already inserted before the stop gate
    as NOT fresh in run 2, exactly as if the stream never stopped."""
    src_dir = str(tmp_path / "restartsrc")
    ckpt = str(tmp_path / "restartckpt")
    out_dir = str(tmp_path / "restartout")
    (
        spark.range(0, 1000).select(F.col("id").alias("key"))
        .write.parquet(src_dir + "/b1")
    )
    stream_def = lambda: sm.stream_build_sharded(
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", "1").parquet(src_dir + "/*"),
        "key", 4096, 4, CFG,
    )
    _run_once(stream_def(), out_dir, ckpt)
    run1 = spark.read.parquet(out_dir).collect()
    assert len(run1) == 1000 and sum(r.fresh for r in run1) >= 995
    run1_files = _parquet_parts(out_dir)

    # the query is now STOPPED (simulated failure/redeploy); new data
    # arrives, then a fresh query object resumes from the checkpoint
    (
        spark.range(500, 1500).select(F.col("id").alias("key"))
        .write.parquet(src_dir + "/b2")
    )
    _run_once(stream_def(), out_dir, ckpt)
    new_files = sorted(_parquet_parts(out_dir) - run1_files)
    assert new_files, "restarted query produced no output"
    run2 = spark.read.parquet(*new_files).collect()
    assert len(run2) == 1000  # only the new batch replays
    seen_again = [r for r in run2 if 500 <= r.key < 1000]
    novel = [r for r in run2 if r.key >= 1000]
    assert len(seen_again) == 500 and not any(r.fresh for r in seen_again)
    assert len(novel) == 500 and sum(r.fresh for r in novel) >= 495


def test_stream_sketch_window_restart(spark, tmp_path):
    """Kill-and-resume mid-window: a window OPEN at the stop point
    (sketch state checkpointed, not yet finalized) must emit exactly
    once after restart, counting rows from BOTH runs."""
    src_dir = str(tmp_path / "wrestartsrc")
    ckpt = str(tmp_path / "wrestartckpt")
    out_dir = str(tmp_path / "wrestartout")
    base = 1_700_000_100  # window-aligned (divisible by 60)
    assert base % 60 == 0
    (
        spark.range(0, 300)
        .select(
            (F.col("id") % 120).alias("key"),
            F.timestamp_seconds(F.lit(base) + (F.col("id") % 50)).alias("ts"),
        )
        .write.parquet(src_dir + "/b1")
    )
    stream_def = lambda: sm.stream_sketch_window(
        spark.readStream.schema("key long, ts timestamp")
        .option("maxFilesPerTrigger", "1").parquet(src_dir + "/*"),
        "ts", "key", window_duration="60 seconds", watermark="5 seconds",
    )
    _run_once(stream_def(), out_dir, ckpt)
    # watermark has not passed W1's end: nothing finalized yet,
    # W1's sketch lives only in checkpointed state
    assert not _parquet_parts(out_dir) or (
        spark.read.parquet(out_dir).count() == 0
    )

    # more rows for the SAME window, plus a late batch that pushes
    # the watermark past W1's end — all in the resumed query
    (
        spark.range(0, 100)
        .select(
            (F.col("id") % 80 + 200).alias("key"),
            F.timestamp_seconds(F.lit(base) + 50 + (F.col("id") % 9))
            .alias("ts"),
        )
        .write.parquet(src_dir + "/b2")
    )
    (
        spark.range(0, 10)
        .select(
            (F.col("id") + 7000).alias("key"),
            F.timestamp_seconds(F.lit(base + 400)).alias("ts"),
        )
        .write.parquet(src_dir + "/b3")
    )
    _run_once(stream_def(), out_dir, ckpt)
    rows = [
        r for r in spark.read.parquet(out_dir).collect()
        if int(r.window_start.timestamp()) == base
    ]
    assert len(rows) == 1, "window W1 must emit exactly once"
    # 300 rows from run 1 (checkpointed sketch) + 100 from run 2
    assert rows[0].n_rows == 400
    exact = 120 + 80  # key ranges are disjoint across the two batches
    assert abs(rows[0].distinct_est - exact) <= max(2, int(0.05 * exact))


def test_stream_sketch_window_misra_gries_trending(spark, tmp_path):
    """Pluggable windowed sketch: a Misra-Gries summary per window
    emitting the window's top-3 keys — 'trending tokens'. The
    planted heavy keys must come back exactly, in order, with exact
    counts (vocab << capacity, so shed = 0 and MG is exact)."""
    import collections

    from cuckoo_filter_spark.core.misra_gries import MisraGries

    src_dir = str(tmp_path / "mgsrc")
    base = 1_700_000_040
    # window W1: key 7 x200, key 11 x90, keys 100..139 x2 noise
    (
        spark.range(0, 370)
        .select(
            F.when(F.col("id") < 200, 7)
            .when(F.col("id") < 290, 11)
            .otherwise(F.col("id") % 40 + 100).alias("key"),
            F.timestamp_seconds(F.lit(base) + (F.col("id") % 50)).alias("ts"),
        )
        .write.parquet(src_dir + "/b1")
    )
    # advance the watermark far past W1 so it finalizes
    (
        spark.range(0, 10)
        .select(
            (F.col("id") + 9000).alias("key"),
            F.timestamp_seconds(F.lit(base + 400)).alias("ts"),
        )
        .write.parquet(src_dir + "/b2")
    )

    def top3(sk):
        import numpy as np

        keys, cnts = sk.candidates()
        order = np.argsort(-cnts, kind="stable")[:3]
        return {
            "top_keys": [int(k) for k in keys.view(np.int64)[order]],
            "top_cnts": [int(c) for c in cnts[order]],
        }

    stream = (
        spark.readStream.schema("key long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )
    out = sm.stream_sketch_window(
        stream, "ts", "key", window_duration="60 seconds",
        watermark="5 seconds",
        make_sketch=lambda: MisraGries(64),
        finisher=top3,
        finisher_schema="top_keys array<long>, top_cnts array<long>",
    )
    q = (
        out.writeStream.format("memory").queryName("mg_window_t")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "mgckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("mg_window_t").collect()
    w1 = base // 60 * 60
    got = {int(r.window_start.timestamp()): r for r in rows}
    assert w1 in got
    r = got[w1]
    # exact truth for W1 from the same files
    batch = spark.read.parquet(src_dir + "/b1").collect()
    truth = collections.Counter(
        x.key for x in batch if int(x.ts.timestamp()) // 60 * 60 == w1
    )
    # top-2 are unambiguous; third place is a tie among noise keys
    assert list(zip(r.top_keys, r.top_cnts))[:2] == truth.most_common(2)
    assert truth[r.top_keys[2]] == r.top_cnts[2]
    assert r.n_rows == sum(truth.values())


def test_stream_apply_ops_concurrent_producers(spark, tmp_path):
    """VERDICT r3 item: two PRODUCERS feed one long-lived sharded
    filter state — a union of two independent file-stream sources
    (the Spark form of multiple IPC clients sharing one filter,
    CuckooFilterIPC.cuh's ring buffer). With seq_col imposing the
    global order, the final per-op outcomes equal a single-threaded
    replay of the merged op log, regardless of which source carried
    which op."""
    import numpy as np
    import pandas as pd

    from cuckoo_filter_spark.core.cuckoo import CuckooFilter
    from cuckoo_filter_spark.hashing import keys_to_unsigned, xxhash64_u64

    rng = np.random.default_rng(59)
    n = 600
    # producer A: inserts (even seq); producer B: mixed ops (odd seq)
    a_keys = rng.integers(0, 300, n).astype(np.int64)
    b_keys = rng.integers(0, 300, n).astype(np.int64)
    a_pdf = pd.DataFrame({
        "key": a_keys, "op": "insert",
        "seq": np.arange(n, dtype=np.int64) * 2,
    })
    b_ops = np.where(rng.random(n) < 0.5, "insert", "delete")
    b_pdf = pd.DataFrame({
        "key": b_keys, "op": b_ops,
        "seq": np.arange(n, dtype=np.int64) * 2 + 1,
    })
    src_a = str(tmp_path / "prod_a")
    src_b = str(tmp_path / "prod_b")
    spark.createDataFrame(a_pdf).repartition(3).write.parquet(src_a)
    spark.createDataFrame(b_pdf).repartition(2).write.parquet(src_b)

    schema = "key long, op string, seq long"
    stream = spark.readStream.schema(schema).parquet(src_a).unionByName(
        spark.readStream.schema(schema).parquet(src_b)
    )
    num_shards = 4
    out = sm.stream_apply_ops(
        stream, "key", "op", 8192, num_shards, CFG, seq_col="seq"
    )
    q = (
        out.writeStream.format("memory").queryName("concurrent_ops_t")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "concckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("concurrent_ops_t").collect()
    assert len(rows) == 2 * n
    got = {}
    for r in rows:
        got.setdefault((r.shard, r.key, r.op), []).append(r.ok)

    # serialized replay: per shard, apply the merged log in seq order
    # against a single-node filter of the same per-shard geometry
    from cuckoo_filter_spark.operators.membership import per_shard_capacity

    per_shard_cap = per_shard_capacity(8192, num_shards)
    merged = pd.concat([a_pdf, b_pdf]).sort_values("seq")
    keys_u = keys_to_unsigned(merged["key"].to_numpy(np.int64))
    shards = xxhash64_u64(keys_u, seed=42).view(np.int64) % num_shards
    want = {}
    filters = {s: CuckooFilter(per_shard_cap, CFG) for s in range(num_shards)}
    for (k, op, s) in zip(
        merged["key"].to_numpy(), merged["op"].to_numpy(), shards
    ):
        flt = filters[int(s)]
        ku = keys_to_unsigned(np.array([k], dtype=np.int64))
        ok = (
            flt.insert_many(ku) if op == "insert" else flt.delete_many(ku)
        )[0]
        want.setdefault((int(s), int(k), op), []).append(bool(ok))

    assert set(got) == set(want)
    for key in want:
        assert sorted(got[key]) == sorted(want[key]), key
    # final occupancy also matches the replay
    n_stream_net = sum(
        (r.op == "insert" and r.ok) for r in rows
    ) - sum((r.op == "delete" and r.ok) for r in rows)
    n_replay_net = sum(f.occupied for f in filters.values())
    assert n_stream_net == n_replay_net


@pytest.mark.parametrize("op_stream", ["build", "apply_ops"])
def test_stream_ops_drop_null_keys(spark, tmp_path, op_stream):
    """A null key is no key: both stateful stream ops drop it before
    sharding, so it is neither inserted nor emitted (it used to come
    back, and be stored, as INT64_MIN, indistinguishable from a real
    key of that value)."""
    src_dir = str(tmp_path / "nullsrc")
    spark.createDataFrame(
        [(1, "insert"), (2, "insert"), (None, "insert"), (3, "insert")],
        "key long, op string",
    ).coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema("key long, op string").parquet(src_dir)
    if op_stream == "build":
        out = sm.stream_build_sharded(stream, "key", 64, 2, CFG)
        flag = "fresh"
    else:
        out = sm.stream_apply_ops(stream, "key", "op", 64, 2, CFG)
        flag = "ok"
    name = f"null_keys_{op_stream}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "nullckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table(name).collect()
    assert sorted(r.key for r in rows) == [1, 2, 3]
    assert all(r[flag] for r in rows)


@pytest.mark.parametrize("op_stream", ["build", "apply_ops"])
def test_stream_ops_chunked_output_rows(spark, tmp_path, monkeypatch, op_stream):
    """Both stateful stream ops cut each shard's output into list rows
    of at most ``STREAM_CHUNK_ROWS`` keys (``pack_lists``) and explode
    them JVM-side. With the cap at 257, each shard's ~500 rows span
    several list rows, and the exploded output is the same multiset
    as at the default cap."""
    import numpy as np

    assert len(sm.pack_lists({"k": np.arange(600)}, 257, shard=3)) == 3
    src_dir = str(tmp_path / "chunksrc")
    spark.range(0, 2200).select(
        (F.col("id") % 2000).alias("key"),
        F.when(F.col("id") < 2000, F.lit("insert"))
        .otherwise(F.lit("delete")).alias("op"),
        F.col("id").alias("seq"),
    ).coalesce(1).write.parquet(src_dir)

    def run(tag):
        stream = spark.readStream.schema(
            "key long, op string, seq long"
        ).parquet(src_dir)
        if op_stream == "build":
            out = sm.stream_build_sharded(stream, "key", 4096, 4, CFG)
        else:
            out = sm.stream_apply_ops(
                stream, "key", "op", 4096, 4, CFG, seq_col="seq"
            )
        name = f"chunked_{op_stream}_{tag}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        q.awaitTermination(180)
        return sorted(tuple(r) for r in spark.table(name).collect())

    default = run("default")
    monkeypatch.setattr(sm, "STREAM_CHUNK_ROWS", 257)
    chunked = run("small")
    assert len(default) == 2200
    assert chunked == default


def test_stream_apply_ops_restores_per_row_checkpoint(spark, tmp_path):
    """A checkpoint written when the state function still returned one
    row per op (the stateful operator's output was the flat
    ``(key, op, shard, ok)``) restores under the list-column rows that
    ``stream_apply_ops`` returns now: the state schema and grouping key
    are unchanged, so deletes of keys inserted before the restart
    succeed."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from cuckoo_filter_spark.core.cuckoo import CuckooFilter
    from cuckoo_filter_spark.hashing import keys_to_unsigned
    from cuckoo_filter_spark.operators.membership import (
        per_shard_capacity, shard_expr,
    )

    capacity, num_shards = 4096, 4
    per_shard_cap = per_shard_capacity(capacity, num_shards)

    def per_row_inserts(key, pdfs, state):
        # the per-row plumbing: a CuckooFilter blob per shard, one
        # output row per op
        if state.exists:
            flt = CuckooFilter.from_bytes(bytes(state.get[0]))
        else:
            flt = CuckooFilter(per_shard_cap, CFG)
        for pdf in pdfs:
            raw = pdf["key"].to_numpy(np.int64, copy=False)
            ok = flt.insert_many(keys_to_unsigned(raw))
            yield pd.DataFrame({
                "key": raw, "op": pdf["op"].to_numpy(),
                "shard": int(key[0]), "ok": ok,
            })
        state.update((flt.to_bytes(),))

    src_dir = str(tmp_path / "ckptsrc")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "ckptout")
    schema = "key long, op string"
    spark.range(0, 1000).select(
        F.col("id").alias("key"), F.lit("insert").alias("op")
    ).write.parquet(src_dir + "/b1")

    def source():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1").parquet(src_dir + "/*"))

    per_row = (
        source().withColumn("__shard", shard_expr("key", num_shards))
        .groupBy("__shard")
        .applyInPandasWithState(
            per_row_inserts, "key long, op string, shard long, ok boolean",
            "blob binary", "append", GroupStateTimeout.NoTimeout,
        )
    )
    _run_once(per_row, out_dir, ckpt)
    run1 = spark.read.parquet(out_dir).collect()
    assert len(run1) == 1000 and all(r.ok for r in run1)
    run1_files = _parquet_parts(out_dir)

    spark.range(0, 500).select(
        F.col("id").alias("key"), F.lit("delete").alias("op")
    ).write.parquet(src_dir + "/b2")
    _run_once(
        sm.stream_apply_ops(source(), "key", "op", capacity, num_shards, CFG),
        out_dir, ckpt,
    )
    new_files = sorted(_parquet_parts(out_dir) - run1_files)
    assert new_files, "restored query produced no output"
    run2 = spark.read.parquet(*new_files).collect()
    assert len(run2) == 500
    assert {r.op for r in run2} == {"delete"} and all(r.ok for r in run2)
    assert {(r.key, r.shard) for r in run2} == {
        (r.key, r.shard) for r in run1 if r.key < 500
    }

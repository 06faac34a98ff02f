"""The benchmark's workloads.

Each workload is a closed loop: one caller issues one op at a time
and waits for its result. A workload

* generates its inputs from the seed (``setup``, repeated so set-up
  time is a median; ``prepare`` then readies long-lived state),
* runs one timed iteration at a time (``iteration``), checking every
  op's output and counting failed ops into a :class:`Tally`,
* names, for a traced run, the cumulative pipelines that split each
  op into layers (``pipelines``).

Only public functions of the library are called; nothing here changes
library code.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.hashing import packed_expr
from cuckoo_filter_spark.operators.membership import (
    OVERPROVISION, ShardedCuckooFilter, shard_expr,
)
from cuckoo_filter_spark.sources.parquet_io import read_matched_splits
from cuckoo_filter_spark.sources.repo_table import synthetic_repo_files
from cuckoo_filter_spark.streaming.membership import stream_apply_ops
from perfbench.host import tree_cpu_s

CFG = CuckooConfig(bits_per_tag=16, bucket_size=4)
#: slot load of the built filters. The reference protocol's 0.95 left
#: one kick-chain failure in one seed of five at 2^20 slots, and a
#: failed op fails the run; at 0.90 none of twenty seeds failed.
TARGET_LOAD = 0.90


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    cores: int
    tiny: bool
    tracer: object = None
    #: count one deliberately wrong answer per op (smoke test only)
    fault: bool = False

    @property
    def shards(self) -> int:
        return 2 * self.cores

    @property
    def shuffle_partitions(self) -> int:
        return int(self.spark.conf.get("spark.sql.shuffle.partitions"))


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def add(self, what: str, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.problems.append(f"{what}: {failed} of {attempted} failed")


@dataclass
class OpTime:
    op: str
    work: int
    seconds: float
    #: CPU seconds of the process tree during the op (host.tree_cpu_s)
    cpu_s: float


@dataclass
class Iteration:
    ops: list[OpTime]

    @property
    def work(self) -> int:
        return sum(o.work for o in self.ops)


def timed(tracer, op: str, fn):
    """``fn()`` and its (wall, CPU) seconds."""
    with tracer.op(op):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
    return out, (dt, cpu)


def _inject(ctx: Ctx, n: int) -> int:
    """The smoke test's deliberately wrong answer: one op short."""
    return n - 1 if ctx.fault else n


def geometry(slots: int, shards: int) -> tuple[int, int]:
    """(keys, capacity) of a ``slots``-slot filter at TARGET_LOAD. The
    per-shard slot count is a power of two, so the requested capacity
    is snapped to it."""
    per_shard_slots = slots // shards
    n_keys = int(slots * TARGET_LOAD)
    capacity = int(slots / OVERPROVISION)
    while math.ceil(capacity / shards * OVERPROVISION) > per_shard_slots:
        capacity -= shards
    return n_keys, capacity


def _packed_one(key_col: str, capacity: int, shards: int):
    """The build's single-long Exchange payload
    ``(shard << shift) | (i1 << f) | fp``, from the public expressions,
    and the shift."""
    per_shard_cap = math.ceil(capacity / shards * OVERPROVISION)
    nb = CFG.num_buckets_for(per_shard_cap)
    shift = CFG.bits_per_tag + (nb - 1).bit_length()
    one = F.shiftleft(shard_expr(key_col, shards), shift).bitwiseOR(
        packed_expr(key_col, nb, CFG.bits_per_tag, CFG.bucket_policy)
    )
    return one, shift, nb


def _noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _noop_arrow(batches):
    """A ``mapInArrow`` body that reads every batch and does no work."""
    import pyarrow as pa

    n = 0
    for rb in batches:
        n += rb.num_rows
    yield pa.RecordBatch.from_pydict({"n": [n]})


def _noop_member(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """A ``pandas_udf`` body of the broadcast probe's shape that does no
    work."""
    for s in batches:
        yield pd.Series(False, index=s.index)


def _noop_cogroup(key, left, right):
    return pd.DataFrame({"n": [len(left)]})


def _noop_grouped(key, pdf):
    return pd.DataFrame({"n": [len(pdf)]})


def _fpr_limit(n_neg: int) -> float:
    """Highest false-positive count consistent with the analytic bound
    2b/2^f: its expected count plus four Poisson standard deviations."""
    lam = n_neg * 2 * CFG.bucket_size / float(1 << CFG.bits_per_tag)
    return lam + 4 * math.sqrt(lam)


def _digest():
    """Order-free digest of (key, member) answers: equal answer
    multisets give equal digests, so two lanes are compared key by key
    without a join."""
    # 31-bit terms: a sum over 2^32 probes cannot overflow
    return F.sum(F.shiftrightunsigned(F.xxhash64("key", "member"), 33)
                 ).alias("digest")


def _time_steps(steps) -> dict[str, float]:
    out = {}
    for name, fn in steps:
        t0 = time.perf_counter()
        fn()
        out[name] = time.perf_counter() - t0
    return out


def _skew(df, key_col: str, shards: int) -> float:
    """Max over mean rows per shard of ``df``'s keys."""
    rows = [
        r["n"] for r in df.groupBy(shard_expr(key_col, shards).alias("s"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    return max(rows) / (sum(rows) / shards)


# ---------------------------------------------------------------------------


class Corpus:
    """The batch path on a fresh filter each iteration: shuffled build,
    bucketed build, broadcast contains of every key plus as many
    disjoint negatives, routed contains of Zipf-popular probes, and
    routed delete of every key."""

    name = "corpus-256k"
    #: one hot probe in MISS_SHARE is a miss
    MISS_SHARE = 5

    def __init__(self, ctx: Ctx):
        self.slots = 1 << (16 if ctx.tiny else 18)
        self.n_keys, self.capacity = geometry(self.slots, ctx.shards)
        self.keys_path = f"{ctx.work}/keys.parquet"
        self.negatives_path = f"{ctx.work}/negatives.parquet"
        self.hot_path = f"{ctx.work}/hot_probes.parquet"
        self.bucketed_path = f"{ctx.work}/bucketed.parquet"
        self.fprs: list[float] = []
        self.bits_per_key = None
        self.lanes_compared = False

    @property
    def work_per_iteration(self) -> int:
        return 5 * self.n_keys + self.n_hot

    def describe(self) -> dict:
        return {"slots": self.slots, "keys": self.n_keys,
                "bcast_probes": 2 * self.n_keys,
                "routed_probes": getattr(self, "n_hot", None),
                "filter_bytes": self.slots * CFG.bits_per_tag // 8}

    def _hot_frame(self, ctx: Ctx):
        """Zipf-popular probes: the resident key of rank r < C is probed
        floor(C / (r + 1)) times, so popularity falls as 1/rank and the
        hottest key takes C probes. Ranks order the keys by a seeded
        hash. Then one miss, a disjoint negative, per MISS_SHARE - 1
        resident keys."""
        from pyspark.sql import Window

        spark = ctx.spark
        n = self.n_keys
        c = max(1, n // round(math.log(n)))
        h = F.pmod(F.xxhash64("key", F.lit(ctx.seed)), F.lit(n))
        # rank only the 2C keys of smallest hash, not all n
        hits = spark.read.parquet(self.keys_path).withColumn("h", h).filter(
            F.col("h") < 2 * c
        ).withColumn(
            "rank", F.row_number().over(Window.orderBy("h", "key")) - 1
        ).filter(F.col("rank") < c).select(
            "key", F.lit(True).alias("resident"),
            F.explode(F.sequence(
                F.lit(1), F.floor(F.lit(c) / (F.col("rank") + 1)).cast("int")
            )).alias("i"),
        ).drop("i")
        misses = self._negatives(ctx, n // (self.MISS_SHARE - 1)).select(
            "key", F.lit(False).alias("resident"))
        return hits.unionByName(misses)

    @staticmethod
    def _negatives(ctx: Ctx, count: int):
        """Random 64-bit keys: disjoint from the resident keys with
        probability about 1 - n * count / 2^64."""
        return ctx.spark.range(0, count, 1, ctx.cores).select(
            F.xxhash64("id", F.lit(ctx.seed)).alias("key"))

    def setup(self, ctx: Ctx) -> dict[str, float]:
        spark = ctx.spark
        keys = synthetic_repo_files(
            spark, self.n_keys, num_partitions=ctx.cores, seed=ctx.seed
        ).select("key")
        negatives = self._negatives(ctx, self.n_keys)
        return _time_steps([
            ("sources.keygen_s", lambda: keys.write.mode("overwrite")
             .parquet(self.keys_path)),
            ("sources.probegen_s", lambda: (
                negatives.write.mode("overwrite").parquet(self.negatives_path),
                self._hot_frame(ctx).repartition(ctx.cores).write.mode(
                    "overwrite").parquet(self.hot_path),
            )),
            ("sources.bucketed_write_s", lambda: (
                ShardedCuckooFilter.write_bucketed_keys(
                    read_matched_splits(spark, self.keys_path), "key",
                    self.capacity, ctx.shards, self.bucketed_path, CFG,
                )
            )),
        ])

    def prepare(self, ctx: Ctx) -> None:
        counts = self._hot(ctx).groupBy("resident").count().collect()
        by_flag = {r["resident"]: r["count"] for r in counts}
        self.n_hot_resident = by_flag.get(True, 0)
        self.n_hot = self.n_hot_resident + by_flag.get(False, 0)

    def _keys(self, ctx):
        return read_matched_splits(ctx.spark, self.keys_path)

    def _default_splits(self, ctx):
        # one split per probe file (see bench.py)
        ctx.spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
        ctx.spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))

    def _probes(self, ctx):
        """Every key, then as many disjoint negatives, flagged."""
        self._default_splits(ctx)
        spark = ctx.spark
        return spark.read.parquet(self.keys_path).withColumn(
            "resident", F.lit(True)
        ).unionByName(spark.read.parquet(self.negatives_path).withColumn(
            "resident", F.lit(False)))

    def _hot(self, ctx):
        self._default_splits(ctx)
        return ctx.spark.read.parquet(self.hot_path)

    def _bucketed(self, ctx):
        return ShardedCuckooFilter.read_bucketed_keys(
            ctx.spark, self.bucketed_path
        )

    def _build(self, ctx):
        f = ShardedCuckooFilter.build(
            self._keys(ctx), "key", self.capacity, ctx.shards, CFG
        ).persist()
        return f, f.metrics().collect()[0]

    def _build_bucketed(self, ctx):
        f = ShardedCuckooFilter.build_bucketed(
            self._bucketed(ctx), self.capacity, ctx.shards, CFG,
            path=self.bucketed_path,
        )
        return f.metrics().collect()[0]

    @staticmethod
    def _bcast(f, probes):
        return f.contains_broadcast(probes, "key").agg(
            F.sum(F.col("member").cast("long")).alias("members"),
            F.sum((F.col("resident") & ~F.col("member")).cast("long"))
            .alias("false_neg"),
            _digest(),
        ).collect()[0]

    def _routed(self, ctx, f):
        return f.contains(self._hot(ctx).select("key")).agg(
            F.sum(F.col("member").cast("long")).alias("members"),
            _digest(),
        ).collect()[0]

    def _delete(self, ctx, f):
        _, nf = f.delete(self._keys(ctx), per_key=False)
        return nf, nf.delete_success_count()

    def _check_build(self, tally, what, m, ctx):
        n = self.n_keys
        placed = _inject(ctx, int(m["occupied"]))
        # every key either occupies a slot or is a kick-chain failure
        tally.add(f"{what} (rows {m['rows']}, occupied {m['occupied']}, "
                  f"failures {m['failures']})",
                  n, max(int(m["failures"]), n - placed))

    def _check_routed(self, ctx, tally, f, r):
        """Every resident probe must be a member, and the false
        positives stay under the 2b/2^f bound. On the first call, the
        routed answers must also equal the broadcast lane's on the same
        probes, key by key (an untimed broadcast pass)."""
        members = _inject(ctx, int(r["members"]))
        tally.add("contains_routed false negatives", self.n_hot_resident,
                  max(0, self.n_hot_resident - members))
        misses = self.n_hot - self.n_hot_resident
        false_pos = members - self.n_hot_resident
        if false_pos > _fpr_limit(misses):
            tally.add("contains_routed fpr over 2b/2^f", misses, false_pos)
        if self.lanes_compared:
            return
        self.lanes_compared = True
        b = self._bcast(f, self._hot(ctx))
        disagree = abs(int(r["members"]) - int(b["members"]))
        if r["digest"] != b["digest"]:
            disagree = max(disagree, 1)
        tally.add("routed vs broadcast answers", self.n_hot, disagree)

    def iteration(self, ctx: Ctx, tracer, tally: Tally) -> Iteration:
        n = self.n_keys
        (f, m), t_build = timed(tracer, "build", lambda: self._build(ctx))
        self._check_build(tally, "build", m, ctx)
        bm, t_bucketed = timed(
            tracer, "build_bucketed", lambda: self._build_bucketed(ctx)
        )
        self._check_build(tally, "build_bucketed", bm, ctx)

        probes = self._probes(ctx)
        b, t_bcast = timed(
            tracer, "contains_bcast", lambda: self._bcast(f, probes)
        )
        fn = n - _inject(ctx, n - int(b["false_neg"]))
        tally.add("contains_bcast false negatives", 2 * n, fn)
        false_pos = int(b["members"]) - (n - int(b["false_neg"]))
        self.fprs.append(false_pos / n)
        if false_pos > _fpr_limit(n):
            tally.add("contains_bcast fpr over 2b/2^f", n, false_pos)
        if self.bits_per_key is None:
            self.bits_per_key = 8 * f.total_blob_bytes() / int(m["occupied"])

        r, t_routed = timed(
            tracer, "contains_routed", lambda: self._routed(ctx, f)
        )
        self._check_routed(ctx, tally, f, r)

        (nf, n_ok), t_delete = timed(
            tracer, "delete", lambda: self._delete(ctx, f)
        )
        tally.add("delete misses", n, n - _inject(ctx, n_ok))
        left = int(nf.total_occupied() or 0)
        tally.add("occupancy after deleting every key", n, left)
        nf.release()
        f.release()
        f.shards.unpersist()
        ops = [
            OpTime("build", n, *t_build),
            OpTime("build_bucketed", n, *t_bucketed),
            OpTime("contains_bcast", 2 * n, *t_bcast),
            OpTime("contains_routed", self.n_hot, *t_routed),
            OpTime("delete", n, *t_delete),
        ]
        return Iteration(ops)

    def close(self) -> None:
        pass

    def details(self) -> dict:
        return {"contains_fpr": statistics.median(self.fprs),
                "bits_per_key": self.bits_per_key}

    def pipelines(self, ctx: Ctx) -> dict[str, list]:
        """Per op, the steps a traced run times (see layers.py)."""
        one, shift, nb = _packed_one("key", self.capacity, ctx.shards)
        sp = ctx.shuffle_partitions
        state = {}

        def keyed():
            return self._keys(ctx).select(one.alias("__packed"))

        def routed(df):
            return df.select(
                "key",
                packed_expr("key", nb, CFG.bits_per_tag).alias("__packed"),
                shard_expr("key", ctx.shards).alias("__shard"),
            )

        def fresh_filter():
            state["f"] = self._build(ctx)[0]

        def stack():
            # stacking and broadcasting run eagerly, before any action
            state["res"] = state["f"].contains_broadcast(
                self._probes(ctx), "key")

        def noop_udf_probe():
            member = F.pandas_udf(_noop_member, "boolean")
            self._probes(ctx).withColumn("member", member("key")).agg(
                F.sum(F.col("member").cast("long"))
            ).collect()

        def routed_steps(df):
            shards_side = lambda: state["f"].shards.groupBy(  # noqa: E731
                F.col("shard_id").alias("__shard"))
            return [
                ("scan", lambda: _noop_sink(routed(df()))),
                ("exchange", lambda: _noop_sink(
                    routed(df()).repartition(sp, "__shard")
                    .sortWithinPartitions("__shard"))),
                ("arrow", lambda: _noop_sink(
                    routed(df()).groupBy("__shard").cogroup(shards_side())
                    .applyInPandas(_noop_cogroup, "n long"))),
            ]

        return {
            "build": [
                ("scan", lambda: _noop_sink(keyed())),
                ("exchange", lambda: _noop_sink(keyed().repartition(
                    ctx.shards, F.shiftrightunsigned("__packed", shift)))),
                ("arrow", lambda: _noop_sink(keyed().repartition(
                    ctx.shards, F.shiftrightunsigned("__packed", shift))
                    .mapInArrow(_noop_arrow, "n long"))),
            ],
            "build_bucketed": [
                ("scan", lambda: _noop_sink(
                    self._bucketed(ctx).select("__packed"))),
                ("arrow", lambda: _noop_sink(
                    self._bucketed(ctx).select("__packed")
                    .mapInArrow(_noop_arrow, "n long"))),
            ],
            "contains_bcast": [
                ("scan", lambda: self._probes(ctx).agg(
                    F.sum(F.col("resident").cast("long"))).collect()),
                ("arrow", noop_udf_probe),
                (":filter", fresh_filter),
                ("driver", stack),
                (":drop", lambda: state.pop("res")),
            ],
            "contains_routed": routed_steps(lambda: self._hot(ctx)),
            "delete": routed_steps(lambda: self._keys(ctx)) + [
                (":teardown", lambda: state.pop("f").shards.unpersist()),
            ],
        }

    def skew(self, ctx: Ctx) -> float:
        """Skew of the routed probes, the most skewed input."""
        return _skew(self._hot(ctx), "key", ctx.shards)


# ---------------------------------------------------------------------------


class StreamMixed:
    """A long-lived ``stream_apply_ops`` query fed one micro-batch at a
    time: each batch inserts fresh keys and deletes a ninth as many
    keys inserted by the batch before it. The batches are written in
    set-up; an iteration moves the next one into the watched directory
    and waits until the query has applied it."""

    name = "stream-mixed"
    SCHEMA = "key long, op string, seq long"
    #: batches kept back from the timed loop for the traced split
    RESERVE = 1

    def __init__(self, ctx: Ctx):
        self.batches = 8 if ctx.tiny else 12
        self.inserts = 1 << (12 if ctx.tiny else 16)
        resident = self.batches * self.inserts * 8 // 9
        self.capacity = int(resident / 0.8)
        self.staged = f"{ctx.work}/stream_staged"
        self.live = f"{ctx.work}/stream_live"
        self.ckpt = f"{ctx.work}/stream_ckpt"
        self.next_batch = 0
        self.rows: dict[str, list[int]] = {}
        self.query = None
        self.progress: list[dict] = []

    @property
    def work_per_iteration(self) -> int:
        return self.inserts * 10 // 9

    @property
    def exhausted(self) -> bool:
        return self.next_batch >= self.batches - self.RESERVE

    def describe(self) -> dict:
        return {"batches_written": self.batches,
                "inserts_per_batch": self.inserts,
                "deletes_per_batch": "a ninth of the previous batch's keys",
                "capacity": self.capacity}

    def _ops(self, ctx: Ctx):
        """Every batch's ops, with the batch number ``b``."""
        spark = ctx.spark
        n, total = self.inserts, self.batches * self.inserts
        ids = spark.range(0, total, 1, ctx.cores)
        ins = ids.select(
            F.xxhash64("id", F.lit(ctx.seed)).alias("key"),
            F.lit("insert").alias("op"), F.col("id").alias("seq"),
            (F.col("id") / n).cast("long").alias("b"),
        )
        dels = ids.filter(
            (F.col("id") < total - n)
            & (F.pmod(F.xxhash64("id", F.lit(ctx.seed + 1)), F.lit(9)) == 0)
        ).select(
            F.xxhash64("id", F.lit(ctx.seed)).alias("key"),
            F.lit("delete").alias("op"), (F.col("id") + total).alias("seq"),
            ((F.col("id") / n).cast("long") + 1).alias("b"),
        )
        return ins.unionByName(dels)

    def setup(self, ctx: Ctx) -> dict[str, float]:
        def write():
            # one file per batch directory: one batch, one micro-batch
            self._ops(ctx).repartition("b").write.partitionBy("b").mode(
                "overwrite").parquet(self.staged)
        return _time_steps([("sources.opgen_s", write)])

    def prepare(self, ctx: Ctx) -> None:
        """Start the query on the empty watched directory."""
        spark = ctx.spark
        self.batch_ops = {
            int(r["b"]): int(r["n"]) for r in spark.read.parquet(self.staged)
            .groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        os.makedirs(self.live)
        src = (spark.readStream.schema(self.SCHEMA)
               .option("maxFilesPerTrigger", 1)
               .parquet(f"{self.live}/*"))
        applied = stream_apply_ops(
            src, "key", "op", self.capacity, ctx.shards, CFG, seq_col="seq")
        rows = self.rows

        def sink(batch_df, batch_id):
            for r in batch_df.groupBy("op").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("ok").cast("long")).alias("ok"),
            ).collect():
                cur = rows.setdefault(r["op"], [0, 0])
                cur[0] += int(r["n"])
                cur[1] += int(r["ok"] or 0)

        self.query = (applied.writeStream.outputMode("append")
                      .option("checkpointLocation", self.ckpt)
                      .foreachBatch(sink).start())

    def _apply_next(self, ctx: Ctx) -> None:
        """Release the next batch to the query and wait until applied."""
        b = self.next_batch
        self.next_batch += 1
        # micro-batch jobs run under the query's own job group
        ctx.tracer.groups.append(str(self.query.runId))
        os.rename(f"{self.staged}/b={b}", f"{self.live}/b{b:03d}")
        self.query.processAllAvailable()

    def iteration(self, ctx: Ctx, tracer, tally: Tally) -> Iteration:
        b = self.next_batch
        before = {k: list(v) for k, v in self.rows.items()}
        _, t = timed(tracer, "stream", lambda: self._apply_next(ctx))
        n = sum(v[0] for v in self.rows.values()) - sum(
            v[0] for v in before.values())
        ok = _inject(ctx, sum(v[1] for v in self.rows.values()) - sum(
            v[1] for v in before.values()))
        tally.add("stream ops delivered", self.batch_ops[b],
                  abs(self.batch_ops[b] - n))
        tally.add("stream ops with ok = false", n, n - ok)
        self.progress.append(self.query.lastProgress)
        return Iteration([OpTime("stream", n, *t)])

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def details(self) -> dict:
        return {}

    def stream_layers(self) -> dict:
        """Engine timings and state size of the micro-batches so far:
        medians per batch, or the largest figure seen."""
        progress = [p for p in self.progress if p and p["numInputRows"]]

        def med(get):
            vals = [get(p) for p in progress]
            return statistics.median(vals) if vals else 0.0

        def state(p, k):
            return sum(s.get(k) or 0 for s in p.get("stateOperators", []))

        batch = sorted(p["durationMs"]["triggerExecution"] / 1e3
                       for p in progress)
        return {
            "stream.add_batch_ms": med(lambda p: p["durationMs"]["addBatch"]),
            "stream.wal_commit_ms": med(
                lambda p: p["durationMs"].get("walCommit", 0)),
            "stream.state_commit_ms": med(lambda p: state(p, "commitTimeMs")),
            "stream.state_rows_total": max(
                (state(p, "numRowsTotal") for p in progress), default=0),
            "stream.state_memory_bytes": max(
                (state(p, "memoryUsedBytes") for p in progress), default=0),
            "stream.batch_p_high_s": batch[-1] if batch else 0.0,
            "stream.batches": len(batch),
        }

    def pipelines(self, ctx: Ctx):
        """The batch steps read the next batch not yet released."""
        sp = ctx.shuffle_partitions

        def ops():
            return ctx.spark.read.schema(self.SCHEMA).parquet(
                f"{self.staged}/b={self.next_batch}"
            ).withColumn("__shard", shard_expr("key", ctx.shards))

        return {
            "stream": [
                ("scan", lambda: _noop_sink(ops())),
                ("exchange", lambda: _noop_sink(
                    ops().repartition(sp, "__shard")
                    .sortWithinPartitions("__shard"))),
                ("arrow", lambda: _noop_sink(
                    ops().groupBy("__shard")
                    .applyInPandas(_noop_grouped, "n long"))),
            ],
        }

    def skew(self, ctx: Ctx) -> float:
        return _skew(ctx.spark.read.schema(self.SCHEMA).parquet(
            f"{self.live}/*"), "key", ctx.shards)


WORKLOADS = {w.name: w for w in (Corpus, StreamMixed)}


def work_dir(root: str) -> str:
    path = os.path.join(root, f".perfbench_work-{os.getpid()}")
    os.makedirs(path)
    return path

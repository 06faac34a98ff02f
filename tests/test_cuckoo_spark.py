"""End-to-end distributed cuckoo-filter tests (SURVEY §5.4,
FIXTURES.md §2/§4): build over the Iceberg-shaped table, zero false
negatives, FPR ≤ ε, shard-routed contains/delete, merge
associativity across partition orderings, skew handling.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter
from cuckoo_filter_spark.hashing import key_from_content, keys_to_unsigned
from cuckoo_filter_spark.operators.membership import (
    DistributedCuckooFilter, ShardedCuckooFilter,
)
from cuckoo_filter_spark.sources.repo_table import (
    repo_files_from_documents, synthetic_repo_files,
)

N_ROWS = 20_000
CAPACITY = 32_768
CFG = CuckooConfig(bits_per_tag=16, bucket_size=4)


@pytest.fixture(scope="module")
def repo_df(spark):
    df = synthetic_repo_files(spark, N_ROWS, num_partitions=8).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def merged(spark, repo_df):
    return DistributedCuckooFilter.build(repo_df, "key", CAPACITY, CFG)


def test_key_invariant_vs_hashlib(repo_df):
    """Per-row invariant: Spark-derived key == sha256(content) prefix
    (BASELINE.json input_hint)."""
    rows = repo_df.select("content", "key").limit(50).collect()
    for r in rows:
        expect = key_from_content(r.content)
        signed = expect - (1 << 64) if expect >= 1 << 63 else expect
        assert r.key == signed


def test_merged_zero_false_negatives(spark, repo_df, merged):
    # AddSub and Offset at a non-pow2 bucket count (7,500) ride the
    # same check
    others = [
        DistributedCuckooFilter.build(
            repo_df, "key", 30_000,
            CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy=p),
        )
        for p in ("addsub", "offset")
    ]
    for filt in others:
        assert filt.filter.num_buckets == 7_500
    for filt in (merged, *others):
        out = filt.contains(repo_df.select("key"), "key")
        n_found = out.filter(F.col("member")).count()
        assert n_found == N_ROWS
        assert filt.filter.occupied == N_ROWS
        assert filt.filter.failures == 0


def test_merged_fpr_bound(spark, merged):
    """Probe keys from a range disjoint from any sha256-derived key
    workload (fresh synthetic contents never inserted)."""
    probes = synthetic_repo_files(spark, 50_000, num_partitions=4, seed=777)
    out = merged.contains(probes.select("key"), "key")
    fp = out.filter(F.col("member")).count()
    alpha = merged.filter.occupied / merged.filter.slot_capacity
    eps = CFG.theoretical_fpr(alpha)
    assert fp / 50_000 <= 2.5 * eps + 1e-4


def test_sharded_build_and_contains(spark, repo_df):
    sharded = ShardedCuckooFilter.build(repo_df, "key", CAPACITY, 8, CFG).persist()
    m = sharded.metrics().collect()[0]
    assert m["rows"] == N_ROWS
    assert m["occupied"] == N_ROWS
    assert m["failures"] == 0
    assert m["num_shards"] == 8
    out = sharded.contains(repo_df.select("key"))
    assert out.filter(F.col("member")).count() == N_ROWS

    # negatives through the same routed path
    probes = synthetic_repo_files(spark, 30_000, num_partitions=4, seed=999)
    neg = sharded.contains(probes.select("key"))
    fpr = neg.filter(F.col("member")).count() / 30_000
    assert fpr <= 2.5 * CFG.theoretical_fpr(0.95)


def test_sharded_delete_then_query(spark, repo_df):
    sharded = ShardedCuckooFilter.build(repo_df, "key", CAPACITY, 8, CFG).persist()
    evens = repo_df.filter(F.pmod(F.col("key"), 2) == 0).select("key").persist()
    odds = repo_df.filter(F.pmod(F.col("key"), 2) != 0).select("key").persist()
    n_even, n_odd = evens.count(), odds.count()

    results, updated = sharded.delete(evens)
    # regression (ADVICE r1): shard geometry is unchanged by deletes,
    # so the packed JVM fast path must survive the functional update
    assert updated.shard_num_buckets == sharded.shard_num_buckets is not None
    assert results.filter(F.col("ok")).count() == n_even
    # all remaining keys still found (zero false negatives survive delete)
    still = updated.contains(odds)
    assert still.filter(F.col("member")).count() == n_odd
    # occupancy dropped exactly
    assert updated.total_occupied() == n_odd
    # deleting the same keys again: (almost) none left — false
    # positives against remaining fingerprints may delete a few
    again, _ = updated.delete(evens)
    assert again.filter(F.col("ok")).count() <= int(0.01 * n_even) + 5


def test_contains_broadcast_matches_routed(spark, repo_df):
    """The stacked-broadcast probe path must agree bit-for-bit with
    the shuffle-routed path (same shards, same probes)."""
    sharded = ShardedCuckooFilter.build(repo_df, "key", CAPACITY, 8, CFG).persist()
    probes = (
        repo_df.select("key")
        .unionByName(
            synthetic_repo_files(spark, 10_000, num_partitions=4, seed=555)
            .select("key")
        )
        .persist()
    )
    routed = sharded.contains(probes).withColumnRenamed("member", "a")
    bcast = sharded.contains_broadcast(probes).withColumnRenamed("member", "b")
    diff = routed.join(bcast, "key").filter(F.col("a") != F.col("b")).count()
    assert diff == 0
    assert bcast.filter(F.col("b")).count() >= N_ROWS  # zero FN


def test_merge_associativity_spark(spark, repo_df):
    """north_rule gate: per-partition shards merged in random orders
    give identical membership answers (FIXTURES.md §4)."""
    import pandas as pd

    def partial(iterator):
        flt = CuckooFilter(CAPACITY, CFG)
        got = False
        for pdf in iterator:
            got = True
            flt.insert_many(keys_to_unsigned(pdf["key"].to_numpy(np.int64)))
        if got:
            yield pd.DataFrame({"blob": [flt.to_bytes()]})

    blobs = [
        r.blob
        for r in repo_df.select("key").repartition(16, "key")
        .mapInPandas(partial, "blob binary").collect()
    ]
    assert len(blobs) == 16
    probe_rows = repo_df.select("key").limit(2000).collect()
    probes = keys_to_unsigned(np.array([r.key for r in probe_rows], dtype=np.int64))
    rng = np.random.default_rng(42)
    ref = None
    for _ in range(5):
        order = rng.permutation(16)
        merged = CuckooFilter.merge_blobs([blobs[i] for i in order])
        assert merged.failures == 0
        ans = merged.contains_many(probes)
        assert ans.all()  # all probes were inserted
        if ref is None:
            ref = ans
        assert (ans == ref).all()


def test_skewed_input_build(spark, repo_df):
    """~30% of rows share one repo (Zipf fixture). Building from a
    repo-partitioned (maximally skewed) layout must still balance:
    shard routing is by key hash, so shard row counts stay within
    2x of each other (FIXTURES.md skewed_partitions)."""
    skewed = repo_df.repartition(8, "repo")
    sharded = ShardedCuckooFilter.build(skewed, "key", CAPACITY, 8, CFG)
    rows = [r["rows"] for r in sharded.shards.select("rows").collect()]
    assert max(rows) <= 2 * min(rows)
    assert sum(rows) == N_ROWS


def test_documents_view_keys(spark):
    df = repo_files_from_documents(spark, "/root/testdata/sf0.001")
    rows = df.select("content", "key").limit(20).collect()
    for r in rows:
        expect = key_from_content(r.content)
        signed = expect - (1 << 64) if expect >= 1 << 63 else expect
        assert r.key == signed


def test_merged_build_empty_input(spark):
    filt = DistributedCuckooFilter.build(
        spark.createDataFrame([], "key long"), "key", 4096, CFG
    )
    assert filt.filter.occupied == 0
    import numpy as np

    assert not filt.filter.contains_many(
        np.arange(1, 100, dtype=np.uint64)
    ).any()


def test_delete_scalar_mode(spark, repo_df):
    """per_key=False must produce the same new filter and success
    count as the default mode, without per-key result columns (the
    reference's deleteMany contract: scalar return, outcomes stay in
    kernel memory — benchmark_common.cuh:287)."""
    sharded = ShardedCuckooFilter.build(repo_df, "key", CAPACITY, 8, CFG).persist()
    n = repo_df.count()
    res_none, f2 = sharded.delete(repo_df, per_key=False)
    assert res_none is None
    assert f2.delete_success_count() == n
    assert f2.total_occupied() == 0
    assert "del_keys" not in f2._delete_src.columns
    r1, f1 = sharded.delete(repo_df)
    assert f1.delete_success_count() == n
    assert r1.filter(F.col("ok")).count() == n
    f1.release()
    f2.release()


def test_sharded_counts_exact(spark, repo_df):
    """GQF-parity counting query: inserting each key 1-3 times gives
    exact multiplicities through the routed counts() lane, and a
    multiset delete decrements them (32-bit tags -> collision odds
    ~1e-9, so the comparison is exact in practice)."""
    cfg32 = CuckooConfig(bits_per_tag=32, bucket_size=4)
    some = repo_df.select("key").limit(3000)
    dup = some.limit(1200)
    trip = some.limit(400)
    stream = some.unionByName(dup).unionByName(trip)
    filt = ShardedCuckooFilter.build(
        stream, "key", CAPACITY, 8, cfg32
    ).persist()
    got = {r.key: r.cnt for r in filt.counts(some, "cnt").collect()}
    keys = [r.key for r in some.collect()]
    dup_keys = set(r.key for r in dup.collect())
    trip_keys = set(r.key for r in trip.collect())
    for k in keys:
        want = 1 + (k in dup_keys) + (k in trip_keys)
        assert got[k] == want, k
    _, after = filt.delete(dup, per_key=False)
    got2 = {r.key: r.cnt for r in after.counts(dup, "cnt").collect()}
    for k in dup_keys:
        assert got2[k] == got[k] - 1, k


def test_broadcast_guard_raises_and_falls_back(spark, repo_df):
    """VERDICT r3 task 4: an oversized filter must not be silently
    collected+broadcast: the guard warns and the op answers
    identically through the routed lane."""
    probes = repo_df.select("key").limit(500)

    def assert_falls_back(filt):
        with pytest.warns(RuntimeWarning, match="broadcast guard"):
            out = filt.contains_broadcast(probes)
        routed = filt.contains(probes).collect()
        assert dict(out.select("key", "member").collect()) == dict(routed)

    sharded = ShardedCuckooFilter.build(
        repo_df, "key", CAPACITY, 8, CFG
    ).persist()
    object.__setattr__(sharded, "max_broadcast_bytes", 1024)  # force trip
    assert_falls_back(sharded)

    # a lightly loaded filter serializes sparse blobs, but the XOR
    # lane broadcasts the dense stacked table: the guard must weigh
    # the table, not the blobs
    light = ShardedCuckooFilter.build(
        repo_df.limit(2_000), "key", CAPACITY, 8, CFG
    ).persist()
    blob_sum = light.total_blob_bytes()
    dense = sum(
        CuckooFilter.from_bytes(bytes(r.blob)).buckets.nbytes
        for r in light.shards.collect()
    )
    assert 2 * blob_sum < dense
    object.__setattr__(light, "max_broadcast_bytes", (blob_sum + dense) // 2)
    assert_falls_back(light)
    # externally loaded shards carry no bucket count: read it from a blob
    loaded = ShardedCuckooFilter(light.shards, 8, CFG)
    object.__setattr__(loaded, "max_broadcast_bytes", (blob_sum + dense) // 2)
    assert_falls_back(loaded)


@pytest.mark.parametrize("policy", ["xor", "addsub", "offset"])
def test_lanes_agree_per_bucket_policy(
    spark, repo_df, tmp_path, split_confs, local_shards, policy
):
    """Every lane of the sharded filter gives the same answers under
    each bucket policy: routed and broadcast contains agree per key
    on mixed positives and negatives and with one local numpy filter per shard, routed counts agree with it
    too, the bucketed build holds the same shards, both delete modes
    remove the same keys, a delete that touches only some shards keeps
    every shard and its rows, and no key that was not deleted goes
    missing."""
    cfg = CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy=policy)
    sharded = ShardedCuckooFilter.build(
        repo_df, "key", CAPACITY, 8, cfg
    ).persist()
    keys = repo_df.select("key")
    mixed = keys.unionByName(
        synthetic_repo_files(spark, 5_000, num_partitions=4, seed=4242)
        .select("key")
    ).distinct()
    routed = sharded.contains(mixed).select("key", "member")
    bcast = sharded.contains_broadcast(mixed, "key").select("key", "member")
    assert routed.count() == mixed.count()
    assert routed.exceptAll(bcast).count() == 0
    assert bcast.exceptAll(routed).count() == 0
    assert routed.join(keys, "key").filter(~F.col("member")).count() == 0

    # the same answers as a numpy filter per shard (no insert fails,
    # so insertion order cannot show)
    local = local_shards(
        [r.key for r in keys.collect()], CAPACITY, 8, cfg
    )
    got = routed.join(sharded.counts(mixed), "key").collect()
    probe_keys = [r.key for r in got]
    want = local.answer("contains", probe_keys).tolist()
    assert [r.member for r in got] == want
    assert [r["count"] for r in got] == local.answer("count", probe_keys).tolist()
    assert min(r["count"] for r in got if r.member) >= 1

    # the bucketed build holds the same shards and answers the same
    path = str(tmp_path / "bucketed")
    ShardedCuckooFilter.write_bucketed_keys(repo_df, "key", CAPACITY, 8, path, cfg)
    bucketed = ShardedCuckooFilter.build_bucketed(
        ShardedCuckooFilter.read_bucketed_keys(spark, path), CAPACITY, 8, cfg,
        path=path,
    )
    stats = ["shard_id", "rows", "inserted"]
    assert sorted(bucketed.shards.select(stats).collect()) == sorted(
        sharded.shards.select(stats).collect()
    )
    by_bucketed = bucketed.contains(mixed).select("key", "member")
    assert by_bucketed.exceptAll(routed).count() == 0
    assert routed.exceptAll(by_bucketed).count() == 0

    # F.xxhash64 is the seed-42 router hash: this keeps shards 0 and 4
    part = keys.filter(F.pmod(F.xxhash64("key"), 4) == 0)
    rest = keys.join(part, "key", "left_anti")
    n_part = part.count()
    res, by_key = sharded.delete(part)
    none, scalar = sharded.delete(part, per_key=False)
    assert none is None
    assert res.filter(F.col("ok")).count() == n_part
    assert by_key.delete_success_count() == n_part
    assert scalar.delete_success_count() == n_part
    for after in (by_key, scalar):
        m = after.metrics().collect()[0]
        assert m["num_shards"] == 8 and m["rows"] == N_ROWS
        assert m["occupied"] == N_ROWS - n_part
        assert after.contains(rest).filter(~F.col("member")).count() == 0
        after.release()
    sharded.release()
    sharded.shards.unpersist()


@pytest.mark.parametrize("policy", ["xor", "offset"])
def test_two_column_layout_matches_packed(
    spark, repo_df, tmp_path, split_confs, monkeypatch, policy,
):
    """The two-column ``(__shard, __packed)`` layout, chosen only when
    shard+bucket+tag exceed 62 bits (f=32 past 2^30 buckets), builds
    the same shard blobs and answers the same as the one-long layout:
    shuffled and bucketed builds, routed and broadcast contains, and
    delete. Forced at test size by making the shift unavailable."""
    from cuckoo_filter_spark.operators import membership

    cfg = CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy=policy)
    keys = repo_df.select("key")
    probes = keys.unionByName(
        synthetic_repo_files(spark, 2_000, num_partitions=4, seed=99)
        .select("key")
    )
    part = keys.filter(F.pmod(F.xxhash64("key"), 4) == 0)

    def blobs(filt):
        return sorted(
            (r.shard_id, bytes(r.blob))
            for r in filt.shards.select("shard_id", "blob").collect()
        )

    def answers(df, col):
        return sorted(tuple(r) for r in df.select("key", col).collect())

    def run(tag):
        built = ShardedCuckooFilter.build(repo_df, "key", CAPACITY, 8, cfg)
        path = str(tmp_path / tag)
        ShardedCuckooFilter.write_bucketed_keys(
            repo_df, "key", CAPACITY, 8, path, cfg
        )
        table = ShardedCuckooFilter.read_bucketed_keys(spark, path)
        bucketed = ShardedCuckooFilter.build_bucketed(
            table, CAPACITY, 8, cfg, path=path
        )
        _, after = built.delete(part, per_key=False)
        out = {
            "occupied": built.metrics().collect()[0]["occupied"],
            "built": blobs(built),
            "bucketed": blobs(bucketed),
            "routed": answers(bucketed.contains(probes), "member"),
            "broadcast": answers(
                built.contains_broadcast(probes, "key"), "member"
            ),
            "deleted": after.delete_success_count(),
            "after": blobs(after),
        }
        after.release()
        built.release()
        return table.columns, out

    packed_cols, packed = run("packed")
    monkeypatch.setattr(membership, "_packed_shard_shift", lambda *a: None)
    two_cols, two = run("two_col")
    assert packed_cols == ["__packed"]
    assert two_cols == ["__shard", "__packed"]
    assert packed["occupied"] == N_ROWS
    assert packed["built"] == packed["bucketed"]
    assert packed["deleted"] == part.count()
    assert two == packed


@pytest.mark.parametrize("policy", ["xor", "addsub", "offset"])
def test_sharded_build_and_delete_skip_null_keys(spark, policy):
    """A null key is not a key: the sharded build does not insert it
    (as the merged build does not) and a null-only delete removes
    nothing, under each bucket policy."""
    cfg = CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy=policy)
    keys = spark.createDataFrame([(1,), (2,), (None,)], "key long")
    sharded = ShardedCuckooFilter.build(keys, "key", 1000, 2, cfg)
    assert sharded.total_occupied() == 2
    _, after = sharded.delete(keys.filter(F.col("key").isNull()), per_key=False)
    assert after.delete_success_count() == 0
    assert after.total_occupied() == 2
    after.release()


@pytest.mark.parametrize("policy", ["xor", "addsub", "offset"])
def test_routed_null_probe_answers_null(spark, policy):
    """The routed probes keep a null probe's row and answer it NULL, as
    the broadcast lanes do: it must not come back as key INT64_MIN,
    which a real key can hold. Delete skips null keys, so its per-key
    outcomes have no null row."""
    cfg = CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy=policy)
    build = spark.createDataFrame([(1,), (2,)], "key long")
    probes = spark.createDataFrame([(1,), (None,), (3,)], "key long")
    sharded = ShardedCuckooFilter.build(build, "key", 1000, 2, cfg).persist()
    rows = sharded.contains(probes).collect()
    assert len(rows) == 3
    assert dict(rows) == {1: True, None: None, 3: False}
    rows = sharded.counts(probes).collect()
    assert len(rows) == 3
    assert dict(rows) == {1: 1, None: None, 3: 0}
    outcomes, after = sharded.delete(probes)
    assert dict(outcomes.collect()) == {1: True, 3: False}
    after.release()
    sharded.shards.unpersist()


@pytest.mark.parametrize(
    "lane", ["xor", "addsub", "offset", "merged", "fallback"]
)
def test_broadcast_null_probe_answers_null(spark, lane):
    """Every broadcast lane, and the routed fallback past the broadcast
    guard, keeps a null probe's row and answers it NULL."""
    import warnings

    policy = lane if lane in ("xor", "addsub", "offset") else "xor"
    cfg = CuckooConfig(bits_per_tag=16, bucket_size=4, bucket_policy=policy)
    build = spark.createDataFrame([(1,), (2,), (None,)], "key long")
    probes = spark.createDataFrame([(1,), (None,), (3,)], "key long")
    if lane == "merged":
        out = DistributedCuckooFilter.build(build, "key", 1000, cfg).contains(
            probes, "key"
        )
    else:
        sharded = ShardedCuckooFilter.build(build, "key", 1000, 2, cfg)
        if lane == "fallback":
            object.__setattr__(sharded, "max_broadcast_bytes", 0)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            out = sharded.contains_broadcast(probes)
    rows = out.collect()
    assert len(rows) == 3
    assert dict((r.key, r.member) for r in rows) == {
        1: True, None: None, 3: False,
    }

"""Companion-sketch tests: error bounds + merge associativity for
HLL / Bloom / Count-Min / t-digest / KLL (north_rule: estimates
within each algorithm's published bound, merges associative across
arbitrary partition orderings), plus Spark aggregation and
cross-checks against exact computation and Spark built-ins."""

import numpy as np
import pytest

from cuckoo_filter_spark.core.bloom import BloomFilter
from cuckoo_filter_spark.core.countmin import CountMinSketch
from cuckoo_filter_spark.core.hll import HyperLogLog
from cuckoo_filter_spark.core.kll import KLLSketch
from cuckoo_filter_spark.core.misra_gries import MisraGries
from cuckoo_filter_spark.core.tdigest import TDigest

RNG = np.random.default_rng(42)


def split_parts(arr, n_parts, seed=0):
    idx = np.random.default_rng(seed).permutation(len(arr))
    return np.array_split(arr[idx], n_parts)


# ---------------------------------------------------------- blob codec


def _filled(name):
    keys = np.random.default_rng(3).integers(1, 2**40, 5000, dtype=np.uint64)
    values = keys.astype(np.float64)
    if name == "bloom":
        sk = BloomFilter(5000)
    elif name == "cms":
        sk = CountMinSketch(eps=0.01)
    elif name == "hll":
        sk = HyperLogLog(p=14)
    elif name == "kll":
        sk = KLLSketch(k=64)
        keys = values
    elif name == "mg":
        sk = MisraGries(64)
    else:
        sk = TDigest()
        keys = values
    sk.add_many(keys)
    return sk


class _Runs:
    """Pickles to a call of ``os.mkdir(path)``: decoding it with
    ``pickle.loads`` would create the directory."""

    def __init__(self, path):
        self.path = path

    def __reduce__(self):
        import os

        return os.mkdir, (str(self.path),)


@pytest.mark.parametrize("name", ["bloom", "cms", "hll", "kll", "mg", "tdigest"])
def test_sketch_decoder_rejects_bad_blob(name, tmp_path):
    """Sketch blobs come back from tables, checkpoints and stream
    state: a truncated blob, a wrong magic and (for KLL, whose blobs
    were pickles) a pickle payload each raise ValueError, and no
    decoder runs a pickled callable."""
    import pickle

    sk = _filled(name)
    cls = type(sk)
    blob = sk.to_bytes()
    rt = cls.from_bytes(blob)
    assert rt.to_bytes() == blob
    bad = [blob[: len(blob) // 2], blob[:-8], blob[:3], b"XXXX" + blob[4:]]
    if name == "kll":
        bad.append(pickle.dumps(_Runs(tmp_path / "ran"), protocol=4))
        bad.append(pickle.dumps(
            {"k": sk.k, "n": sk.n, "ctr": 0, "levels": sk.levels}, protocol=4
        ))
    for b in bad:
        with pytest.raises(ValueError):
            cls.from_bytes(b)
    assert not (tmp_path / "ran").exists()


# ----------------------------------------------------------------- HLL


def test_hll_accuracy():
    n = 500_000
    keys = RNG.integers(1, 2**63, n, dtype=np.uint64)
    true = len(np.unique(keys))
    h = HyperLogLog(p=14)
    h.add_many(keys)
    assert abs(h.estimate() - true) / true < 3 * h.relative_error


def test_hll_small_range_linear_counting():
    h = HyperLogLog(p=12)
    keys = np.arange(1, 101, dtype=np.uint64)
    h.add_many(keys)
    assert abs(h.estimate() - 100) <= 3


def test_hll_merge_associative_exact():
    """HLL merge is max() — bitwise identical under any order."""
    keys = RNG.integers(1, 2**63, 100_000, dtype=np.uint64)
    parts = split_parts(keys, 8)
    blobs = []
    for p in parts:
        h = HyperLogLog(14)
        h.add_many(p)
        blobs.append(h.to_bytes())
    ests = set()
    for seed in range(5):
        order = np.random.default_rng(seed).permutation(8)
        acc = HyperLogLog.from_bytes(blobs[order[0]])
        for i in order[1:]:
            acc.merge_in_place(HyperLogLog.from_bytes(blobs[i]))
        ests.add(round(acc.estimate(), 6))
    assert len(ests) == 1
    whole = HyperLogLog(14)
    whole.add_many(keys)
    assert round(whole.estimate(), 6) in ests  # merge == single-pass


# ----------------------------------------------------------------- Bloom


def test_bloom_no_false_negatives_and_fpp():
    n = 100_000
    keys = RNG.integers(1, 2**62, n, dtype=np.uint64)
    b = BloomFilter(n, fpp=0.01)
    b.add_many(keys)
    assert b.contains_many(keys).all()
    probes = RNG.integers(2**62, 2**63, 200_000, dtype=np.uint64)
    fpr = b.contains_many(probes).mean()
    assert fpr <= 0.02  # 2x slack on configured 1%


def test_bloom_merge_is_union():
    a_keys = RNG.integers(1, 2**61, 10_000, dtype=np.uint64)
    b_keys = RNG.integers(2**61, 2**62, 10_000, dtype=np.uint64)
    a = BloomFilter(20_000, 0.01)
    b = BloomFilter(20_000, 0.01)
    a.add_many(a_keys)
    b.add_many(b_keys)
    a.merge_in_place(b)
    assert a.contains_many(a_keys).all() and a.contains_many(b_keys).all()
    # order independence
    a2 = BloomFilter(20_000, 0.01)
    b2 = BloomFilter(20_000, 0.01)
    a2.add_many(a_keys)
    b2.add_many(b_keys)
    b2.merge_in_place(a2)
    assert np.array_equal(a.words, b2.words)


# ----------------------------------------------------------------- CMS


def test_cms_one_sided_and_bound():
    zipf = np.clip(np.random.default_rng(7).zipf(1.3, 200_000), 1, 10_000).astype(
        np.uint64
    )
    cms = CountMinSketch(eps=0.001, confidence=0.99)
    cms.add_many(zipf)
    uniq, true_counts = np.unique(zipf, return_counts=True)
    est = cms.estimate_many(uniq)
    assert (est >= true_counts).all()  # never underestimates
    overshoot = est - true_counts
    assert (overshoot <= cms.eps * cms.total * 3).mean() > 0.99


def test_cms_merge_exact_commutative():
    k1 = RNG.integers(1, 1000, 50_000, dtype=np.uint64)
    k2 = RNG.integers(1, 1000, 50_000, dtype=np.uint64)
    a = CountMinSketch(0.001)
    a.add_many(k1)
    b = CountMinSketch(0.001)
    b.add_many(k2)
    ab = CountMinSketch.from_bytes(a.to_bytes()).merge_in_place(b)
    ba = CountMinSketch.from_bytes(b.to_bytes()).merge_in_place(a)
    assert np.array_equal(ab.table, ba.table)
    whole = CountMinSketch(0.001)
    whole.add_many(np.concatenate([k1, k2]))
    assert np.array_equal(ab.table, whole.table)


# ----------------------------------------------------------------- t-digest


def test_tdigest_quantile_accuracy():
    vals = np.random.default_rng(3).normal(100, 15, 400_000)
    td = TDigest(delta=200)
    for chunk in np.array_split(vals, 10):
        td.add_many(chunk)
    for q in [0.01, 0.1, 0.5, 0.9, 0.99]:
        true = np.quantile(vals, q)
        est = td.quantile(q)
        # rank error: |cdf(est) - q| small, tighter at tails
        rank_err = abs((vals <= est).mean() - q)
        assert rank_err < 0.01, (q, rank_err)


def test_tdigest_merge_within_bound():
    vals = np.random.default_rng(4).exponential(10, 200_000)
    parts = split_parts(vals, 16, seed=1)
    digests = []
    for p in parts:
        t = TDigest(200)
        t.add_many(p)
        digests.append(t.to_bytes())
    results = []
    for seed in range(4):
        order = np.random.default_rng(seed).permutation(16)
        acc = TDigest.from_bytes(digests[order[0]])
        for i in order[1:]:
            acc.merge_in_place(TDigest.from_bytes(digests[i]))
        results.append(acc.quantiles([0.05, 0.5, 0.95, 0.99]))
    for q, col in zip([0.05, 0.5, 0.95, 0.99], np.array(results).T):
        for est in col:
            rank_err = abs((vals <= est).mean() - q)
            assert rank_err < 0.015, (q, rank_err)


def test_tdigest_centroid_budget():
    td = TDigest(delta=100)
    td.add_many(np.random.default_rng(5).uniform(0, 1, 100_000))
    assert len(td.means) <= 120  # ~delta centroids, bounded memory


# ----------------------------------------------------------------- KLL


def test_kll_rank_error():
    vals = np.random.default_rng(6).normal(0, 1, 300_000)
    k = KLLSketch(k=200)
    k.add_many(vals)
    for q in [0.1, 0.25, 0.5, 0.75, 0.9]:
        est = k.quantile(q)
        rank_err = abs((vals <= est).mean() - q)
        assert rank_err < 0.02, (q, rank_err)


def test_kll_merge_within_bound():
    vals = np.random.default_rng(8).uniform(0, 1000, 200_000)
    parts = split_parts(vals, 8, seed=2)
    blobs = []
    for p in parts:
        s = KLLSketch(200)
        s.add_many(p)
        blobs.append(s.to_bytes())
    acc = KLLSketch.from_bytes(blobs[0])
    for b in blobs[1:]:
        acc.merge_in_place(KLLSketch.from_bytes(b))
    assert acc.n == len(vals)
    for q in [0.1, 0.5, 0.9]:
        est = acc.quantile(q)
        assert abs((vals <= est).mean() - q) < 0.025


# ----------------------------------------------------------------- Spark layer


def test_spark_sketch_aggregation(spark):
    from cuckoo_filter_spark.operators.sketch_agg import (
        aggregate_sketch, grouped_sketch_partial,
    )
    from cuckoo_filter_spark.sources.repo_table import synthetic_repo_files
    from pyspark.sql import functions as F

    df = synthetic_repo_files(spark, 30_000, num_partitions=8).persist()
    true_distinct = df.select("key").distinct().count()

    hll = aggregate_sketch(df, "key", lambda: HyperLogLog(14))
    assert abs(hll.estimate() - true_distinct) / true_distinct < 0.03

    bloom = aggregate_sketch(df, "key", lambda: BloomFilter(40_000, 0.01))
    sample = [r.key for r in df.select("key").limit(500).collect()]
    import numpy as np
    from cuckoo_filter_spark.hashing import keys_to_unsigned
    assert bloom.contains_many(
        keys_to_unsigned(np.array(sample, dtype=np.int64))
    ).all()

    # cross-check vs Spark's built-in HLL++ (north_star companion check)
    spark_est = df.agg(F.approx_count_distinct("key").alias("e")).collect()[0]["e"]
    assert abs(hll.estimate() - spark_est) / true_distinct < 0.05

    # grouped: distinct files per lang via HLL vs exact
    g = grouped_sketch_partial(
        df, ["lang"], "key", lambda: HyperLogLog(14),
        lambda sk: {"est": int(round(sk.estimate()))}, "est long",
    )
    exact = {
        r.lang: r.c
        for r in df.groupBy("lang").agg(F.countDistinct("key").alias("c")).collect()
    }
    for r in g.collect():
        assert abs(r.est - exact[r.lang]) / max(exact[r.lang], 1) < 0.05


def test_spark_tdigest_vs_exact(spark, sf_dir):
    from cuckoo_filter_spark.operators.sketch_agg import aggregate_sketch

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    td = aggregate_sketch(
        li, "l_extendedprice", lambda: TDigest(200), unsigned_keys=False
    )
    vals = np.array([r.l_extendedprice for r in li.select("l_extendedprice").collect()])
    for q in [0.1, 0.5, 0.9]:
        est = td.quantile(q)
        assert abs((vals <= est).mean() - q) < 0.02


def test_grouped_sketch_partial_matches_direct(spark, sf_dir):
    """Skew-proof two-stage grouped sketching produces identical
    estimates to one local sketch per group over all its keys (merge
    associativity)."""
    from cuckoo_filter_spark.core.hll import HyperLogLog
    from cuckoo_filter_spark.hashing import content_key_expr, keys_to_unsigned
    from cuckoo_filter_spark.operators.sketch_agg import grouped_sketch_partial
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("key", content_key_expr(F.col("text")))
    )
    fin = lambda sk: {"est": int(round(sk.estimate()))}
    got = grouped_sketch_partial(
        docs, ["lang"], "key", lambda: HyperLogLog(12), fin, "est long"
    ).collect()
    local = docs.select("lang", "key").toPandas().dropna()
    want = set()
    for lang, g in local.groupby("lang"):
        sk = HyperLogLog(12)
        sk.add_many(keys_to_unsigned(g["key"].to_numpy(np.int64)))
        want.add((str(lang), fin(sk)["est"]))
    assert {(r.lang, r.est) for r in got} == want


def test_grouped_applies_raise_no_type_hint_warning(spark):
    """The grouped pandas functions carry no type hints PySpark cannot
    read, so building their plans warns nothing."""
    import warnings

    from cuckoo_filter_spark.operators.quantiles import exact_quantiles_grouped
    from cuckoo_filter_spark.operators.similarity import cosine_pairs_ge
    from cuckoo_filter_spark.operators.sketch_agg import grouped_sketch_partial

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)], "g string, k long, v double"
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.1], 0)],
        "vec_id long, embedding array<double>, b int",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        grouped_sketch_partial(
            df, ["g"], "k", lambda: HyperLogLog(10),
            lambda sk: {"est": int(sk.estimate())}, "est long",
        )
        exact_quantiles_grouped(df, "g", "v", [0.5])
        cosine_pairs_ge(vecs, 0.9)
        cosine_pairs_ge(vecs, 0.9, block_col="b")
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]


def test_tdigest_merge_order_invariance():
    """Tree-reduce merges happen in whatever order partitions finish;
    the estimate must stay within the sketch's error envelope for
    EVERY ordering (the value-sketch analog of the cuckoo merge
    associativity suite). Serialization round-trips between merges
    mirror the blob exchange between Spark stages."""
    from cuckoo_filter_spark.core.tdigest import TDigest

    rng = np.random.default_rng(11)
    parts = [rng.lognormal(3.0, 1.0, 5000) for _ in range(12)]
    all_vals = np.sort(np.concatenate(parts))

    def ref_q(q):
        return all_vals[min(len(all_vals) - 1, int(q * len(all_vals)))]

    for trial in range(5):
        order = rng.permutation(12)
        acc = None
        for i in order:
            sk = TDigest(200)
            sk.add_many(parts[i])
            sk = TDigest.from_bytes(sk.to_bytes())
            acc = sk if acc is None else acc.merge_in_place(sk)
        assert acc.total_weight == len(all_vals)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99):
            est = acc.quantile(q)
            lo = ref_q(max(0.0, q - 0.02))
            hi = ref_q(min(1.0, q + 0.02))
            assert lo <= est <= hi, (trial, q, est, lo, hi)


def test_kll_merge_order_invariance():
    """Same contract for KLL: rank error of the merged sketch stays
    within the k=200 envelope (~1.7/k) regardless of merge order."""
    from cuckoo_filter_spark.core.kll import KLLSketch

    rng = np.random.default_rng(13)
    parts = [rng.normal(50.0, 12.0, 5000) for _ in range(12)]
    all_vals = np.sort(np.concatenate(parts))
    n = len(all_vals)

    for trial in range(5):
        order = rng.permutation(12)
        acc = None
        for i in order:
            sk = KLLSketch(200)
            sk.add_many(parts[i])
            sk = KLLSketch.from_bytes(sk.to_bytes())
            acc = sk if acc is None else acc.merge_in_place(sk)
        for q in (0.05, 0.25, 0.5, 0.75, 0.95):
            est = acc.quantile(q)
            true_rank = np.searchsorted(all_vals, est) / n
            assert abs(true_rank - q) <= 0.025, (trial, q, true_rank)


def test_grouped_sketch_partial_keyed_capacity(spark):
    """keyed=True sizes each group's sketch from its own key: a
    skewed two-group build gets proportionally-sized cuckoo filters
    (not every group paying for the largest), zero failed inserts,
    and per-group occupancy equal to the group's cardinality."""
    from cuckoo_filter_spark.config import CuckooConfig
    from cuckoo_filter_spark.core.cuckoo import CuckooFilter
    from cuckoo_filter_spark.operators.sketch_agg import (
        grouped_sketch_partial,
    )
    from pyspark.sql import functions as F

    big_n, small_n = 20000, 200
    df = (
        spark.range(big_n).select(
            F.lit("big").alias("g"), F.col("id").alias("key"))
        .unionAll(
            spark.range(small_n).select(
                F.lit("small").alias("g"),
                (F.col("id") + 10_000_000).alias("key"))
        )
        .repartition(8)
    )
    caps = {"big": int(big_n / 0.9), "small": int(small_n / 0.9)}
    cfg = CuckooConfig()
    out = grouped_sketch_partial(
        df, ["g"], "key",
        lambda key: CuckooFilter(caps[key[0]], cfg),
        lambda sk: {
            "occ": int(sk.occupied), "fails": int(sk.failures),
            "nbytes": int(sk.size_in_bytes()),
        },
        "occ long, fails long, nbytes long",
        keyed=True, sketch_cls=CuckooFilter,
    ).collect()
    got = {r.g: r for r in out}
    assert got["big"].occ == big_n and got["big"].fails == 0
    assert got["small"].occ == small_n and got["small"].fails == 0
    # geometry tracks group cardinality (power-of-two bucket rounding
    # bounds the ratio, 20000/200 -> at least 32x)
    assert got["big"].nbytes >= 32 * got["small"].nbytes


def test_aggregate_sketch_empty_input(spark):
    """The fan-in reduce path must return the prototype sketch on an
    empty DataFrame (no partials to merge)."""
    from cuckoo_filter_spark.core.hll import HyperLogLog
    from cuckoo_filter_spark.operators.sketch_agg import aggregate_sketch

    df = spark.createDataFrame([], "key long")
    hll = aggregate_sketch(df, "key", lambda: HyperLogLog(12))
    assert hll.estimate() == 0.0

"""Pure-numpy kernel tests mirroring the reference unit suite
(/root/reference/tests/test_cuckoo_filter.cu, 12 tests) plus the
statistical FPR gate from src/main.cu:113-126. No Spark here — the
per-partition kernel must be correct standalone first (SURVEY §7.1).
"""

import struct

import numpy as np
import pytest

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import _HEADER, CuckooFilter

_HEADER_SIZE = _HEADER.size

SEED = 42  # test_cuckoo_filter.cu:17


def rand_keys(n, lo=1, hi=2**32, seed=SEED):
    rng = np.random.default_rng(seed)
    return rng.integers(lo, hi, size=n, dtype=np.uint64)


@pytest.fixture(
    params=[
        CuckooConfig(16, 4),
        CuckooConfig(16, 16),
        CuckooConfig(8, 4),
        CuckooConfig(32, 4),
        CuckooConfig(16, 4, eviction_policy="bfs"),
        CuckooConfig(16, 16, eviction_policy="bfs"),
        CuckooConfig(16, 4, bucket_policy="addsub"),
        CuckooConfig(16, 16, bucket_policy="addsub"),
    ],
    ids=["f16b4", "f16b16", "f8b4", "f32b4", "f16b4bfs", "f16b16bfs",
         "f16b4addsub", "f16b16addsub"],
)
def config(request):
    return request.param


def test_basic_insert_and_query(config):  # :32-51 — zero false negatives
    f = CuckooFilter(1024, config)
    keys = np.arange(1, 9, dtype=np.uint64) * 1000003
    assert f.insert_many(keys).all()
    assert f.contains_many(keys).all()


def test_empty_filter(config):  # :53-69
    f = CuckooFilter(1024, config)
    assert not f.contains_many(rand_keys(5)).any()
    assert f.occupied == 0


def test_clear_operation(config):  # :71-99
    f = CuckooFilter(1024, config)
    keys = rand_keys(5)
    f.insert_many(keys)
    assert f.contains_many(keys).all()
    f.clear()
    assert not f.contains_many(keys).any()
    assert f.load_factor() == 0.0
    assert f.count_occupied_slots() == 0


def test_load_factor(config):  # :101-124 — lf == inserted/capacity exactly
    cap = 10_000
    f = CuckooFilter(cap, config)
    keys = np.unique(rand_keys(6000))[:5000]
    ok = f.insert_many(keys)
    assert ok.all()
    assert 0.0 < f.load_factor() <= 1.0
    assert f.load_factor() == pytest.approx(len(keys) / cap)
    assert f.count_occupied_slots() == f.occupied


def test_near_capacity_insertion(config):  # :126-145 — ≥99% at 0.95 load
    cap = 1 << 16
    f = CuckooFilter(cap, config)
    n = int(0.95 * f.slot_capacity)
    keys = np.unique(rand_keys(3 * n, hi=2**63))[:n]
    assert len(keys) == n
    ok = f.insert_many(keys)
    assert ok.mean() >= 0.99
    found = f.contains_many(keys[ok])
    assert found.mean() >= 0.99


def test_duplicate_insertions(config):  # :147-170 — multiset semantics
    f = CuckooFilter(1024, config)
    keys = rand_keys(10)
    dup = np.concatenate([keys, keys])
    ok = f.insert_many(dup)
    assert ok.all()
    assert f.occupied == 20
    assert f.contains_many(keys).all()


def test_basic_deletion(config):  # :172-208
    f = CuckooFilter(1024, config)
    keys = np.unique(rand_keys(8))
    f.insert_many(keys)
    deleted = f.delete_many(keys)
    assert deleted.all()
    assert f.occupied == 0
    assert not f.contains_many(keys).any()
    assert f.count_occupied_slots() == 0


def test_delete_nonexistent(config):  # :210-225
    f = CuckooFilter(1024, config)
    f.insert_many(rand_keys(5, seed=1))
    absent = rand_keys(5, lo=2**33, hi=2**63, seed=2)
    assert f.delete_many(absent).sum() == 0
    assert f.occupied == 5


def test_partial_deletion(config):  # :227-273
    f = CuckooFilter(1024, config)
    keys = np.unique(rand_keys(10, hi=2**60))
    f.insert_many(keys)
    evens = keys[::2]
    odds = keys[1::2]
    deleted = f.delete_many(evens)
    assert deleted.all()
    assert f.occupied == len(odds)
    assert f.contains_many(odds).all()


def test_delete_and_reinsert(config):  # :275-302
    f = CuckooFilter(1024, config)
    keys = np.unique(rand_keys(8))
    f.insert_many(keys)
    assert f.delete_many(keys).all()
    assert f.insert_many(keys).all()
    assert f.contains_many(keys).all()
    assert f.occupied == len(keys)


def test_load_factor_after_deletion(config):  # :304-322
    cap = 10_000
    f = CuckooFilter(cap, config)
    keys = np.unique(rand_keys(1500))[:1000]
    f.insert_many(keys)
    lf0 = f.load_factor()
    f.delete_many(keys[:500])
    assert f.load_factor() < lf0
    assert f.load_factor() == pytest.approx(f.occupied / cap)
    assert f.occupied == 500


def test_delete_duplicates(config):  # :324-344 — multiset delete
    f = CuckooFilter(1024, config)
    k1, k2, k3 = np.uint64(111), np.uint64(222), np.uint64(333)
    batch = np.array([k1, k1, k1, k2, k2, k3], dtype=np.uint64)
    assert f.insert_many(batch).all()
    assert f.occupied == 6
    deleted = f.delete_many(np.array([k1, k1, k1], dtype=np.uint64))
    assert deleted.sum() == 3  # exactly the three stored instances
    assert f.occupied == 3
    assert f.contains_many(np.array([k2, k3], dtype=np.uint64)).all()


def test_intra_batch_delete_same_bucket(config):
    """Two distinct keys colliding on (bucket, fp) interact as a
    multiset: deleting one of each removes two instances total."""
    f = CuckooFilter(64, config)
    keys = np.unique(rand_keys(40, hi=2**62))  # ~0.6 load on 64 slots
    assert f.insert_many(keys).all()
    res = f.delete_many(keys)  # delete everything in one batch
    assert res.all()
    assert f.occupied == 0


def test_fpr_bound():  # src/main.cu:113-126 — ε = 2bα/2^f
    cfg = CuckooConfig(16, 4)
    cap = 1 << 16
    f = CuckooFilter(cap, cfg)
    n = int(0.95 * f.slot_capacity)
    ins = np.unique(rand_keys(3 * n, lo=1, hi=2**32))[:n]
    f.insert_many(ins)
    probes = rand_keys(200_000, lo=2**33, hi=2**63, seed=7)  # disjoint range
    fpr = f.contains_many(probes).mean()
    eps = cfg.theoretical_fpr(f.occupied / f.slot_capacity)
    assert fpr <= 2.5 * eps  # slack for statistical noise
    assert fpr > 0  # sanity: a filter this loaded has some FPs


def test_serialization_roundtrip(config):
    f = CuckooFilter(4096, config)
    keys = rand_keys(3000, hi=2**62)
    f.insert_many(keys)
    g = CuckooFilter.from_bytes(f.to_bytes())
    assert g.occupied == f.occupied
    assert (g.contains_many(keys) == f.contains_many(keys)).all()
    assert g.config == f.config
    assert np.array_equal(g.buckets, f.buckets)


def test_merge_associativity(config):
    """north_rule: merging per-partition filters in arbitrary orders
    yields identical membership answers."""
    rng = np.random.default_rng(SEED)
    cap = 1 << 14
    parts = [rand_keys(1200, hi=2**62, seed=s) for s in range(8)]
    probes = np.concatenate(parts + [rand_keys(5000, lo=2**63, hi=2**64 - 1, seed=99)])

    def build(keys):
        f = CuckooFilter(cap, config)
        f.insert_many(keys)
        return f.to_bytes()

    blobs = [build(p) for p in parts]
    ref = None
    for trial in range(5):
        order = rng.permutation(len(blobs))
        merged = CuckooFilter.merge_blobs([blobs[i] for i in order])
        assert merged.failures == 0
        ans = merged.contains_many(probes)
        if ref is None:
            ref = ans
        else:
            assert (ans == ref).all()
    # zero false negatives across the union
    assert ref[: sum(len(p) for p in parts)].all()


def test_delete_many_multi_chunk():
    """Regression: deletes spanning multiple kernel chunks (>CHUNK
    keys) must not clobber the candidate callback (the inner round
    loop reuses local names)."""
    import numpy as np
    from cuckoo_filter_spark.config import CuckooConfig
    from cuckoo_filter_spark.core.cuckoo import CuckooFilter

    n = CuckooFilter.CHUNK * 2 + 123
    keys = np.random.default_rng(11).integers(
        1, 2**63, n, dtype=np.int64
    ).view(np.uint64)
    flt = CuckooFilter(int(n * 1.3), CuckooConfig())
    ins = flt.insert_many(keys)
    ok = flt.delete_many(keys)
    assert (ok == ins).all()
    assert flt.occupied == 0

    # packed insert across chunks too; the keys find what it placed
    flt2 = CuckooFilter(int(n * 1.3), CuckooConfig())
    i1, i2, fp = flt2.candidates(keys)
    packed = (i1.astype(np.int64) << 16) | fp.astype(np.int64)
    flt2.insert_packed(packed)
    assert flt2.contains_many(keys).all()
    assert flt2.delete_many(keys).all()
    assert flt2.occupied == 0


def test_bucket_size_capped():
    """Regression (ADVICE r1): bucket_size=128 would overflow the
    int8 fill vector (fill wraps to -128 and membership silently
    breaks); the config must reject it outright."""
    with pytest.raises(ValueError, match="bucket_size"):
        CuckooConfig(bucket_size=128)
    # the largest allowed size still works end-to-end
    cfg = CuckooConfig(bucket_size=64)
    f = CuckooFilter(4096, cfg)
    keys = rand_keys(4000, hi=2**62)
    assert f.insert_many(keys).all()
    assert f.contains_many(keys).all()


def test_blob_version_guard():
    """Regression (ADVICE r1): v1 blobs were written with plain
    xxhash64 under a fixed fingerprint seed; probing them with the
    current chained family would yield false negatives, so from_bytes
    must reject v1."""
    f = CuckooFilter(1024, CuckooConfig())
    f.insert_many(rand_keys(500))
    blob = f.to_bytes()
    assert blob[4] == CuckooFilter.BLOB_VERSION == 3
    stale = blob[:4] + bytes([1]) + blob[5:]
    with pytest.raises(ValueError, match="version"):
        CuckooFilter.from_bytes(stale)


def test_blob_v2_rejected():
    """Nothing writes v2 blobs (header + dense table, no layout byte)
    any more, so from_bytes rejects them instead of guessing the
    payload layout."""
    f = CuckooFilter(1024, CuckooConfig())
    f.insert_many(rand_keys(900))
    blob = f.to_bytes()
    assert blob[4] == 3
    v2 = blob[:4] + bytes([2]) + blob[5:_HEADER_SIZE] + f.buckets.tobytes()
    with pytest.raises(ValueError, match="version"):
        CuckooFilter.from_bytes(v2)


def test_blob_sparse_roundtrip_and_size():
    """Low-load filters serialize sparse and shrink >=5x; membership,
    metrics, fill, and merges are identical to the dense layout
    (stage-2 of grouped_sketch_partial merges these blobs)."""
    cfg = CuckooConfig()
    f = CuckooFilter(200_000, cfg)
    keys = rand_keys(4000)
    f.insert_many(keys)
    blob = f.to_bytes()
    assert blob[_HEADER_SIZE] == 1  # sparse layout chosen
    dense_bytes = f.buckets.nbytes
    assert len(blob) * 5 <= dense_bytes
    g = CuckooFilter.from_bytes(blob)
    assert np.array_equal(g.buckets, f.buckets)
    assert np.array_equal(g.fill, f.fill)
    assert g.contains_many(keys).all()
    assert g.metrics() == f.metrics()
    # a near-full filter stays dense (sparse would be larger)
    h = CuckooFilter(4096, cfg)
    h.insert_many(rand_keys(3800))
    hb = h.to_bytes()
    assert hb[_HEADER_SIZE] == 0
    assert CuckooFilter.from_bytes(hb).count_occupied_slots() == (
        h.count_occupied_slots()
    )
    # sparse blobs merge like dense ones
    f2 = CuckooFilter(200_000, cfg)
    more = rand_keys(3000, hi=2**61)
    f2.insert_many(more)
    merged = CuckooFilter.from_bytes(blob).merge_in_place(
        CuckooFilter.from_bytes(f2.to_bytes())
    )
    assert merged.contains_many(keys).all()
    assert merged.contains_many(more).all()


def _sparse_parts(blob):
    """(prefix through the stored count, uint32 bucket indices, tags)
    of a sparse32 blob."""
    assert blob[_HEADER_SIZE] == 1
    off = _HEADER_SIZE + 1
    stored = int(np.frombuffer(blob, "<u8", 1, off)[0])
    bi = np.frombuffer(blob, "<u4", stored, off + 8).copy()
    return blob[:off + 8], bi, blob[off + 8 + 4 * stored:]


def _corrupt(defect):
    f = CuckooFilter(200_000, CuckooConfig(16, 4))
    f.insert_many(rand_keys(4000))
    sparse = f.to_bytes()
    head, bi, tags = _sparse_parts(sparse)
    if defect == "short_header":
        return sparse[:_HEADER_SIZE - 3]
    if defect == "dense_length":
        g = CuckooFilter(4096, CuckooConfig(16, 4))
        g.insert_many(rand_keys(3800))
        dense = g.to_bytes()
        assert dense[_HEADER_SIZE] == 0
        return dense[:-2]
    if defect == "sparse_count":
        n = len(bi) + 1
        return head[:-8] + np.uint64(n).tobytes() + bi.tobytes() + tags
    if defect == "index_range":
        bi[-1] = f.num_buckets
    elif defect == "index_order":
        j = int(np.flatnonzero(np.diff(bi))[0])
        bi[j], bi[j + 1] = bi[j + 1], bi[j]
    elif defect == "overfull_bucket":
        bi[:5] = bi[0]
    return head + bi.tobytes() + tags


@pytest.mark.parametrize("defect", [
    "short_header", "dense_length", "sparse_count", "index_range",
    "index_order", "overfull_bucket",
])
def test_blob_corruption_rejected(defect):
    """Shard blobs are read back from tables and checkpoints, so a
    malformed one must fail with a ValueError that names the defect —
    never a struct/Index error, and never a filter with overwritten
    tags."""
    with pytest.raises(ValueError, match="cuckoo blob"):
        CuckooFilter.from_bytes(_corrupt(defect))


def test_sparse64_layout_rejected():
    """No filter holds more than 2^32 buckets, so nothing writes the
    uint64-index sparse layout (byte 2); a blob that claims it is
    refused like any unknown layout."""
    f = CuckooFilter(200_000, CuckooConfig(16, 4))
    f.insert_many(rand_keys(4000))
    head, bi, tags = _sparse_parts(f.to_bytes())
    head = head[:_HEADER_SIZE] + bytes([2]) + head[_HEADER_SIZE + 1:]
    blob = head + bi.astype(np.uint64).tobytes() + tags
    with pytest.raises(ValueError, match="unknown layout 2"):
        CuckooFilter.from_bytes(blob)


def test_geometry_bounded_by_32_bit_bucket_hash():
    """i1 comes from the low 32 hash bits, so a filter past 2^32
    buckets is refused before its table is allocated — from a
    constructor and from a blob header alike."""
    with pytest.raises(ValueError, match="2\\^32"):
        CuckooFilter((1 << 32) * 4 + 8, CuckooConfig(bucket_policy="addsub"))
    f = CuckooFilter(1024, CuckooConfig())
    f.insert_many(rand_keys(100))
    blob = bytearray(f.to_bytes())
    struct.pack_into("<Q", blob, 16, (1 << 32) + 2)  # num_buckets field
    assert CuckooFilter.blob_num_buckets(bytes(blob)) == (1 << 32) + 2
    with pytest.raises(ValueError, match="2\\^32"):
        CuckooFilter.from_bytes(bytes(blob))


def test_count_many_multiset(config):
    # GQF-parity counting queries (fpr_benchmark.cu:294-348): count
    # equals stored multiplicity; deletes decrement it
    flt = CuckooFilter(4096, config)
    keys = rand_keys(300, seed=7)
    reps = np.concatenate([keys, keys[:120], keys[:40]])
    flt.insert_many(reps)
    c = flt.count_many(keys)
    expect = np.ones(300, dtype=np.int64)
    expect[:120] += 1
    expect[:40] += 1
    # exact unless a fingerprint+bucket-pair collision occurs between
    # distinct test keys; counts never under-report
    assert (c >= expect).all()
    assert (c == expect).mean() > 0.99
    absent = rand_keys(200, lo=2**40, hi=2**41, seed=9)
    assert flt.count_many(absent).sum() <= 2  # ~FPR-level noise only
    flt.delete_many(keys[:40])
    c2 = flt.count_many(keys[:40])
    assert (c2 >= expect[:40] - 1).all()
    assert (c2 <= c[:40] - 1 + 0).all() or (c2 == c[:40] - 1).all()


def test_count_aliased_pair_not_doubled():
    # keys whose XOR displacement is 0 have i1 == i2; the pair must
    # be counted once
    cfg = CuckooConfig(16, 4)
    flt = CuckooFilter(1024, cfg)
    keys = rand_keys(5000, seed=13)
    i1, i2, fp = flt.candidates(keys)
    aliased = keys[i1 == i2]
    if len(aliased):
        k = aliased[:1]
        flt.insert_many(k)
        assert flt.count_many(k)[0] == 1

"""Property-based kernel tests (hypothesis): structural invariants
that must hold for ANY key sequence, mirroring the reference's
verification helpers (countOccupiedSlots full scan,
``CuckooFilter.cuh:759-785``) and the multiset delete contract."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter

keys_st = st.lists(
    st.integers(min_value=1, max_value=2**63 - 1), min_size=0, max_size=300
)
cfg_st = st.sampled_from([
    CuckooConfig(16, 4),
    CuckooConfig(8, 4),
    CuckooConfig(16, 16),
    CuckooConfig(16, 4, eviction_policy="bfs"),
    CuckooConfig(16, 4, bucket_policy="addsub"),
])


@settings(max_examples=60, deadline=None)
@given(keys=keys_st, cfg=cfg_st)
def test_occupancy_counter_matches_scan(keys, cfg):
    f = CuckooFilter(1024, cfg)
    arr = np.array(keys, dtype=np.uint64)
    ok = f.insert_many(arr)
    assert f.occupied == int(ok.sum()) == f.count_occupied_slots()


@settings(max_examples=60, deadline=None)
@given(keys=keys_st, cfg=cfg_st)
def test_no_false_negatives_when_all_inserted(keys, cfg):
    f = CuckooFilter(2048, cfg)
    arr = np.array(keys, dtype=np.uint64)
    ok = f.insert_many(arr)
    if ok.all():
        assert f.contains_many(arr).all()


@settings(max_examples=60, deadline=None)
@given(keys=keys_st, cfg=cfg_st)
def test_insert_delete_roundtrip_empties(keys, cfg):
    f = CuckooFilter(2048, cfg)
    arr = np.array(keys, dtype=np.uint64)
    ok = f.insert_many(arr)
    if not ok.all():
        return  # overloaded runs may drop victims; counted separately
    deleted = f.delete_many(arr)
    assert deleted.all()
    assert f.occupied == 0
    assert f.count_occupied_slots() == 0


@settings(max_examples=40, deadline=None)
@given(keys=keys_st, cfg=cfg_st, cut=st.integers(0, 300))
def test_merge_is_union_for_membership(keys, cfg, cut):
    arr = np.array(keys, dtype=np.uint64)
    a_keys, b_keys = arr[:cut], arr[cut:]
    a = CuckooFilter(2048, cfg)
    b = CuckooFilter(2048, cfg)
    oka = a.insert_many(a_keys)
    okb = b.insert_many(b_keys)
    if not (oka.all() and okb.all()):
        return
    a.merge_in_place(b)
    assert a.failures == 0
    if len(arr):
        assert a.contains_many(arr).all()


@settings(max_examples=40, deadline=None)
@given(keys=keys_st, cfg=cfg_st)
def test_serialization_identity(keys, cfg):
    f = CuckooFilter(1024, cfg)
    f.insert_many(np.array(keys, dtype=np.uint64))
    g = CuckooFilter.from_bytes(f.to_bytes())
    assert np.array_equal(f.buckets, g.buckets)
    assert np.array_equal(f.fill, g.fill)
    assert f.occupied == g.occupied


@settings(max_examples=40, deadline=None)
@given(
    keys=st.lists(st.integers(1, 2**63 - 1), min_size=1, max_size=60),
    dups=st.integers(1, 4),
    extra=st.integers(0, 3),
    cfg=cfg_st,
)
def test_multiset_delete_exact_counts(keys, dups, extra, cfg):
    """Deleting (dups+extra) copies of keys inserted dups times
    succeeds exactly dups times per key and leaves the filter empty —
    the reference's multiset contract (tests/test_cuckoo_filter.cu:
    324-344), regardless of which duplicate instance each round's
    bucket-winner pick removes."""
    f = CuckooFilter(4096, cfg)
    arr = np.repeat(np.unique(np.array(keys, dtype=np.uint64)), dups)
    if not f.insert_many(arr).all():
        return
    att = np.repeat(np.unique(arr), dups + extra)
    ok = f.delete_many(att)
    n_unique = len(np.unique(arr))
    assert int(ok.sum()) == n_unique * dups
    assert f.occupied == 0 and f.count_occupied_slots() == 0

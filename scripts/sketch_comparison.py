"""Cross-sketch comparison at matched memory — parity with the
reference's comparison benchmarks (`benchmark/fpr_benchmark.cu`
drives cuckoo vs Bloom (cuco) vs TCF vs GQF at matched filter bytes
with 1e6 disjoint negative queries; `benchmark/cuckoo_vs_bloom.cu`
is the throughput pair).

Protocol (mirrors `fpr_benchmark.cu:57-59,285-292` + `src/main.cu:
46-57`): for each memory budget M bytes, every sketch gets the SAME
M bytes of state and the SAME key stream of n = 0.95 * (M*8/f)
uniform keys drawn from [1, 2^32]; negatives are 1e6 keys from the
disjoint range (2^32, 2^64]. Recorded per sketch: insert success
rate, insert/query(/delete) throughput (best of reps, kernel-level
— this is the per-executor compute of the Spark operators), and
measured FPR (count-min "FPR" = fraction of never-added negatives
with estimate > 0).

Prints its run as one JSON line (progress goes to stderr) and writes
nothing under BENCH/.

Usage: python scripts/sketch_comparison.py [log2_bytes ...]
       (default budgets 2^18 2^21 2^24)
"""

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.bloom import BloomFilter
from cuckoo_filter_spark.core.countmin import CountMinSketch
from cuckoo_filter_spark.core.cuckoo import CuckooFilter
from cuckoo_filter_spark.core.tcf import TwoChoiceFilter

N_NEG = 1_000_000
REPS = int(os.environ.get("SKETCH_CMP_REPS", "3"))
F_BITS = 16
TARGET_LOAD = 0.95


def make_keys(n: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    pos = rng.integers(1, 1 << 32, size=n, dtype=np.uint64)
    neg = rng.integers(1 << 32, 1 << 63, size=N_NEG, dtype=np.uint64)
    return pos, neg


def bloom_sized_to_bytes(m_bytes: int, n_keys: int) -> BloomFilter:
    """Bloom with exactly m_bytes of bit array (reference matches
    filter bytes, not fpp) and the optimal k for that (m, n)."""
    f = BloomFilter.__new__(BloomFilter)
    f.num_bits = m_bytes * 8
    f.num_hashes = max(1, round(f.num_bits / n_keys * np.log(2)))
    f.words = np.zeros(f.num_bits // 64, dtype=np.uint64)
    f.n_added = 0
    return f


def cms_sized_to_bytes(m_bytes: int, depth: int = 4) -> CountMinSketch:
    c = CountMinSketch.__new__(CountMinSketch)
    c.depth = depth
    c.width = max(1, m_bytes // (8 * depth))
    c.table = np.zeros((c.depth, c.width), dtype=np.int64)
    c.total = 0
    return c


def best_of(fn, reps: int = REPS) -> float:
    best = None
    for _ in range(reps):
        dt = fn()
        best = dt if best is None else min(best, dt)
    return best


def bench_budget(m_bytes: int) -> list[dict]:
    slots = m_bytes * 8 // F_BITS
    n_keys = int(slots * TARGET_LOAD)
    pos, neg = make_keys(n_keys)
    out = []

    # ---- cuckoo (f=16, b=4) and TCF (f=16, b=32): same state bytes
    for name, mk in (
        ("cuckoo", lambda: CuckooFilter(
            int(slots / 1.0), CuckooConfig(bits_per_tag=F_BITS, bucket_size=4)
        )),
        ("tcf", lambda: TwoChoiceFilter(int(slots * 0.85))),
    ):
        flt = None
        ins_ok = 0

        def build():
            nonlocal flt, ins_ok
            flt = mk()
            t0 = time.perf_counter()
            ins_ok = int(flt.insert_many(pos).sum())
            return time.perf_counter() - t0

        t_ins = best_of(build)
        assert flt.buckets.nbytes == m_bytes, (
            name, flt.buckets.nbytes, m_bytes
        )

        def query():
            t0 = time.perf_counter()
            flt.contains_many(pos)
            return time.perf_counter() - t0

        t_q = best_of(query)
        fpr = float(flt.contains_many(neg).mean())
        alpha = flt.occupied / flt.slot_capacity

        def delete():
            f2 = CuckooFilter.from_bytes(flt.to_bytes()) \
                if name == "cuckoo" else TwoChoiceFilter.from_bytes(
                    flt.to_bytes())
            t0 = time.perf_counter()
            f2.delete_many(pos)
            return time.perf_counter() - t0

        t_del = best_of(delete)
        out.append({
            "sketch": name, "bytes": m_bytes, "n_keys": n_keys,
            "insert_success": round(ins_ok / n_keys, 6),
            "inserts_per_sec": round(n_keys / t_ins),
            "queries_per_sec": round(n_keys / t_q),
            "deletes_per_sec": round(n_keys / t_del),
            "fpr": round(fpr, 6),
            "eps_bound": flt.config.theoretical_fpr(alpha),
        })

    # ---- Bloom: same bytes of bit array (no delete)
    blm = None

    def build_bloom():
        nonlocal blm
        blm = bloom_sized_to_bytes(m_bytes, n_keys)
        t0 = time.perf_counter()
        blm.add_many(pos)
        return time.perf_counter() - t0

    t_ins = best_of(build_bloom)
    t_q = best_of(lambda: (
        lambda t0: (blm.contains_many(pos), time.perf_counter() - t0)[1]
    )(time.perf_counter()))
    out.append({
        "sketch": "bloom", "bytes": m_bytes, "n_keys": n_keys,
        "insert_success": 1.0,
        "inserts_per_sec": round(n_keys / t_ins),
        "queries_per_sec": round(n_keys / t_q),
        "deletes_per_sec": None,
        "fpr": round(float(blm.contains_many(neg).mean()), 6),
        "eps_bound": blm.expected_fpp(),
    })

    # ---- count-min (the GQF counting analog): same table bytes
    cms = None

    def build_cms():
        nonlocal cms
        cms = cms_sized_to_bytes(m_bytes)
        t0 = time.perf_counter()
        cms.add_many(pos)
        return time.perf_counter() - t0

    t_ins = best_of(build_cms)
    t_q = best_of(lambda: (
        lambda t0: (cms.estimate_many(pos), time.perf_counter() - t0)[1]
    )(time.perf_counter()))
    out.append({
        "sketch": "countmin", "bytes": m_bytes, "n_keys": n_keys,
        "insert_success": 1.0,
        "inserts_per_sec": round(n_keys / t_ins),
        "queries_per_sec": round(n_keys / t_q),
        "deletes_per_sec": None,
        "fpr": round(float((cms.estimate_many(neg) > 0).mean()), 6),
        "eps_bound": None,
    })
    return out


def main():
    budgets = [int(a) for a in sys.argv[1:]] or [18, 21, 24]
    # warm-up pass (lazy host memory faults at ~10 MB/s on first touch)
    bench_budget(1 << 15)
    rows = []
    for lb in budgets:
        rows.extend(bench_budget(1 << lb))
        print(f"2^{lb} bytes done", file=sys.stderr, flush=True)
    print(json.dumps({
        "bench": "sketch_comparison", "n_neg": N_NEG, "reps": REPS,
        "rows": rows,
    }), flush=True)


if __name__ == "__main__":
    main()

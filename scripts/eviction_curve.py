"""Eviction-cost curve, mirroring the reference's
eviction_benchmark.cu (loads 0.76 -> 0.999 with 75% prefill, DFS vs
BFS): kicks per insert and insert success as the filter approaches
capacity. Prints its run as one JSON line and writes nothing under
BENCH/.

Usage: python scripts/eviction_curve.py
"""

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter

LOADS = [0.76, 0.80, 0.85, 0.90, 0.95, 0.97, 0.99, 0.999]
PREFILL = 0.75
CAP = 1 << 20


def main():
    rng = np.random.default_rng(42)
    rows = []
    for policy in ("dfs", "bfs"):
        for b in (4, 16):
            cfg = CuckooConfig(16, b, eviction_policy=policy)
            base = CuckooFilter(CAP, cfg)
            n_pre = int(PREFILL * base.slot_capacity)
            pre = rng.integers(1, 2**62, n_pre, dtype=np.uint64)
            base.insert_many(pre)
            blob = base.to_bytes()
            for load in LOADS:
                flt = CuckooFilter.from_bytes(blob)
                extra = int((load - PREFILL) * flt.slot_capacity)
                k0, n0 = flt.kicks, flt.inserts
                keys = rng.integers(1, 2**62, extra, dtype=np.uint64)
                t0 = time.time()
                ok = flt.insert_many(keys)
                dt = time.time() - t0
                rows.append({
                    "policy": policy, "b": b, "target_load": load,
                    "kicks_per_insert": round((flt.kicks - k0) / max(extra, 1), 4),
                    "insert_success": float(ok.mean()) if extra else 1.0,
                    "failures": int(flt.failures),
                    "inserts_per_sec": round(extra / dt) if extra else None,
                })
    print(json.dumps({"bench": "eviction_curve", "rows": rows}), flush=True)


if __name__ == "__main__":
    main()

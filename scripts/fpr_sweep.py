"""FPR sweep, mirroring the reference's fpr_sweep_benchmark.cu
(f in {8,16,32} x load in {35..95}%): measured false-positive rate
vs the published bound eps = 2*b*alpha/2^f, on the single-node
kernel (the per-partition unit the distributed paths compose).

Prints its run as one JSON line and writes nothing under BENCH/;
exits 1 when a cell lies above the eps bound.

Usage: python scripts/fpr_sweep.py
"""

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cuckoo_filter_spark.config import CuckooConfig
from cuckoo_filter_spark.core.cuckoo import CuckooFilter

LOADS = [0.35, 0.40, 0.50, 0.75, 0.85, 0.90, 0.95]
FS = [8, 16, 32]
N_PROBES = 1_000_000
CAP = 1 << 20


def main():
    rng = np.random.default_rng(42)
    rows = []
    for f in FS:
        for b in (4, 16):
            cfg = CuckooConfig(bits_per_tag=f, bucket_size=b)
            for load in LOADS:
                flt = CuckooFilter(CAP, cfg)
                n = int(load * flt.slot_capacity)
                keys = rng.integers(1, 2**62, n, dtype=np.uint64)
                t0 = time.time()
                ok = flt.insert_many(keys)
                dt = time.time() - t0
                probes = rng.integers(2**62, 2**63, N_PROBES, dtype=np.uint64)
                fpr = float(flt.contains_many(probes).mean())
                alpha = flt.occupied / flt.slot_capacity
                eps = cfg.theoretical_fpr(alpha)
                rows.append({
                    "f": f, "b": b, "target_load": load,
                    "alpha": round(alpha, 4),
                    "fpr": fpr, "eps_bound": eps,
                    # eps is an expectation; allow 3-sigma Poisson
                    # sampling slack on N_PROBES draws
                    "within_bound": bool(
                        fpr * N_PROBES
                        <= eps * N_PROBES
                        + 3 * np.sqrt(eps * N_PROBES) + 3
                    ),
                    "insert_success": float(ok.mean()),
                    "inserts_per_sec": round(n / dt),
                    "kicks_per_insert": round(flt.kicks / n, 4),
                })
    bad = [r for r in rows if not r["within_bound"]]
    print(json.dumps({
        "bench": "fpr_sweep", "cells": len(rows), "above_bound": len(bad),
        "rows": rows,
    }), flush=True)
    return 0 if not bad else 1


if __name__ == "__main__":
    raise SystemExit(main())

"""Per-layer split of each op, and the 1-core kernel ceiling.

A workload names, per op, a list of ``(step, fn)``. Steps named
``scan``, ``exchange``, ``arrow`` and ``kernel`` are cumulative: each
runs the pipeline of the step before it plus one more stage, built from
the same public expressions the op uses, and ending in Spark's ``noop``
sink or a small aggregate:

1. ``scan``: scan plus the JVM hashing and packing expressions;
2. ``exchange``: + the op's repartition, or the cogroup's partitioning
   and sort;
3. ``arrow``: + a ``mapInArrow``, ``pandas_udf`` or ``applyInPandas``
   stage of the op's shape that does no work;
4. ``kernel``: the real op, whose median time the traced iterations
   of the timed loop already measured.

A layer's time is its step's time minus the previous cumulative
step's, so ``kernel`` holds the kernel plus serializing and returning
results. A ``driver`` step is timed on its own (driver-side stacking
and broadcast) and taken out of ``kernel``. Steps whose name starts
with ``:`` prepare state and are not timed.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from cuckoo_filter_spark.core.cuckoo import CuckooFilter
from perfbench.workloads import CFG, TARGET_LOAD

#: cumulative steps a workload may time; ``kernel`` closes them
CUMULATIVE = ("scan", "exchange", "arrow")


def split_layers(workload, ctx, op_s: dict[str, float],
                 reps: int = 2) -> dict[str, dict[str, float]]:
    """``{op: {layer: seconds}}``: median step times over ``reps``
    passes; ``op_s`` holds each real op's median time, measured by the
    traced iterations, which closes the ``kernel`` layer."""
    pipelines = workload.pipelines(ctx)
    samples: dict[str, dict[str, list[float]]] = {
        op: {} for op in pipelines
    }
    for _ in range(reps):
        for op, steps in pipelines.items():
            for name, fn in steps:
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                if not name.startswith(":"):
                    samples[op].setdefault(name, []).append(dt)
    out = {}
    for op, steps in samples.items():
        med = {name: statistics.median(v) for name, v in steps.items()}
        layers, prev = {}, 0.0
        for name in CUMULATIVE:
            if name in med:
                layers[name] = med[name] - prev
                prev = med[name]
        layers["driver"] = med.get("driver", 0.0)
        layers["kernel"] = op_s[op] - prev - layers["driver"]
        out[op] = layers
    return out


def kernel_bench(seed: int, tiny: bool, reps: int = 3) -> tuple[dict, int]:
    """One-core ``core.cuckoo`` rates on one filter at TARGET_LOAD, the
    ceiling a Spark op could reach per core. Returns (medians, number
    of keys whose answer was wrong)."""
    slots = 1 << (14 if tiny else 20)
    n = int(slots * TARGET_LOAD)
    keys = np.random.default_rng(seed).integers(
        0, 2**64, size=n, dtype=np.uint64
    )
    runs: dict[str, list[float]] = {}
    wrong = 0

    def clock(name, fn):
        t0 = time.perf_counter()
        out = fn()
        runs.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    for _ in range(reps):
        flt = CuckooFilter(slots, CFG)
        wrong += n - int(clock("insert", lambda: flt.insert_many(keys)).sum())
        wrong += n - int(clock("contains", lambda: flt.contains_many(keys)).sum())
        blob = clock("to_bytes", flt.to_bytes)
        back = clock("from_bytes", lambda: CuckooFilter.from_bytes(blob))
        wrong += n - int(clock("delete", lambda: back.delete_many(keys)).sum())
        wrong += back.occupied
    med = {k: statistics.median(v) for k, v in runs.items()}
    return {
        "kernel.keys": n,
        "kernel.blob_bytes": len(blob),
        "kernel.insert_keys_per_s": n / med["insert"],
        "kernel.contains_keys_per_s": n / med["contains"],
        "kernel.delete_keys_per_s": n / med["delete"],
        "kernel.to_bytes_ms": med["to_bytes"] * 1e3,
        "kernel.from_bytes_ms": med["from_bytes"] * 1e3,
    }, wrong

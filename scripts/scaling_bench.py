"""Scaling efficiency from one same-invocation N -> 4N pair.

The reference sweeps strong and weak scaling in one invocation
(``benchmark/multi_gpu_scaling_benchmark.cu:15-98``). Host speed
drifts between invocations, so the two sides of a ratio are run back
to back here, each a ``bench.py`` subprocess pinned by ``taskset``:

* N cores on ``n_keys`` keys;
* 4N cores on the same keys (strong scaling);
* 4N cores on 4 x ``n_keys`` keys (weak scaling: same keys per core).

N is the host's CPU count // 4 (1 -> 4 on a 4-core host). Efficiency
is the 4N rate over 4x the N rate, per op; 1.0 is linear. Prints one
JSON line and writes nothing.

Usage: python scripts/scaling_bench.py [n_keys]   (default ~1M)
"""

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

OPS = ["inserts_per_sec", "inserts_bucketed_per_sec",
       "queries_per_sec", "deletes_per_sec"]


def run(cpus: int, n_keys: int, reps: int = 4) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_BENCH_KEYS"] = str(n_keys)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env["SPARK_GRAFT_BENCH_REPS"] = str(reps)
    # HARD-cap the cpu budget: local[N] only limits Spark task slots,
    # while python workers / JVM service threads would still spread
    # over all machine cores — taskset makes "N executors" honest.
    cores = sorted(os.sched_getaffinity(0))[:cpus]
    cmd = ["taskset", "-c", ",".join(map(str, cores)),
           sys.executable, os.path.join(REPO, "bench.py")]
    out = subprocess.run(
        cmd, capture_output=True, text=True, env=env, cwd=REPO, timeout=3600,
    )
    stdout = out.stdout.strip()
    if not stdout:
        raise RuntimeError(
            f"bench.py (cpus={cpus}, n_keys={n_keys}) produced no "
            f"output; stderr tail:\n{out.stderr[-2000:]}"
        )
    return json.loads(stdout.splitlines()[-1])


def main():
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else int((1 << 20) * 0.95)
    n = max(1, len(os.sched_getaffinity(0)) // 4)
    t0 = time.time()
    legs = {
        f"c{n}": run(n, n_keys),
        f"c{4 * n}": run(4 * n, n_keys),
        f"c{4 * n}_weak": run(4 * n, 4 * n_keys),
    }
    small, strong, weak = legs.values()
    print(json.dumps({
        "n_cpus": [n, 4 * n],
        "n_keys": {k: r["n_keys"] for k, r in legs.items()},
        "rates": {k: {op: r[op] for op in OPS} for k, r in legs.items()},
        "strong_eff": {op: round(strong[op] / (4 * small[op]), 3) for op in OPS},
        "weak_eff": {op: round(weak[op] / (4 * small[op]), 3) for op in OPS},
        "wall_s": round(time.time() - t0, 1),
    }))


if __name__ == "__main__":
    main()

"""Benchmark of the cuckoo-filter ops on the host it runs on.

    python3 perfbench/run.py --workload corpus-256k --seed 1 --seconds 12 --trace 0

Runs one workload (see ``perfbench/README.md``) in one local Spark
session sized from the host, and prints two JSON lines: a detail record
(host, sizes, per-op medians, per-layer split when traced), then the
result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones. Exits 1
when any output check failed, 2 when the run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: set-up is repeated this many times per run; setup_s takes the median
SETUP_REPEATS = 3
#: fewest timed iterations a run makes, whatever --seconds says
MIN_ITERATIONS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="run at a tiny size (smoke test)")
    p.add_argument("--fault", action="store_true",
                   help="count one deliberately wrong answer per op "
                        "(smoke test of the output checks)")
    return p.parse_args(argv)


def import_library():
    """Import the library from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import cuckoo_filter_spark

    where = os.path.dirname(os.path.abspath(cuckoo_filter_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"cuckoo_filter_spark found outside the checkout: {where}")


def start_session(work: str, cores: int, driver_mb: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # inherited by the JVM and its Python workers
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no JVM perf-data files in the host's /tmp, from the launcher JVM
    # or the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        o for o in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData")
        if o)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("cuckoo-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.locality.wait", "0ms")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed, pre-touched heap: first touches of fresh memory are
        # slow on a VM, and a growing heap would pay them in timed ops
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{driver_mb}m -XX:+AlwaysPreTouch "
                f"-XX:ParallelGCThreads={cores} -XX:-UsePerfData "
                # a fixed set of compiler threads: one that exits takes
                # its CPU time into the process total (see tree_cpu_s)
                "-XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_loop(workload, ctx, tally, seconds: float, trace: bool = False):
    """Closed loop: iterations back to back for ``seconds``, at least
    MIN_ITERATIONS of them. With ``trace``, every other iteration is
    traced, at least MIN_ITERATIONS of each kind, so host drift hits
    both kinds alike. Returns (untraced, traced) iterations. An
    iteration that raises counts its ops failed and ends the loop."""
    plain, traced = [], []
    need = 2 * MIN_ITERATIONS if trace else MIN_ITERATIONS
    t_end = time.perf_counter() + seconds
    while len(plain) + len(traced) < need or time.perf_counter() < t_end:
        if getattr(workload, "exhausted", False):
            break
        ctx.tracer.enabled = trace and len(plain) > len(traced)
        try:
            it = workload.iteration(ctx, ctx.tracer, tally)
        except Exception:  # noqa: BLE001 - counted, reported, run stops
            traceback.print_exc()
            tally.add(f"{workload.name} iteration raised",
                      workload.work_per_iteration, workload.work_per_iteration)
            break
        finally:
            traced_now, ctx.tracer.enabled = ctx.tracer.enabled, False
        (traced if traced_now else plain).append(it)
    return plain, traced


def loop_figures(iters) -> dict:
    """The iteration's wall and CPU times are the sums of its ops'
    median times, so an outlier of one op in one iteration does not
    move them."""
    ops = op_medians(iters).values()
    iter_s = sum(v["median_s"] for v in ops)
    iter_cpu_s = sum(v["median_cpu_s"] for v in ops)
    work = statistics.median(it.work for it in iters)
    return {
        "keys_per_cpu_s": work / iter_cpu_s,
        "iter_cpu_p50_s": iter_cpu_s,
        "keys_per_s": work / iter_s,
        "iter_p50_s": iter_s,
        "iterations": len(iters),
    }


def op_medians(iters) -> dict:
    by_op: dict[str, list] = {}
    for it in iters:
        for o in it.ops:
            by_op.setdefault(o.op, []).append(o)
    out = {}
    for op, calls in by_op.items():
        secs = [c.seconds for c in calls]
        out[op] = {
            "median_s": statistics.median(secs), "min_s": min(secs),
            "max_s": max(secs), "n": len(secs),
            "per_s": statistics.median(c.work / c.seconds for c in calls),
            "median_cpu_s": statistics.median(c.cpu_s for c in calls),
        }
    return out


#: names of the per-op rates in the detail line
OP_RATE_NAMES = {
    "build": "build_keys_per_s",
    "build_bucketed": "build_bucketed_keys_per_s",
    "contains_bcast": "contains_bcast_probes_per_s",
    "contains_routed": "contains_routed_probes_per_s",
    "delete": "delete_keys_per_s",
    "stream": "stream_ops_per_s",
}


def traced_figures(workload, ctx, tally, plain, traced) -> tuple:
    from perfbench.layers import kernel_bench, split_layers
    from perfbench.trace import median_stats

    untraced_fig, traced_fig = loop_figures(plain), loop_figures(traced)
    stats = {op: median_stats(calls) for op, calls in ctx.tracer.stats.items()}
    op_s = {op: v["median_s"] for op, v in op_medians(traced).items()}
    layers = split_layers(workload, ctx, op_s)
    kernel, wrong = kernel_bench(ctx.seed, ctx.tiny)
    tally.add("kernel microbench answers", 4 * kernel["kernel.keys"], wrong)

    def total(field):
        return sum(s[field] for s in stats.values())

    def layer(name):
        return sum(v.get(name, 0.0) for v in layers.values())

    # name -> (value, unit)
    per_layer = {
        "scan_s": (layer("scan"), "s"),
        "exchange_s": (layer("exchange"), "s"),
        "arrow_s": (layer("arrow"), "s"),
        "kernel_s": (layer("kernel"), "s"),
        "executor_cpu_s": (total("executor_cpu_s"), "s"),
        "shuffle_write_mb": (total("shuffle_write_bytes") / 2**20, "MB"),
        "tasks": (total("tasks"), "count"),
        "task_max_over_median": (max(
            s["task_max_over_median"] for s in stats.values()), "ratio"),
        "shard_rows_max_over_mean": (workload.skew(ctx), "ratio"),
        "kernel_insert_keys_per_s": (kernel["kernel.insert_keys_per_s"], "1/s"),
        "kernel_contains_keys_per_s": (
            kernel["kernel.contains_keys_per_s"], "1/s"),
        "kernel_delete_keys_per_s": (kernel["kernel.delete_keys_per_s"], "1/s"),
        "kernel_to_bytes_ms": (kernel["kernel.to_bytes_ms"], "ms"),
        "kernel_from_bytes_ms": (kernel["kernel.from_bytes_ms"], "ms"),
        "traced_iter_p50_s": (traced_fig["iter_p50_s"], "s"),
        "trace_overhead": (
            traced_fig["iter_p50_s"] / untraced_fig["iter_p50_s"] - 1, "ratio"),
    }
    detail = {
        "layers": {f"{op}.{layer}_s": v
                   for op, ls in layers.items() for layer, v in ls.items()},
        "stages": {f"{op}.{k}": v
                   for op, s in stats.items() for k, v in s.items()},
        "kernel": kernel,
        "traced_loop": traced_fig,
    }
    if hasattr(workload, "stream_layers"):
        detail["stream"] = workload.stream_layers()
    return per_layer, detail


def run(args) -> int:
    from perfbench import host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx, Tally, work_dir

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = host.spark_cores(host.cpu_count())
    driver_mb = host.driver_memory_mb(host.mem_total_bytes())
    work = work_dir(ROOT)
    # sampled only in a traced run: the sampler's /proc scans would
    # compete with the timed ops
    rss = host.PeakRss().start() if args.trace else None
    spark = workload = None
    t_run = time.perf_counter()
    phases = {}

    def mark(name):
        phases[name] = time.perf_counter() - t_run

    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores, driver_mb)
        session_s = time.perf_counter() - t0
        jdk = spark.sparkContext._jvm.System.getProperty("java.version")
        ctx = Ctx(spark, args.seed, work, cores, args.tiny,
                  tracer=Tracer(spark, enabled=False), fault=args.fault)
        workload = WORKLOADS[args.workload](ctx)
        tally = Tally()

        mark("session")
        setups = [workload.setup(ctx) for _ in range(SETUP_REPEATS)]
        data_setup = [sum(s.values()) for s in setups]
        mark("setup")
        t0 = time.perf_counter()
        workload.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        # untimed warm-up iteration: JIT, worker start, first page touch
        t0 = time.perf_counter()
        workload.iteration(ctx, ctx.tracer, tally)
        cold_iter_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(data_setup) + prepare_s + cold_iter_s
        mark("warmup")

        iters, traced = timed_loop(
            workload, ctx, tally, args.seconds, trace=bool(args.trace))
        untraced = loop_figures(iters)
        mark("timed")
        if args.trace:
            per_layer, layer_detail = traced_figures(
                workload, ctx, tally, iters, traced)
            mark("traced")
    finally:
        if workload is not None:
            workload.close()
        if spark is not None:
            host.stop_spark(spark)
        if rss is not None:
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        mark("stop")

    ops = op_medians(iters)
    op_fail_ratio = tally.failed / max(tally.attempted, 1)
    detail = {
        "workload": args.workload,
        "host": host.host_record(ROOT, cores, driver_mb, args.seed, jdk),
        "size": workload.describe(),
        "loop": "closed, one caller",
        "setup": {
            "session_s": session_s, "prepare_s": prepare_s,
            "cold_iter_s": cold_iter_s,
            **{k: statistics.median(s[k] for s in setups) for k in setups[0]},
        },
        "timed": untraced,
        "phases_end_s": phases,
        "ops": ops,
        **{OP_RATE_NAMES[op]: v["per_s"] for op, v in ops.items()},
        **workload.details(),
        "op_fail_ratio": op_fail_ratio,
        "problems": tally.problems,
    }
    if args.workload == "stream-mixed":
        detail["stream_batch_p50_s"] = untraced["iter_p50_s"]
    if args.trace:
        detail.update(layer_detail)
        metrics = {
            **per_layer,
            "sources_s": (statistics.median(data_setup), "s"),
            "op_fail_ratio": (op_fail_ratio, "ratio"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "keys_per_cpu_s": (untraced["keys_per_cpu_s"], "1/cpu_s"),
        }
    print(json.dumps(detail), flush=True)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    if tally.failed:
        print("output checks failed: " + "; ".join(tally.problems),
              file=sys.stderr)
        return 1
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import_library()
    except ImportError as e:
        print(f"cannot import the library: {e}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

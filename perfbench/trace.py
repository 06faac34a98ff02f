"""Per-op job groups and the stage metrics Spark records for them.

Every op call runs under its own job group, described as
``cuckoo.<op>``, in traced and untraced runs alike, so the timed code
is the same in both. A traced run then reads, between op calls and
outside their timed regions, the stage metrics that Spark's status
store kept for the group: executor CPU, GC, shuffle bytes, fetch wait,
task count and task-duration spread.
"""

from __future__ import annotations

import contextlib
import itertools
import statistics
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._ids = itertools.count()
        #: job groups of the op in flight; code that runs jobs under a
        #: group of its own (a streaming query) appends that group here
        self.groups: list[str] = []
        #: stages already attributed to an op call; a long-lived group
        #: (a streaming query) gains new stages with every call
        self._seen_stages: set[int] = set()
        #: op name -> list of per-call stage metrics (traced runs only)
        self.stats: dict[str, list[dict]] = {}

    @contextlib.contextmanager
    def op(self, name: str):
        sc = self.spark.sparkContext
        group = f"cuckoo.{name}.{next(self._ids)}"
        self.groups = [group]
        sc.setJobGroup(group, f"cuckoo.{name}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # untraced calls mark their stages seen too, so that a traced
        # call of a long-lived group counts only its own stages
        _drain_listener_bus(sc)
        stages = [s for g in self.groups
                  for s in _new_stages(sc, g, self._seen_stages)]
        if self.enabled:
            self.stats.setdefault(name, []).append(stage_stats(sc, stages))


def _drain_listener_bus(sc) -> None:
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:  # noqa: BLE001 - not public API; a short wait does
        time.sleep(0.5)


def _new_stages(sc, group: str, seen: set[int]) -> list[int]:
    """Stages of the jobs run under ``group`` not in ``seen``; adds
    them to ``seen``."""
    tracker = sc.statusTracker()
    stage_ids = sorted({
        s for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    } - seen)
    seen.update(stage_ids)
    return stage_ids


def stage_stats(sc, stage_ids: list[int]) -> dict:
    """Summed metrics of the given stages, and the task-duration spread
    of the one that ran longest."""
    store = sc._jsc.sc().statusStore()
    out = {
        "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "fetch_wait_s": 0.0, "tasks": 0, "task_max_over_median": 1.0,
    }
    widest = None
    for sid in stage_ids:
        d = store.lastStageAttempt(sid)
        if d.numCompleteTasks() == 0:
            continue  # skipped: its shuffle output was reused
        out["executor_cpu_s"] += d.executorCpuTime() / 1e9
        out["gc_s"] += d.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += d.shuffleWriteBytes()
        out["fetch_wait_s"] += d.shuffleFetchWaitTime() / 1e3
        out["tasks"] += d.numCompleteTasks()
        if widest is None or d.executorRunTime() > widest.executorRunTime():
            widest = d
    if widest is not None and widest.numCompleteTasks() > 1:
        quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        summary = store.taskSummary(
            widest.stageId(), widest.attemptId(), quantiles
        )
        if summary.isDefined():
            dur = summary.get().duration()
            if dur.apply(0) > 0:
                out["task_max_over_median"] = dur.apply(1) / dur.apply(0)
    return out


def median_stats(calls: list[dict]) -> dict:
    """Per-field median over the traced calls of one op."""
    return {k: statistics.median(c[k] for c in calls) for k in calls[0]}

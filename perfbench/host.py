"""Host record, session sizing, peak-RSS sampling and process cleanup.

Everything here reads the host it runs on; nothing writes outside the
benchmark's work directory or changes host-wide settings.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time


def cpu_count() -> int:
    """Cores this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def spark_cores(nproc: int) -> int:
    """Task slots of the ``local[k]`` session: half the cores. Each
    task slot also drives a Python worker, and the driver, the JVM's
    own threads and the benchmark run beside them, so a slot per core
    would keep more threads runnable than there are cores and time the
    host's scheduler as much as the program."""
    return max(1, nproc // 2)


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(mem_total: int) -> int:
    """An eighth of host memory, between 1 and 2 GiB: enough for the
    largest workload with room left for the Python workers, and small
    enough for a machine shared with other jobs."""
    return max(1024, min(2048, mem_total // 8 >> 20))


def _cache_sizes() -> dict:
    """Per-instance L2 and L3 sizes from sysfs (cpu0's view)."""
    out = {}
    base = "/sys/devices/system/cpu/cpu0/cache"
    for entry in sorted(os.listdir(base)) if os.path.isdir(base) else ():
        if not entry.startswith("index"):
            continue
        try:
            with open(f"{base}/{entry}/level") as f:
                level = f.read().strip()
            with open(f"{base}/{entry}/size") as f:
                size = f.read().strip()
            with open(f"{base}/{entry}/type") as f:
                kind = f.read().strip()
        except OSError:
            continue
        if level in ("2", "3") and kind in ("Unified", "Data"):
            out[f"l{level}"] = size
    return out


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor()


def _git_commit(root: str) -> str:
    """The checkout's commit, read from .git when there is one."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def host_record(root: str, cores: int, driver_mb: int, seed: int,
                jdk: str) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": cpu_count(),
        "mem_total_mb": mem_total_bytes() >> 20,
        "cpu_model": _cpu_model(),
        **_cache_sizes(),
        "jdk": jdk,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "git_commit": _git_commit(root),
        "seed": seed,
        "master": f"local[{cores}]",
        "driver_memory_mb": driver_mb,
    }


# -- process tree ------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    head, tail = stat.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and all
    its descendants (the driver JVM and its Python workers), reaped
    children included, less the JVM's JIT compiler threads.

    Time the hypervisor stole from the VM is not in it, unlike in wall
    time. The compilers are left out because Spark generates and loads
    fresh classes for every query, so they compile all run long, and
    their share moved by half between iterations of one run while the
    rest stayed within a few percent."""
    me = os.getpid()
    ticks = 0
    for pid in [me, *descendants(me)]:
        proc = _stat(f"/proc/{pid}/stat")
        if proc is None:
            continue
        name, fields = proc
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
        if name != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            thread = _stat(f"/proc/{pid}/task/{tid}/stat")
            # "C1 CompilerThre", "C2 CompilerThre": names are cut at 15
            if thread is not None and "CompilerThre" in thread[0]:
                ticks -= sum(int(x) for x in thread[1][11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the driver JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and every process it
    started, waiting for each to exit."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap(pids)


def _reap(pids: list[int], grace_s: float = 10.0) -> None:
    deadline = time.monotonic() + grace_s
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while _alive(p):
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        # a zombie child of ours: collect it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True

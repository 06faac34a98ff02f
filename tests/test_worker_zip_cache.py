"""The stat-checked zip directory cache a Spark Python worker installs
when it imports the package (``cuckoo_filter_spark._worker``).

The wrapper's semantics run in fresh subprocesses that import pyspark
from ``pyspark.zip`` and load ``pyspark.worker``, as a worker does; the
last test checks the same thing inside the session's own workers.
"""

import glob
import os
import subprocess
import sys
import textwrap
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimport no longer re-reads archives; nothing installs",
)


def _spark_zips() -> list:
    from pyspark.find_spark_home import _find_spark_home

    lib = os.path.join(_find_spark_home(), "python", "lib")
    zips = sorted(glob.glob(os.path.join(lib, "pyspark.zip")))
    zips += sorted(glob.glob(os.path.join(lib, "py4j-*.zip")))
    if not zips:
        pytest.skip(f"no pyspark.zip under {lib}")
    return zips


def _run_as_worker(body: str) -> str:
    """Run ``body`` in a fresh interpreter that imports pyspark from its
    zip and has ``pyspark.worker`` loaded; returns its stdout."""
    zips = _spark_zips()
    prelude = textwrap.dedent(f"""
        import importlib, os, sys, zipimport, zipfile
        sys.path[:0] = {zips!r}
        import pyspark.worker
        assert pyspark.__file__.startswith({zips[0]!r}), pyspark.__file__
    """)
    out = subprocess.run(
        [sys.executable, "-c", prelude + textwrap.dedent(body)], cwd=REPO,
        capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_unchanged_archive_is_not_reread():
    out = _run_as_worker("""
        import cuckoo_filter_spark
        from cuckoo_filter_spark import _worker

        zips = [v for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)]
        importlib.invalidate_caches()  # first call reads each archive once
        calls = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda a: calls.append(a) or original(a)
        reads = _worker.reads
        for _ in range(5):
            importlib.invalidate_caches()
        import pyspark.find_spark_home  # still imports from the zip
        assert "pyspark.zip" in pyspark.find_spark_home.__file__
        print(len(zips) > 1, len(calls), _worker.reads - reads)
    """)
    assert out == "True 0 0"


def test_changed_archive_is_reread_and_missing_one_does_not_raise(tmp_path):
    out = _run_as_worker(f"""
        import cuckoo_filter_spark

        path = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("first_mod.py", "X = 1\\n")
        sys.path.append(path)
        import first_mod
        importlib.invalidate_caches()
        with zipfile.ZipFile(path, "a") as z:
            z.writestr("second_mod.py", "X = 2\\n")
        importlib.invalidate_caches()
        import second_mod
        os.remove(path)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        print(first_mod.X, second_mod.X)
    """)
    assert out == "1 2"


def test_install_is_idempotent():
    out = _run_as_worker("""
        original = zipimport.zipimporter.invalidate_caches
        import cuckoo_filter_spark
        from cuckoo_filter_spark import _worker

        wrapped = zipimport.zipimporter.invalidate_caches
        _worker.install()
        _worker.install()
        print(wrapped is not original,
              zipimport.zipimporter.invalidate_caches is wrapped)
    """)
    assert out == "True True"


def test_reused_worker_sets_up_without_rereading(spark):
    """A worker that ran a library UDF sets up its later tasks with no
    archive read: the wrapper is installed, and two of its tasks see
    the same read count, so the later one's set-up read nothing."""
    import pandas as pd

    from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

    keys = spark.range(0, 2000).selectExpr("id * 7919 AS key")
    assert ShardedCuckooFilter.build(keys, "key", 4000, 4).total_occupied() == 2000

    def report(batches):
        import os
        import sys
        import zipimport

        for _ in batches:
            pass
        w = sys.modules.get("cuckoo_filter_spark._worker")
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "wrapped": [getattr(
                zipimport.zipimporter.invalidate_caches, "stat_checked", False
            )],
            "reads": [w.reads if w else -1],
            "zips": [sum(isinstance(v, zipimport.zipimporter)
                         for v in sys.path_importer_cache.values())],
        })

    schema = "pid long, wrapped boolean, reads long, zips long"
    rows = []
    for _ in range(3):  # report() never imports the library itself
        rows += spark.range(0, 8, numPartitions=8).mapInPandas(
            report, schema
        ).collect()
    wrapped = [r for r in rows if r.wrapped]
    assert wrapped, rows
    assert all(r.zips > 0 for r in wrapped), rows
    # reads only grow: two tasks of one worker at the same count mean
    # the later one's set-up read no archive
    tasks_per_count = Counter((r.pid, r.reads) for r in wrapped)
    assert max(tasks_per_count.values()) >= 2, rows

"""The heap freeze a Spark Python worker installs when it imports the
package (``cuckoo_filter_spark._worker.FreezeOnTaskStart``).

The first test runs in a fresh subprocess with ``pyspark.worker``
loaded, as a worker has; the second checks the session's own workers.
"""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_freezes_once_at_the_next_task_start():
    code = textwrap.dedent("""
        import gc, importlib
        import pyspark.worker

        calls = []
        original = gc.freeze
        gc.freeze = lambda: calls.append(1) or original()
        import cuckoo_filter_spark
        after_import = (len(calls), gc.get_freeze_count())
        importlib.invalidate_caches()  # a task start
        after_first = len(calls)
        for _ in range(3):
            importlib.invalidate_caches()
        print(after_import, after_first, len(calls),
              gc.get_freeze_count() > 0)
    """)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "(0, 0) 1 1 True"


def test_reused_worker_runs_on_a_frozen_heap(spark):
    """A worker that ran a library UDF starts its later tasks with the
    long-lived heap frozen."""
    import pandas as pd

    from cuckoo_filter_spark.operators.membership import ShardedCuckooFilter

    keys = spark.range(0, 2000).selectExpr("id * 7919 AS key")
    assert ShardedCuckooFilter.build(keys, "key", 4000, 4).total_occupied() == 2000

    def report(batches):
        import gc
        import os
        import sys

        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "loaded": ["cuckoo_filter_spark._worker" in sys.modules],
            "frozen": [gc.get_freeze_count()],
        })

    schema = "pid long, loaded boolean, frozen long"
    rows = []
    for _ in range(3):  # report() never imports the library itself
        rows += spark.range(0, 8, numPartitions=8).mapInPandas(
            report, schema
        ).collect()
    loaded = [r for r in rows if r.loaded]
    assert loaded, rows
    # the library loaded in an earlier task, so this task's start froze
    assert all(r.frozen > 0 for r in loaded), rows

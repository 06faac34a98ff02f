"""Importing the package loads no Spark, Py4J or pandas module, so a
Python worker can import it before any Spark machinery starts, and
outside a Spark Python worker it leaves ``zipimport`` and the garbage
collector alone."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_import_loads_no_spark():
    code = (
        "import gc, importlib, sys, zipimport\n"
        "original = zipimport.zipimporter.invalidate_caches\n"
        "finders = list(sys.meta_path)\n"
        "import cuckoo_filter_spark\n"
        "importlib.invalidate_caches()\n"
        "print(zipimport.zipimporter.invalidate_caches is original)\n"
        "print(sys.meta_path == finders, gc.get_freeze_count())\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.split('.')[0] in ('pyspark', 'py4j', 'pandas')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.split() == ["True", "True", "0", "[]"]

"""Every script and ``bench.py`` imports cleanly as a module.

The scripts import from each other and from ``bench.py``; a deleted
or renamed name would otherwise only surface when someone runs the
script. Each file guards its ``main``, so importing runs nothing."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
FILES = sorted(
    [os.path.join("scripts", f) for f in os.listdir(SCRIPTS) if f.endswith(".py")]
    + ["bench.py"]
)


@pytest.mark.parametrize("rel", FILES)
def test_script_imports(rel, monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    monkeypatch.syspath_prepend(REPO)
    name = "_script_" + os.path.splitext(os.path.basename(rel))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, rel))
    spec.loader.exec_module(importlib.util.module_from_spec(spec))

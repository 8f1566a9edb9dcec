"""The bench scripts import cleanly: a dangling import (e.g. of a
deleted helper module) fails here, not on the next benchmark run.
Each script is loaded as a module under its own name, so its
``__main__`` block never runs."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(REPO, "bench.py")] + sorted(
    glob.glob(os.path.join(REPO, "bench", "*.py")))


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, REPO))
def test_bench_script_imports(path):
    name = "bench_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None))

"""The repository's command-line scripts stay importable: `bench.py`
and every `tools/*.py` load without a Spark session and expose a
`main` entry point, so a script that still imports something since
removed fails here rather than on its next manual run."""

from __future__ import annotations

import glob
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = ["bench.py"] + sorted(
    os.path.relpath(p, ROOT) for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_and_exposes_main(script):
    name = "_script_" + script.replace("/", "_").removesuffix(".py")
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, script))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(getattr(module, "main", None)), script

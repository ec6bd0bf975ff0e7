import subprocess
import sys

import pytest

import run


def test_query_medians_skip_failed_samples():
    rows = [
        {"query": "a", "ok": True, "build_s": 1.0, "exec_s": 0.5, "cpu_s": 4.0},
        {"query": "a", "ok": True, "build_s": 0.8, "exec_s": 0.4, "cpu_s": 3.0},
        {"query": "a", "ok": True, "build_s": 0.9, "exec_s": 0.4, "cpu_s": 9.0},
        {"query": "b", "ok": True, "build_s": 2.0, "exec_s": 0.1, "cpu_s": 5.0},
        # A failed sample carries no timings and is left out.
        {"query": "b", "ok": False},
    ]
    assert run.query_medians(rows, run.cpu_s) == {"a": 4.0, "b": 5.0}
    assert run.query_medians(rows, run.wall_s) == pytest.approx({"a": 1.3, "b": 2.1})


def test_tree_cpu_s_counts_child_processes():
    before = run.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"],
        check=True,
    )
    assert run.tree_cpu_s() - before >= 0.4


def test_work_cpu_s_leaves_out_jit_threads():
    before = (10.0, {(1, 5): 2.0, (1, 6): 1.0})
    # Compiler thread 6 ended and thread 7 started between the readings.
    after = (16.0, {(1, 5): 4.5, (1, 7): 0.5})
    assert run.work_cpu_s(before, after) == pytest.approx(6.0 - 2.5 - 0.5)

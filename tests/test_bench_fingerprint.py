"""The bench harness compares a run against the newest committed
detail record taken at the same core count and scale factor."""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_latest_detail_matches_core_count_and_scale(tmp_path):
    """The comparison baseline is the newest record taken at the SAME
    core count and scale factor; an unstamped record never matches."""
    import json

    records = {
        "BENCH_DETAIL_r10.json": {"cpus": 32, "sf": 0.1, "queries": {"a": 3.0}},
        "BENCH_DETAIL_r11.json": {"cpus": 8, "sf": 0.1, "queries": {"a": 2.0}},
        "BENCH_DETAIL_r12.json": {"sf": 0.1, "queries": {"a": 1.0}},
    }
    for name, payload in records.items():
        (tmp_path / name).write_text(json.dumps(payload))
    root = str(tmp_path)
    assert bench._latest_detail(root, 32, 0.1)["queries"] == {"a": 3.0}
    assert bench._latest_detail(root, 8, 0.1)["queries"] == {"a": 2.0}
    assert bench._latest_detail(root, 4, 0.1) is None
    assert bench._latest_detail(root, 32, 1.0) is None

"""The bench harness's fingerprint pass must never warm the engine:
no Spark job may run for a plan-hashable query, and a query
classified as build-executing must be source-hashed WITHOUT building
(VERDICT r9 item 9 — round 9's pre-timing pass executed every
trainer's build phase as an unintended whole-surface warm-up)."""

from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
import __spark_entry__ as contract

SF = "/root/testdata/sf0.001"


def _jobs(spark) -> int:
    return bench._n_jobs(spark)


def test_plan_hash_runs_zero_jobs_for_plain_queries(spark):
    qs = contract.queries()
    for name in ["q1_wordcount", "pricing_summary", "doc_stats"]:
        # first call may pay the session's one-off parquet
        # schema/footer job for a not-yet-seen table; steady state
        # (every later call) must be job-free
        h, ran = bench._plan_hash(qs[name], name, spark, SF)
        j0 = _jobs(spark)
        h2, ran2 = bench._plan_hash(qs[name], name, spark, SF)
        assert _jobs(spark) == j0, name
        assert not ran2
        assert h2 == h and h.startswith("plan:")


def test_plan_hash_detects_and_then_skips_build_executing_queries(spark):
    qs = contract.queries()
    # markov_attribution collects its constant-size pivot at build
    # time: the first pass DETECTS that (build_ran_jobs=True) ...
    h1, ran = bench._plan_hash(
        qs["markov_attribution"], "markov_attribution", spark, SF
    )
    assert ran and h1.startswith("src:")
    # ... and with the persisted classification (skip_build=True) the
    # fingerprint is produced with ZERO jobs and is stable
    j0 = _jobs(spark)
    h2, ran2 = bench._plan_hash(
        qs["markov_attribution"], "markov_attribution", spark, SF,
        skip_build=True,
    )
    assert _jobs(spark) == j0
    assert not ran2
    assert h2 == h1


def test_streaming_queries_source_hash_without_executing(spark):
    qs = contract.queries()
    j0 = _jobs(spark)
    h, ran = bench._plan_hash(
        qs["stream_wordcount"], "stream_wordcount", spark, SF
    )
    assert _jobs(spark) == j0
    assert h.startswith("src:") and not ran


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

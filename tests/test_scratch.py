"""The scratch-space owner (`sources/scratch.py`): private dirs, their
lifetimes, and the per-process fixture memo."""

from __future__ import annotations

import os
import stat

import pytest

from stream_processing_system_spark.sources import scratch


def _mode(path: str) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_scratch_dir_is_private_and_removed_when_body_raises():
    with pytest.raises(RuntimeError, match="body failed"):
        with scratch.scratch("unit") as path:
            assert os.path.basename(path).startswith("spark_graft_unit_")
            assert _mode(path) == 0o700
            open(os.path.join(path, "f"), "w").close()
            raise RuntimeError("body failed")
    assert not os.path.exists(path)


def test_fixture_builds_once_per_sf_dir_in_a_private_dir():
    calls = []

    @scratch.fixture("unit")
    def build(spark, sf_dir, path):
        calls.append(sf_dir)
        return path

    a = build(None, "sf_a")
    assert build(None, "sf_a") == a
    b = build(None, "sf_b")
    assert calls == ["sf_a", "sf_b"]
    assert a != b and _mode(a) == _mode(b) == 0o700
    assert scratch._FIXTURES[(build, "sf_a")] == a

    scratch.remove_scratch_caches()
    assert not os.path.exists(a) and not os.path.exists(b)
    assert (build, "sf_a") not in scratch._FIXTURES
    assert build(None, "sf_a") != a
    assert calls == ["sf_a", "sf_b", "sf_a"]


#: Each fixture query of `plans/pipeline.py`, and the build halves it
#: memoizes. The k-means codebook serves both IVF-PQ and silhouette.
_FIXTURE_QUERIES = {
    "ivf_index_topk_embeddings": ["_ivf_index"],
    "zorder_events_scan": ["_zorder_events"],
    "pq_topk_embeddings": ["_pq_books"],
    "bucketed_revenue_join": ["_bucketed_tables"],
    "partitioned_events_scan": ["_partitioned_events"],
    "compacted_events_scan": ["_compacted_events"],
    "format_roundtrip_scan": ["_format_copies"],
    "schema_evolution_scan": ["_evolved_events"],
    "jsonl_corrupt_scan": ["_corrupt_jsonl"],
    "ivfpq_topk_embeddings": ["_ivf_codebook", "_ivfpq_books"],
    "embedding_silhouette": ["_ivf_codebook"],
}


def test_fixture_queries_repeat_their_rows_and_memoize_only_build_halves(
    spark, sf_dir
):
    """Every fixture query returns the same rows on its first and a
    repeat call, and the memo holds only the listed build halves: no
    query result is memoized."""
    from stream_processing_system_spark.plans import pipeline

    def rows(name):
        return sorted(getattr(pipeline, name)(spark, sf_dir).collect(), key=repr)

    scratch.remove_scratch_caches()
    first = {name: rows(name) for name in _FIXTURE_QUERIES}
    built = {getter for getter, sf in scratch._FIXTURES if sf == sf_dir}
    assert built == {
        getattr(pipeline, g) for gs in _FIXTURE_QUERIES.values() for g in gs
    }
    assert all(first.values())
    assert {name: rows(name) for name in _FIXTURE_QUERIES} == first

"""Differential test of every registered query against the DuckDB
oracle at sf0.001 (the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as contract
from tests.oracle import assert_matches_oracle

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


#: One pathological-cost row (~90 s at sf0.001 — the DuckDB-side
#: unrolled mirror dominates, not Spark) sits in the slow tier; it stays
#: covered by the standalone `python -m tests.oracle` sweeps and by
#: `pytest -m slow`.
_SLOW_ORACLE = {"events_voptimal_histogram"}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ORACLE else n
        for n in sorted(ORACLES)
    ],
)
def test_matches_oracle(spark, sf_dir, name):
    assert_matches_oracle(QUERIES[name](spark, sf_dir), sf_dir, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert df.schema is not None


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0


def test_driver_window_is_fully_oracle_checked():
    """The external runner records only the FIRST 50 registered
    queries, so those are exactly `DRIVER_HEAD`: 50 distinct names,
    each carrying a value-hash oracle (a rows-only query there would
    waste a slot)."""
    head = list(QUERIES)[:50]
    assert head == contract.DRIVER_HEAD
    assert len(set(head)) == 50
    missing = [n for n in head if n not in ORACLES]
    assert not missing, missing

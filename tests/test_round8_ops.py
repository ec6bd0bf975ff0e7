"""Round-8 hand-case tests: the ADVICE-r7 fixes — NULL-ts rows must
be treated identically by Spark and DuckDB in every ts-half-split
drift query (explicit `ts IS NOT NULL` on both engines instead of
relying on SUM's NULL-skip vs CASE's ELSE branch), the chunk key in
the two-phase running max must be exact for ANY chunk value
(integral `div`, not a float-division round-trip), and the shared
CvM overflow diagnostic must name the caller."""

import datetime
import os

import pytest

from tests.helpers import write_events


_DRIFT_QUERIES = [
    "events_cvm_drift",
    "events_ks_test",
    "events_psi_drift",
    "events_type_jsd",
    "events_drift_chi2",
]


@pytest.mark.parametrize("qname", _DRIFT_QUERIES)
def test_half_split_null_ts_parity(spark, tmp_path, qname):
    """A NULL-ts row must not split the engines (ADVICE r7): Spark's
    SUM(1 - half) silently skips it (half is NULL) while DuckDB's
    CASE WHEN ts >= ... ELSE 1 counts it into the first half — and
    as a groupBy key (chi²) Spark would form a NULL-half cell the
    oracle lands in half 0. Both engines now filter it explicitly,
    so the value-level results must match exactly on a hand-built
    frame that CONTAINS a NULL ts."""
    import duckdb

    import __spark_entry__ as entry

    base = datetime.datetime(2024, 1, 10)
    late = datetime.datetime(2024, 1, 20)
    rows = [
        (1, base, 1, "click", 100.0, "{}"),
        (2, base, 2, "click", 250.0, "{}"),
        (3, late, 3, "click", 300.0, "{}"),
        (4, None, 4, "click", 250.0, "{}"),  # the divergence row
        (5, base, 5, "view", 80.0, "{}"),
        (6, late, 6, "view", 90.0, "{}"),
        (7, None, 7, "view", 90.0, "{}"),
    ]
    sf = write_events(spark, rows, str(tmp_path / f"nullts_{qname}"))
    got = [tuple(r) for r in entry.queries()[qname](spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf, 'events.parquet')}/*.parquet'"
    )
    want = [tuple(w) for w in con.execute(entry.oracle_sql()[qname]).fetchall()]
    assert got == want


def test_watermark_chunk_key_is_integral(spark, tmp_path):
    """The chunk key must bucket ids by exact integral division: a
    float-division round-trip is only exact for power-of-two chunks
    under 2^53, but `chunk` is documented as a scale knob. With the
    `div` form, ids straddling a chunk boundary still produce the
    single-window running-max semantics (cross-chunk carry)."""
    from stream_processing_system_spark.plans.analytics import (
        events_watermark_lateness,
    )

    base = datetime.datetime(2024, 5, 1)
    # ids 4095/4096 straddle the 4096-chunk boundary exactly; the
    # id-4096 event is 3h behind the chunk-0 max, so only the
    # exclusive prefix-max carry makes it late.
    rows = [
        (4095, base + datetime.timedelta(hours=12), 1, "click", 1.0, "{}"),
        (4096, base + datetime.timedelta(hours=9), 1, "click", 1.0, "{}"),
    ]
    sf = write_events(spark, rows, str(tmp_path / "chunkdiv"))
    out = events_watermark_lateness(spark, sf).collect()[0]
    assert out["n_events"] == 2
    assert out["n_late_1h"] == 1
    assert out["max_late_sec"] == 3 * 3600


def test_cvm_overflow_message_names_caller():
    """cvm_from_cells hardcoded 'events_cvm_drift' in its overflow
    raise, so an overflow inside stream_cvm_drift would blame the
    wrong query (ADVICE r7); the caller's name is now a parameter."""
    import inspect

    from stream_processing_system_spark.plans import (
        analytics,
        streaming_parity,
    )

    sig = inspect.signature(analytics.cvm_from_cells)
    assert "query" in sig.parameters
    src = inspect.getsource(streaming_parity.stream_cvm_drift)
    assert 'query="stream_cvm_drift"' in src

"""Helpers shared by the test families: the Python twin of the
engine's 1e-6 rounding grid, the hypothesis settings of the fuzz
replays, and builders for small hand-made inputs (a daily series, an
events table on disk)."""

from __future__ import annotations

import datetime as dt
import math
import os

from hypothesis import HealthCheck, settings

#: Fuzz replays run Spark jobs per example: few examples, no deadline,
#: and the session-scoped `spark` fixture allowed under `@given`.
FUZZ = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long,"
    " event_type string, value double, props string"
)


def py_det_round(x, k=6):
    """Half-up onto the 10**-k grid, as the engine's `det_round` does;
    None stays None."""
    return None if x is None else math.floor(x * 10**k + 0.5) / 10**k


def daily_series(spark, series, col="x"):
    """One long per consecutive day from 2024-01-01, event type "a":
    the `(event_type, day, <col>)` frame the `*_from_daily` cores take."""
    rows = [
        ("a", dt.date(2024, 1, 1) + dt.timedelta(days=i), v)
        for i, v in enumerate(series)
    ]
    return spark.createDataFrame(
        rows, f"event_type string, day date, {col} long"
    )


def write_events(spark, rows, sf_dir):
    """Write `rows` (one tuple per EVENTS_SCHEMA column) as the events
    table of a catalog at `sf_dir`, and return `sf_dir`."""
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return sf_dir


def write_reddit_csv(d):
    """Write a headerless 13-column reddit CSV (column 10 the score,
    12 the username) into the directory `d` and return its path as a
    string: u1 scores 5 and 3, u2 scores 1 and the unparseable "oops",
    u3 scores -4."""
    rows = []
    for user, score in [("u1", "5"), ("u1", "3"), ("u2", "1"), ("u3", "-4"), ("u2", "oops")]:
        cells = [f"c{i}" for i in range(13)]
        cells[10], cells[12] = score, user
        rows.append(",".join(cells))
    d.mkdir()
    (d / "a.csv").write_text("\n".join(rows) + "\n")
    return str(d)

"""AS-OF and interval join semantics on crafted timelines."""

from __future__ import annotations

import datetime as dt

from stream_processing_system_spark.operators.temporal import (
    asof_join,
    interval_count_join,
)

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _m(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, "u", _m(10)), (2, "u", _m(30)), (3, "v", _m(5)), (4, "w", _m(1))],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [("u", _m(0)), ("u", _m(10)), ("u", _m(29)), ("v", _m(6))],
        ["user_id", "ts"],
    )
    got = {
        r["event_id"]: r["r_ts"]
        for r in asof_join(left, right, key="user_id").collect()
    }
    assert got[1] == _m(10)  # equal ts counts ("at or before")
    assert got[2] == _m(29)  # latest of the three priors
    assert 3 not in got      # v's only click is AFTER the purchase
    assert 4 not in got      # w has no clicks at all (inner semantics)


def test_interval_count_join_window_edges(spark):
    left = spark.createDataFrame(
        [(1, "u", _m(60)), (2, "v", _m(60))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [
            ("u", _m(0)),      # exactly ts-60min → included (>= lower)
            ("u", _m(59)),     # inside
            ("u", _m(60)),     # equal to ts → excluded (< upper)
            ("u", _m(-1)),     # before window
        ],
        ["user_id", "ts"],
    )
    got = {
        r["event_id"]: r["n_in_window"]
        for r in interval_count_join(
            left, right, key="user_id", window_seconds=3600
        ).collect()
    }
    assert got == {1: 2, 2: 0}  # v has no clicks → 0, row kept

def test_pattern_search_finds_planted_spike(spark, monkeypatch, tmp_path):
    """A series containing the exact query shape (flat, flat, flat,
    spike, flat, slight) must rank that window first with distance
    ~0."""
    import datetime

    from pyspark.sql import functions as F  # noqa: F401

    from stream_processing_system_spark.plans import analytics

    # build a tiny events parquet with one type whose days 5..10
    # trace the pattern shape (affine transforms of the z-normed
    # query are distance-0 matches by construction)
    base = datetime.datetime(2024, 1, 1)
    shape = [1.0, 1.0, 1.0, 10.0, 1.0, 1.866025]  # affine image of _PATTERN
    rows = []
    for d in range(20):
        v = shape[d - 5] if 5 <= d < 11 else float((d * 7) % 13) + 20.0
        rows.append((d, base + datetime.timedelta(days=d), 1, "tp", v, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    df.write.parquet(os.path.join(sf, "events.parquet"))
    top = analytics.events_pattern_search(spark, sf).collect()
    assert top[0]["event_type"] == "tp"
    assert top[0]["start_day"] == "2024-01-06"
    assert top[0]["dist2"] < 0.01  # centi-grid + 6-dec pattern quantization residual


def test_pattern_search_short_series_yields_no_windows(spark, tmp_path):
    """A type with fewer days than the pattern length must contribute
    zero windows (not backwards-sequence garbage or an index-0
    crash)."""
    import datetime
    import os

    from stream_processing_system_spark.plans import analytics

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=i), 1, "short", 5.0 + i, "{}")
        for i in range(3)  # only 3 days < pattern length 6
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    df.write.parquet(os.path.join(sf, "events.parquet"))
    assert analytics.events_pattern_search(spark, sf).count() == 0


def test_asof_forward_known_answers(spark):
    """Forward as-of: earliest right at-or-after left, inclusive at
    equal ts; tolerance drops distant matches; no-following-row
    drops the left row (inner)."""
    import pandas as pd
    from pyspark.sql import functions as F

    l = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1, 2], "ts": [10, 20, 100, 5]})
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    r = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "ts": [10, 25, 1], "v": [7, 8, 9]})
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")

    out = asof_join(l, r, key="k", right_cols=["v"], forward=True)
    got = {
        (row["k"], row["ts"].timestamp()): (row["r_ts"].timestamp(), row["r_v"])
        for row in out.collect()
    }
    # ts=10 matches the EQUAL-ts right row (inclusive >=)
    assert got[(1, 10.0)] == (10.0, 7)
    assert got[(1, 20.0)] == (25.0, 8)
    # ts=100 has no following right row -> dropped; k=2's right row is
    # BEFORE the left row -> dropped
    assert (1, 100.0) not in got and (2, 5.0) not in got

    tol = asof_join(
        l, r, key="k", right_cols=["v"], forward=True, tolerance_seconds=3
    )
    got_tol = {(row["k"], row["ts"].timestamp()) for row in tol.collect()}
    assert got_tol == {(1, 10.0)}  # 20->25 is 5s away, beyond the horizon


def test_interval_overlap_join_exactly_once_per_pair(spark):
    """A pair overlapping across SEVERAL shared buckets must emerge
    exactly once (first-shared-bucket rule), and non-overlapping
    intervals must not pair."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream_processing_system_spark.operators.temporal import (
        interval_overlap_join,
    )

    # left: [0, 10000) spans buckets 0..9 at 1000s grain
    left = spark.createDataFrame(
        pd.DataFrame({"lid": [1, 2], "ls": [0, 50000], "le": [10000, 51000]})
    ).select("lid", F.col("ls").cast("long"), F.col("le").cast("long"))
    # right: [2500, 7500) shares buckets 2..7 with left#1; [20000,
    # 21000) overlaps nothing
    right = spark.createDataFrame(
        pd.DataFrame({"rid": [10, 20], "rs": [2500, 20000], "re": [7500, 21000]})
    ).select("rid", F.col("rs").cast("long"), F.col("re").cast("long"))
    out = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_seconds=1000
    ).collect()
    assert [(r["lid"], r["r_rid"]) for r in out] == [(1, 10)]


def test_interval_overlap_touching_edges_excluded(spark):
    """Half-open semantics: [0,100) and [100,200) do NOT overlap."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream_processing_system_spark.operators.temporal import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        pd.DataFrame({"lid": [1], "ls": [0], "le": [100]})
    ).select("lid", F.col("ls").cast("long"), F.col("le").cast("long"))
    right = spark.createDataFrame(
        pd.DataFrame({"rid": [2], "rs": [100], "re": [200]})
    ).select("rid", F.col("rs").cast("long"), F.col("re").cast("long"))
    assert (
        interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_seconds=50
        ).count()
        == 0
    )


def test_scd2_join_picks_the_valid_version(spark):
    """Each fact lands on exactly the version whose window contains
    its timestamp; out-of-window facts drop (inner)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream_processing_system_spark.operators.temporal import scd2_join

    dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 2],
                "version": ["v1", "v2", "v1"],
                "valid_from": ["2020-01-01", "2021-01-01", "2020-01-01"],
                "valid_to": ["2021-01-01", "2022-01-01", "2020-06-01"],
            }
        )
    ).select(
        "k",
        "version",
        F.col("valid_from").cast("date"),
        F.col("valid_to").cast("date"),
    )
    facts = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 1, 2],
                "ts": ["2020-05-05", "2021-01-01", "2021-12-31", "2020-07-01"],
            }
        )
    ).select("k", F.col("ts").cast("date"))
    out = scd2_join(facts, dim, "k", "ts")
    got = sorted((r["k"], str(r["ts"]), r["version"]) for r in out.collect())
    # boundary 2021-01-01 belongs to v2 (half-open windows);
    # k=2's fact is after its only version -> dropped
    assert got == [
        (1, "2020-05-05", "v1"),
        (1, "2021-01-01", "v2"),
        (1, "2021-12-31", "v2"),
    ]


def test_business_days_closed_form_matches_naive_loop(spark):
    """The closed-form weekday count must equal the brute-force
    per-day loop for every (start weekday, span) combination."""
    import datetime as dt

    from pyspark.sql import functions as F

    from stream_processing_system_spark.plans.analytics import _business_days

    base = dt.date(2024, 1, 1)  # a Monday
    rows = [
        (base + dt.timedelta(days=s), base + dt.timedelta(days=s + n))
        for s in range(7)
        for n in range(0, 30)
    ]
    df = spark.createDataFrame(rows, "d0 date, d1 date")
    got = {
        (r["d0"], r["d1"]): r["bd"]
        for r in df.select(
            "d0", "d1", _business_days(F.col("d0"), F.col("d1")).alias("bd")
        ).collect()
    }
    for d0, d1 in rows:
        expect = sum(
            1
            for i in range(1, (d1 - d0).days + 1)
            if (d0 + dt.timedelta(days=i)).weekday() < 5
        )
        assert got[(d0, d1)] == expect, (d0, d1)


def test_rbo_identical_and_disjoint_lists(spark, tmp_path):
    """RBO bounds on hand-built two-day rankings: identical top-5
    lists score the gridded Σ(1-p)p^(d-1)·(min(d,5)/d) exactly;
    a day pair sharing no users emits no row (inner join — there is
    no overlap to score)."""
    import datetime as dt
    import math

    from stream_processing_system_spark.plans.analytics import (
        RBO_DEPTH,
        RBO_P,
        events_rbo_daily_topk,
    )

    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for day in (0, 1):  # identical users + spends -> identical ranking
        for u in range(5):
            rows.append((eid, base + dt.timedelta(days=day), u, 100.0 - u))
            eid += 1
    for day, off in ((3, 100), (4, 200)):  # disjoint user sets
        for u in range(5):
            rows.append((eid, base + dt.timedelta(days=day), off + u, 50.0 - u))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    ).selectExpr(
        "event_id", "ts", "user_id", "'click' AS event_type", "value",
        "NULL AS props"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["day"]: r
        for r in events_rbo_daily_topk(spark, str(tmp_path)).collect()
    }
    assert "2024-03-01" in got and "2024-03-04" not in got
    expect_q = 0
    for d in range(1, RBO_DEPTH + 1):
        w12 = (1.0 - RBO_P) * RBO_P ** (d - 1) / float(d) * 1e12
        expect_q += math.floor(w12 * float(min(d, 5)) + 0.5)
    assert got["2024-03-01"]["rbo"] == expect_q / 1e12
    assert got["2024-03-01"]["n_common"] == 5

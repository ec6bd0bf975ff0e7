"""Differential fuzz for the time-series analytics: the Spark plans
vs independent pure-Python implementations on randomized event
frames (a third implementation besides the DuckDB oracle — catches
shared misreadings of the spec)."""

from __future__ import annotations

import pytest

import datetime
import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F  # noqa: F401


#: slow tier (round 10, VERDICT r9 item 7): independent replay /
#: property / soak coverage, excluded from the default run so the
#: driver's verify window fits; run with `pytest -m slow`.
pytestmark = pytest.mark.slow

SET = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: (day_offset, value) per event; 1-2 types
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        st.sampled_from(["a", "b"]),
    ),
    min_size=1,
    max_size=40,
)


def _frame(spark, tmp_events):
    base = datetime.datetime(2024, 3, 1)
    rows = [
        (i, base + datetime.timedelta(days=d, hours=i % 24), 1, t, v, "{}")
        for i, (d, v, t) in enumerate(tmp_events)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


def _daily(tmp_events):
    """centi-quantized daily means, keyed (type, day-offset)."""
    acc: dict[tuple, list] = {}
    for d, v, t in tmp_events:
        acc.setdefault((t, d), []).append(math.floor(v * 100 + 0.5))
    return {
        k: (sum(vs) / 100.0) / len(vs) for k, vs in sorted(acc.items())
    }


def _write(spark, df, tmp_path):
    import os

    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    return sf


@given(evs=events_strategy)
@SET
def test_ewma_matches_python(spark, tmp_path_factory, evs):
    from stream_processing_system_spark.plans.analytics import events_ewma_daily

    tmp = tmp_path_factory.mktemp("ewma")
    sf = _write(spark, _frame(spark, evs), tmp)
    got = {
        r["event_type"]: (r["n_days"], r["ewma"])
        for r in events_ewma_daily(spark, sf).collect()
    }
    daily = _daily(evs)
    for t in {t for _, _, t in evs}:
        vals = [v for (tt, _), v in daily.items() if tt == t]
        acc = vals[0]
        for x in vals[1:]:
            acc = (3 * acc + x) / 4
        n, e = got[t]
        assert n == len(vals)
        # det_round, not python round(): at an exact half-boundary
        # (e.g. daily mean 1.88 -> ewma ...4375) banker's rounding
        # and the engine's floor(x*1e6+0.5) grid differ by one step
        assert abs(e - math.floor(acc * 1e6 + 0.5) / 1e6) < 1e-9


@given(evs=events_strategy)
@SET
def test_cusum_matches_python(spark, tmp_path_factory, evs):
    from stream_processing_system_spark.plans.analytics import (
        events_cusum_changepoint,
    )

    tmp = tmp_path_factory.mktemp("cusum")
    sf = _write(spark, _frame(spark, evs), tmp)
    got = {
        r["event_type"]: (r["peak_day"], r["cusum"])
        for r in events_cusum_changepoint(spark, sf).collect()
    }
    # python reference over daily centi SUMS
    acc: dict[tuple, int] = {}
    for d, v, t in evs:
        acc[(t, d)] = acc.get((t, d), 0) + math.floor(v * 100 + 0.5)
    for t in {t for _, _, t in evs}:
        days = sorted(d for (tt, d) in acc if tt == t)
        s = [acc[(t, d)] for d in days]
        n, total = len(s), sum(s)
        best = None
        run = 0
        for d, sv in zip(days, s):
            run += n * sv - total
            if best is None or abs(run) > best[0]:
                best = (abs(run), d, run)
        peak_day, cusum = got[t]
        base = datetime.date(2024, 3, 1)
        assert cusum == best[2]
        assert peak_day == str(base + datetime.timedelta(days=best[1]))


@given(evs=events_strategy)
@SET
def test_rolling_median_matches_python(spark, tmp_path_factory, evs):
    from stream_processing_system_spark.plans.analytics import (
        events_rolling_median,
    )

    tmp = tmp_path_factory.mktemp("med")
    sf = _write(spark, _frame(spark, evs), tmp)
    got = {
        (r["event_type"], r["day"]): (r["n_in_window"], r["med7"])
        for r in events_rolling_median(spark, sf).collect()
    }
    daily = _daily(evs)
    base = datetime.date(2024, 3, 1)
    for t in {t for _, _, t in evs}:
        series = [(d, v) for (tt, d), v in daily.items() if tt == t]
        for i, (d, _) in enumerate(series):
            win = sorted(v for _, v in series[max(0, i - 6) : i + 1])
            n = len(win)
            med = win[n // 2] if n % 2 == 1 else (win[n // 2 - 1] + win[n // 2]) / 2
            day = str(base + datetime.timedelta(days=d))
            gn, gm = got[(t, day)]
            assert gn == n
            # det_round grid, same reasoning as the EWMA assert above
            assert abs(gm - math.floor(med * 1e6 + 0.5) / 1e6) < 1e-9


def test_ols_trend_recovers_planted_line(spark):
    """value_trend_by_type's closed form on a noiseless planted line
    y = 7.5x + 20 recovers slope/intercept exactly (the sums are
    exact integers, so there is no fitting error to tolerate)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from stream_processing_system_spark.functions.scalar import det_round

    days = list(range(40))
    pdf = pd.DataFrame(
        {"x": days, "cy": [int(round((7.5 * x + 20) * 100)) for x in days]}
    )
    daily = spark.createDataFrame(pdf).select(
        F.lit("t").alias("event_type"),
        F.col("x").cast("long"),
        F.col("cy").cast("long").alias("y"),
    )
    sums = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = (num / den) / F.lit(100.0)
    intercept = (
        F.col("sy").cast("double") / F.lit(100.0)
        - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    row = sums.select(
        det_round(slope).alias("s"), det_round(intercept).alias("i")
    ).collect()[0]
    assert row["s"] == 7.5 and row["i"] == 20.0


def test_mad_scoring_matches_pure_python(spark):
    """Median/MAD robust z on a planted series: Spark pipeline vs an
    independent numpy implementation, and the outlier is flagged."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from stream_processing_system_spark.functions.scalar import det_round

    vals = [10.0, 11.0, 9.5, 10.5, 10.2, 9.8, 10.1, 50.0, 10.3, 9.9]
    daily = spark.createDataFrame(
        pd.DataFrame({"g": "a", "day": range(len(vals)), "v": vals})
    )
    med = daily.groupBy("g").agg(F.median("v").alias("m"))
    dev = daily.join(med, "g").select(
        "g", "day", "v", "m", F.abs(F.col("v") - F.col("m")).alias("ad")
    )
    mad = dev.groupBy("g").agg(F.median("ad").alias("md"))
    rz = (F.col("v") - F.col("m")) / (F.lit(1.4826) * F.col("md"))
    got = {
        r["day"]: r["rz"]
        for r in dev.join(mad, "g").select("day", det_round(rz).alias("rz")).collect()
    }
    m = float(np.median(vals))
    md = float(np.median(np.abs(np.array(vals) - m)))
    for i, v in enumerate(vals):
        want = (v - m) / (1.4826 * md)
        assert abs(got[i] - want) < 1e-6, (i, got[i], want)
    flagged = [d for d, z in got.items() if abs(z) > 2.0]
    assert flagged == [7]


def test_clamped_balance_reflection_identity(spark):
    """The window form b_n = S_n - min(0, min S_k) must equal the
    sequential clamp fold on a hand series that goes negative,
    recovers, and hits zero twice."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    nets = [5, -8, 3, -3, 4, -10, 2]
    # sequential truth
    b, seq = 0, []
    for x in nets:
        b = max(0, b + x)
        seq.append(b)
    df = spark.createDataFrame(
        pd.DataFrame({"k": 1, "day": range(len(nets)), "net": nets})
    )
    w = Window.partitionBy("k").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = df.withColumn("_s", F.sum("net").over(w))
    out = s.withColumn("_m", F.min("_s").over(w)).select(
        "day", (F.col("_s") - F.least(F.col("_m"), F.lit(0))).alias("b")
    )
    got = [r["b"] for r in out.orderBy("day").collect()]
    assert got == seq


def _daily_whole(evs):
    """whole-unit daily totals keyed (type, day-offset): centi sums
    integer-divided by 100, mirroring _daily_whole_units. Both
    engines' integer division (Spark `div`, DuckDB `//`) truncates
    toward ZERO on negatives — python's `//` floors, so mirror the
    engines, not the python idiom."""
    acc: dict[tuple, int] = {}
    for d, v, t in evs:
        acc[(t, d)] = acc.get((t, d), 0) + math.floor(v * 100 + 0.5)
    return {k: (s // 100 if s >= 0 else -((-s) // 100)) for k, s in acc.items()}


#: `events_strategy` rows whose value may also be NULL
nullable_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.none() | st.floats(min_value=-100, max_value=100, allow_nan=False),
        st.sampled_from(["a", "b"]),
    ),
    min_size=1,
    max_size=40,
)


@given(evs=nullable_events_strategy)
@example(
    # negatives, a NULL beside values, single-row days, an all-NULL
    # day, an all-NULL type-day, and 3-row days whose mean rounds up
    # (s = 2636) and, negative, toward zero (s = -4)
    evs=[
        (0, -1.005, "a"),
        (0, 2.5, "a"),
        (0, None, "a"),
        (1, -0.015, "a"),
        (2, None, "a"),
        (2, None, "a"),
        (3, 33.33, "a"),
        (3, -7.0, "a"),
        (3, 0.03, "a"),
        (4, -0.01, "b"),
        (4, -0.01, "b"),
        (4, -0.02, "b"),
        (5, None, "b"),
    ]
)
@SET
def test_daily_centi_means_matches_integer_replay(spark, evs):
    """`_daily_centi_means`, the daily-mean builder shared by the sax,
    dtw, hurst, matrix-profile, pacf, bollinger and v-optimal plans,
    against integer arithmetic: floor(v*100 + 0.5) per non-NULL row,
    then floor(s*10000/n + 0.5) per day as an exact integer division.
    Days and types without a non-NULL value have no row."""
    from stream_processing_system_spark.plans.analytics import _daily_centi_means

    base = datetime.date(2024, 3, 1)
    got = {
        (r["event_type"], (r["day"] - base).days): r["dm"]
        for r in _daily_centi_means(_frame(spark, evs)).collect()
    }
    acc: dict[tuple, list] = {}
    for d, v, t in evs:
        if v is not None:
            acc.setdefault((t, d), []).append(math.floor(v * 100 + 0.5))
    want = {
        k: (2 * sum(c) * 10000 + len(c)) // (2 * len(c)) for k, c in acc.items()
    }
    assert got == want


@given(evs=events_strategy)
@SET
def test_acf_matches_python(spark, tmp_path_factory, evs):
    from stream_processing_system_spark.plans.analytics import events_acf

    tmp = tmp_path_factory.mktemp("acf")
    sf = _write(spark, _frame(spark, evs), tmp)
    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in events_acf(spark, sf).collect()
    }
    daily = _daily_whole(evs)
    want = {}
    for t in {t for _, _, t in evs}:
        series = {d: x for (tt, d), x in daily.items() if tt == t}
        for lag in range(1, 8):
            pairs = [(series[d], series[d + lag]) for d in series if d + lag in series]
            n = len(pairs)
            if n == 0:
                continue
            sa = sum(a for a, _ in pairs)
            sb = sum(b for _, b in pairs)
            saa = sum(a * a for a, _ in pairs)
            sbb = sum(b * b for _, b in pairs)
            sab = sum(a * b for a, b in pairs)
            da, db = n * saa - sa * sa, n * sbb - sb * sb
            if float(da) <= 0 or float(db) <= 0:
                continue
            acf = float(n * sab - sa * sb) / (math.sqrt(float(da)) * math.sqrt(float(db)))
            want[(t, lag)] = (n, math.floor(acf * 1e6 + 0.5) / 1e6)
    assert set(got) == set(want)
    for k, (n, a) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - a) < 1e-9


@given(evs=events_strategy)
@SET
def test_burstiness_matches_python(spark, tmp_path_factory, evs):
    from stream_processing_system_spark.plans.analytics import events_burstiness

    tmp = tmp_path_factory.mktemp("burst")
    sf = _write(spark, _frame(spark, evs), tmp)
    rows = events_burstiness(spark, sf).collect()
    base = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
    stamps = sorted(
        (
            int((base + datetime.timedelta(days=d, hours=i % 24)).timestamp()),
            i,
        )
        for i, (d, v, t) in enumerate(evs)
    )
    gaps = [b[0] - a[0] for a, b in zip(stamps, stamps[1:])]
    n = len(gaps)
    if n < 10:
        assert rows == []
        return
    (r,) = rows
    s1, s2 = sum(gaps), sum(g * g for g in gaps)
    mean = float(s1) / float(n)
    sd = math.sqrt(float(n * s2 - s1 * s1) / (float(n) * (float(n) - 1.0)))
    assert r["n_gaps"] == n
    assert abs(r["mean_gap_s"] - math.floor(mean * 1e6 + 0.5) / 1e6) < 1e-9
    want_b = math.floor((sd - mean) / (sd + mean) * 1e6 + 0.5) / 1e6
    assert abs(r["burstiness"] - want_b) < 1e-9


@given(evs=events_strategy)
@SET
def test_seasonal_wape_matches_python(spark, tmp_path_factory, evs):
    from stream_processing_system_spark.plans.analytics import events_seasonal_wape

    tmp = tmp_path_factory.mktemp("wape")
    sf = _write(spark, _frame(spark, evs), tmp)
    got = {
        r["event_type"]: (r["n_days"], r["wape"])
        for r in events_seasonal_wape(spark, sf).collect()
    }
    daily = _daily_whole(evs)
    want = {}
    for t in {t for _, _, t in evs}:
        series = {d: x for (tt, d), x in daily.items() if tt == t}
        pairs = [(series[d], series[d - 7]) for d in series if d - 7 in series]
        if not pairs or sum(a for a, _ in pairs) <= 0:
            continue
        ae = sum(abs(a - f) for a, f in pairs)
        want[t] = (
            len(pairs),
            math.floor(float(ae) / float(sum(a for a, _ in pairs)) * 1e6 + 0.5) / 1e6,
        )
    assert set(got) == set(want)
    for t, (n, w) in want.items():
        assert got[t][0] == n
        assert abs(got[t][1] - w) < 1e-9


def _frame_jan(spark, tmp_events):
    """Like _frame but anchored at 2024-01-01 so day offsets 0..30
    straddle the drift queries' 2024-01-16 half cutoff."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=d, hours=i % 24), 1, t, v, "{}")
        for i, (d, v, t) in enumerate(tmp_events)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


drift_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.floats(min_value=-900, max_value=900, allow_nan=False),
        st.sampled_from(["a", "b"]),
    ),
    min_size=2,
    max_size=50,
)


@given(evs=drift_events)
@SET
def test_psi_matches_python(spark, tmp_path_factory, evs):
    from stream_processing_system_spark.plans.analytics import events_psi_drift

    tmp = tmp_path_factory.mktemp("psi")
    sf = _write(spark, _frame_jan(spark, evs), tmp)
    got = {
        r["event_type"]: (r["n_bands"], r["psi"])
        for r in events_psi_drift(spark, sf).collect()
    }
    # python ref: band = floor(v/200); halves split at day offset 15
    want = {}
    for t in {t for _, _, t in evs}:
        cells: dict[int, list] = {}
        for d, v, tt in evs:
            if tt != t:
                continue
            b = math.floor(v / 200)
            cells.setdefault(b, [0, 0])[1 if d >= 15 else 0] += 1
        kept = {b: c for b, c in cells.items() if c[0] > 0 and c[1] > 0}
        if not kept:
            continue
        n1 = sum(c[0] for c in kept.values())
        n2 = sum(c[1] for c in kept.values())
        tsum = 0
        for c in kept.values():
            p, q = c[0] / n1, c[1] / n2
            tsum += math.floor((q - p) * math.log(q / p) * 1e9 + 0.5)
        want[t] = (len(kept), math.floor(tsum / 1e9 * 1e6 + 0.5) / 1e6)
    assert set(got) == set(want)
    for t, (nb, psi) in want.items():
        assert got[t][0] == nb
        assert abs(got[t][1] - psi) < 1e-9


@given(evs=drift_events)
@SET
def test_jsd_matches_python(spark, tmp_path_factory, evs):
    from stream_processing_system_spark.plans.analytics import events_type_jsd

    tmp = tmp_path_factory.mktemp("jsd")
    sf = _write(spark, _frame_jan(spark, evs), tmp)
    (row,) = events_type_jsd(spark, sf).collect()
    cells: dict[str, list] = {}
    for d, v, t in evs:
        cells.setdefault(t, [0, 0])[1 if d >= 15 else 0] += 1
    n1 = sum(c[0] for c in cells.values())
    n2 = sum(c[1] for c in cells.values())
    tsum = 0
    for c in cells.values():
        p = c[0] / n1 if n1 else 0.0
        q = c[1] / n2 if n2 else 0.0
        m = (p + q) / 2.0
        kl = 0.0
        if c[0] > 0:
            kl += p * math.log2(p / m)
        if c[1] > 0:
            kl += q * math.log2(q / m)
        tsum += math.floor(kl / 2.0 * 1e9 + 0.5)
    want = math.floor(tsum / 1e9 * 1e6 + 0.5) / 1e6
    assert row["n_types"] == len(cells)
    assert abs(row["jsd_bits"] - want) < 1e-9

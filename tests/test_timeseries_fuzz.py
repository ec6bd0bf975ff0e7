"""Differential fuzz for the time-series analytics: the Spark plans
vs independent pure-Python implementations on randomized event
frames and daily series (a third implementation besides the DuckDB oracle — catches
shared misreadings of the spec)."""

from __future__ import annotations

import pytest

import datetime
import math
from collections import Counter

from hypothesis import example, given
from hypothesis import strategies as st
from pyspark.sql import functions as F  # noqa: F401

from tests.helpers import EVENTS_SCHEMA, FUZZ, daily_series, py_det_round


#: slow tier (round 10, VERDICT r9 item 7): independent replay /
#: property / soak coverage, excluded from the default run so the
#: driver's verify window fits; run with `pytest -m slow`.
pytestmark = pytest.mark.slow

EPOCH = datetime.date(1970, 1, 1)

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
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


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
@FUZZ
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
@FUZZ
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
@FUZZ
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
@FUZZ
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
@FUZZ
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
@FUZZ
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
@FUZZ
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
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


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
@FUZZ
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
@FUZZ
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


# --- day-grain trend / rank / drift statistics ------------------


def _mk_replay(series):
    n = len(series)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            d = series[j] - series[i]
            s += (d > 0) - (d < 0)
    ties = sum(t * (t - 1) * (2 * t + 5) for t in Counter(series).values())
    var_s = (
        float(n) * (float(n) - 1.0) * (2.0 * float(n) + 5.0) - float(ties)
    ) / 18.0
    if var_s > 0.0:
        if s > 0:
            z = (float(s) - 1.0) / math.sqrt(var_s)
        elif s < 0:
            z = (float(s) + 1.0) / math.sqrt(var_s)
        else:
            z = 0.0
    else:
        z = None
    if z is not None and z > 1.96:
        trend = "increasing"
    elif z is not None and z < -1.96:
        trend = "decreasing"
    else:
        trend = "no_trend"
    return n, s, py_det_round(var_s), py_det_round(z), trend


def _kw_replay(series):
    days = [
        datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        for i in range(len(series))
    ]
    dows = [(d - EPOCH).days % 7 for d in days]
    cnt = Counter(series)
    dr = {}
    for v in cnt:
        cb = sum(t for u, t in cnt.items() if u < v)
        dr[v] = 2 * cb + cnt[v] + 1
    groups = {}
    for dow, x in zip(dows, series):
        ng, s2g = groups.get(dow, (0, 0))
        groups[dow] = (ng + 1, s2g + dr[x])
    tsum = sum(
        math.floor(float(s2g * s2g) / (4.0 * float(ng)) * 1e6 + 0.5)
        for ng, s2g in groups.values()
    )
    n, k = float(len(series)), float(len(groups))
    ties = sum(t * t * t - t for t in cnt.values())
    h = 12.0 / (n * (n + 1.0)) * (float(tsum) / 1e6) - 3.0 * (n + 1.0)
    c = 1.0 - float(ties) / (n * n * n - n)
    h_corr = h / c if c > 0.0 else None
    eps2 = (h - k + 1.0) / (n - k) if n > k else None
    return int(n), int(k), py_det_round(h), py_det_round(h_corr), py_det_round(eps2)


def _ph_replay(series):
    days = [
        datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        for i in range(len(series))
    ]
    s = t = m = 0
    mn = None
    ph = []
    for x in series:
        t += 1
        s += x
        m += math.floor((float(x) - float(s) / float(t)) * 1e6 + 0.5)
        mn = m if mn is None else min(mn, m)
        ph.append(m - mn)
    n = float(len(series))
    sx, sxx = float(sum(series)), float(sum(x * x for x in series))
    mean = sx / n
    var = max(sxx / n - mean * mean, 0.0)
    lam = 5.0 * math.sqrt(var)
    maxph = max(ph)
    ph_max_day = str(days[ph.index(maxph)])
    alarm_day = None
    for d, p in zip(days, ph):
        if float(p) / 1e6 > lam:
            alarm_day = str(d)
            break
    return (
        len(series),
        math.floor(float(maxph) / 1e6 * 1e6 + 0.5) / 1e6,
        ph_max_day,
        alarm_day,
        py_det_round(lam),
    )


def _ar2_replay(series):
    from stream_processing_system_spark.plans.analytics import (  # noqa: F401
        ar2_yule_walker_from_daily,
    )

    n = len(series)
    s = sum(series)
    nx = [n * x - s for x in series]
    c0 = sum(v * v for v in nx)
    c1 = sum(nx[i] * nx[i + 1] for i in range(n - 1))
    c2 = sum(nx[i] * nx[i + 2] for i in range(n - 2))
    if float(c0) > 0.0:
        r1, r2 = float(c1) / float(c0), float(c2) / float(c0)
    else:
        r1 = r2 = None
    phi1 = phi2 = None
    if r1 is not None and 1.0 - r1 * r1 != 0.0:
        phi1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
        phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    mean = float(s) / float(n)
    fc = sig = None
    if phi1 is not None:
        fc = (
            mean
            + phi1 * (float(series[-1]) - mean)
            + phi2 * (float(series[-2]) - mean)
        )
        sig = 1.0 - phi1 * r1 - phi2 * r2
    return tuple(py_det_round(v) for v in (r1, r2, phi1, phi2, sig, fc))


#: small integer series with deliberate tie mass; 3..16 days
series_strategy = st.lists(
    st.integers(min_value=-5, max_value=8), min_size=3, max_size=16
)


@given(series=series_strategy)
@FUZZ
def test_fuzz_mann_kendall(spark, series):
    from stream_processing_system_spark.plans.analytics import (
        mann_kendall_from_daily,
    )

    out = mann_kendall_from_daily(daily_series(spark, series)).collect()[0]
    n, s, var_s, z, trend = _mk_replay(series)
    assert (out["n_days"], out["s_stat"]) == (n, s)
    assert out["var_s"] == var_s
    assert out["z_score"] == z
    assert out["trend"] == trend


@given(series=series_strategy)
@FUZZ
def test_fuzz_kruskal_wallis(spark, series):
    from stream_processing_system_spark.plans.analytics import (
        kruskal_wallis_from_daily,
    )

    out = kruskal_wallis_from_daily(
        daily_series(spark, series)
    ).collect()[0]
    n, k, h, h_corr, eps2 = _kw_replay(series)
    assert (out["n_days"], out["n_groups"]) == (n, k)
    assert out["h_stat"] == h
    assert out["h_corrected"] == h_corr
    assert out["epsilon_sq"] == eps2


@given(series=series_strategy)
@FUZZ
def test_fuzz_page_hinkley(spark, series):
    from stream_processing_system_spark.plans.analytics import (
        page_hinkley_from_daily,
    )

    out = page_hinkley_from_daily(daily_series(spark, series)).collect()[0]
    n, ph_max, ph_max_day, alarm_day, threshold = _ph_replay(series)
    assert out["n_days"] == n
    assert out["ph_max"] == ph_max
    assert out["ph_max_day"] == ph_max_day
    assert out["alarm_day"] == alarm_day
    assert out["threshold"] == threshold


@given(series=series_strategy)
@FUZZ
def test_fuzz_ar2(spark, series):
    from stream_processing_system_spark.plans.analytics import (
        ar2_yule_walker_from_daily,
    )

    out = ar2_yule_walker_from_daily(
        daily_series(spark, series)
    ).collect()[0]
    r1, r2, phi1, phi2, sig, fc = _ar2_replay(series)
    assert out["r1"] == r1
    assert out["r2"] == r2
    assert out["phi1"] == phi1
    assert out["phi2"] == phi2
    assert out["innov_ratio"] == sig
    assert out["forecast_next"] == fc


@given(series=series_strategy)
@FUZZ
def test_fuzz_dispersion(spark, series):
    import math

    from stream_processing_system_spark.plans.analytics import (
        dispersion_index_from_daily,
    )

    counts = [abs(v) + 1 for v in series]  # daily counts are >= 1
    daily = spark.createDataFrame(
        [
            ("a", datetime.date(2024, 1, 1) + datetime.timedelta(days=i), int(c))
            for i, c in enumerate(counts)
        ],
        "event_type string, day date, c long",
    )
    out = dispersion_index_from_daily(daily).collect()[0]
    n = float(len(counts))
    sc, scc = float(sum(counts)), float(sum(c * c for c in counts))
    mean = sc / n
    s2 = (scc - sc * sc / n) / (n - 1.0)
    disp = s2 / mean if mean > 0.0 else None
    assert out["mean_daily"] == py_det_round(mean)
    assert out["var_daily"] == py_det_round(s2)
    assert out["dispersion"] == py_det_round(disp)
    if disp is not None:
        z = (disp - 1.0) * math.sqrt((n - 1.0) / 2.0)
        assert out["z_score"] == py_det_round(z)


@given(series=series_strategy)
@FUZZ
def test_fuzz_welch(spark, series):
    import math

    from stream_processing_system_spark.plans.analytics import (
        welch_ttest_from_daily,
    )

    out = welch_ttest_from_daily(daily_series(spark, series)).collect()[0]
    wk, wd = [], []
    for i, v in enumerate(series):
        (wk if (19723 + i) % 7 in (2, 3) else wd).append(v)
    n1, n2 = len(wk), len(wd)
    assert out["n_weekend"] == n1
    assert out["n_weekday"] == n2
    if n1 > 1 and n2 > 1:
        s1, s2_ = float(sum(wk)), float(sum(wd))
        q1, q2 = float(sum(v * v for v in wk)), float(
            sum(v * v for v in wd)
        )
        v1 = (q1 - s1 * s1 / n1) / (n1 - 1.0)
        v2 = (q2 - s2_ * s2_ / n2) / (n2 - 1.0)
        se2 = v1 / n1 + v2 / n2
        if se2 > 0.0:
            t = (s1 / n1 - s2_ / n2) / math.sqrt(se2)
            assert out["t_stat"] == py_det_round(t)
        else:
            assert out["t_stat"] is None

"""Differential fuzz for the two-sample, k-sample and rank tests and
the distribution fits: Spark plans vs pure-Python replays on
randomized tie-heavy inputs, a third implementation besides the
DuckDB oracle. Cliff's delta, Jonckheere–Terpstra and Somers' D
replay as honest O(n²) pairwise loops (independent of the plans'
cumulative / dense-grid devices); Anderson–Darling, the variance
ratio and Theil's U replay the exact integer devices term-for-term
(their cross-cell sums are integer-grid exact, so equality is
bitwise)."""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os

import pytest
from hypothesis import given
from hypothesis import strategies as st

from stream_processing_system_spark.sources.scratch import scratch
from tests.helpers import FUZZ, py_det_round, write_events

#: slow tier: independent replay coverage, excluded from the default
#: run; run with `pytest -m slow`.
pytestmark = pytest.mark.slow

_FIRST = dt.datetime(2024, 1, 10, 12)
_SECOND = dt.datetime(2024, 1, 20, 12)


# --- Anderson–Darling --------------------------------------------


def _ad_replay(cents_a, cents_b):
    na, nb = len(cents_a), len(cents_b)
    if na == 0 or nb == 0:
        return None
    grid = sorted(set(cents_a) | set(cents_b))
    cuma = cumb = 0
    s = 0
    for v in grid:
        cuma += cents_a.count(v)
        cumb += cents_b.count(v)
        t = cents_a.count(v) + cents_b.count(v)
        ct = cuma + cumb
        if ct >= na + nb:
            continue
        gapd = float(cuma * nb - cumb * na)
        term = (
            float(t) * gapd * gapd
            / (float(na) * float(nb) * float(ct)
               * (float(na) + float(nb) - float(ct)))
        )
        s += math.floor(term * 1e9 + 0.5)
    return py_det_round(float(s) / 1e9)


cents = st.lists(st.integers(min_value=-3, max_value=5), max_size=12)


@given(a=cents, b=cents)
@FUZZ
def test_fuzz_anderson_darling(spark, a, b):
    from stream_processing_system_spark.plans.analytics import (
        events_anderson_darling,
    )

    rows = [
        (i, _FIRST, 1, "t", c / 100.0, "{}") for i, c in enumerate(a)
    ] + [
        (1000 + i, _SECOND, 1, "t", c / 100.0, "{}")
        for i, c in enumerate(b)
    ]
    if not rows:
        return
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_anderson_darling(spark, sf).collect()
        want = _ad_replay(a, b)
        if want is None:
            assert out == []
        else:
            assert out[0]["ad_a2"] == want
            assert (out[0]["n_first"], out[0]["n_second"]) == (
                len(a),
                len(b),
            )


# --- Cliff's delta (honest O(n²) pairwise) -----------------------


@given(a=cents, b=cents)
@FUZZ
def test_fuzz_cliffs_delta(spark, a, b):
    from stream_processing_system_spark.plans.analytics import (
        events_cliffs_delta,
    )

    rows = [
        (i, _FIRST, 1, "t", c / 100.0, "{}") for i, c in enumerate(a)
    ] + [
        (1000 + i, _SECOND, 1, "t", c / 100.0, "{}")
        for i, c in enumerate(b)
    ]
    if not rows:
        return
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_cliffs_delta(spark, sf).collect()
        if not a or not b:
            assert out == []
            return
        gt = sum(1 for x in a for y in b if x > y)
        lt = sum(1 for x in a for y in b if x < y)
        want = py_det_round(
            float(gt - lt) / (float(len(a)) * float(len(b)))
        )
        assert out[0]["cliffs_delta"] == want


# --- Variance ratio (exact integer-device replay) ----------------


daily_counts = st.lists(
    st.integers(min_value=1, max_value=4), min_size=1, max_size=12
)


@given(counts=daily_counts)
@FUZZ
def test_fuzz_variance_ratio(spark, counts):
    from stream_processing_system_spark.plans.analytics import (
        events_variance_ratio,
    )

    k = 5
    rows = []
    eid = 0
    for d, c in enumerate(counts):
        ts = dt.datetime(2024, 1, 2) + dt.timedelta(days=d)
        for _ in range(c):
            rows.append((eid, ts, 1, "t", 1.0, "{}"))
            eid += 1
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_variance_ratio(spark, sf).collect()
        t_days = len(counts)
        s = sum(counts)
        x = list(itertools.accumulate(counts))
        ss1 = sum((t_days * c - s) ** 2 for c in counts)
        ys = [x[i] - x[i - k] for i in range(k, t_days)]
        ssk = sum((t_days * y - k * s) ** 2 for y in ys)
        m = len(ys)
        assert out[0]["n_days"] == t_days
        if m == 0:
            assert out[0]["n_k_windows"] is None
            assert out[0]["vr_k5"] is None
        else:
            assert out[0]["n_k_windows"] == m
            if m > 1 and ss1 > 0:
                want = py_det_round(
                    float(ssk) * (float(t_days) - 1.0)
                    / (float(k) * (float(m) - 1.0) * float(ss1))
                )
                assert out[0]["vr_k5"] == want
            else:
                assert out[0]["vr_k5"] is None


# --- Jonckheere–Terpstra (honest O(n²) pairwise) -----------------


obs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # daypart
        st.integers(min_value=-2, max_value=3),  # cent value
    ),
    min_size=1,
    max_size=14,
)


@given(data=obs)
@FUZZ
def test_fuzz_jonckheere(spark, data):
    from stream_processing_system_spark.plans.analytics import (
        events_daypart_jonckheere,
    )

    rows = [
        (i, dt.datetime(2024, 1, 10, g * 6, 30), 1, "t", v / 100.0, "{}")
        for i, (g, v) in enumerate(data)
    ]
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_daypart_jonckheere(spark, sf).collect()
        jt2 = 0
        for (g1, v1), (g2, v2) in itertools.permutations(data, 2):
            if g1 < g2:
                if v1 < v2:
                    jt2 += 2
                elif v1 == v2:
                    jt2 += 1
        n = len(data)
        sizes = [sum(1 for g, _ in data if g == gg) for gg in range(4)]
        mu4 = n * n - sum(ng * ng for ng in sizes)
        var72 = n * n * (2 * n + 3) - sum(
            ng * ng * (2 * ng + 3) for ng in sizes
        )
        assert out[0]["n_events"] == n
        assert out[0]["jt2"] == jt2
        if var72 > 0:
            want = py_det_round(
                float(2 * jt2 - mu4)
                / (4.0 * math.sqrt(float(var72) / 72.0))
            )
            assert out[0]["jt_z"] == want
        else:
            assert out[0]["jt_z"] is None


# --- Brown–Forsythe (honest replay: sorted-list median) ----------


bf_obs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # daypart
        st.integers(min_value=-2, max_value=3),  # cent value
    ),
    min_size=4,
    max_size=16,
)


@given(data=bf_obs)
@FUZZ
def test_fuzz_brown_forsythe(spark, data):
    from stream_processing_system_spark.plans.analytics import (
        events_brown_forsythe,
    )

    rows = [
        (i, dt.datetime(2024, 1, 10, g * 6, 30), 1, "t", v / 100.0, "{}")
        for i, (g, v) in enumerate(data)
    ]
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_brown_forsythe(spark, sf).collect()
        groups = {}
        for g, v in data:
            groups.setdefault(g, []).append(v)
        # lower median: smallest v with 2*(# <= v) >= n
        devs = {}
        for g, vs in groups.items():
            vs.sort()
            med = vs[(len(vs) + 1) // 2 - 1]
            devs[g] = [abs(v - med) for v in vs]
        k = len(devs)
        n = sum(len(d) for d in devs.values())
        if k <= 1 or n - k <= 0:
            assert out == []
            return
        # mean-grid device (round-9 fix): quantize the group MEAN
        # deviation onto the 1e-6 grid, then t = ng * m6^2 exactly
        tsum = sum(
            len(d)
            * math.floor(float(sum(d)) / float(len(d)) * 1e6 + 0.5)
            ** 2
            for d in devs.values()
        )
        s = sum(sum(d) for d in devs.values())
        q = sum(x * x for d in devs.values() for x in d)
        between_raw = float(tsum) / 1e12
        ssb = between_raw - float(s * s) / float(n)
        ssw = float(q) - between_raw
        if not ssw > 0:
            assert out == []
            return
        want = py_det_round(
            (ssb / (float(k) - 1.0)) / (ssw / (float(n) - float(k)))
        )
        assert len(out) == 1
        assert out[0]["n_events"] == n
        assert out[0]["n_groups"] == k
        assert out[0]["bf_f"] == want


# --- Friedman (honest replay: position-sum doubled midranks) -----


blocks = st.lists(
    st.lists(
        st.integers(min_value=0, max_value=3), min_size=3, max_size=3
    ),
    min_size=2,
    max_size=8,
)


@given(data=blocks)
@FUZZ
def test_fuzz_friedman(spark, data):
    """data: per-day counts for exactly 3 types. Replay computes
    doubled midranks from sorted POSITIONS (first+last index + 2),
    independent of the plan's RANK/COUNT window device."""
    from stream_processing_system_spark.plans.analytics import (
        events_friedman_type_ranks,
    )

    # a day with zero events for EVERY type does not exist in the
    # events table at all — the plan (and oracle) see only observed
    # days, so drop such rows from the replay's block list too
    data = [cs for cs in data if any(cs)]
    if len(data) < 2:
        return
    types = ["a", "b", "c"]
    rows = []
    eid = 0
    for d, counts in enumerate(data):
        ts = dt.datetime(2024, 1, 2) + dt.timedelta(days=d)
        for t, c in zip(types, counts):
            for _ in range(c):
                rows.append((eid, ts, 1, t, 1.0, "{}"))
                eid += 1
    # at least one event per type overall so all 3 types register
    if not all(any(cs[j] for cs in data) for j in range(3)):
        return
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_friedman_type_ranks(spark, sf).collect()
        n = len(data)
        k = 3
        r2 = {t: 0 for t in types}
        a4 = 0
        for counts in data:
            order = sorted(range(k), key=lambda j: counts[j])
            pos = {}
            for idx, j in enumerate(order):
                pos.setdefault(counts[j], []).append(idx)
            for j in range(k):
                idxs = pos[counts[j]]
                dbl = idxs[0] + idxs[-1] + 2
                r2[types[j]] += dbl
                a4 += dbl * dbl
        num4 = sum((r2[t] - n * (k + 1)) ** 2 for t in types)
        den4 = a4 - n * k * (k + 1) ** 2
        assert out[0]["n_days"] == n
        assert out[0]["n_types"] == k
        if den4 > 0:
            want = py_det_round(
                (float(k) - 1.0) * float(num4) / float(den4)
            )
            assert out[0]["friedman_chi2"] == want
        else:
            assert out[0]["friedman_chi2"] is None


# --- Somers' D (honest O(n²) pairwise) ---------------------------


orders_obs = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),  # priority
        st.integers(min_value=0, max_value=3),  # price band index
    ),
    min_size=1,
    max_size=16,
)


@given(data=orders_obs)
@FUZZ
def test_fuzz_somers_d(spark, data):
    from stream_processing_system_spark.plans.analytics import (
        orders_somers_d,
    )

    df = spark.createDataFrame(
        [
            (f"{p}-URGENT", band * 50000.0 + 10000.0)
            for p, band in data
        ],
        "o_orderpriority string, o_totalprice double",
    )
    with scratch("fuzz") as sf:
        df.write.mode("overwrite").parquet(os.path.join(sf, "orders.parquet"))
        out = orders_somers_d(spark, sf).collect()
        c = d = ty = 0
        for (p1, b1), (p2, b2) in itertools.permutations(data, 2):
            if p1 < p2:
                if b2 > b1:
                    c += 1
                elif b2 < b1:
                    d += 1
                else:
                    ty += 1
        assert out[0]["n_orders"] == len(data)
        assert (out[0]["concordant"], out[0]["discordant"]) == (c, d)
        assert out[0]["ties_band"] == ty
        if c + d + ty > 0:
            want = py_det_round(float(c - d) / float(c + d + ty))
            assert out[0]["somers_d"] == want
        else:
            assert out[0]["somers_d"] is None


# --- Weibull gap fit (device replay on constructed gaps) ---------


gap_lists = st.lists(
    st.integers(min_value=1, max_value=20), min_size=2, max_size=14
)


@given(gaps=gap_lists)
@FUZZ
def test_fuzz_gap_weibull(spark, gaps):
    """One user, events spaced exactly `gaps` minutes apart; replay
    mirrors the midrank/Bernard/OLS device."""
    from stream_processing_system_spark.plans.analytics import (
        user_gap_weibull,
    )

    rows = []
    t = dt.datetime(2024, 1, 2)
    rows.append((0, t, 1, "t", 1.0, "{}"))
    for i, g in enumerate(gaps):
        t = t + dt.timedelta(minutes=g)
        rows.append((i + 1, t, 1, "t", 1.0, "{}"))
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = user_gap_weibull(spark, sf).collect()
        from collections import Counter

        cnt = Counter(gaps)
        n = len(gaps)
        pts = []
        cumb = 0
        for tv in sorted(cnt):
            c = cnt[tv]
            md2 = 2 * cumb + c + 1
            fr = (float(md2) / 2.0 - 0.3) / (float(n) + 0.4)
            x = math.floor(math.log(float(tv)) * 1e9 + 0.5)
            y = math.floor(
                math.log(-math.log(1.0 - fr)) * 1e9 + 0.5
            )
            pts.append((c, x, y))
            cumb += c
        w = sum(c for c, _, _ in pts)
        sx = sum(c * x for c, x, _ in pts)
        sy = sum(c * y for c, _, y in pts)
        sxx = sum(c * x * x for c, x, _ in pts)
        sxy = sum(c * x * y for c, x, y in pts)
        den = float(w * sxx - sx * sx)
        assert out[0]["n_gaps"] == n
        if len(pts) > 1 and den > 0:
            k_hat = float(w * sxy - sx * sy) / den
            b_hat = (float(sy) - k_hat * float(sx)) / (
                float(w) * 1e9
            )
            assert out[0]["shape"] == py_det_round(k_hat)
            assert out[0]["scale_minutes"] == py_det_round(
                math.exp(-b_hat / k_hat)
            )
        else:
            assert out[0]["shape"] is None
            assert out[0]["scale_minutes"] is None


# --- Gamma MoM fit (honest replay) -------------------------------


lat_lists = st.lists(
    st.integers(min_value=0, max_value=30), min_size=1, max_size=14
)


@given(lats=lat_lists)
@FUZZ
def test_fuzz_fulfillment_gamma(spark, lats):
    """One priority class; orders 1:1 with lineitems at the given
    order-to-ship day latencies."""
    import datetime

    from stream_processing_system_spark.plans.analytics import (
        orders_fulfillment_gamma,
    )

    base = datetime.date(2024, 1, 2)
    odf = spark.createDataFrame(
        [(i, base, "3-MEDIUM") for i in range(len(lats))],
        "o_orderkey long, o_orderdate date, o_orderpriority string",
    )
    ldf = spark.createDataFrame(
        [
            (i, base + datetime.timedelta(days=d))
            for i, d in enumerate(lats)
        ],
        "l_orderkey long, l_shipdate date",
    )
    with scratch("fuzz") as sf:
        odf.write.mode("overwrite").parquet(os.path.join(sf, "orders.parquet"))
        ldf.write.mode("overwrite").parquet(
            os.path.join(sf, "lineitem.parquet")
        )
        out = orders_fulfillment_gamma(spark, sf).collect()
        n = len(lats)
        s = sum(lats)
        q = sum(d * d for d in lats)
        var_num = n * q - s * s
        assert out[0]["n_items"] == n
        assert out[0]["mean_days"] == py_det_round(float(s) / float(n))
        if n > 1 and var_num > 0:
            mean = float(s) / float(n)
            var = float(var_num) / (float(n) * (float(n) - 1.0))
            assert out[0]["shape"] == py_det_round(mean * mean / var)
            assert out[0]["scale_days"] == py_det_round(var / mean)
        else:
            assert out[0]["shape"] is None
            assert out[0]["scale_days"] is None


# --- Mood's median test (honest replay over raw observations) ----


def _mood_replay(a, b):
    na, nb = len(a), len(b)
    if na == 0 or nb == 0:
        return None
    pooled = sorted(a + b)
    n = na + nb
    cum = 0
    med = None
    for v in sorted(set(pooled)):
        cum += pooled.count(v)
        if 2 * cum >= n:
            med = v
            break
    above_a = sum(1 for x in a if x > med)
    above_b = sum(1 for x in b if x > med)
    c_, d_ = na - above_a, nb - above_b
    if above_a + above_b == 0 or c_ + d_ == 0:
        return None
    diff = above_a * d_ - above_b * c_
    chi2 = float(n * diff * diff) / float(
        na * nb * (above_a + above_b) * (c_ + d_)
    )
    return med, above_a + above_b, py_det_round(chi2)


@given(a=cents, b=cents)
@FUZZ
def test_fuzz_mood_median(spark, a, b):
    from stream_processing_system_spark.plans.analytics import (
        events_mood_median,
    )

    rows = [
        (i, _FIRST, 1, "t", c / 100.0, "{}") for i, c in enumerate(a)
    ] + [
        (1000 + i, _SECOND, 1, "t", c / 100.0, "{}")
        for i, c in enumerate(b)
    ]
    if not rows:
        return
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_mood_median(spark, sf).collect()
        want = _mood_replay(a, b)
        if want is None:
            assert out == []
        else:
            med, n_above, chi2 = want
            assert out[0]["median_cents"] == med
            assert out[0]["n_above"] == n_above
            assert out[0]["mood_chi2"] == chi2
            assert (out[0]["n_first"], out[0]["n_second"]) == (
                len(a),
                len(b),
            )


# --- Page's L trend test (honest rank replay per day block) ------


def _page_replay(obs):
    """obs: list of (day 0-3, part 0-3). Returns (n_days, L, z)."""
    days = sorted({d for d, _ in obs})
    if not days:
        return None
    l2 = 0
    for d in days:
        cells = [
            sum(1 for dd, g in obs if dd == d and g == j)
            for j in range(4)
        ]
        for j, c in enumerate(cells):
            smaller = sum(1 for c2 in cells if c2 < c)
            tied = sum(1 for c2 in cells if c2 == c)
            r2 = 2 * smaller + tied + 1
            l2 += (j + 1) * r2
    n = len(days)
    page_l = float(l2) / 2.0
    z = (page_l - 25.0 * float(n)) / math.sqrt(25.0 * float(n) / 3.0)
    return n, page_l, py_det_round(z)


daypart_obs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=1,
    max_size=30,
)


@given(obs=daypart_obs)
@FUZZ
def test_fuzz_page_trend(spark, obs):
    from stream_processing_system_spark.plans.analytics import (
        events_page_trend,
    )

    rows = [
        (i, dt.datetime(2024, 1, 10 + d, 6 * g, 30), 1, "t", 1.0, "{}")
        for i, (d, g) in enumerate(obs)
    ]
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_page_trend(spark, sf).collect()
        n, page_l, z = _page_replay(obs)
        assert out[0]["n_days"] == n
        assert out[0]["page_l"] == page_l
        assert out[0]["page_z"] == z


# --- Theil's U (grid replay term-for-term) -----------------------


def _theil_replay(obs):
    """obs: list of (type, part). Returns (n, mi, u_rows, u_cols)."""
    if not obs:
        return None
    cells = {}
    for t, g in obs:
        cells[(t, g)] = cells.get((t, g), 0) + 1
    ct = {}
    cg = {}
    for (t, g), c in cells.items():
        ct[t] = ct.get(t, 0) + c
        cg[g] = cg.get(g, 0) + c
    n = len(obs)
    si = sum(
        math.floor(
            float(c)
            * (
                math.log(float(c))
                + math.log(float(n))
                - math.log(float(ct[t]))
                - math.log(float(cg[g]))
            )
            * 1e9
            + 0.5
        )
        for (t, g), c in cells.items()
    )
    sh_ct = sum(
        math.floor(
            float(m) * (math.log(float(n)) - math.log(float(m))) * 1e9
            + 0.5
        )
        for m in ct.values()
    )
    sh_cg = sum(
        math.floor(
            float(m) * (math.log(float(n)) - math.log(float(m))) * 1e9
            + 0.5
        )
        for m in cg.values()
    )
    mi = py_det_round(float(si) / 1e9 / float(n))
    u_rows = (
        py_det_round(float(si) / float(sh_ct)) if sh_ct > 0 else None
    )
    u_cols = (
        py_det_round(float(si) / float(sh_cg)) if sh_cg > 0 else None
    )
    return n, mi, u_rows, u_cols


type_part_obs = st.lists(
    st.tuples(
        st.sampled_from(["x", "y", "z"]),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=1,
    max_size=30,
)


@given(obs=type_part_obs)
@FUZZ
def test_fuzz_theil_u(spark, obs):
    from stream_processing_system_spark.plans.analytics import (
        events_theil_u,
    )

    rows = [
        (i, dt.datetime(2024, 1, 10, 6 * g, 15), 1, t, 1.0, "{}")
        for i, (t, g) in enumerate(obs)
    ]
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_theil_u(spark, sf).collect()
        n, mi, u_rows, u_cols = _theil_replay(obs)
        assert out[0]["n_events"] == n
        assert out[0]["mi_nats"] == mi
        assert out[0]["u_type_given_daypart"] == u_rows
        assert out[0]["u_daypart_given_type"] == u_cols


# --- Ansari-Bradley (honest positional replay, no closed forms) --


def _ab_replay(a, b):
    na, nb = len(a), len(b)
    n = na + nb
    if na == 0 or nb == 0 or n <= 2:
        return None
    pooled = sorted(a + b)
    sab = 0
    k = 1
    for v in sorted(set(pooled)):
        t = pooled.count(v)
        ss = sum(min(kk, n + 1 - kk) for kk in range(k, k + t))
        ca = a.count(v)
        if ca:
            sab += math.floor(
                float(ca) * float(ss) / float(t) * 1e6 + 0.5
            )
        k += t
    ab = float(sab) / 1e6
    if n % 2 == 0:
        mu = float(na) * (float(n) + 2.0) / 4.0
        var = (
            float(na)
            * float(nb)
            * (float(n) + 2.0)
            * (float(n) - 2.0)
            / (48.0 * (float(n) - 1.0))
        )
    else:
        mu = (
            float(na)
            * (float(n) + 1.0)
            * (float(n) + 1.0)
            / (4.0 * float(n))
        )
        var = (
            float(na)
            * float(nb)
            * (float(n) + 1.0)
            * (3.0 + float(n) * float(n))
            / (48.0 * float(n) * float(n))
        )
    return py_det_round(ab), py_det_round((ab - mu) / math.sqrt(var))


@given(a=cents, b=cents)
@FUZZ
def test_fuzz_ansari_bradley(spark, a, b):
    from stream_processing_system_spark.plans.analytics import (
        events_ansari_bradley,
    )

    rows = [
        (i, _FIRST, 1, "t", c / 100.0, "{}") for i, c in enumerate(a)
    ] + [
        (1000 + i, _SECOND, 1, "t", c / 100.0, "{}")
        for i, c in enumerate(b)
    ]
    if not rows:
        return
    with scratch("fuzz") as sf:
        write_events(spark, rows, sf)
        out = events_ansari_bradley(spark, sf).collect()
        want = _ab_replay(a, b)
        if want is None:
            assert out == []
        else:
            ab, z = want
            assert out[0]["ab_stat"] == ab
            assert out[0]["ab_z"] == z
            assert (out[0]["n_first"], out[0]["n_second"]) == (
                len(a),
                len(b),
            )

"""Differential fuzz for the round-7 additions: Spark plans vs
pure-Python replays on randomized tie-heavy inputs — a third
implementation besides the DuckDB oracle, run BEFORE these queries
hit the round-8 driver window. Replays mirror the plans' exact
integer devices; the one float-terms query (Theil) compares its
integer moments exactly and its final index to 2e-6 (the grid step
absorbs libm last-ulp differences everywhere except a measure-zero
boundary that random inputs can land on)."""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import given
from hypothesis import strategies as st

from tests.helpers import FUZZ, py_det_round


# --- CvM ---------------------------------------------------------


def _cvm_replay(vals_a, vals_b):
    """Exact-integer CvM replay over cent grids."""
    na, nb = len(vals_a), len(vals_b)
    if na == 0 or nb == 0:
        return None
    grid = sorted(set(vals_a) | set(vals_b))
    cuma = cumb = 0
    s = 0
    for v in grid:
        ca = vals_a.count(v)
        cb = vals_b.count(v)
        cuma += ca
        cumb += cb
        gap = cuma * nb - cumb * na
        s += (ca + cb) * gap * gap
    n = float(na) + float(nb)
    return py_det_round(float(s) / (float(na) * float(nb) * n * n))


cents = st.lists(st.integers(min_value=-3, max_value=5), max_size=12)


@given(a=cents, b=cents)
@FUZZ
def test_fuzz_cvm(spark, a, b):
    from stream_processing_system_spark.plans.analytics import (
        cvm_from_cells,
    )

    grid = sorted(set(a) | set(b))
    cells = spark.createDataFrame(
        [("t", v, a.count(v), b.count(v)) for v in grid]
        or [("t", 0, 0, 0)],
        "event_type string, v long, ca long, cb long",
    )
    rows = cvm_from_cells(cells).collect()
    want = _cvm_replay(a, b)
    if want is None:
        assert rows == []
    else:
        assert rows[0]["cvm_t"] == want
        assert (rows[0]["n_first"], rows[0]["n_second"]) == (len(a), len(b))


# --- GK gamma ----------------------------------------------------


def _gamma_replay(cells):
    """cells: dict (pr, band) -> n."""
    items = list(cells.items())
    c = d = 0
    for (p1, b1), n1 in items:
        for (p2, b2), n2 in items:
            if p2 > p1:
                if b2 > b1:
                    c += n1 * n2
                elif b2 < b1:
                    d += n1 * n2
    gamma = py_det_round((c - d) / (c + d)) if c + d > 0 else None
    return c, d, gamma


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=30,
    )
)
@FUZZ
def test_fuzz_gk_gamma(spark, data, tmp_path_factory):
    import os

    from stream_processing_system_spark.plans.analytics import (
        orders_gk_gamma,
    )

    rows = [
        (i, 1, "O", float(b * 50000 + 1), dt.date(2024, 1, 1),
         f"{p}-X", "c", 0, "n")
        for i, (p, b) in enumerate(data)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date,"
        " o_orderpriority string, o_clerk string, o_shippriority int,"
        " o_comment string",
    )
    sf = str(tmp_path_factory.mktemp("gk"))
    df.write.mode("overwrite").parquet(os.path.join(sf, "orders.parquet"))
    out = orders_gk_gamma(spark, sf).collect()
    cells: dict = {}
    for p, b in data:
        cells[(p, b)] = cells.get((p, b), 0) + 1
    c, d, gamma = _gamma_replay(cells)
    assert len(out) == 1
    assert (out[0]["concordant"], out[0]["discordant"]) == (c, d)
    assert out[0]["gamma"] == gamma
    assert out[0]["n_orders"] == len(data)


# --- pinball -----------------------------------------------------


def _pinball_replay(train, ev):
    """train/ev: cent ints; returns (f50, f90, mp50, mp90)."""
    if not train or not ev:
        return None
    n = len(train)
    s = sorted(train)

    def pick(q):
        for i, v in enumerate(s, start=1):
            if i * 100 >= n * q:
                return v
        return s[-1]

    f50, f90 = pick(50), pick(90)
    l50x2 = sum(abs(y - f50) for y in ev)
    l90x10 = sum(9 * (y - f90) if y > f90 else f90 - y for y in ev)
    ne = float(len(ev))
    return (
        f50,
        f90,
        py_det_round(float(l50x2) / 2.0 / ne / 100.0),
        py_det_round(float(l90x10) / 10.0 / ne / 100.0),
    )


@given(
    train=st.lists(st.integers(min_value=-9, max_value=9), max_size=15),
    ev=st.lists(st.integers(min_value=-9, max_value=9), max_size=10),
)
@FUZZ
def test_fuzz_pinball(spark, train, ev, tmp_path_factory):
    import os

    from stream_processing_system_spark.plans.analytics import (
        events_pinball_eval,
    )

    a = dt.datetime(2024, 1, 10)
    b = dt.datetime(2024, 1, 20)
    rows = [
        (i, a, 1, "t", v / 100.0, "{}") for i, v in enumerate(train)
    ] + [
        (1000 + i, b, 1, "t", v / 100.0, "{}") for i, v in enumerate(ev)
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = str(tmp_path_factory.mktemp("pb"))
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    out = events_pinball_eval(spark, sf).collect()
    want = _pinball_replay(train, ev)
    if want is None:
        assert out == []
        return
    f50, f90, mp50, mp90 = want
    assert out[0]["p50_forecast"] == f50 / 100.0
    assert out[0]["p90_forecast"] == f90 / 100.0
    assert out[0]["mean_pinball_p50"] == mp50
    assert out[0]["mean_pinball_p90"] == mp90


# --- Simpson -----------------------------------------------------


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd"]), max_size=8
        ),
        min_size=1,
        max_size=6,
    )
)
@FUZZ
def test_fuzz_simpson(spark, docs):
    from stream_processing_system_spark.operators.text_analysis import (
        simpson_diversity,
    )

    df = spark.createDataFrame(
        [(i, "s", " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, source string, text string",
    )
    out = simpson_diversity(df).collect()
    toks = [t for d in docs for t in d]
    n = len(toks)
    if n == 0:
        assert out == []
        return
    counts: dict = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    ss = sum(c * (c - 1) for c in counts.values())
    assert out[0]["n_tokens"] == n
    assert out[0]["vocab"] == len(counts)
    if n > 1:
        lam = float(ss) / (float(n) * (float(n) - 1.0))
        assert out[0]["simpson"] == py_det_round(lam)
        if lam > 0:
            assert out[0]["inv_simpson"] == py_det_round(1.0 / lam)
        else:
            assert out[0]["inv_simpson"] is None
    else:
        assert out[0]["simpson"] is None


# --- neighbor Jaccard --------------------------------------------


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        max_size=14,
    )
)
@FUZZ
def test_fuzz_neighbor_jaccard(spark, edges):
    from stream_processing_system_spark.operators.graph import (
        neighbor_jaccard,
    )

    und = set()
    for s, d in edges:
        if s != d:
            und.add((min(s, d), max(s, d)))
    if not und:
        return
    df = spark.createDataFrame(list(und), "src long, dst long")
    out = neighbor_jaccard(df, k=100).collect()
    # python replay
    adj: dict = {}
    for s, d in und:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    want = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in und:
                continue
            common = adj[u] & adj[v]
            # valve: wedge centers need deg >= 2 (<= 10k irrelevant here)
            common = {w for w in common if len(adj[w]) >= 2}
            if not common:
                continue
            ncom = len(common)
            nun = len(adj[u]) + len(adj[v]) - ncom
            want[(u, v)] = (ncom, nun, (1_000_000_000 * ncom) // nun)
    got = {
        (r["u"], r["v"]): (r["n_common"], r["n_union"], r["jaccard"])
        for r in out
    }
    assert set(got) == set(want)
    for k2, (ncom, nun, s) in want.items():
        assert got[k2] == (ncom, nun, s / 1e9)


# --- Theil -------------------------------------------------------


@given(
    revs=st.lists(
        st.integers(min_value=1, max_value=500), min_size=1, max_size=12
    )
)
@FUZZ
def test_fuzz_theil(spark, revs, tmp_path_factory):
    import os

    from stream_processing_system_spark.plans.analytics import (
        supplier_revenue_theil,
    )

    d = dt.date(1995, 1, 1)
    rows = [
        (i, 1, i, 1, 1.0, float(r), 0.0, 0.0, "N", "O", d, d, d,
         "x", "MAIL", "c")
        for i, r in enumerate(revs)
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date, l_commitdate date,"
        " l_receiptdate date, l_shipinstruct string, l_shipmode string,"
        " l_comment string",
    )
    sf = str(tmp_path_factory.mktemp("th"))
    df.write.mode("overwrite").parquet(os.path.join(sf, "lineitem.parquet"))
    out = supplier_revenue_theil(spark, sf).collect()[0]
    units = [r * 10000 for r in revs]  # exact 1e-4 units
    rr = sum(units)
    nn = len(units)
    assert out["n_suppliers"] == nn
    assert out["total_revenue"] == float(rr) / 1e4
    assert out["top_share"] == py_det_round(float(max(units)) / float(rr))
    t = sum(
        math.floor(
            (float(u) / float(rr))
            * math.log(float(nn) * (float(u) / float(rr)))
            * 1e12
            + 0.5
        )
        for u in units
    )
    # grid absorbs libm ulp except at floor boundaries: compare to 2e-6
    assert abs(out["theil"] - py_det_round(float(t) / 1e12)) <= 2e-6

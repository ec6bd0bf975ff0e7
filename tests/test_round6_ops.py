"""Independent-reference checks for the round-6 trend/rank/drift
operators: each Spark plan must agree with a pure-Python replay of
the same statistic on hand-built series (the oracle mirrors the same
expression tree, so these catch semantic errors the differential
harness cannot)."""

from __future__ import annotations

import datetime as dt
import math

from stream_processing_system_spark.plans.analytics import (
    kruskal_wallis_from_daily,
    mann_kendall_from_daily,
    page_hinkley_from_daily,
)
from tests.helpers import daily_series, py_det_round
from tests.test_timeseries_fuzz import (
    _ar2_replay,
    _kw_replay,
    _mk_replay,
    _ph_replay,
)


def test_mann_kendall_trend_with_ties(spark):
    series = [5, 3, 3, 8, 7, 9, 9, 9, 12]
    out = mann_kendall_from_daily(daily_series(spark, series)).collect()[0]
    n, s, var_s, z, trend = _mk_replay(series)
    assert out["n_days"] == n
    assert out["s_stat"] == s
    assert out["var_s"] == var_s
    assert out["z_score"] == z
    assert out["trend"] == trend


def test_mann_kendall_strict_increase(spark):
    series = list(range(1, 11))
    out = mann_kendall_from_daily(daily_series(spark, series)).collect()[0]
    n, s, var_s, z, trend = _mk_replay(series)
    assert out["s_stat"] == 45  # all 45 pairs concordant
    assert out["z_score"] == z
    assert out["trend"] == "increasing"


def test_mann_kendall_constant_series(spark):
    series = [4, 4, 4, 4, 4]
    out = mann_kendall_from_daily(daily_series(spark, series)).collect()[0]
    assert out["s_stat"] == 0
    assert out["var_s"] == 0.0
    assert out["z_score"] is None
    assert out["trend"] == "no_trend"


def test_kruskal_wallis_two_weeks(spark):
    # 14 consecutive days -> every dow group has exactly 2 members;
    # a strong weekend effect plus one tie pair
    series = [10, 11, 12, 13, 90, 91, 14, 20, 21, 22, 23, 95, 96, 14]
    out = kruskal_wallis_from_daily(daily_series(spark, series)).collect()[0]
    n, k, h, h_corr, eps2 = _kw_replay(series)
    assert out["n_days"] == n
    assert out["n_groups"] == 7
    assert out["h_stat"] == h
    assert out["h_corrected"] == h_corr
    assert out["epsilon_sq"] == eps2


def test_kruskal_wallis_all_tied(spark):
    # all values identical: every rank is the midrank, H == 0 and the
    # tie correction c == 0 -> h_corrected NULL
    series = [7] * 14
    out = kruskal_wallis_from_daily(daily_series(spark, series)).collect()[0]
    n, k, h, h_corr, eps2 = _kw_replay(series)
    assert out["h_stat"] == h
    assert out["h_corrected"] is None
    assert out["epsilon_sq"] == eps2


def test_page_hinkley_level_shift(spark):
    # flat level then an upward shift: PH must climb after the shift
    # and the 5-sigma alarm must fire
    series = [100, 101, 99, 100, 100, 101, 99, 100, 300, 305, 310, 300, 305, 310]
    out = page_hinkley_from_daily(daily_series(spark, series)).collect()[0]
    n, ph_max, ph_max_day, alarm_day, threshold = _ph_replay(series)
    assert out["n_days"] == n
    assert out["ph_max"] == ph_max
    assert out["ph_max_day"] == ph_max_day
    assert out["alarm_day"] == alarm_day
    assert alarm_day is not None  # the shift IS detected
    assert out["threshold"] == threshold


def test_page_hinkley_stationary_no_alarm(spark):
    series = [50, 52, 48, 51, 49, 50, 52, 48, 51, 49]
    out = page_hinkley_from_daily(daily_series(spark, series)).collect()[0]
    n, ph_max, ph_max_day, alarm_day, threshold = _ph_replay(series)
    assert out["ph_max"] == ph_max
    assert out["alarm_day"] is None
    assert alarm_day is None


def test_page_hinkley_constant_series(spark):
    # constant series: every increment is 0, PH stays 0, sigma == 0,
    # and 0 > 0 is false -> no alarm
    series = [5, 5, 5, 5, 5]
    out = page_hinkley_from_daily(daily_series(spark, series)).collect()[0]
    assert out["ph_max"] == 0.0
    assert out["alarm_day"] is None
    assert out["threshold"] == 0.0


def test_ar2_matches_python_reference(spark):
    from stream_processing_system_spark.plans.analytics import (
        ar2_yule_walker_from_daily,
    )

    series = [10, 12, 11, 13, 12, 14, 13, 15, 14, 16, 15, 17]
    out = ar2_yule_walker_from_daily(daily_series(spark, series)).collect()[0]
    r1, r2, phi1, phi2, sig, fc = _ar2_replay(series)
    assert out["n_days"] == len(series)
    assert out["r1"] == r1
    assert out["r2"] == r2
    assert out["phi1"] == phi1
    assert out["phi2"] == phi2
    assert out["innov_ratio"] == sig
    assert out["forecast_next"] == fc


def test_ar2_constant_series_all_null(spark):
    from stream_processing_system_spark.plans.analytics import (
        ar2_yule_walker_from_daily,
    )

    out = ar2_yule_walker_from_daily(daily_series(spark, [9] * 8)).collect()[0]
    assert out["r1"] is None
    assert out["phi1"] is None
    assert out["forecast_next"] is None


def test_return_auc_matches_pandas_rank(spark, sf_dir):
    """Independent check of the midrank AUC against pandas' average
    ranks (a different tie-handling implementation of the same
    Mann-Whitney identity)."""
    import duckdb

    from stream_processing_system_spark.plans.analytics import (
        lineitem_return_auc,
    )
    from stream_processing_system_spark.sources.tables import table_path

    out = {
        r["ship_year"]: r
        for r in lineitem_return_auc(spark, sf_dir).collect()
    }
    df = duckdb.sql(
        f"""
        SELECT CAST(year(l_shipdate) AS INTEGER) AS y,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) * 10000
               + CAST(floor(l_tax * 100 + 0.5) AS BIGINT) * 100
               + CAST(floor(l_quantity + 0.5) AS BIGINT) AS score,
               (l_returnflag = 'R') AS pos
        FROM '{table_path(sf_dir, "lineitem")}'
        """
    ).df()
    for y, g in df.groupby("y"):
        ranks = g["score"].rank(method="average")
        p = int(g["pos"].sum())
        n = len(g) - p
        auc = (float(ranks[g["pos"]].sum()) - p * (p + 1) / 2.0) / (
            float(p) * float(n)
        )
        # the plan emits on the det_round 1e-6 grid
        assert abs(out[int(y)]["auc"] - auc) < 6e-7
        assert out[int(y)]["n_pos"] == p
        assert out[int(y)]["n_neg"] == n


def test_mmd_matches_numpy_reference(spark, sf_dir):
    """Independent check of the linear-kernel MMD against a plain
    numpy mean-difference on the same quantization grid."""
    import numpy as np
    import pyarrow.parquet as pq

    from stream_processing_system_spark.plans.pipeline import (
        embedding_mmd_shift,
    )
    from stream_processing_system_spark.sources.tables import table_path

    t = pq.read_table(table_path(sf_dir, "embeddings")).to_pandas()
    vecs = np.floor(
        np.stack(t["embedding"].to_numpy()).astype(np.float64) * 1e6 + 0.5
    )
    labels = t["label"].to_numpy()
    out = embedding_mmd_shift(spark, sf_dir).collect()
    assert len(out) == len(set(labels)) * (len(set(labels)) - 1) // 2
    for row in out[:10]:
        a = vecs[labels == row["label_a"]]
        b = vecs[labels == row["label_b"]]
        gap = a.mean(axis=0) - b.mean(axis=0)
        want = float(gap @ gap) / 1e12
        assert abs(row["mmd2"] - want) < 1e-4
        ca = a.sum(axis=0)
        cb = b.sum(axis=0)
        cos = float(ca @ cb) / (
            float(np.sqrt(ca @ ca)) * float(np.sqrt(cb @ cb))
        )
        assert abs(row["mean_cosine"] - cos) < 1e-4


def _docs_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_charclass_audit_hand_case(spark):
    from stream_processing_system_spark.operators.text_analysis import (
        charclass_audit,
    )

    rows = [
        (1, "abc 123", "en", "s1"),  # 3 letters, 3 digits, 1 space
        (2, "¡héllo!", "en", "s1"),  # é/í are non-ascii code points
        (3, "ok Ã broken", "en", "s2"),  # mojibake marker
    ]
    out = {
        (r["lang"], r["source"]): r
        for r in charclass_audit(_docs_df(spark, rows)).collect()
    }
    s1 = out[("en", "s1")]
    # 'abc 123' = 7 chars; '¡héllo!' = 7 chars (code points)
    assert s1["total_chars"] == 14
    assert s1["letter_ratio"] == math.floor(7 / 14 * 1e6 + 0.5) / 1e6
    assert s1["digit_ratio"] == math.floor(3 / 14 * 1e6 + 0.5) / 1e6
    assert s1["space_ratio"] == math.floor(1 / 14 * 1e6 + 0.5) / 1e6
    # non-ascii in s1: ¡, é = 2 of 14
    assert s1["nonascii_ratio"] == math.floor(2 / 14 * 1e6 + 0.5) / 1e6
    assert s1["mojibake_docs"] == 0
    assert out[("en", "s2")]["mojibake_docs"] == 1


def test_vocab_coverage_hand_case(spark):
    from stream_processing_system_spark.operators.text_analysis import (
        vocab_coverage,
    )

    rows = [
        (1, "a a a b b c", "en", "s1"),  # vocab(2) = {a, b}
        (2, "a b x y", "en", "s2"),
    ]
    out = {
        r["source"]: r
        for r in vocab_coverage(
            _docs_df(spark, rows), vocab_size=2
        ).collect()
    }
    assert out["s1"]["n_tokens"] == 6
    assert out["s1"]["n_oov"] == 1  # just 'c'
    assert out["s1"]["distinct_tokens"] == 3
    assert out["s1"]["distinct_oov"] == 1
    assert out["s2"]["n_tokens"] == 4
    assert out["s2"]["n_oov"] == 2  # x, y
    assert out["s2"]["oov_rate"] == 0.5


def test_burrows_delta_hand_case(spark):
    from stream_processing_system_spark.operators.text_analysis import (
        stylometry_burrows_delta,
    )

    # three sources, marker vocab (top-2) = {the, of}; s3 never uses
    # 'of' -> densified zero must pull the mean down
    rows = [
        (1, "the the the of cat", "en", "s1"),
        (2, "the of of of dog", "en", "s2"),
        (3, "the the bird bird", "en", "s3"),
    ]
    out = stylometry_burrows_delta(
        _docs_df(spark, rows), n_markers=2
    ).collect()
    totals = {"s1": 5, "s2": 5, "s3": 4}
    cnts = {
        ("s1", "the"): 3, ("s1", "of"): 1,
        ("s2", "the"): 1, ("s2", "of"): 3,
        ("s3", "the"): 2, ("s3", "of"): 0,
    }
    fq = {
        k: math.floor(float(c) / float(totals[k[0]]) * 1e9 + 0.5)
        for k, c in cnts.items()
    }
    srcs = ["s1", "s2", "s3"]
    z = {}
    for w in ["the", "of"]:
        vals = [fq[(s, w)] for s in srcs]
        k = float(len(vals))
        s1v, s2v = float(sum(vals)), float(sum(v * v for v in vals))
        var = s2v / k - (s1v / k) * (s1v / k)
        for s in srcs:
            z[(s, w)] = (
                (float(fq[(s, w)]) - s1v / k) / math.sqrt(var)
                if var > 0.0
                else None
            )
    want = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            dzs = [
                math.floor(abs(z[(a, w)] - z[(b, w)]) * 1e6 + 0.5)
                for w in ["the", "of"]
                if z[(a, w)] is not None
            ]
            want[(a, b)] = (
                len(dzs),
                py_det_round(float(sum(dzs)) / float(len(dzs)) / 1e6),
            )
    got = {(r["source_a"], r["source_b"]): r for r in out}
    assert set(got) == set(want)
    for k2, (nw, delta) in want.items():
        assert got[k2]["n_words"] == nw
        assert got[k2]["delta"] == delta


def test_dispersion_index_replay(spark):
    from stream_processing_system_spark.plans.analytics import (
        dispersion_index_from_daily,
    )

    series = [10, 50, 5, 80, 3, 90, 7, 60]  # very bursty counts
    daily = spark.createDataFrame(
        [
            ("a", dt.date(2024, 1, 1) + dt.timedelta(days=i), int(v))
            for i, v in enumerate(series)
        ],
        "event_type string, day date, c long",
    )
    out = dispersion_index_from_daily(daily).collect()[0]
    n = float(len(series))
    sc, scc = float(sum(series)), float(sum(v * v for v in series))
    mean = sc / n
    s2 = (scc - sc * sc / n) / (n - 1.0)
    disp = s2 / mean
    z = (disp - 1.0) * math.sqrt((n - 1.0) / 2.0)
    assert out["mean_daily"] == py_det_round(mean)
    assert out["var_daily"] == py_det_round(s2)
    assert out["dispersion"] == py_det_round(disp)
    assert out["z_score"] == py_det_round(z)
    assert out["verdict"] == "overdispersed"


def test_welch_ttest_replay(spark):
    from stream_processing_system_spark.plans.analytics import (
        welch_ttest_from_daily,
    )

    # 2024-01-01 is epoch day 19723 -> mod 7 = 4; weekend (dow 2/3)
    # falls on indexes where (19723 + i) % 7 in (2, 3)
    series = [100, 105, 250, 260, 95, 102, 99, 101, 98, 240, 255, 103, 97, 100]
    daily = daily_series(spark, series)
    out = welch_ttest_from_daily(daily).collect()[0]
    wk, wd = [], []
    for i, v in enumerate(series):
        (wk if (19723 + i) % 7 in (2, 3) else wd).append(v)
    n1, n2 = float(len(wk)), float(len(wd))
    s1, s2_ = float(sum(wk)), float(sum(wd))
    q1, q2 = float(sum(v * v for v in wk)), float(sum(v * v for v in wd))
    m1, m2 = s1 / n1, s2_ / n2
    v1 = (q1 - s1 * s1 / n1) / (n1 - 1.0)
    v2 = (q2 - s2_ * s2_ / n2) / (n2 - 1.0)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / math.sqrt(se2)
    df = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1.0)
        + (v2 / n2) * (v2 / n2) / (n2 - 1.0)
    )
    assert out["n_weekend"] == int(n1)
    assert out["n_weekday"] == int(n2)
    assert out["mean_weekend"] == py_det_round(m1)
    assert out["t_stat"] == py_det_round(t)
    assert out["welch_df"] == py_det_round(df)


def test_ipw_ate_sanity(spark, sf_dir):
    """The IPW estimator's bookkeeping must be internally consistent
    (exactness is covered by the unrolled-IRLS oracle): weighted
    means are probabilities, counts partition, and the clip counter
    is bounded by the row count."""
    from stream_processing_system_spark.plans.analytics import (
        customer_ipw_ate,
    )

    out = customer_ipw_ate(spark, sf_dir).collect()[0]
    assert 0 < out["n_treated"] < out["n_rows"]
    assert 0 <= out["n_clipped"] <= out["n_rows"]
    for c in ("mu_treated_ipw", "mu_control_ipw"):
        assert 0.0 <= out[c] <= 1.0
    assert abs(
        out["ate_ipw"] - (out["mu_treated_ipw"] - out["mu_control_ipw"])
    ) < 2e-6


def test_gopher_filter_report_hand_case(spark):
    from stream_processing_system_spark.operators.text_analysis import (
        gopher_filter_report,
    )

    rows = [
        # passes everything: 6 words, reasonable lengths, no digits
        (1, "alpha beta gamma delta epsilon zeta", "en", "s1"),
        # fails word count (<5) and top-token share (3/4 > 20%)
        (2, "spam spam spam eggs", "en", "s1"),
        # fails digit ratio (digits > 20% of chars)
        (3, "a1 22 333 4444 b5 c6", "en", "s2"),
    ]
    out = {
        r["source"]: r
        for r in gopher_filter_report(_docs_df(spark, rows)).collect()
    }
    s1 = out["s1"]
    assert s1["n_docs"] == 2
    assert s1["fail_word_count"] == 1  # doc 2 has 4 words
    assert s1["fail_top_token"] == 1  # 'spam' is 3 of 4
    assert s1["n_pass"] == 1
    assert s1["pass_rate"] == 0.5
    s2 = out["s2"]
    assert s2["fail_digit_ratio"] == 1
    assert s2["n_pass"] == 0


def test_kanon_ladder_monotone(spark, sf_dir):
    """Coarsening can only merge cells: cell counts and suppression
    must be non-increasing up the ladder."""
    from stream_processing_system_spark.plans.analytics import (
        events_kanon_ladder,
    )

    rows = {r["level"]: r for r in events_kanon_ladder(spark, sf_dir).collect()}
    assert set(rows) == {"1_hour", "2_day", "3_week"}
    assert (
        rows["1_hour"]["n_cells"]
        >= rows["2_day"]["n_cells"]
        >= rows["3_week"]["n_cells"]
    )
    assert (
        rows["1_hour"]["rows_suppressed"]
        >= rows["2_day"]["rows_suppressed"]
        >= rows["3_week"]["rows_suppressed"]
    )


def test_lang_confusion_hand_case(spark, sf_dir):
    """The confusion matrix must partition the corpus and agree with
    the standalone lang-id prediction counts."""
    from stream_processing_system_spark.plans.pipeline import (
        doc_lang_confusion,
        doc_lang_id,
    )
    from stream_processing_system_spark.sources.tables import load_table

    rows = doc_lang_confusion(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    pred_counts = {}
    for r in doc_lang_id(spark, sf_dir).collect():
        pred_counts[r["lang_pred"]] = pred_counts.get(r["lang_pred"], 0) + 1
    got = {}
    for r in rows:
        got[r["lang_pred"]] = got.get(r["lang_pred"], 0) + r["n_docs"]
    assert got == pred_counts
    for r in rows:
        assert 0.0 <= r["row_share"] <= 1.0


def test_family_histogram_partitions_corpus(spark, sf_dir):
    from stream_processing_system_spark.plans.pipeline import (
        dedup_family_histogram_docs,
        dedup_transitive_docs,
    )
    from stream_processing_system_spark.sources.tables import load_table

    rows = dedup_family_histogram_docs(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    # kept canonical ids == number of families
    n_families = sum(r["n_families"] for r in rows)
    assert dedup_transitive_docs(spark, sf_dir).count() == n_families
    assert sum(r["n_removable"] for r in rows) == n_docs - n_families


def test_modularity_two_cliques(spark, tmp_path):
    """Two disjoint purchase cliques of 3 users: LPA finds both, and
    Q = 2 * (3/6 - (6/12)^2) = 0.5 exactly."""
    import datetime
    import os

    from stream_processing_system_spark.plans.analytics import (
        copurchase_modularity,
    )

    ts = datetime.datetime(2024, 5, 1, 10)
    rows = []
    for i, (users, key) in enumerate([((1, 2, 3), "a"), ((4, 5, 6), "b")]):
        for u in users:
            rows.append(
                (len(rows), ts, u, "purchase", 1.0, '{"k": "%s"}' % key)
            )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    out = copurchase_modularity(spark, sf).collect()[0]
    assert out["n_nodes"] == 6
    assert out["n_communities"] == 2
    assert out["n_edges"] == 6
    assert out["modularity"] == 0.5


def test_watermark_lateness_hand_case(spark, tmp_path):
    """Arrival order 10:00, 12:00, 09:00 (3h late), 12:30: exactly
    one event exceeds a 1h watermark and none exceed 6h."""
    import datetime
    import os

    from stream_processing_system_spark.plans.analytics import (
        events_watermark_lateness,
    )

    base = datetime.datetime(2024, 5, 1)
    times = [10, 12, 9, 12.5]
    rows = [
        (
            i,
            base + datetime.timedelta(hours=h),
            1,
            "click",
            1.0,
            "{}",
        )
        for i, h in enumerate(times)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    out = events_watermark_lateness(spark, sf).collect()[0]
    assert out["n_events"] == 4
    assert out["n_late_1h"] == 1  # the 09:00 event arrived after 12:00
    assert out["n_late_6h"] == 0
    assert out["max_late_sec"] == 3 * 3600
    assert out["drop_share_1h"] == 0.25


def test_partition_checksums_detect_change(spark, tmp_path):
    """Checksums must be order-free and must move when a value moves."""
    import datetime
    import os

    from stream_processing_system_spark.plans.analytics import (
        events_partition_checksums,
    )

    base = datetime.datetime(2024, 5, 1, 8)

    def write(rows, name):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        df.write.mode("overwrite").parquet(
            os.path.join(sf, "events.parquet")
        )
        return sf

    rows = [
        (1, base, 7, "click", 1.25, "{}"),
        (2, base, 8, "click", None, "{}"),
        (3, base, 9, "click", 2.5, "{}"),
    ]
    a = events_partition_checksums(spark, write(rows, "a")).collect()
    b = events_partition_checksums(
        spark, write(list(reversed(rows)), "b")
    ).collect()
    assert a == b  # row order never matters
    rows2 = [r if r[0] != 3 else (3, base, 9, "click", 2.51, "{}") for r in rows]
    c = events_partition_checksums(spark, write(rows2, "c")).collect()
    assert a[0]["n_rows"] == c[0]["n_rows"]
    assert a[0]["checksum"] != c[0]["checksum"]


def test_knn_label_eval_hand_case(spark):
    """Three tight clusters in 2 dims padded to 4: every sampled
    probe's 5 nearest neighbors share its cluster label, so accuracy
    must be 1.0 for every label."""
    from stream_processing_system_spark.operators.similarity import (
        knn_label_eval,
    )

    rows = []
    centers = {0: (10.0, 0.0), 1: (0.0, 10.0), 2: (-10.0, -10.0)}
    vid = 0
    for lbl, (cx, cy) in centers.items():
        for d in range(8):
            rows.append(
                (vid, [cx + d * 0.01, cy - d * 0.01, 0.1, 0.1], lbl)
            )
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = knn_label_eval(df, sample_mod=2, k=5).collect()
    assert len(out) == 3
    for r in out:
        assert r["accuracy"] == 1.0
        assert r["n_eval"] == 4  # even ids of 8 per cluster


def test_ca_trend_replay(spark, sf_dir):
    """Pure-Python replay of the Cochran-Armitage moments from the
    raw orders table."""
    import duckdb

    from stream_processing_system_spark.plans.analytics import (
        orders_ca_trend,
    )
    from stream_processing_system_spark.sources.tables import table_path

    out = orders_ca_trend(spark, sf_dir).collect()[0]
    cells = duckdb.sql(
        f"""
        SELECT (CAST(year(o_orderdate) AS BIGINT) - 1992) * 12
               + CAST(month(o_orderdate) AS BIGINT) - 1 AS s,
               count(*) AS n,
               SUM(CASE WHEN o_orderpriority = '1-URGENT'
                   THEN 1 ELSE 0 END) AS r
        FROM '{table_path(sf_dir, "orders")}' GROUP BY 1
        """
    ).fetchall()
    nn = sum(c[1] for c in cells)
    rr = sum(int(c[2]) for c in cells)
    ns = sum(c[1] * c[0] for c in cells)
    ns2 = sum(c[1] * c[0] * c[0] for c in cells)
    rs = sum(int(c[2]) * c[0] for c in cells)
    p = float(rr) / float(nn)
    t = float(rs) - float(ns) * p
    varx = float(ns2) - float(ns) * float(ns) / float(nn)
    var = p * (1.0 - p) * varx
    z = t / math.sqrt(var) if var > 0.0 else None
    assert out["n_orders"] == nn
    assert out["n_urgent"] == rr
    assert out["urgent_share"] == py_det_round(p)
    assert out["t_stat"] == py_det_round(t)
    assert out["z_score"] == py_det_round(z)

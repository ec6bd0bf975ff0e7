"""Round-7 hand-case tests: the ADVICE-r6 fixes (NULL-total
checksum serialization, gopher id_col) and the two-phase chunked
running max that replaced the low-cardinality lateness window."""

import datetime
import os

import pytest

from tests.helpers import write_events


def test_partition_checksums_null_user_parity(spark, tmp_path):
    """A NULL user_id must hash identically in Spark and DuckDB —
    the ADVICE-r6 divergence: concat_ws silently SKIPS nulls while
    '||' nullifies, so both sides now spell 'null' explicitly."""
    import duckdb

    import __spark_entry__ as entry
    from stream_processing_system_spark.plans.analytics import (
        events_partition_checksums,
    )

    base = datetime.datetime(2024, 5, 1, 8)
    rows = [
        (1, base, 7, "click", 1.25, "{}"),
        (2, base, None, "click", None, "{}"),
        (3, base, 9, "click", 2.5, "{}"),
    ]
    sf = write_events(spark, rows, str(tmp_path / "nullpar"))
    got = events_partition_checksums(spark, sf).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf, 'events.parquet')}/*.parquet'"
    )
    want = con.execute(
        entry.oracle_sql()["events_partition_checksums"]
    ).fetchall()
    assert [(r["event_type"], r["day"], r["n_rows"], r["checksum"]) for r in got] == [
        tuple(w) for w in want
    ]
    # and the null row genuinely participates: dropping it moves the sum
    sf2 = write_events(spark, rows[:1] + rows[2:], str(tmp_path / "nonull"))
    got2 = events_partition_checksums(spark, sf2).collect()
    assert got2[0]["checksum"] != got[0]["checksum"]


def test_watermark_lateness_chunk_boundary(spark, tmp_path):
    """The two-phase chunked running max must agree with the naive
    single-window semantics across a chunk boundary: the max set
    before the boundary has to carry into later chunks."""
    from stream_processing_system_spark.plans.analytics import (
        events_watermark_lateness,
    )

    base = datetime.datetime(2024, 5, 1)
    # event_id 100 sits in chunk 0; 5000/5001 in chunk 1 (chunk=4096).
    # The late event at id 5001 is 2h behind the chunk-0 max => only
    # the cross-chunk prefix max makes it "late".
    rows = [
        (100, base + datetime.timedelta(hours=12), 1, "click", 1.0, "{}"),
        (5000, base + datetime.timedelta(hours=11), 1, "click", 1.0, "{}"),
        (5001, base + datetime.timedelta(hours=10), 1, "click", 1.0, "{}"),
    ]
    sf = write_events(spark, rows, str(tmp_path / "chunked"))
    out = events_watermark_lateness(spark, sf).collect()[0]
    assert out["n_events"] == 3
    # 5000 is 1h late (not >1h), 5001 is 2h late vs the chunk-0 max
    assert out["n_late_1h"] == 1
    assert out["max_late_sec"] == 2 * 3600


def test_gopher_report_custom_id_col(spark):
    """gopher_filter_report must honor id_col (ADVICE r6: it was
    hardcoded to doc_id for the R5 modal-token join)."""
    from stream_processing_system_spark.operators.text_analysis import (
        gopher_filter_report,
    )

    df = spark.createDataFrame(
        [
            (10, "web", "the the the the the quick fox"),
            (11, "web", "a perfectly ordinary sentence with many words here"),
        ],
        "my_id long, source string, text string",
    )
    out = {
        r["source"]: r
        for r in gopher_filter_report(df, id_col="my_id").collect()
    }
    # doc 10: modal token 'the' = 5/7 > 20% => R5 fails for one doc
    assert out["web"]["fail_top_token"] == 1


def test_mmd_overflow_guard_is_inert_on_valid_input(spark):
    """The r7 overflow guard (raise on decimal(38,0) NULL-overflow)
    must not fire on ordinary data."""
    from stream_processing_system_spark.operators.similarity import (
        embedding_mmd_shift,
    )

    df = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("a", [0.9, 0.1]),
            ("b", [0.0, 1.0]),
            ("b", [0.1, 0.9]),
        ],
        "label string, embedding array<double>",
    )
    out = embedding_mmd_shift(df, label_col="label", vec_col="embedding")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["mmd2"] > 0.0


def test_cvm_drift_hand_case(spark, tmp_path):
    """Identical halves => T ~ 0; disjoint halves => T near its max."""
    import datetime

    from stream_processing_system_spark.plans.analytics import (
        events_cvm_drift,
    )

    a = datetime.datetime(2024, 1, 10)
    b = datetime.datetime(2024, 1, 20)
    same = [(i, a if i < 20 else b, 1, "click", float(i % 4), "{}")
            for i in range(40)]
    sf = write_events(spark, same, str(tmp_path / "cvm_same"))
    t_same = events_cvm_drift(spark, sf).collect()[0]["cvm_t"]
    shifted = [(i, a, 1, "click", 1.0, "{}") for i in range(20)] + [
        (100 + i, b, 1, "click", 9.0, "{}") for i in range(20)
    ]
    sf2 = write_events(spark, shifted, str(tmp_path / "cvm_shift"))
    t_shift = events_cvm_drift(spark, sf2).collect()[0]["cvm_t"]
    assert t_same < 0.05
    assert t_shift > 0.2  # disjoint supports: near the CvM maximum


def test_gk_gamma_hand_case(spark, tmp_path):
    """Perfectly concordant priority/price cells => gamma = 1."""
    import os

    from stream_processing_system_spark.plans.analytics import (
        orders_gk_gamma,
    )

    rows = []
    # priority digit k pairs with band k (price = k*50000+1): monotone
    for k in range(1, 4):
        for i in range(5):
            rows.append(
                (k * 100 + i, 1, "O", float(k * 50000 + 1),
                 datetime.date(2024, 1, 1), f"{k}-X", "c", 0, "n")
            )
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    )
    sf = str(tmp_path / "gk")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "orders.parquet"))
    out = orders_gk_gamma(spark, sf).collect()[0]
    assert out["n_orders"] == 15
    assert out["discordant"] == 0
    assert out["concordant"] == 75  # 3 concordant cell pairs x 25
    assert out["gamma"] == 1.0


def test_pinball_eval_hand_case(spark, tmp_path):
    """Known forecasts: first half values 1..10 => p50=5, p90=9; the
    second-half losses are exact integer sums."""
    import datetime

    from stream_processing_system_spark.plans.analytics import (
        events_pinball_eval,
    )

    a = datetime.datetime(2024, 1, 10)
    b = datetime.datetime(2024, 1, 20)
    rows = [(i, a, 1, "click", float(i + 1), "{}") for i in range(10)]
    rows += [(100 + i, b, 1, "click", float(v), "{}")
             for i, v in enumerate([5, 7, 11])]
    sf = write_events(spark, rows, str(tmp_path / "pb"))
    out = events_pinball_eval(spark, sf).collect()[0]
    assert out["p50_forecast"] == 5.0
    assert out["p90_forecast"] == 9.0
    # q=.5 losses on y in {5,7,11}, yhat=5: .5*(0+2+6)/3
    assert out["mean_pinball_p50"] == round(0.5 * 8 / 3, 6)
    # q=.9, yhat=9: y<9 -> .1*(9-5)+.1*(9-7); y=11 -> .9*2
    assert out["mean_pinball_p90"] == round((0.1 * 4 + 0.1 * 2 + 0.9 * 2) / 3, 6)


def test_simpson_diversity_hand_case(spark):
    """Uniform 2-type corpus: lambda = (2*1*2)/(4*3) = 1/3."""
    from stream_processing_system_spark.operators.text_analysis import (
        simpson_diversity,
    )

    df = spark.createDataFrame(
        [(1, "s", "a b"), (2, "s", "a b"), (3, "mono", "x x x")],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in simpson_diversity(df).collect()}
    assert out["s"]["n_tokens"] == 4
    assert out["s"]["vocab"] == 2
    assert out["s"]["simpson"] == round((2 * 1 + 2 * 1) / (4 * 3), 6)
    assert out["mono"]["simpson"] == 1.0
    assert out["mono"]["inv_simpson"] == 1.0


@pytest.mark.parametrize(
    "schema, base",
    [("src int, dst int", 0), ("src long, dst long", 0), ("src int, dst int", -10)],
    ids=["int", "long", "int_negative"],
)
def test_neighbor_jaccard_hand_case(spark, schema, base):
    """Square graph 1-2-3-4-1: predicted links are the two diagonals
    with J = 2/(2+2-2) = 1.0; existing edges are excluded. INT ids
    must pack into the long wedge key without overflowing, and both
    the packed branch and the two-column branch (negative ids) output
    long u/v."""
    from stream_processing_system_spark.operators.graph import (
        neighbor_jaccard,
    )

    square = [(1, 2), (2, 3), (3, 4), (1, 4)]
    edges = spark.createDataFrame(
        [(base + a, base + b) for a, b in square], schema
    )
    result = neighbor_jaccard(edges)
    assert dict(result.dtypes)["u"] == "bigint"
    assert dict(result.dtypes)["v"] == "bigint"
    got = {(r["u"] - base, r["v"] - base): r for r in result.collect()}
    assert set(got) == {(1, 3), (2, 4)}
    assert got[(1, 3)]["n_common"] == 2
    assert got[(1, 3)]["n_union"] == 2
    assert got[(1, 3)]["jaccard"] == 1.0


def test_orders_table_profile_keeps_all_null_column(spark, tmp_path):
    """An all-NULL column has no non-NULL value to count distinct, so
    it must keep its profile row with n_distinct = 0 instead of
    vanishing from the NDV join."""
    from stream_processing_system_spark.plans.analytics import (
        orders_table_profile,
    )

    d = datetime.datetime(1995, 1, 1)
    df = spark.createDataFrame(
        [(1, 10, "O", 5.0, d, None), (2, 11, "F", 7.0, d, None)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    sf = str(tmp_path / "allnull")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "orders.parquet"))
    out = {r["col_name"]: r for r in orders_table_profile(spark, sf).collect()}
    assert len(out) == 6
    assert out["o_orderpriority"]["n_nulls"] == 2
    assert out["o_orderpriority"]["n_distinct"] == 0
    assert out["o_orderpriority"]["min_str"] is None
    assert out["o_orderkey"]["n_distinct"] == 2
    assert out["o_orderdate"]["n_distinct"] == 1


def test_supplier_theil_uniform_is_zero(spark, tmp_path):
    """Equal revenues => Theil exactly 0; one dominant supplier
    pushes it toward ln(N)."""
    import os

    from stream_processing_system_spark.plans.analytics import (
        supplier_revenue_theil,
    )

    def write(rows, name):
        df = spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber long, l_quantity double,"
            " l_extendedprice double, l_discount double, l_tax double,"
            " l_returnflag string, l_linestatus string,"
            " l_shipdate date, l_commitdate date, l_receiptdate date,"
            " l_shipinstruct string, l_shipmode string, l_comment string",
        )
        sf = str(tmp_path / name)
        os.makedirs(sf, exist_ok=True)
        df.write.mode("overwrite").parquet(
            os.path.join(sf, "lineitem.parquet")
        )
        return sf

    d = datetime.date(1995, 1, 1)

    def li(i, supp, price):
        return (i, 1, supp, 1, 1.0, price, 0.0, 0.0, "N", "O",
                d, d, d, "x", "MAIL", "c")

    eq = [li(i, i % 4, 100.0) for i in range(8)]
    out = supplier_revenue_theil(spark, write(eq, "eq")).collect()[0]
    assert out["n_suppliers"] == 4
    assert out["theil"] == 0.0
    skew = [li(0, 0, 9700.0)] + [li(i, i, 100.0) for i in range(1, 4)]
    out2 = supplier_revenue_theil(spark, write(skew, "skew")).collect()[0]
    assert out2["n_suppliers"] == 4
    assert out2["top_share"] == 0.97
    assert out2["theil"] > 1.2  # near ln(4) = 1.386


def test_stream_cvm_matches_batch(spark):
    """The streaming twin must reproduce the batch CvM exactly at
    the smoke scale (same oracle, mergeable cell state)."""
    from stream_processing_system_spark.plans.analytics import (
        events_cvm_drift,
    )
    from stream_processing_system_spark.plans.streaming_parity import (
        stream_cvm_drift,
    )

    sf = "/root/testdata/sf0.001"
    batch = [tuple(r) for r in events_cvm_drift(spark, sf).collect()]
    stream = [tuple(r) for r in stream_cvm_drift(spark, sf).collect()]
    assert batch == stream

"""Streaming tests: batch == streaming(availableNow) on static input
(the END-marker parity property, FIXTURES.md §3), plus the custom
stateful operator."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stream_processing_system_spark.plans.reference import wordcount
from stream_processing_system_spark.sources.text import read_text_lines
from stream_processing_system_spark.streaming import jobs
from tests.helpers import write_reddit_csv
from tests.test_reference_queries import NASA_LINES

WC_LINES = [
    "the cat sat on the mat",
    "the dog sat",
    "http://spam.example.com/xyz noise line",
    "a cat and a dog",
]


def _write_lines(tmp_path, name, lines):
    d = tmp_path / name
    d.mkdir()
    (d / "part-0.txt").write_text("\n".join(lines[: len(lines) // 2]) + "\n")
    (d / "part-1.txt").write_text("\n".join(lines[len(lines) // 2 :]) + "\n")
    return str(d)


def test_stream_wordcount_equals_batch(spark, tmp_path):
    input_dir = _write_lines(tmp_path, "wc_in", WC_LINES)
    got = jobs.stream_wordcount(
        spark, input_dir, str(tmp_path / "ckpt_wc"), name="wc_stream_t"
    )
    want = wordcount(read_text_lines(spark, input_dir))
    g = {(r["word"], r["cnt"]) for r in got.collect()}
    w = {(r["word"], r["cnt"]) for r in want.collect()}
    assert g == w and len(g) > 0


def test_stream_nasalog_equals_batch(spark, tmp_path):
    from stream_processing_system_spark.plans.reference import nasalog_report

    input_dir = _write_lines(tmp_path, "nasa_in", NASA_LINES)
    got = jobs.stream_nasalog_report(
        spark, input_dir, str(tmp_path / "ckpt_nasa"), name="nasa_stream_t"
    )
    want = nasalog_report(read_text_lines(spark, input_dir))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_stream_reddit_top_users(spark, tmp_path):
    d = write_reddit_csv(tmp_path / "reddit_in")
    got = jobs.stream_reddit_top_users(
        spark, d, str(tmp_path / "ckpt_reddit"), k=2, name="reddit_stream_t"
    )
    # u3 dropped (score<0); unparseable 'oops'→0 kept (lenient Atoi)
    assert [(r["username"], r["posts"]) for r in got.collect()] == [("u1", 2), ("u2", 2)]


def test_stream_running_counts_stateful(spark, tmp_path):
    d = tmp_path / "keys_in"
    d.mkdir()
    (d / "a.txt").write_text("x\ny\nx\n")
    (d / "b.txt").write_text("x\nz\n")
    got = jobs.stream_running_counts(
        spark, str(d), str(tmp_path / "ckpt_rc"), name="rc_stream_t"
    )
    final = {r["key"]: r["cnt"] for r in got.collect()}
    assert final == {"x": 3, "y": 1, "z": 1}


def test_stream_session_windows(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),   # same session
        (1, base + dt.timedelta(minutes=90)),   # new session (gap > 30m)
        (2, base),
    ]
    # static frame replayed through the streaming API via a temp parquet dir
    src = str(tmp_path / "events_src")
    spark.createDataFrame(rows, ["user_id", "ts"]).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    got = jobs.stream_session_windows(
        spark, stream, str(tmp_path / "ckpt_sess"), name="sess_stream_t"
    )
    per_user = {}
    for r in got.collect():
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + 1
    assert per_user == {1: 2, 2: 1}


@pytest.mark.parametrize("sink", ["upsert", "kmv"])
def test_upsert_sink_multi_batch_and_restart_idempotent(spark, tmp_path, sink):
    """An epoch-rotated serving sink (the IVM upsert and the KMV sketch
    merge share the protocol) must (a) actually process multiple
    micro-batches (one per input file), (b) survive a restart with
    the same checkpoint without merging twice (replay guard), and
    (c) match the batch result exactly."""
    import functools

    from stream_processing_system_spark.operators.sketch_kmv import kmv_sketch

    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ids = spark.range(0, 3000)
    if sink == "upsert":
        facts = ids.select(
            (F.col("id") % 11).alias("user_id"),
            (F.col("id") % 7).cast("long").alias("value_u"),
        )
        run = jobs.stream_upsert_totals

        def rows(df):
            return {
                r["user_id"]: (r["n_events"], r["sum_u"]) for r in df.collect()
            }

        want = rows(
            facts.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"), F.sum("value_u").alias("sum_u")
            )
        )
    else:
        facts = ids.select(
            (F.col("id") % 3).cast("string").alias("g"), F.col("id").alias("member")
        )
        run = functools.partial(jobs.stream_kmv_sketches, k=64)

        def rows(df):
            return sorted((r["g"], r["h"]) for r in df.collect())

        want = rows(kmv_sketch(facts, "g", "member", k=64))
    facts.repartition(3).write.mode("overwrite").parquet(input_dir)

    serving = run(spark, input_dir, ckpt, state_dir, name=f"{sink}_t1")
    committed = int(open(os.path.join(state_dir, "_committed_epoch")).read())
    assert committed >= 2  # three files -> at least three micro-batches
    assert rows(serving) == want

    # restart with the SAME checkpoint after losing the last batch's
    # commit record: the engine re-delivers that epoch, and the replay
    # guard must turn it into a no-op instead of merging it twice
    for f in os.listdir(os.path.join(ckpt, "commits")):
        if f.lstrip(".").split(".")[0] == str(committed):
            os.remove(os.path.join(ckpt, "commits", f))
    serving2 = run(spark, input_dir, ckpt, state_dir, name=f"{sink}_t2")
    assert rows(serving2) == want
    assert int(open(os.path.join(state_dir, "_committed_epoch")).read()) == committed


@pytest.mark.parametrize(
    "sink, cols",
    [("upsert", ["user_id", "n_events", "sum_u"]), ("kmv", ["g", "h", "rn"])],
)
def test_upsert_sink_on_empty_drop_returns_empty_serving_table(
    spark, tmp_path, sink, cols
):
    """A drop with no files runs no micro-batch and commits no epoch;
    the sink returns an empty frame with the serving schema instead of
    reading a serving version that was never written."""
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    run = jobs.stream_upsert_totals if sink == "upsert" else jobs.stream_kmv_sketches
    serving = run(
        spark, str(input_dir), str(tmp_path / "ckpt"), str(tmp_path / "state"),
        name=f"{sink}_empty",
    )
    assert serving.columns == cols
    assert serving.count() == 0
    assert not os.path.exists(tmp_path / "state" / "_committed_epoch")


def test_kmv_merge_associativity_across_batch_splits(spark, tmp_path):
    """The streamed (multi-batch) sketch must equal the batch-built
    sketch bit-for-bit — the associativity property the shared
    oracle rests on. Uses an ESTIMATING-size group (n >> k)."""
    import os

    from pyspark.sql import functions as F

    from stream_processing_system_spark.operators.sketch_kmv import kmv_sketch
    from stream_processing_system_spark.streaming import jobs

    input_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    facts = spark.range(0, 5000).select(
        F.lit("a").alias("g"), F.col("id").alias("member")
    )
    facts.repartition(4).write.mode("overwrite").parquet(input_dir)
    streamed = jobs.stream_kmv_sketches(
        spark, input_dir, ckpt, state_dir, name="kmv_t", k=64
    )
    committed = int(open(os.path.join(state_dir, "_committed_epoch")).read())
    assert committed >= 2
    got = sorted(r["h"] for r in streamed.collect())
    want = sorted(r["h"] for r in kmv_sketch(facts, "g", "member", k=64).collect())
    assert got == want and len(got) == 64

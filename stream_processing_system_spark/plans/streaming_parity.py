"""Streaming queries exposed through the driver contract.

Each wrapper materializes the sf_dir table as a file-drop directory,
runs the *streaming* plan with trigger(availableNow=True), and
returns the drained result as a batch DataFrame. Registering these
with the SAME DuckDB oracle as their batch twin turns the
batch==streaming parity property (FIXTURES.md §3) into a
driver-checked differential test, not just a unit test."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_system_spark.sources.tables import load_table
from stream_processing_system_spark.streaming import jobs


def _scratch(prefix: str) -> tuple[str, str, str]:
    """Per-run scratch (input drop dir + checkpoint). The run id keeps
    the memory-sink query name unique within a session (bench runs
    each query twice); `_cleanup` removes the whole base dir as soon
    as the drain finishes — the memory sink has materialized the
    result by then, so nothing on disk is needed afterwards."""
    run = uuid.uuid4().hex[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_{prefix}_{run}")
    return os.path.join(base, "in"), os.path.join(base, "ckpt"), run


def _cleanup(input_dir: str) -> None:
    base = os.path.dirname(input_dir.rstrip("/"))
    with contextlib.suppress(OSError):
        shutil.rmtree(base, ignore_errors=True)


#: File-drop bytes per streaming state partition (see `_state_partitions`).
_DROP_BYTES_PER_STATE_PARTITION = 256 * 1024


@contextlib.contextmanager
def _state_partitions(spark: SparkSession, input_dir: str):
    """Size spark.sql.shuffle.partitions from the drain's input for the
    duration of a streaming-query START. The value is frozen into the
    checkpoint at its first batch, so it sets how many state stores
    each stateful operator keeps. Restores the session value on exit.

    Rule: ceil(bytes / _DROP_BYTES_PER_STATE_PARTITION), clamped to
    [1, defaultParallelism]. `bytes` is the size of every file under
    the run's scratch base, the parent of `input_dir`, so the two-input
    join twins count both drops. The drop must be on a local scratch
    disk that `os.walk` can read.

    Why: each store pays a fixed init + commit + checkpoint cost per
    micro-batch (and one Python-worker task for pandas state) whatever
    its row count. The drops are 19-405 KB at sf0.01 and 0.2-4.2 MB at
    sf0.1 (12.7 MB for the soak). On 4 cores, 256 KiB per store instead
    of a fixed 8 stores cut `crane_stream` pass CPU from 7.7 s to 3.0 s
    (state commit 2.6 s -> 0.12 s per pass) and kept the sf0.1 twins
    flat or faster. The answer does not depend on the count; a larger
    constant serializes real work on the bigger drops."""
    key = "spark.sql.shuffle.partitions"
    base = os.path.dirname(input_dir.rstrip("/"))
    drop = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(base)
        for f in files
    )
    n = -(-drop // _DROP_BYTES_PER_STATE_PARTITION)
    n = max(1, min(n, spark.sparkContext.defaultParallelism))
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def stream_wordcount_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1_wordcount, but executed as a Structured Streaming job over
    a file-drop copy of documents.text. Same oracle as q1_wordcount."""
    input_dir, ckpt, run = _scratch("wc")
    docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
    docs.write.mode("overwrite").text(input_dir)
    with _state_partitions(spark, input_dir):
        result = jobs.stream_wordcount(spark, input_dir, ckpt, name=f"wc_{run}")
    _cleanup(input_dir)
    return result.select(F.col("word"), F.col("cnt"))


def stream_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a streaming job: documents re-laid as a parquet
    drop directory, then the digest groupBy + min-id keeper runs
    incrementally (state = one row per distinct digest). Same oracle
    as batch dedup_exact — a third batch==streaming differential
    check. At scale this is the incremental-ingest dedup shape: new
    files drop in, only new digests extend the state store, and
    `update` mode emits just the changed keepers per batch."""
    from stream_processing_system_spark.operators.dedup import normalized_text

    input_dir, ckpt, run = _scratch("dd")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(input_dir)
    keepers = (
        stream.select(F.md5(normalized_text(F.col("text"))).alias("_digest"), "doc_id")
        .groupBy("_digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(keepers, f"dd_{run}", ckpt)
    _cleanup(input_dir)
    return drained


def stream_dedup_watermark_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    holds a digest in the state store only while it is inside the
    watermark horizon, then retires it — the unbounded-key-universe
    answer to `stream_dedup_exact_docs`, whose one-row-per-distinct-
    digest state grows forever. At 100 TB/day the full digest set
    never fits in state, but a horizon's worth does, and near-dup
    ingest bursts (re-crawls, retries) land inside the horizon.

    Static parity: every replayed row carries the same event time, so
    one horizon covers the entire drop and the drained result equals
    global DISTINCT digests — the exact batch oracle. The emitted row
    per digest is whichever arrived first, so only the digest column
    (deterministic) is returned."""
    from stream_processing_system_spark.operators.dedup import normalized_text

    input_dir, ckpt, run = _scratch("ddwm")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(input_dir)
    deduped = (
        stream.select(
            F.md5(normalized_text(F.col("text"))).alias("digest"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("_ts"),
        )
        .withWatermark("_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["digest"])
        .select("digest")
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(
            deduped, f"ddwm_{run}", ckpt, output_mode="append"
        )
    _cleanup(input_dir)
    return drained.orderBy("digest")


def stream_events_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window with a watermark, drained
    with availableNow — the streaming twin of events_per_hour (same
    oracle). Complete output mode here because the drain must emit
    every window including the last open one; the watermark is what
    bounds state when the same plan runs on an unbounded stream."""
    input_dir, ckpt, run = _scratch("eph")
    events = load_table(spark, sf_dir, "events").select("ts", "value")
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema("ts timestamp, value double").parquet(input_dir)
    result = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("hour_start"),
            "n",
            "sum_value",
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(result, f"eph_{run}", ckpt)
    _cleanup(input_dir)
    return drained.orderBy("hour_start")


def stream_running_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState running
    count per line, §2.11 stateful-bolt surface) drained over a
    file-drop copy of documents.text. Running counts are monotone, so
    max(cnt) per key after the drain is the converged total — checked
    against a plain GROUP BY oracle, which makes the custom-state
    path value-hash verifiable, not just smoke-tested."""
    input_dir, ckpt, run = _scratch("rc")
    docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
    docs.write.mode("overwrite").text(input_dir)
    with _state_partitions(spark, input_dir):
        tbl = jobs.stream_running_counts(spark, input_dir, ckpt, name=f"rc_{run}")
    _cleanup(input_dir)
    return tbl.groupBy("key").agg(F.max("cnt").alias("cnt"))


def stream_user_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state parity: per-user running
    (n_events, sum value) maintained in custom streaming state
    (transformWithState where the runtime has the TWS runner's
    protobuf dependency, applyInPandasWithState otherwise — see
    jobs.stream_user_stats) over an events file-drop. Values are quantized to integer micro-units
    JVM-SIDE before the Python stage (order-independent integer sums
    through arbitrary micro-batching), and the drained `update`
    output rolls up with max per key (totals are monotone). Checked
    against a plain GROUP BY oracle — the arbitrary-state path is
    value-hash verified, same standard as every built-in operator."""
    input_dir, ckpt, run = _scratch("tws")
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.coalesce(
            F.floor(F.col("value") * 10000 + 0.5).cast("long"), F.lit(0)
        ).alias("value_u"),
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema("user_id bigint, value_u bigint").parquet(
        input_dir
    )
    with _state_partitions(spark, input_dir):
        drained = jobs.stream_user_stats(spark, stream, ckpt, name=f"tws_{run}")
    _cleanup(input_dir)
    return (
        drained.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sum_u").alias("_s"))
        .select(
            "user_id",
            "n_events",
            (F.col("_s") / F.lit(10000.0)).alias("sum_value"),
        )
        .orderBy("user_id")
    )


def stream_enriched_revenue_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the purchase stream joins the
    STATIC customer and nation dimensions (broadcast into every
    micro-batch — no state, no watermark needed for the join itself)
    and aggregates revenue per nation. This is the canonical
    fact-stream × dimension-table shape; at scale the dimensions
    broadcast once per executor and the only stateful operator is the
    25-key aggregate. Revenue sums integer micro-units, so the total
    is independent of micro-batch boundaries and partition order."""
    input_dir, ckpt, run = _scratch("ser")
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "user_id bigint, event_type string, value double"
    ).parquet(input_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    result = (
        stream.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(F.broadcast(cust), "user_id")
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long")).alias("_s"),
        )
        .select(
            "n_name", "n_purchases", (F.col("_s") / F.lit(10000.0)).alias("revenue")
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(result, f"ser_{run}", ckpt)
    _cleanup(input_dir)
    return drained.orderBy("n_name")


def stream_reddit_top_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q2_top_users as a streaming job through the REAL reference
    ingest path: events re-laid as the reference's headerless 13-col
    reddit CSV (`spout/spout.go:279-286`; col 10 = score, col 12 =
    username), then jobs.stream_reddit_top_users runs the lenient-int
    filter + stateful count. Same oracle as q2_top_users — completes
    streaming parity coverage of all three reference apps
    (`Nimbus.go:628-648`). The job ranks usernames as strings, so the
    wrapper re-ranks numerically after the cast back to long (string
    order '10'<'2' would pick a different tie-break at the top-k
    boundary)."""
    input_dir, ckpt, run = _scratch("rd")
    # null scores: batch `value >= 0` drops them, but an empty CSV cell
    # parses leniently to 0 and would be kept — filter before re-laying
    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .where(F.col("value").isNotNull())
    )
    cells = [F.lit(f"c{i}") for i in range(13)]
    # floor, not cast-truncate: value in (-1,0) must still parse as a
    # NEGATIVE score so the job's lenient-int >= 0 filter matches the
    # batch predicate `value >= 0` exactly
    cells[10] = F.floor(F.col("value")).cast("long").cast("string")
    cells[12] = F.col("user_id").cast("string")
    events.select(F.concat_ws(",", *cells).alias("value")).write.mode(
        "overwrite"
    ).text(input_dir)
    # k > distinct users at every SF (so nothing is cut before the
    # numeric re-rank) but small enough that the job's top-k priority
    # queue stays O(k) memory
    with _state_partitions(spark, input_dir):
        drained = jobs.stream_reddit_top_users(
            spark, input_dir, ckpt, k=1_000_000, name=f"rd_{run}"
        )
    _cleanup(input_dir)
    return (
        drained.select(
            F.col("username").cast("long").alias("user_id"), F.col("posts")
        )
        .orderBy(F.col("posts").desc(), F.col("user_id").asc())
        .limit(50)
    )


def stream_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionize_events as a streaming job: the 30-minute-gap
    sessions come from `session_window()` + watermark
    (jobs.stream_session_windows) instead of the batch lag+cumsum
    pattern, drained with availableNow and rolled up to the same
    (user_id, n_sessions, avg_events_per_session) shape — SAME oracle
    as the batch query, so the two formulations' session semantics
    are proven equivalent on static input. (Boundary note: an
    exactly-30:00 silence closes a session_window but not the batch
    lag>gap test; nanosecond event times make an exact tie
    measure-zero, and the hash-match would catch one.)"""
    from stream_processing_system_spark.functions.scalar import det_round

    input_dir, ckpt, run = _scratch("ss")
    events = load_table(spark, sf_dir, "events").select("ts", "user_id")
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema("ts timestamp, user_id long").parquet(input_dir)
    with _state_partitions(spark, input_dir):
        per_session = jobs.stream_session_windows(
            spark, stream, ckpt, gap="30 minutes", watermark="1 hour", name=f"ss_{run}"
        )
    _cleanup(input_dir)
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            det_round(F.avg("n_events")).alias("avg_events_per_session"),
        )
        .orderBy("user_id")
    )


def stream_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_entry_exit as a streaming job: session_window +
    min_by/max_by over (ts, event_id) (jobs.stream_session_endpoints)
    instead of the batch full-frame first/last window, rolled up to
    the same (entry_type, exit_type, n_sessions) matrix — SAME oracle
    as the batch query, proving the two session formulations AND the
    two endpoint extractions equivalent on static input."""
    input_dir, ckpt, run = _scratch("see")
    events = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "event_id"
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_type string, event_id long"
    ).parquet(input_dir)
    with _state_partitions(spark, input_dir):
        per = jobs.stream_session_endpoints(
            spark, stream, ckpt, gap="30 minutes", watermark="1 hour",
            name=f"see_{run}",
        )
    _cleanup(input_dir)
    return (
        per.groupBy("entry_type", "exit_type")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("entry_type", "exit_type")
    )


def stream_host_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3_host_report as a streaming job: events re-laid as a parquet
    drop directory, then the same grouped count + sorted collect_set
    plan runs incrementally (streaming collect_set state). Same
    oracle as q3_host_report — a second batch==streaming differential
    check, this one over a stateful multi-aggregate."""
    from stream_processing_system_spark.plans.reference import host_report

    input_dir, ckpt, run = _scratch("q3")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "props"
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, props string"
    ).parquet(input_dir)
    kept = stream.where(F.col("event_type") == "click")
    route = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("props"))
    result = host_report(kept.withColumn("route", route), "user_id", F.col("route"))
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(result, f"q3_{run}", ckpt)
    _cleanup(input_dir)
    return drained


def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (jobs.stream_stream_join) as a
    driver-checked query: purchases and clicks arrive as two separate
    file-drop streams, watermarked, joined on user_id with clicks
    within 1 hour AFTER the purchase. The oracle is the equivalent
    batch interval join — proving the streaming join's event-time
    bounds against plain SQL. Output one row per (purchase, click)
    pair with epoch-second timestamps."""
    input_dir, ckpt, run = _scratch("ssj")
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    p_dir, c_dir = os.path.join(input_dir, "p"), os.path.join(input_dir, "c")
    events.where(F.col("event_type") == "purchase").select("user_id", "ts").write.mode(
        "overwrite"
    ).parquet(p_dir)
    events.where(F.col("event_type") == "click").select("user_id", "ts").write.mode(
        "overwrite"
    ).parquet(c_dir)
    schema = "user_id long, ts timestamp"
    purchases = spark.readStream.schema(schema).parquet(p_dir)
    clicks = spark.readStream.schema(schema).parquet(c_dir)
    with _state_partitions(spark, input_dir):
        joined = jobs.stream_stream_join(
            spark, purchases, clicks, ckpt, within="1 hour", name=f"ssj_{run}"
        )
    _cleanup(input_dir)
    return joined.select(
        F.col("l_key").alias("user_id"),
        F.col("l_ts").cast("long").alias("purchase_ts_s"),
        F.col("r_ts").cast("long").alias("click_ts_s"),
    ).orderBy("user_id", "purchase_ts_s", "click_ts_s")


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_sliding_window as a streaming job: hopping 2h/1h windows
    with a watermark, drained with availableNow — same oracle as the
    batch query, proving the hopping-window semantics match."""
    input_dir, ckpt, run = _scratch("slw")
    events = load_table(spark, sf_dir, "events").select("ts", "value")
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema("ts timestamp, value double").parquet(input_dir)
    result = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n",
            "sum_value",
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(result, f"slw_{run}", ckpt)
    _cleanup(input_dir)
    return drained.orderBy("window_start")


def stream_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters with the SKETCH maintained by a
    streaming aggregation: the depth×width cell counters are the
    streaming state (groupBy (row, bucket) in complete mode, drained
    with availableNow), and the top-k probe runs as a batch query
    over the drained cell snapshot — the standard sketch serving
    split (the stream maintains the sketch, queries probe a
    snapshot). Cell-wise counts are mergeable, so micro-batched
    maintenance converges to the batch sketch exactly: same oracle as
    events_heavy_hitters."""
    from stream_processing_system_spark.functions.scalar import md5_prefix_long

    depth, width, k = 4, 256, 20
    input_dir, ckpt, run = _scratch("hh")
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("user_id").cast("string").alias("_k")
    )
    events.write.mode("overwrite").parquet(input_dir)

    def bucket(j, key):
        return F.pmod(md5_prefix_long(F.concat(F.lit(f"{j}|"), key)), F.lit(width))

    stream = spark.readStream.schema("user_id bigint, _k string").parquet(input_dir)
    cells = (
        stream.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            bucket(j, F.col("_k")).alias("b"),
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("c")
        )
        .groupBy("c.j", "c.b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with _state_partitions(spark, input_dir):
        cell_tbl = jobs._drain_to_table(cells, f"hh_{run}", ckpt)
    _cleanup(input_dir)
    probes = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            bucket(j, F.col("user_id").cast("string")).alias("b"),
                        )
                        for j in range(depth)
                    ]
                )
            ).alias("p"),
        )
        .select("user_id", "p.j", "p.b")
    )
    return (
        probes.join(F.broadcast(cell_tbl), ["j", "b"], "left")
        .groupBy("user_id")
        .agg(F.min(F.coalesce("n", F.lit(0))).cast("long").alias("est"))
        .orderBy(F.col("est").desc(), F.col("user_id").asc())
        .limit(k)
    )


def stream_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars computed as an availableNow stream over a
    file-drop copy of events — the streaming twin of
    `analytics.events_ohlc_daily` (same oracle).

    Open/close use `min_by`/`max_by` keyed on the (ts, event_id)
    STRUCT: lexicographic struct order with the unique event id makes
    the picked tick total-ordered, so the streaming aggregation is
    deterministic under any micro-batch interleaving — the property
    that lets the batch window/row_number formulation and this
    incremental formulation hash-match the same SQL. Complete mode
    because the drain must emit every day's bar; on an unbounded
    stream the same plan runs in update mode with a watermark on ts.
    """
    input_dir, ckpt, run = _scratch("ohlc")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_id", "ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    key = F.struct(F.col("ts"), F.col("event_id"))
    result = (
        stream.withColumn("day", F.col("ts").cast("date").cast("string"))
        .groupBy("event_type", "day")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(result, f"ohlc_{run}", ckpt)
    _cleanup(input_dir)
    return drained.orderBy("event_type", "day")


def stream_purchase_click_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join as a driver-checked
    query: every purchase pairs with its within-1-hour clicks, and
    purchases with NO qualifying click surface once with a NULL click
    timestamp. ALL purchases are fed (cutting the input would lower
    the left source's own max event time and drag the global
    watermark — the MIN across sources — back with it); the OUTPUT
    is then restricted to purchases whose match window provably
    closed before the final watermark (ts ≤ max_ts − 4 h: 1 h window
    + 2 h watermark + 1 h margin), because Spark never emits
    null-extended rows whose window is still open when a finite
    stream ends. The oracle is the equivalent batch LEFT JOIN under
    the same cutoff — proving both the match bounds AND the
    null-emission contract against plain SQL."""
    input_dir, ckpt, run = _scratch("ssjo")
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    # The global watermark is the MIN across sources of (max event
    # time - delay): the cutoff must key off the EARLIER-ending
    # stream, or purchases after the click stream's horizon keep
    # their join state open forever and never emit their nulls.
    cutoff = (
        events.where(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg((F.min("m") - F.expr("interval 4 hours")).alias("c"))
        .collect()[0]["c"]
    )
    p_dir, c_dir = os.path.join(input_dir, "p"), os.path.join(input_dir, "c")
    events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    ).write.mode("overwrite").parquet(p_dir)
    events.where(F.col("event_type") == "click").select("user_id", "ts").write.mode(
        "overwrite"
    ).parquet(c_dir)
    schema = "user_id long, ts timestamp"
    purchases = spark.readStream.schema(schema).parquet(p_dir)
    clicks = spark.readStream.schema(schema).parquet(c_dir)
    with _state_partitions(spark, input_dir):
        joined = jobs.stream_stream_join_outer(
            spark, purchases, clicks, ckpt, within="1 hour", name=f"ssjo_{run}"
        )
    _cleanup(input_dir)
    return (
        joined.where(F.col("l_ts") <= F.lit(cutoff))
        .select(
            F.col("l_key").alias("user_id"),
            F.col("l_ts").cast("long").alias("purchase_ts_s"),
            F.col("r_ts").cast("long").alias("click_ts_s"),
        )
        .orderBy("user_id", "purchase_ts_s", "click_ts_s")
    )


def stream_upsert_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals maintained by the foreachBatch IVM upsert sink
    (jobs.stream_upsert_totals): events re-laid as MULTIPLE parquet
    files, drained one file per micro-batch so the additive serving
    merge really runs several times, then the final serving table is
    checked against the plain GROUP BY oracle (same oracle as
    stream_user_stats — two different stateful mechanisms, one
    truth)."""
    input_dir, ckpt, run = _scratch("ups")
    state_dir = os.path.join(os.path.dirname(input_dir), "state")
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.coalesce(
            F.floor(F.col("value") * 10000 + 0.5).cast("long"), F.lit(0)
        ).alias("value_u"),
    )
    events.repartition(4).write.mode("overwrite").parquet(input_dir)
    with _state_partitions(spark, input_dir):
        serving = jobs.stream_upsert_totals(
            spark, input_dir, ckpt, state_dir, name=f"ups_{run}"
        )
    out = (
        serving.select(
            "user_id",
            "n_events",
            (F.col("sum_u") / F.lit(10000.0)).alias("sum_value"),
        )
        .orderBy("user_id")
        .localCheckpoint()  # materialize before the scratch dir is removed
    )
    _cleanup(input_dir)
    return out


def stream_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user ESTIMATES from a KMV sketch maintained
    incrementally by the streaming foreachBatch merge
    (jobs.stream_kmv_sketches) over a multi-file events drop. KMV
    merge associativity makes the final sketch identical to the
    batch-built one, so the estimates hash-match the batch oracle —
    sketch algebra, streaming upsert, and exactly-once replay
    guarded, all checked by one SQL string."""
    from stream_processing_system_spark.operators.sketch_kmv import kmv_estimates

    input_dir, ckpt, run = _scratch("kmv")
    state_dir = os.path.join(os.path.dirname(input_dir), "state")
    events = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("user_id").alias("member")
    )
    events.repartition(4).write.mode("overwrite").parquet(input_dir)
    with _state_partitions(spark, input_dir):
        sketch = jobs.stream_kmv_sketches(
            spark, input_dir, ckpt, state_dir, name=f"kmv_{run}", k=256
        )
    out = (
        kmv_estimates(sketch, "g", k=256)
        .select(F.col("g").alias("event_type"), "est_distinct")
        .orderBy("event_type")
        .localCheckpoint()
    )
    _cleanup(input_dir)
    return out


#: State-operator metrics from the most recent stream_soak_lineitem_state
#: run: {"numRowsTotal": ..., "provider": ...}. Read by
#: tests/test_streaming_soak.py to assert the >=1e6-key state volume.
last_soak_state_metrics: dict = {}


def stream_soak_lineitem_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-state streaming soak (VERDICT r2 task 8): a stateful
    streaming aggregation whose state store holds TWO rows per
    lineitem — key (replica, l_orderkey, l_linenumber) over a 2x
    replicated parquet drop — so at sf0.1 the RocksDB state store
    carries 1.2M keys (>=10^6, the round-2 ask), not the ~10^2-key
    toy states of the other stream_* parity queries. The provider is
    forced to RocksDB for THIS query even on the driver's vanilla
    session (state store provider is a runtime conf read at query
    start; restored after), so the session.py RocksDB claim is
    exercised under real state volume wherever the query runs.

    Parity oracle: after the drain, the per-key state rows roll up to
    per-returnflag totals — exact-integer cents and row counts that
    must equal 2x the batch lineitem aggregate. A state-store bug
    (lost key, double-counted row, bad merge) breaks the hash.

    The drained per-key table (1.2M rows at sf0.1) goes through a
    parquet sink, NOT the memory sink — at real scale the state drain
    must never materialize on the driver."""
    global last_soak_state_metrics
    input_dir, ckpt, run = _scratch("soak")
    out_dir = os.path.join(os.path.dirname(input_dir), "out")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    two = li.withColumn("replica", F.lit(0)).unionByName(
        li.withColumn("replica", F.lit(1))
    )
    two.repartition(8).write.mode("overwrite").parquet(input_dir)

    stream = spark.readStream.schema(
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "cents long, replica int"
    ).parquet(input_dir)
    per_key = stream.groupBy(
        "replica", "l_orderkey", "l_linenumber", "l_returnflag"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    def _sink(batch_df: DataFrame, _bid: int) -> None:
        # update-mode emissions append executor-side; at real scale
        # this is the upsert-into-serving-store slot (a key may
        # re-emit across batches — MERGE there; one availableNow
        # batch here, so append is exact)
        batch_df.write.mode("append").parquet(out_dir)

    with _state_partitions(spark, input_dir):
        try:
            q = (
                per_key.writeStream.outputMode("update")
                .foreachBatch(_sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            prog = q.lastProgress or {}
        finally:
            if prev is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev)
    ops = (prog.get("stateOperators") or [{}])[0]
    custom = ops.get("customMetrics") or {}
    last_soak_state_metrics = {
        "numRowsTotal": ops.get("numRowsTotal"),
        "numRowsUpdated": ops.get("numRowsUpdated"),
        "stateMemory": ops.get("memoryUsedBytes"),
        # rocksdb* custom metrics only appear when the RocksDB
        # provider actually backed the store — proof the forced
        # provider took effect, not just that the conf was set
        "rocksdb": any(k.startswith("rocksdb") for k in custom),
    }
    drained = spark.read.parquet(out_dir)
    out = (
        drained.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("l_returnflag")
        .localCheckpoint()
    )
    _cleanup(input_dir)
    return out


def stream_sax_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX words with the DAILY-GRAIN STATE maintained by a streaming
    aggregation — the streaming twin of `analytics.events_sax_daily`
    (same oracle). The per-(type, day) (sum of grid-centi values,
    count) pair is a mergeable monoid, so any micro-batch
    interleaving drains to the identical snapshot; the z-normalize /
    discretize / word-assembly tail then runs as a batch query over
    the drained state (the sketch-serving split, as in the CM-sketch
    twin). Complete mode because the drain must emit every day;
    unbounded deployments run the same plan in update mode with a
    watermark on ts."""
    from stream_processing_system_spark.plans.analytics import sax_word_from_daily

    input_dir, ckpt, run = _scratch("sax")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    centi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    state = (
        stream.select(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
            centi.alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("nd"))
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"sax_{run}", ckpt)
    _cleanup(input_dir)
    # localCheckpoint the drained snapshot (<= types x days rows): the
    # SAX tail self-joins the daily frame, and re-referencing the same
    # MemoryPlan yields conflicting attribute ids.
    daily = (
        drained
        .select(
            "event_type",
            "day",
            F.floor(
                (F.col("s") * F.lit(10000)).cast("double")
                / F.col("nd").cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("dm"),
        )
        .localCheckpoint(eager=True)
    )
    return sax_word_from_daily(daily)


def stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters forecasts with the daily-totals state maintained
    by an availableNow streaming aggregation — the streaming twin of
    `analytics.events_holt_winters` (same oracle). Per-(type, day)
    centi-value sums are a mergeable monoid (any micro-batch
    interleaving drains to the same snapshot); the sequential
    smoothing recursion then runs as the shared batch fold over the
    drained state. The day key streams as a STRING so the memory-sink
    snapshot groups stably; the fold sorts on it (ISO dates sort
    lexicographically = chronologically)."""
    from stream_processing_system_spark.plans.analytics import (
        holt_winters_from_daily,
    )

    input_dir, ckpt, run = _scratch("hw")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    centi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    state = (
        stream.select(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
            centi.alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("cent"))
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"hw_{run}", ckpt)
    _cleanup(input_dir)
    daily = (
        drained
        .select("event_type", "day", "cent")
        .localCheckpoint(eager=True)
    )
    return holt_winters_from_daily(daily)


def stream_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman local-level estimates with the daily-count state
    maintained by an availableNow streaming aggregation — the
    streaming twin of `analytics.events_kalman_level` (same oracle).
    Per-(type, day) counts are a mergeable monoid (any micro-batch
    interleaving drains to the same snapshot); the sequential filter
    recursion then runs as the shared batch fold over the drained
    state. The day key streams as a STRING so the memory-sink
    snapshot groups stably; the fold sorts on it (ISO dates sort
    lexicographically = chronologically)."""
    from stream_processing_system_spark.plans.analytics import kalman_from_daily

    input_dir, ckpt, run = _scratch("kal")
    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema("ts timestamp, event_type string").parquet(
        input_dir
    )
    state = (
        stream.select(
            "event_type", F.col("ts").cast("date").cast("string").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"kal_{run}", ckpt)
    _cleanup(input_dir)
    daily = (
        drained
        .select("event_type", "day", "c")
        .localCheckpoint(eager=True)
    )
    return kalman_from_daily(daily)


def stream_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown with the daily-totals state maintained by an
    availableNow streaming aggregation — the streaming twin of
    `analytics.events_max_drawdown` (same oracle). Per-(type, day)
    centi sums are a mergeable monoid; the peak-segmentation tail
    then runs as the shared batch plan over the drained state (day
    streams as an ISO string, which sorts chronologically)."""
    from stream_processing_system_spark.plans.analytics import (
        max_drawdown_from_daily,
    )

    input_dir, ckpt, run = _scratch("mdd")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    centi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    state = (
        stream.select(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
            centi.alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("cent"))
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"mdd_{run}", ckpt)
    _cleanup(input_dir)
    daily = (
        drained
        .select("event_type", "day", "cent")
        .localCheckpoint(eager=True)
    )
    return max_drawdown_from_daily(daily)


def stream_spout_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1_wordcount executed through the `crane_spout` custom
    STREAMING DataSource (S7, `Apps/WordCountSpout.go:18-44`):
    documents.text is re-laid as a text drop directory, the spout's
    offset-tracked SimpleDataSourceStreamReader tails it (offset =
    files consumed, replay-safe), and the drained availableNow run
    feeds the same wordcount plan. (Spark's Python microbatch stream
    wrapper downgrades availableNow to single-batch execution — all
    input is present before start, so the drain is still complete;
    incremental multi-batch tailing is exercised by
    tests/test_store_skew_spout.py.) Sharing q1's DuckDB oracle turns
    the pluggable-source contract — schema, per-file NextTuple loop,
    offset bookkeeping — into a driver-checked differential test
    instead of a pytest-only one."""
    from stream_processing_system_spark.plans.reference import wordcount
    from stream_processing_system_spark.sources import spout_source

    spout_source.register(spark)
    input_dir, ckpt, run = _scratch("spoutwc")
    docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
    docs.write.mode("overwrite").text(input_dir)
    lines = (
        spark.readStream.format("crane_spout")
        .option("path", input_dir)
        .load()
        .select(F.col("line"))
    )
    with _state_partitions(spark, input_dir):
        result = jobs._drain_to_table(wordcount(lines), f"spoutwc_{run}", ckpt)
    _cleanup(input_dir)
    return result.select("word", "cnt")


def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detection with the daily-totals state
    maintained by an availableNow streaming aggregation — the
    streaming twin of `analytics.events_page_hinkley` (same oracle).
    The per-(type, day) centi sums are a mergeable monoid, so the
    streaming state is exactly the `_daily_whole_units` grid; the
    running-mean/cumsum/running-min PH tail then runs as the shared
    batch plan over the drained state (day streams as an ISO string,
    which sorts chronologically — the tail only orders by it)."""
    from stream_processing_system_spark.plans.analytics import (
        page_hinkley_from_daily,
    )

    input_dir, ckpt, run = _scratch("sph")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    centi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    state = (
        stream.select(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
            centi.alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("cent"))
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"sph_{run}", ckpt)
    _cleanup(input_dir)
    daily = (
        drained
        .select("event_type", "day", F.expr("cent div 100").alias("x"))
        .localCheckpoint(eager=True)
    )
    return page_hinkley_from_daily(daily)


def stream_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule–Walker fit with the daily-totals state maintained
    by an availableNow streaming aggregation — the streaming twin of
    `analytics.events_ar2_yule_walker` (same oracle). Per-(type,
    day) centi sums are a mergeable monoid; the lead-window
    autocovariance tail runs as the shared batch plan over the
    drained state (ISO-string days order chronologically, and
    max_by(x, day) picks the same last observations)."""
    from stream_processing_system_spark.plans.analytics import (
        ar2_yule_walker_from_daily,
    )

    input_dir, ckpt, run = _scratch("sar2")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    centi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    state = (
        stream.select(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
            centi.alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("cent"))
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"sar2_{run}", ckpt)
    _cleanup(input_dir)
    daily = (
        drained
        .select("event_type", "day", F.expr("cent div 100").alias("x"))
        .localCheckpoint(eager=True)
    )
    return ar2_yule_walker_from_daily(daily)


def stream_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift test with the
    (type, cent-value) half-split counts maintained by an
    availableNow streaming aggregation — the streaming twin of
    `analytics.events_cvm_drift` (same oracle). The per-cell
    (ca, cb) counts are a mergeable monoid, so the streaming state
    IS the bounded cent-domain cell frame; the cumulative-ECDF gap²
    tail then runs as the shared batch plan over the drained state."""
    from stream_processing_system_spark.plans.analytics import (
        cvm_from_cells,
    )

    input_dir, ckpt, run = _scratch("scvm")
    # ts IS NOT NULL mirrors the batch plan and the oracle exactly:
    # without it, SUM's NULL-skip of the half indicator would drop
    # NULL-ts rows the oracle's CASE WHEN counts into ca (ADVICE r7)
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    half = (F.col("ts") >= F.lit("2024-01-16")).cast("int")
    state = (
        stream.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
            half.alias("h"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.lit(1) - F.col("h")).alias("ca"),
            F.sum("h").alias("cb"),
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"scvm_{run}", ckpt)
    _cleanup(input_dir)
    cells = drained.localCheckpoint(eager=True)
    return cvm_from_cells(cells, query="stream_cvm_drift")


def stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test with the
    (type, cent-value) half-split counts maintained by an
    availableNow streaming aggregation — the streaming twin of
    `analytics.events_ks_test` (same oracle), completing the
    streaming drift pair with `stream_cvm_drift`: the per-cell
    (ca, cb) counts are a mergeable monoid, so the streaming state
    IS the bounded cent-domain cell frame, and the max-ECDF-gap tail
    runs as the shared batch plan over the drained state."""
    from stream_processing_system_spark.plans.analytics import (
        ks_from_cells,
    )

    input_dir, ckpt, run = _scratch("sks")
    # ts IS NOT NULL mirrors the batch plan and the oracle exactly
    # (the ADVICE-r7 NULL-ts drift-split class)
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    half = (F.col("ts") >= F.lit("2024-01-16")).cast("int")
    state = (
        stream.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
            half.alias("h"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.lit(1) - F.col("h")).alias("ca"),
            F.sum("h").alias("cb"),
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"sks_{run}", ckpt)
    _cleanup(input_dir)
    cells = drained.localCheckpoint(eager=True)
    return ks_from_cells(cells)


def stream_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-weighted two-sample drift with the (type, cent-value)
    half-split counts maintained by an availableNow streaming
    aggregation — the streaming twin of
    `analytics.events_anderson_darling` (same oracle). With this the
    ENTIRE two-sample drift family (KS / CvM / AD) runs in both
    runtimes over one shared mergeable cell-monoid state: the
    streaming aggregation IS the bounded cent-domain cell frame, the
    statistic tails are the shared batch plans over the drained
    state."""
    from stream_processing_system_spark.plans.analytics import (
        ad_from_cells,
    )

    input_dir, ckpt, run = _scratch("sad")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    half = (F.col("ts") >= F.lit("2024-01-16")).cast("int")
    state = (
        stream.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
            half.alias("h"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.lit(1) - F.col("h")).alias("ca"),
            F.sum("h").alias("cb"),
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"sad_{run}", ckpt)
    _cleanup(input_dir)
    cells = drained.localCheckpoint(eager=True)
    return ad_from_cells(cells)


def stream_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's-delta effect size with the (type, cent-value)
    half-split counts maintained by an availableNow streaming
    aggregation — the streaming twin of
    `analytics.events_cliffs_delta` (same oracle). Completes the
    drift family's streaming story: the THREE alarm statistics
    (KS / CvM / AD) and now the EFFECT SIZE a monitor reads after
    the alarm all run in both runtimes over the SAME mergeable
    cell-monoid state — one streaming aggregation feeds four
    statistic tails, which is exactly how a production monitor
    would deploy them (one state store, many readouts)."""
    from stream_processing_system_spark.plans.analytics import (
        cliffs_from_cells,
    )

    input_dir, ckpt, run = _scratch("scd2")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    half = (F.col("ts") >= F.lit("2024-01-16")).cast("int")
    state = (
        stream.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
            half.alias("h"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.lit(1) - F.col("h")).alias("ca"),
            F.sum("h").alias("cb"),
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"scd2_{run}", ckpt)
    _cleanup(input_dir)
    cells = drained.localCheckpoint(eager=True)
    return cliffs_from_cells(cells)


def stream_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test with the (type, cent-value) half-split
    counts maintained by an availableNow streaming aggregation —
    the streaming twin of `analytics.events_mood_median` (same
    oracle). FIVE statistic tails (KS / CvM / AD / Cliff's δ /
    Mood's median χ²) now read the SAME mergeable cell-monoid
    state: one streaming aggregation, five readouts — the
    production-monitor deployment shape, and the reason the family
    factored its tails out of the batch plans."""
    from stream_processing_system_spark.plans.analytics import (
        mood_from_cells,
    )

    input_dir, ckpt, run = _scratch("smm")
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("ts", "event_type", "value")
    )
    events.write.mode("overwrite").parquet(input_dir)
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(input_dir)
    half = (F.col("ts") >= F.lit("2024-01-16")).cast("int")
    state = (
        stream.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
            half.alias("h"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.lit(1) - F.col("h")).alias("ca"),
            F.sum("h").alias("cb"),
        )
    )
    with _state_partitions(spark, input_dir):
        drained = jobs._drain_to_table(state, f"smm_{run}", ckpt)
    _cleanup(input_dir)
    cells = drained.localCheckpoint(eager=True)
    return mood_from_cells(cells)

"""Streaming queries exposed through the driver contract.

Each wrapper hands the sf_dir table it streams to `_drain`, which lays
it out as a file-drop directory; the wrapper runs the *streaming* plan
with trigger(availableNow=True) over it and returns the drained result
as a batch DataFrame. Registering these with the SAME DuckDB oracle as
their batch twin turns the batch==streaming parity property
(FIXTURES.md §3) into a driver-checked differential test, not just a
unit test."""

from __future__ import annotations

import contextlib
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_system_spark.plans import analytics
from stream_processing_system_spark.sources.scratch import scratch
from stream_processing_system_spark.sources.tables import load_table
from stream_processing_system_spark.streaming import jobs


@contextlib.contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the body; restore the previous value,
    or unset the key if it had none, on exit."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


#: File-drop bytes per streaming state partition (see `_state_partitions`).
_DROP_BYTES_PER_STATE_PARTITION = 256 * 1024


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
    base = os.path.dirname(input_dir.rstrip("/"))
    drop = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(base)
        for f in files
    )
    n = -(-drop // _DROP_BYTES_PER_STATE_PARTITION)
    n = max(1, min(n, spark.sparkContext.defaultParallelism))
    return _session_conf(spark, "spark.sql.shuffle.partitions", str(n))


#: Spark's rename-based checkpoint manager on a Hadoop `FileSystem`
#: (see `_drain`).
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


class _Drop(NamedTuple):
    """One twin's scratch run, as yielded by `_drain`."""

    dirs: list[str]  # one file-drop directory per input frame
    streams: list[DataFrame]  # each parquet drop read back as a stream
    ckpt: str
    name: str  # memory-sink query name, unique within the session
    base: str  # scratch base holding all of the above

    @property
    def dir(self) -> str:
        return self.dirs[0]

    @property
    def stream(self) -> DataFrame:
        return self.streams[0]


@contextlib.contextmanager
def _drain(spark: SparkSession, prefix: str, *frames: DataFrame, fmt: str = "parquet"):
    """The spout and sink side every twin shares: write each frame as a
    `fmt` ("parquet" or "text") file drop under a private per-run
    `scratch` base, read each parquet drop back as a stream with the
    frame's own schema, and run the body under `_state_partitions` with
    `_FS_CHECKPOINT_MANAGER` as the session's checkpoint file manager.
    The base is removed and both settings are restored on exit, also
    when the drain raises.

    Why the FileSystem manager: Spark's default FileContext manager
    renames each checkpoint file (offset and commit logs, state schema
    files, RocksDB uploads) through `FileContext.rename`, which on a
    local path without Hadoop's native library forks a `readlink`
    process per rename; `FileSystem.rename` on a local path is one
    POSIX rename with no fork. On 4 cores this cut the forked-child
    CPU of a `crane_stream` pass from about 0.5 s to 0.2 s, and its
    in-JVM pass CPU by about a fifth (PERFORMANCE.md). Why only here: the
    checkpoint always lives under the local scratch base, where that
    rename is atomic. A checkpoint on HDFS or an object store, made
    outside `_drain`, keeps Spark's default.

    The base's random suffix keeps the memory-sink query name unique
    within a session (bench runs each query several times). Nothing on
    disk is needed after the block: a memory-sink result lives in the
    driver, and a result read from the base (a foreachBatch serving
    table) is materialized inside the block. A drained memory-sink
    table that a batch tail self-joins is localCheckpointed first,
    because re-referencing the same MemoryPlan yields conflicting
    attribute ids."""
    with scratch(prefix) as base:
        dirs = [os.path.join(base, f"in{i}") for i in range(len(frames))]
        streams = []
        for frame, d in zip(frames, dirs):
            frame.write.mode("overwrite").format(fmt).save(d)
            if fmt == "parquet":
                streams.append(spark.readStream.schema(frame.schema).parquet(d))
        name = os.path.basename(base).removeprefix("spark_graft_")
        with _session_conf(
            spark,
            "spark.sql.streaming.checkpointFileManagerClass",
            _FS_CHECKPOINT_MANAGER,
        ), _state_partitions(spark, dirs[0]):
            yield _Drop(dirs, streams, os.path.join(base, "ckpt"), name, base)


def stream_wordcount_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1_wordcount, but executed as a Structured Streaming job over
    a file-drop copy of documents.text. Same oracle as q1_wordcount."""
    docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
    with _drain(spark, "wc", docs, fmt="text") as d:
        result = jobs.stream_wordcount(spark, d.dir, d.ckpt, name=d.name)
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

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _drain(spark, "dd", docs) as d:
        keepers = (
            d.stream.select(
                F.md5(normalized_text(F.col("text"))).alias("_digest"), "doc_id"
            )
            .groupBy("_digest")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        return jobs._drain_to_table(keepers, d.name, d.ckpt)


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

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _drain(spark, "ddwm", docs) as d:
        deduped = (
            d.stream.select(
                F.md5(normalized_text(F.col("text"))).alias("digest"),
                F.lit("2024-01-01 00:00:00").cast("timestamp").alias("_ts"),
            )
            .withWatermark("_ts", "1 hour")
            .dropDuplicatesWithinWatermark(["digest"])
            .select("digest")
        )
        drained = jobs._drain_to_table(deduped, d.name, d.ckpt, output_mode="append")
    return drained.orderBy("digest")


def stream_events_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window with a watermark, drained
    with availableNow — the streaming twin of events_per_hour (same
    oracle). Complete output mode here because the drain must emit
    every window including the last open one; the watermark is what
    bounds state when the same plan runs on an unbounded stream."""
    events = load_table(spark, sf_dir, "events").select("ts", "value")
    with _drain(spark, "eph", events) as d:
        result = (
            d.stream.withWatermark("ts", "1 hour")
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
        drained = jobs._drain_to_table(result, d.name, d.ckpt)
    return drained.orderBy("hour_start")


def stream_running_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState running
    count per line, §2.11 stateful-bolt surface) drained over a
    file-drop copy of documents.text. Running counts are monotone, so
    max(cnt) per key after the drain is the converged total — checked
    against a plain GROUP BY oracle, which makes the custom-state
    path value-hash verifiable, not just smoke-tested."""
    docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
    with _drain(spark, "rc", docs, fmt="text") as d:
        tbl = jobs.stream_running_counts(spark, d.dir, d.ckpt, name=d.name)
    return tbl.groupBy("key").agg(F.max("cnt").alias("cnt"))


def stream_user_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state parity: per-user running
    (n_events, sum value) maintained in custom streaming state
    (applyInPandasWithState, jobs.stream_user_stats) over an events
    file-drop. Values are quantized to integer micro-units
    JVM-SIDE before the Python stage (order-independent integer sums
    through arbitrary micro-batching), and the drained `update`
    output rolls up with max per key (totals are monotone). Checked
    against a plain GROUP BY oracle — the arbitrary-state path is
    value-hash verified, same standard as every built-in operator."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.coalesce(
            F.floor(F.col("value") * 10000 + 0.5).cast("long"), F.lit(0)
        ).alias("value_u"),
    )
    with _drain(spark, "ustats", events) as d:
        drained = jobs.stream_user_stats(spark, d.stream, d.ckpt, name=d.name)
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
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    with _drain(spark, "ser", events) as d:
        result = (
            d.stream.where(
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
        drained = jobs._drain_to_table(result, d.name, d.ckpt)
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
    rows = events.select(F.concat_ws(",", *cells).alias("value"))
    # k > distinct users at every SF (so nothing is cut before the
    # numeric re-rank) but small enough that the job's top-k priority
    # queue stays O(k) memory
    with _drain(spark, "rd", rows, fmt="text") as d:
        drained = jobs.stream_reddit_top_users(
            spark, d.dir, d.ckpt, k=1_000_000, name=d.name
        )
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

    events = load_table(spark, sf_dir, "events").select("ts", "user_id")
    with _drain(spark, "ss", events) as d:
        per_session = jobs.stream_session_windows(
            spark, d.stream, d.ckpt, gap="30 minutes", watermark="1 hour", name=d.name
        )
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
    events = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "event_id"
    )
    with _drain(spark, "see", events) as d:
        per = jobs.stream_session_endpoints(
            spark, d.stream, d.ckpt, gap="30 minutes", watermark="1 hour", name=d.name
        )
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

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "props"
    )
    with _drain(spark, "q3", events) as d:
        kept = d.stream.where(F.col("event_type") == "click")
        route = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("props"))
        result = host_report(kept.withColumn("route", route), "user_id", F.col("route"))
        return jobs._drain_to_table(result, d.name, d.ckpt)


def _purchases_and_clicks(events: DataFrame) -> list[DataFrame]:
    """The (user_id, ts) purchase and click frames the join twins drop."""
    return [
        events.where(F.col("event_type") == t).select("user_id", "ts")
        for t in ("purchase", "click")
    ]


def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (jobs.stream_stream_join) as a
    driver-checked query: purchases and clicks arrive as two separate
    file-drop streams, watermarked, joined on user_id with clicks
    within 1 hour AFTER the purchase. The oracle is the equivalent
    batch interval join — proving the streaming join's event-time
    bounds against plain SQL. Output one row per (purchase, click)
    pair with epoch-second timestamps."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    with _drain(spark, "ssj", *_purchases_and_clicks(events)) as d:
        joined = jobs.stream_stream_join(
            spark, *d.streams, d.ckpt, within="1 hour", name=d.name
        )
    return joined.select(
        F.col("l_key").alias("user_id"),
        F.col("l_ts").cast("long").alias("purchase_ts_s"),
        F.col("r_ts").cast("long").alias("click_ts_s"),
    ).orderBy("user_id", "purchase_ts_s", "click_ts_s")


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_sliding_window as a streaming job: hopping 2h/1h windows
    with a watermark, drained with availableNow — same oracle as the
    batch query, proving the hopping-window semantics match."""
    events = load_table(spark, sf_dir, "events").select("ts", "value")
    with _drain(spark, "slw", events) as d:
        result = (
            d.stream.withWatermark("ts", "2 hours")
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
        drained = jobs._drain_to_table(result, d.name, d.ckpt)
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
    from stream_processing_system_spark.operators.core import cms_bucket, cms_cells

    depth, width, k = 4, 256, 20
    events = load_table(spark, sf_dir, "events").select("user_id")
    with _drain(spark, "hh", events) as d:
        cell_tbl = jobs._drain_to_table(
            cms_cells(d.stream, "user_id", depth, width), d.name, d.ckpt
        )
    key = F.col("user_id").cast("string")
    probes = (
        events.distinct()
        .select(
            "user_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"), cms_bucket(key, j, width).alias("b")
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
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_id", "ts", "event_type", "value")
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    with _drain(spark, "ohlc", events) as d:
        result = (
            d.stream.withColumn("day", F.col("ts").cast("date").cast("string"))
            .groupBy("event_type", "day")
            .agg(
                F.min_by("value", key).alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by("value", key).alias("close"),
                F.count(F.lit(1)).alias("n_ticks"),
            )
        )
        drained = jobs._drain_to_table(result, d.name, d.ckpt)
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
    with _drain(spark, "ssjo", *_purchases_and_clicks(events)) as d:
        joined = jobs.stream_stream_join(
            spark, *d.streams, d.ckpt, within="1 hour", name=d.name, how="leftOuter"
        )
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
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.coalesce(
            F.floor(F.col("value") * 10000 + 0.5).cast("long"), F.lit(0)
        ).alias("value_u"),
    )
    with _drain(spark, "ups", events.repartition(4)) as d:
        serving = jobs.stream_upsert_totals(
            spark, d.dir, d.ckpt, os.path.join(d.base, "state"), name=d.name
        )
        return (
            serving.select(
                "user_id",
                "n_events",
                (F.col("sum_u") / F.lit(10000.0)).alias("sum_value"),
            )
            .orderBy("user_id")
            .localCheckpoint()
        )


def stream_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user ESTIMATES from a KMV sketch maintained
    incrementally by the streaming foreachBatch merge
    (jobs.stream_kmv_sketches) over a multi-file events drop. KMV
    merge associativity makes the final sketch identical to the
    batch-built one, so the estimates hash-match the batch oracle —
    sketch algebra, streaming upsert, and exactly-once replay
    guarded, all checked by one SQL string."""
    from stream_processing_system_spark.operators.sketch_kmv import kmv_estimates

    events = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("user_id").alias("member")
    )
    with _drain(spark, "kmv", events.repartition(4)) as d:
        sketch = jobs.stream_kmv_sketches(
            spark, d.dir, d.ckpt, os.path.join(d.base, "state"), name=d.name, k=256
        )
        return (
            kmv_estimates(sketch, "g", k=256)
            .select(F.col("g").alias("event_type"), "est_distinct")
            .orderBy("event_type")
            .localCheckpoint()
        )


#: State-operator metrics from the most recent stream_soak_lineitem_state
#: run: {"numRowsTotal": ..., "provider": ...}. Read by
#: tests/test_streaming_soak.py to assert the >=1e6-key state volume.
last_soak_state_metrics: dict = {}


def stream_soak_lineitem_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-state streaming soak: a stateful streaming aggregation
    whose state store holds TWO rows per lineitem — key (replica,
    l_orderkey, l_linenumber) over a 2x replicated parquet drop — so
    at sf0.1 the RocksDB state store carries 1.2M keys, not the
    ~10^2-key toy states of the other stream_* parity queries. The
    provider is forced to RocksDB for THIS query even on a vanilla
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
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        _centi("l_extendedprice").alias("cents"),
    )
    two = li.withColumn("replica", F.lit(0)).unionByName(
        li.withColumn("replica", F.lit(1))
    )
    with _drain(spark, "soak", two.repartition(8)) as d:
        out_dir = os.path.join(d.base, "out")
        per_key = d.stream.groupBy(
            "replica", "l_orderkey", "l_linenumber", "l_returnflag"
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))

        def _sink(batch_df: DataFrame, _bid: int) -> None:
            # update-mode emissions append executor-side; at real scale
            # this is the upsert-into-serving-store slot (a key may
            # re-emit across batches — MERGE there; one availableNow
            # batch here, so append is exact)
            batch_df.write.mode("append").parquet(out_dir)

        with _session_conf(
            spark,
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ):
            q = (
                per_key.writeStream.outputMode("update")
                .foreachBatch(_sink)
                .option("checkpointLocation", d.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        ops = ((q.lastProgress or {}).get("stateOperators") or [{}])[0]
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
        return (
            spark.read.parquet(out_dir)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("n").alias("n_rows"),
                F.sum("cents").alias("total_cents"),
            )
            .orderBy("l_returnflag")
            .localCheckpoint()
        )


def _centi(col: str = "value"):
    """A value on the exact integer cent grid."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def _daily_state(spark: SparkSession, sf_dir: str, prefix: str, *aggs) -> DataFrame:
    """The daily-series twins' state: drain `aggs` over the
    per-(event_type, day) cent values `v` of the non-NULL-value events
    and return the localCheckpointed snapshot. Per-day sums and counts
    are mergeable monoids, so any micro-batch interleaving drains to
    the batch plan's daily frame (`sum(v) div 100` is the batch
    `_daily_whole_units` grid). The day key streams as an ISO STRING
    so the memory-sink snapshot groups stably; the shared batch tails
    only order by it (ISO dates sort chronologically)."""
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "event_type", "value")
    )
    with _drain(spark, prefix, events) as d:
        state = (
            d.stream.select(
                "event_type",
                F.col("ts").cast("date").cast("string").alias("day"),
                _centi().alias("v"),
            )
            .groupBy("event_type", "day")
            .agg(*aggs)
        )
        drained = jobs._drain_to_table(state, d.name, d.ckpt)
    return drained.localCheckpoint(eager=True)


def stream_sax_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX words with the daily-grain (sum of grid-centi values, count)
    state maintained by a streaming aggregation — the streaming twin
    of `analytics.events_sax_daily` (same oracle). The
    z-normalize / discretize / word-assembly tail then runs as a batch
    query over the drained state (the sketch-serving split, as in the
    CM-sketch twin)."""
    state = _daily_state(
        spark, sf_dir, "sax", F.sum("v").alias("s"), F.count(F.lit(1)).alias("nd")
    )
    daily = state.select(
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
    return analytics.sax_word_from_daily(daily)


def stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters forecasts over the drained daily-totals state — the
    streaming twin of `analytics.events_holt_winters` (same oracle);
    the sequential smoothing recursion runs as the shared batch fold."""
    daily = _daily_state(spark, sf_dir, "hw", F.sum("v").alias("cent"))
    return analytics.holt_winters_from_daily(daily)


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
    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    with _drain(spark, "kal", events) as d:
        state = (
            d.stream.select(
                "event_type", F.col("ts").cast("date").cast("string").alias("day")
            )
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        drained = jobs._drain_to_table(state, d.name, d.ckpt)
    return analytics.kalman_from_daily(drained.localCheckpoint(eager=True))


def stream_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown over the drained daily-totals state — the
    streaming twin of `analytics.events_max_drawdown` (same oracle);
    the peak-segmentation tail runs as the shared batch plan."""
    daily = _daily_state(spark, sf_dir, "mdd", F.sum("v").alias("cent"))
    return analytics.max_drawdown_from_daily(daily)


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
    docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
    with _drain(spark, "spoutwc", docs, fmt="text") as d:
        lines = (
            spark.readStream.format("crane_spout")
            .option("path", d.dir)
            .load()
            .select(F.col("line"))
        )
        result = jobs._drain_to_table(wordcount(lines), d.name, d.ckpt)
    return result.select("word", "cnt")


def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detection over the drained daily-totals state
    — the streaming twin of `analytics.events_page_hinkley` (same
    oracle); the running-mean/cumsum/running-min PH tail runs as the
    shared batch plan."""
    daily = _daily_state(spark, sf_dir, "sph", F.expr("sum(v) div 100").alias("x"))
    return analytics.page_hinkley_from_daily(daily)


def stream_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule–Walker fit over the drained daily-totals state — the
    streaming twin of `analytics.events_ar2_yule_walker` (same oracle);
    the lead-window autocovariance tail runs as the shared batch plan
    (max_by(x, day) picks the same last observations on ISO days)."""
    daily = _daily_state(spark, sf_dir, "sar2", F.expr("sum(v) div 100").alias("x"))
    return analytics.ar2_yule_walker_from_daily(daily)


def _drift_cells(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """Drain `analytics.halfsplit_value_cells` over an events file-drop
    stream and return the localCheckpointed (event_type, v, ca, cb)
    snapshot: the batch drift plans' own cell frame, maintained as
    streaming state, which each drift twin reduces with its batch
    statistic tail."""
    events = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    with _drain(spark, prefix, events) as d:
        cells = analytics.halfsplit_value_cells(d.stream)
        drained = jobs._drain_to_table(cells, d.name, d.ckpt)
    return drained.localCheckpoint(eager=True)


def stream_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift test over the drained
    half-split cells — the streaming twin of
    `analytics.events_cvm_drift` (same oracle)."""
    cells = _drift_cells(spark, sf_dir, "scvm")
    return analytics.cvm_from_cells(cells, query="stream_cvm_drift")


def stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test over the drained
    half-split cells — the streaming twin of `analytics.events_ks_test`
    (same oracle)."""
    return analytics.ks_from_cells(_drift_cells(spark, sf_dir, "sks"))


def stream_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-weighted two-sample drift over the drained half-split cells
    — the streaming twin of `analytics.events_anderson_darling` (same
    oracle)."""
    return analytics.ad_from_cells(_drift_cells(spark, sf_dir, "sad"))


def stream_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's-delta effect size over the drained half-split cells —
    the streaming twin of `analytics.events_cliffs_delta` (same
    oracle)."""
    return analytics.cliffs_from_cells(_drift_cells(spark, sf_dir, "scd2"))


def stream_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test over the drained half-split cells — the
    streaming twin of `analytics.events_mood_median` (same oracle)."""
    return analytics.mood_from_cells(_drift_cells(spark, sf_dir, "smm"))

"""Streaming jobs (SURVEY.md §2.9, §7.2 step 4).

The reference's streaming model is tuple-at-a-time over TCP with an
`END` marker to signal end-of-stream (`spout/spout.go:205-210`,
`bolt/bolt.go:209-215`); the boltl polls until every upstream sent
END, then writes the sink once (`bolt/bolt.go:286-310`). The
idiomatic Spark twin is `trigger(availableNow=True)`: drain all
available input, then stop — identical completion semantics with
checkpointing (exactly-once to idempotent sinks, strictly stronger
than the reference's drop-and-restart at-most-once,
`spout/spout.go:120-150`, `Nimbus.go:280-297`).

Every job here reuses the SAME plan function as its batch twin —
parity between batch and streaming results on static input is a
tested property (FIXTURES.md §3)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from stream_processing_system_spark.functions import lenient_int
from stream_processing_system_spark.plans.reference import nasalog_report, wordcount
from stream_processing_system_spark.sources.text import (
    read_reddit_csv,
    read_text_lines,
)


def _drain_to_table(
    result: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str = "complete"
) -> DataFrame:
    """Run an aggregated streaming DataFrame to completion
    (availableNow = the END-marker drain) into an in-memory table and
    return it as a batch DataFrame, dropping the sink's temp view.
    For production sinks swap the memory format for
    parquet/kafka/foreachBatch — the plan is unchanged."""
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # The returned frame keeps the sink's rows through its resolved
    # plan; the temp view would pin them in the driver for the session.
    spark = result.sparkSession
    table = spark.table(query_name)
    spark.catalog.dropTempView(query_name)
    return table


def stream_wordcount(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, name: str = "wc_stream"
) -> DataFrame:
    """Q1 as a stream: file-drop directory → same wordcount plan →
    drain-and-stop. State (the word counts) lives in the streaming
    state store — the managed equivalent of the reference's unbounded
    `WordCountMap` + mutex (`bolt/bolt.go:28-34,566-583`)."""
    lines = read_text_lines(spark, input_dir, streaming=True)
    return _drain_to_table(wordcount(lines), name, checkpoint_dir)


def stream_reddit_top_users(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, k: int = 50,
    name: str = "reddit_stream",
) -> DataFrame:
    """Q2 as a stream. Sorting/limit are not allowed in streaming
    aggregations, so the stream maintains the counts (the stateful
    part) and the top-k is applied to the drained result — the same
    split as the reference, where ranking happens once at END
    (`bolt/bolt.go:286-294` poll loop → `:398-419` rank+write)."""
    df = read_reddit_csv(spark, input_dir, streaming=True)
    filtered = df.where(lenient_int("score") >= 0)
    counts = filtered.groupBy("username").agg(F.count(F.lit(1)).alias("posts"))
    drained = _drain_to_table(counts, name, checkpoint_dir)
    return drained.orderBy(F.col("posts").desc(), F.col("username").asc()).limit(k)


def stream_nasalog_report(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, name: str = "nasa_stream"
) -> DataFrame:
    """Q3 as a stream: the full parse → filter → grouped
    count+collect_set plan runs incrementally."""
    lines = read_text_lines(spark, input_dir, streaming=True)
    return _drain_to_table(nasalog_report(lines), name, checkpoint_dir)


def stream_session_windows(
    spark: SparkSession,
    events: DataFrame,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    name: str = "sessions_stream",
) -> DataFrame:
    """Streaming sessionization with `session_window` + watermark —
    the streaming twin of plans.analytics.sessionize_events. Late
    data beyond the watermark is dropped (the reference has no
    event-time semantics at all, SURVEY.md §2.9 — this is capability
    beyond parity). `events` must be a streaming DataFrame with
    (ts timestamp, user_id)."""
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return _drain_to_table(sessions, name, checkpoint_dir, output_mode="complete")


def stream_session_endpoints(
    spark: SparkSession,
    events: DataFrame,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    name: str = "session_endpoints_stream",
) -> DataFrame:
    """Streaming session entry/exit extraction: `session_window` +
    min_by/max_by over the total (ts, event_id) order — the streaming
    twin of plans.analytics.session_entry_exit's window-frame
    first/last, with the same deterministic same-timestamp
    tie-break. `events` must be a streaming DataFrame with
    (ts, user_id, event_type, event_id)."""
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias(
                "entry_type"
            ),
            F.max_by("event_type", F.struct("ts", "event_id")).alias(
                "exit_type"
            ),
        )
        .select("user_id", "entry_type", "exit_type")
    )
    return _drain_to_table(sessions, name, checkpoint_dir, output_mode="complete")


def stream_stream_join(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    checkpoint_dir: str,
    join_key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    name: str = "ss_join",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with event-time bounds (capability beyond
    the reference, which has no joins at all — SURVEY.md §2.3): both
    sides watermarked, rows match when keys are equal AND the right
    event lands within `within` after the left event. Watermarks
    bound the join state the engine must retain — the difference
    between a streaming join that runs forever and one that OOMs.

    `how="leftOuter"`: matched pairs emit as they meet; an UNMATCHED
    left row emits with a NULL right side only after the watermark
    passes the end of its match window (the engine must prove no
    future right row can match before it commits the null). Spark's
    documented caveat applies: left rows whose match window is still
    inside the final watermark horizon when a finite stream ends never
    emit their null-extended result. Callers wanting deterministic
    totals must feed left rows whose windows provably close (see
    plans/streaming_parity.stream_purchase_click_outer: it cuts the
    output at max_ts − watermark − within − margin)."""
    l = left.withWatermark(ts_col, watermark).select(
        F.col(join_key).alias("l_key"), F.col(ts_col).alias("l_ts")
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(join_key).alias("r_key"), F.col(ts_col).alias("r_ts")
    )
    joined = l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + interval {within}"
        ),
        how,
    )
    return _drain_to_table(joined, name, checkpoint_dir, output_mode="append")


def stream_wordcount_to_files(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    name: str = "wc_file_sink",
) -> None:
    """Q1 streaming with the reference's K1 file sink via
    foreachBatch: each drain rewrites `word:cnt` lines
    (`bolt/bolt.go:296-310` format). foreachBatch is the general
    production sink adapter — any batch writer (parquet, JDBC, the
    K1-K3 formatters) becomes a streaming sink with exactly-once on
    idempotent overwrite."""
    from stream_processing_system_spark.sources.sinks import write_kv_lines

    lines = read_text_lines(spark, input_dir, streaming=True)
    counts = wordcount(lines)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_kv_lines(batch_df, output_dir, key="word", value="cnt")

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(_sink)
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_wordcount_to_versioned_store(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    store_root: str,
    name: str = "wc_versions",
    query_name: str = "wc_store_sink",
) -> None:
    """Q1 streaming into the K4 versioned store: each micro-batch's
    converged counts become dataset version epoch_id+1 via
    foreachBatch + `put_idempotent`. Checkpointed epoch ids make the
    sink exactly-once across restarts — a replayed epoch REWRITES its
    own version rather than appending a duplicate one, the
    idempotent-overwrite pattern every production Spark sink uses
    (strictly stronger than the reference's at-most-once
    drop-and-restart, `Nimbus.go:280-297`)."""
    from stream_processing_system_spark.sources.versioned_store import (
        VersionedStore,
    )

    store = VersionedStore(store_root)
    lines = read_text_lines(spark, input_dir, streaming=True)
    counts = wordcount(lines)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        store.put_idempotent(batch_df, name, int(epoch_id) + 1)

    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(_sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Custom stateful operator surface (§2.11 stateful bolt contract →
# applyInPandasWithState)
# ---------------------------------------------------------------------------

def _running_count_fn(key, pdf_iter, state: GroupState):
    """Per-key running count; state = the reference's per-key
    `map[string]int` entry (`bolt/bolt.go:28`), but partitioned,
    checkpointed, and lock-free."""
    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"key": [key[0]], "cnt": [n]})


def _user_stats_fn(key, pdf_iter, state: GroupState):
    """Per-key (n_events, sum of integer micro-units) running stats.
    The quantities are summed as INTEGERS (the caller quantizes
    JVM-side before the Python stage), so the converged totals are
    order-independent and the custom-state path stays value-hash
    checkable."""
    n, sum_u = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        sum_u += int(pdf["value_u"].sum())
    state.update((n, sum_u))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_u": [sum_u]})


def stream_user_stats(
    spark: SparkSession,
    events: DataFrame,
    checkpoint_dir: str,
    name: str = "user_stats",
) -> DataFrame:
    """Custom stateful operator on applyInPandasWithState: per-key
    (n_events, integer-micro-unit sum) state, emitting converged
    totals per micro-batch in `update` mode; after an availableNow
    drain the max per key is the final answer (totals are monotone),
    value-hash checked by the `stream_user_stats` oracle."""
    out = events.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType="user_id bigint, n_events bigint, sum_u bigint",
        stateStructType="n bigint, sum_u bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_table(out, name, checkpoint_dir, output_mode="update")


def stream_running_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    name: str = "running_counts",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    maintains an exact running count per key over a text-line stream
    (one key per line). Demonstrates the §2.11 'stateful bolt'
    extension point with managed, fault-tolerant state."""
    lines = read_text_lines(spark, input_dir, streaming=True).select(
        F.col("line").alias("key")
    )
    counts = lines.groupBy("key").applyInPandasWithState(
        _running_count_fn,
        outputStructType="key string, cnt long",
        stateStructType="cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_table(counts, name, checkpoint_dir, output_mode="update")


def _epoch_rotated_sink(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    checkpoint_dir: str,
    state_dir: str,
    name: str,
    merge,
) -> DataFrame:
    """Drain a parquet file-drop one file per micro-batch into an
    epoch-rotated parquet serving table and return the final version.
    `merge(batch_df, base)` builds the next serving version from the
    micro-batch and the last committed version (`base` is None before
    the first commit). One file per trigger (`maxFilesPerTrigger`) is
    the engine's S5 throttled emit: the reference rate-limits its
    reddit spout with a per-tuple sleep (`spout/spout.go:294`); Spark
    throttles per micro-batch instead.

    Exactly-once: serving versions are directory-rotated
    (`serving_v{epoch}`) and a marker file records the last committed
    epoch; a replayed micro-batch (at-least-once delivery after a
    checkpoint restore) sees epoch <= committed and becomes a no-op
    instead of merging twice — the transactional-marker idempotence
    idiom, file-system edition. The marker is replaced atomically
    (`os.replace`) only after the new version is fully written, and
    the old version is deleted only after that commit.
    `bolt/bolt.go:286-310`'s END-marker single write is the degenerate
    one-epoch case of this. A drop with no files commits no epoch and
    returns `merge` of an empty batch: no rows, the serving schema."""
    import os
    import shutil

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    marker = os.path.join(state_dir, "_committed_epoch")

    def _committed() -> int:
        if os.path.exists(marker):
            with open(marker) as f:
                return int(f.read().strip())
        return -1

    def _serving(epoch: int) -> str:
        return os.path.join(state_dir, f"serving_v{epoch}")

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        last = _committed()
        if epoch_id <= last:
            return  # replayed batch: already merged, skip (idempotence)
        base = spark.read.parquet(_serving(last)) if last >= 0 else None
        merge(batch_df, base).write.mode("overwrite").parquet(_serving(epoch_id))
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(int(epoch_id)))
        os.replace(tmp, marker)  # commit point
        if last >= 0:
            shutil.rmtree(_serving(last), ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = _committed()
    if last < 0:
        # a drop with no files runs no batch: serve the merge of nothing
        return merge(spark.createDataFrame([], stream.schema), None)
    return spark.read.parquet(_serving(last))


def stream_upsert_totals(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    name: str = "upsert_totals",
) -> DataFrame:
    """Streaming INCREMENTAL-VIEW-MAINTENANCE sink: each micro-batch
    is aggregated to a per-user delta and additively merged
    (`operators/ivm.merge_additive`) into a parquet serving table via
    foreachBatch — the keyed-upsert pattern every streaming→OLAP
    serving path uses, with the aggregate state living in the SINK
    table instead of the state store (so the stream side carries no
    streaming aggregation at all and restarts are state-free).
    Exactly-once through `_epoch_rotated_sink`'s committed-epoch
    replay guard. Returns the final serving table after the
    availableNow drain."""
    from stream_processing_system_spark.operators.ivm import merge_additive

    def _merge(batch_df: DataFrame, base: DataFrame | None) -> DataFrame:
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value_u").alias("sum_u")
        )
        if base is None:
            return delta
        return merge_additive(
            base, delta, keys=["user_id"], measures=["n_events", "sum_u"]
        )

    return _epoch_rotated_sink(
        spark, input_dir, "user_id bigint, value_u bigint", checkpoint_dir,
        state_dir, name, _merge,
    )


def stream_kmv_sketches(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    name: str = "kmv_stream",
    k: int = 256,
) -> DataFrame:
    """Streaming DISTINCT-COUNT sketch maintenance: each micro-batch
    builds per-group KMV sketches (operators/sketch_kmv) and MERGES
    them into a parquet serving table via foreachBatch — merge =
    union of hash sets, re-take the k minima. KMV merge is
    associative and idempotent over batch splits (the k smallest of
    the whole stream are each among some batch's k smallest), so the
    final serving sketch is bit-identical to the batch-built sketch
    no matter how the input was micro-batched — which is exactly what
    lets the streaming query share the BATCH oracle.

    Exactly-once through the same `_epoch_rotated_sink` replay guard
    as `stream_upsert_totals`. Returns the final serving sketch frame
    (group, h, rn)."""
    from pyspark.sql import Window

    from stream_processing_system_spark.operators.sketch_kmv import kmv_sketch

    def _merge(batch_df: DataFrame, base: DataFrame | None) -> DataFrame:
        vals = kmv_sketch(batch_df, "g", "member", k=k).select("g", "h")
        if base is not None:
            vals = base.select("g", "h").unionByName(vals).distinct()
        w = Window.partitionBy("g").orderBy("h")
        return vals.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)

    return _epoch_rotated_sink(
        spark, input_dir, "g string, member bigint", checkpoint_dir,
        state_dir, name, _merge,
    )

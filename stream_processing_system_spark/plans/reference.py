"""The reference's three end-to-end queries (SURVEY.md §2.12), each in
two forms:

- `*_from_source`: runs on the reference's original input shape
  (text lines / reddit CSV / Apache log), for full source-to-sink
  parity including the spout-side parsing.
- `q*`: runs on the driver's synthetic tables (FIXTURES.md §2
  mapping), for the DuckDB differential oracle.

Determinism deltas vs the reference are deliberate and documented:
sorted collect_set, total-ordered top-k, empty tokens dropped
(FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_system_spark.functions import is_noise_line, tokenize
from stream_processing_system_spark.sources.tables import load_table
from stream_processing_system_spark.sources.text import parse_apache_log


# --------------------------------------------------------------------------
# Q1 — wordcount
# Reference dataflow: spout text scan (`spout/spout.go:212-251`) →
# boltc noise filter + per-line partial count (`bolt/bolt.go:187-239,
# 544-564`) → boltl merge + file sink (`bolt/bolt.go:255-310,566-583`).
# --------------------------------------------------------------------------

def wordcount(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """filter(noise) → explode(split) → groupBy(word).count().

    The reference's hand-rolled combiner (per-line `map[string]int`,
    `bolt/bolt.go:544-564`) is subsumed by Spark's partial
    HashAggregate before the shuffle — same network behavior
    (only (word, partial_count) pairs cross the wire), zero code.
    """
    words = lines.where(~is_noise_line(line_col)).select(
        F.explode(tokenize(line_col)).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def q1_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 on the driver's `documents.text` (FIXTURES.md §2)."""
    docs = load_table(spark, sf_dir, "documents").select(F.col("text").alias("line"))
    return wordcount(docs)


# --------------------------------------------------------------------------
# Q2 — reddit top-50 posters
# Reference dataflow: CSV spout (`spout/spout.go:253-301`) → boltc
# score>=0 filter (`bolt/bolt.go:313-354`) → boltl count-per-user +
# sort + limit 50 (`bolt/bolt.go:356-419,585-594`).
# --------------------------------------------------------------------------

def top_users(df: DataFrame, user_col: str, score_filter, k: int = 50) -> DataFrame:
    """filter → groupBy(user).count() → orderBy(cnt desc, user asc)
    → limit k. Tie-break on user is added for determinism (the
    reference's tie order is Go-map-random, `bolt/bolt.go:421-440`).
    Spark plans the sort + limit as TakeOrderedAndProject: each
    partition keeps a k-heap and the driver merges them, where the
    reference fully sorts and breaks at k (`bolt/bolt.go:398-440`).
    """
    counted = (
        df.where(score_filter)
        .groupBy(user_col)
        .agg(F.count(F.lit(1)).alias("posts"))
    )
    return counted.orderBy(F.col("posts").desc(), F.col(user_col).asc()).limit(k)


def q2_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 on the driver's `events` table: value>=0 stands in for the
    reddit `score >= 0` filter (`bolt/bolt.go:348-351`), user_id for
    username (FIXTURES.md §2)."""
    events = load_table(spark, sf_dir, "events")
    return top_users(events, "user_id", F.col("value") >= 0, k=50)


# --------------------------------------------------------------------------
# Q3 — nasalog per-host report
# Reference dataflow: log spout (`spout/spout.go:163-210`) → boltc
# status==200 filter + route projection (`bolt/bolt.go:443-483,
# 596-603`) → boltl count + distinct-route collection
# (`bolt/bolt.go:485-541,605-626`).
# --------------------------------------------------------------------------

def host_report(df: DataFrame, host_col: str, route_col) -> DataFrame:
    """groupBy(host).agg(count(*), sorted collect_set(route)).

    One grouped aggregation computing both facts in a single pass,
    like the reference's `NasaLogSecond` (`bolt/bolt.go:605-626`).
    The reference appends to a per-key list after an O(n) membership
    scan (`bolt/bolt.go:615-624`); `collect_set` is the hash-set
    equivalent. The route set is sorted and joined to a single string
    so results are order-insensitively hashable (FIXTURES.md §3).

    Scale bound: the per-key set size is bounded by the domain (routes
    per host). A collect_set of an unbounded value space would run out
    of memory in the reference too; it is the operator's contract, not
    an implementation limit.
    """
    return df.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("hits"),
        F.array_join(F.array_sort(F.collect_set(route_col)), ",").alias("routes"),
    )


def nasalog_report(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """Full source-to-report parity on Apache-common-log lines:
    parse (S3) → status=='200' (F3, string compare like
    `bolt/bolt.go:477-479`) → route = host||url (P3,
    `bolt/bolt.go:596-603`) → host_report."""
    parsed = parse_apache_log(lines, line_col)
    kept = parsed.where(F.col("status") == "200")
    return host_report(
        kept.withColumn("route", F.concat("host", "url")), "host", F.col("route")
    )


def q3_host_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 on the driver's `events`: event_type=='click' stands in for
    status=='200'; route = user_id || ':' || props (FIXTURES.md §2)."""
    events = load_table(spark, sf_dir, "events")
    kept = events.where(F.col("event_type") == "click")
    route = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("props"))
    return host_report(kept.withColumn("route", route), "user_id", F.col("route"))


# --------------------------------------------------------------------------
# K1/K2 sink fidelity — the reference's `key:count` file format
# written through the custom `crane_sink` DataSource and parsed back.
# --------------------------------------------------------------------------

def crane_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-tier round-trip as a driver-checked query: Q2's top-50
    (the reference writes it as `user:count` lines,
    `bolt/bolt.go:398-419`) goes out through the `crane_sink` custom
    DataSource writer (sources/spout_source.py) to a scratch
    directory, is read back as raw text, and parsed back into
    (user_id, posts) by splitting on the LAST colon (the count is
    the trailing digit run, so keys containing ':' round-trip too).
    Hash-matching q2's oracle proves the sink's byte format is
    lossless — the driver-row upgrade of tests/test_sinks.py. The
    parsed frame is eagerly localCheckpoint'ed so the scratch files
    can be removed before the driver collects."""
    from stream_processing_system_spark.sources import spout_source
    from stream_processing_system_spark.sources.scratch import scratch

    spout_source.register(spark)
    with scratch("crane_sink") as out_dir:
        (
            q2_top_users(spark, sf_dir)
            .write.format("crane_sink")
            .option("path", out_dir)
            .mode("append")
            .save()
        )
        return (
            spark.read.text(out_dir)
            .select(
                F.regexp_extract("value", r"^(.*):([0-9]+)$", 1)
                .cast("long")
                .alias("user_id"),
                F.regexp_extract("value", r"^(.*):([0-9]+)$", 2)
                .cast("long")
                .alias("posts"),
            )
            .localCheckpoint(eager=True)
        )

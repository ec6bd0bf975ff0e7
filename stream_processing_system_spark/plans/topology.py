"""Topology submission surface — the Spark mapping of the reference's
job lifecycle (SURVEY.md §3.1).

In the reference, a "query" is an app name submitted over TCP
(`client.go:72-80`); Nimbus turns it into a spout → N×boltc → boltl
role assignment (`Nimbus.go:628-648`). Here a topology is a
*declarative value*: a source and ordered transforms ("bolts").
`submit()` just composes the DataFrame chain and hands it to
Catalyst — plan analysis, operator placement, and parallelism are
the optimizer/scheduler's job, which is the entire point of the
Spark-first re-design (§3.1 Spark mapping).

The three reference apps ship as prebuilt topologies whose bolts are
the same plan functions the batch queries run (`plans/reference.py`);
users add new ones by listing plain DataFrame→DataFrame callables
(the boltc contract) — no framework classes to subclass.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_system_spark.functions import lenient_int
from stream_processing_system_spark.plans.reference import top_users, wordcount
from stream_processing_system_spark.sources.text import (
    parse_apache_log,
    read_reddit_csv,
    read_text_lines,
)


@dataclass
class Topology:
    """source → bolts…, all declarative."""

    name: str
    source: Callable[[SparkSession, str], DataFrame]
    bolts: list[Callable[[DataFrame], DataFrame]] = field(default_factory=list)

    def submit(self, spark: SparkSession, input_path: str) -> DataFrame:
        """The Nimbus-submit equivalent: build the plan and return the
        result DataFrame; the caller runs it or writes it to a sink."""
        df = self.source(spark, input_path)
        for bolt in self.bolts:
            df = bolt(df)
        return df


def wordcount_topology() -> Topology:
    """`wordcount <n>` (§2.12 Q1) as a topology value."""
    return Topology(name="wordcount", source=read_text_lines, bolts=[wordcount])


def reddit_topology() -> Topology:
    """`reddit <n>` (§2.12 Q2): the top 50 posters among rows whose
    score parses leniently to >= 0."""
    return Topology(
        name="reddit",
        source=read_reddit_csv,
        bolts=[lambda df: top_users(df, "username", lenient_int("score") >= 0, 50)],
    )


def nasalog_topology() -> Topology:
    """`nasalog <n>` (§2.12 Q3). Unlike `reference.nasalog_report`,
    which joins each host's routes into the one string the oracle
    hashes, this keeps them as the sorted `routes_arr` array that the
    per-host block sink (K3, `sinks.write_host_report`) writes."""
    return Topology(
        name="nasalog",
        source=read_text_lines,
        bolts=[
            lambda df: parse_apache_log(df),
            lambda df: df.where(F.col("status") == "200"),
            lambda df: df.withColumn("route", F.concat("host", "url")),
            lambda df: df.groupBy("host").agg(
                F.count(F.lit(1)).alias("hits"),
                F.array_sort(F.collect_set("route")).alias("routes_arr"),
            ),
        ],
    )

REGISTRY: dict[str, Callable[[], Topology]] = {
    "wordcount": wordcount_topology,
    "reddit": reddit_topology,
    "nasalog": nasalog_topology,
}


def submit(spark: SparkSession, app: str, input_path: str) -> DataFrame:
    """String-level entry point mirroring the reference REPL
    (`<app_name> <num_of_worker>`, `client.go:72-80`): look the app up
    by name, submit its topology. The worker count is absent by
    design — Spark's scheduler owns parallelism."""
    if app not in REGISTRY:
        raise KeyError(f"unknown app {app!r}; known: {sorted(REGISTRY)}")
    return REGISTRY[app]().submit(spark, input_path)


def topology_submit_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 front door as a driver-checked query: documents.text is
    re-laid as a text drop directory (the reference app's input
    shape — one line per row, verified newline-free by the driver
    fixtures), then `submit(spark, "wordcount", dir)` exercises the
    full name-based submission path (REPL `wordcount <n>`,
    `client.go:72-80` → `Nimbus.go:628-648`). The submitted topology
    produces the same (word, cnt) frame as q1_wordcount, so it shares
    q1's DuckDB oracle — a hash-match proves the registry lookup,
    source construction, and bolt chain end-to-end, not just the
    plan functions q1 calls directly. The result is eagerly
    localCheckpoint'ed so the scratch input can be removed before
    the driver collects."""
    from stream_processing_system_spark.sources.scratch import scratch
    from stream_processing_system_spark.sources.tables import load_table

    with scratch("topo_wc") as base:
        in_dir = os.path.join(base, "in")
        docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
        docs.write.mode("overwrite").text(in_dir)
        return submit(spark, "wordcount", in_dir).localCheckpoint(eager=True)

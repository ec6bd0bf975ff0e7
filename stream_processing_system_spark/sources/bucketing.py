"""Bucketed-table utilities: pre-shuffle once, join forever.

The biggest recurring cost in the fact⋈fact joins
(orders ⋈ lineitem) is the shuffle on orderkey. Bucketing both
tables by the join key at WRITE time makes every subsequent join
co-located: Spark's scan reports the bucketing as an output
partitioning, and the join planner drops the Exchange entirely
(verified by test: no ShuffleExchange in the joined plan).

At 100 TB this converts an O(data) network shuffle per query into a
one-time layout decision — the standard warehouse pattern for hot
join keys. The trade: bucket count is fixed at write time (pick
~2-4x expected executor count; too few buckets caps parallelism)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Persist df as a bucketed (and optionally sorted) table: managed
    in the warehouse, or external at `path`. Sorting within buckets
    additionally enables sort-merge joins without a sort step."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned layout (`path/col=value/...`): queries
    filtering on partition columns prune whole directories before any
    I/O (PartitionFilters in the scan node — distinct from
    PushedFilters, which still reads row groups). The standard layout
    for time/type-partitioned 100 TB fact tables. Keep partition
    cardinality moderate (≤ ~10k dirs); high-cardinality keys belong
    in bucketing, not partitioning."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str] | str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planned
    shuffle-free when bucket specs line up."""
    return spark.table(left_table).join(spark.table(right_table), on)

"""SparkSession factory with scale-oriented defaults.

The reference has no session concept — parallelism is one OS process
per VM and one goroutine per TCP connection (`bolt/bolt.go:101-119`,
`Nimbus.go:588-593`). Here the equivalent knob surface is the Spark
conf; these defaults are chosen so the same plans run on local[32]
for tests and on a 1000-executor cluster unchanged:

- AQE on (runtime coalescing of shuffle partitions, skew-join
  splitting) so a plan tuned at sf0.1 survives a 1000x scale-up.
- Arrow on, so the few Pandas-UDF operators move data in columnar
  batches instead of pickled rows.
- shuffle.partitions defaults to the local core count; on a real
  cluster, override via `extra_conf` (rule of thumb: 2-3x total
  cores, or let AQE coalesce from a high initial value).
- Streaming state partitions: each availableNow twin in
  `plans/streaming_parity.py` sets its own shuffle.partitions (the
  state-store count) from its file-drop bytes at query start.
- Streaming checkpoint file manager: no default is set here. Each
  twin's drain (`_drain`) checkpoints under the local temp dir and
  switches to Spark's FileSystem-based manager for its lifetime: a
  local `FileSystem.rename` is one atomic POSIX rename, while the
  FileContext default forks a `readlink` per rename when Hadoop's
  native library is missing. A checkpoint on HDFS or an object store
  keeps Spark's FileContext default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stream_processing_system_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Streaming state on RocksDB, not the default on-heap
        # HDFSBackedStateStore: state size is then bounded by local
        # disk instead of executor heap — the difference between a
        # 100 TB-scale stateful stream (dedup digests, session
        # windows, join buffers) running and OOMing. Results are
        # provider-independent; the driver's vanilla session exercises
        # the default provider on the same queries.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

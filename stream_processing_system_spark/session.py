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
- Driver heap: `-Xms` equals `-Xmx`. A JVM given only `-Xmx` starts
  its heap at about 1/64 of RAM and G1 grows it while the work runs;
  in some fresh JVMs that growth kept G1's concurrent-mark and GC
  threads busy for 1-4 s of CPU over three short streaming passes,
  against about 0.2 s with the heap at its full size from the start.
  Both flags come from the one `spark.driver.memory` value (an
  `extra_conf` entry, else `SPARK_GRAFT_DRIVER_MEM`, else 8g), so the
  floor can never exceed `-Xmx`, which would stop the JVM from
  starting. The floor goes in `spark.driver.defaultJavaOptions`,
  which Spark prepends to `extraJavaOptions`, so a caller's own
  `extraJavaOptions` still reaches the JVM. In local mode the driver
  JVM runs every task, so this covers the whole engine; executor
  heaps on a cluster are left to the deployment. The cost: G1 then
  sizes its young generation from the full heap, so a long-lived
  JVM's resident set grows toward the whole of it (on a 4-core,
  15 GB host the test suite's JVM peaked at 9.7 GB, against 6.2 GB
  without the floor). On a small host, lower `SPARK_GRAFT_DRIVER_MEM`,
  which lowers both flags.
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
    extra_conf = extra_conf or {}
    # One memory value sets both -Xmx and -Xms (module docstring).
    driver_mem = extra_conf.get(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )

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
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.defaultJavaOptions", f"-Xms{driver_mem}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

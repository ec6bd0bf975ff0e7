"""Contract-level streaming parity + foreachBatch file sink."""

from __future__ import annotations

import glob
import os
import tempfile
import threading

import pytest

from stream_processing_system_spark.plans import streaming_parity
from stream_processing_system_spark.streaming import jobs
from tests.oracle import assert_matches_oracle


def test_stream_wordcount_docs_matches_batch_oracle(spark, sf_dir):
    import __spark_entry__ as contract

    df = streaming_parity.stream_wordcount_docs(spark, sf_dir)
    assert_matches_oracle(df, sf_dir, contract.oracle_sql()["stream_wordcount"])


def test_stream_host_report_matches_batch_oracle(spark, sf_dir):
    import __spark_entry__ as contract

    df = streaming_parity.stream_host_report_events(spark, sf_dir)
    assert_matches_oracle(df, sf_dir, contract.oracle_sql()["stream_host_report"])


def test_stream_dedup_exact_matches_batch_oracle(spark, sf_dir):
    import __spark_entry__ as contract

    df = streaming_parity.stream_dedup_exact_docs(spark, sf_dir)
    assert_matches_oracle(df, sf_dir, contract.oracle_sql()["stream_dedup_exact"])


def test_stream_events_per_hour_matches_batch_oracle(spark, sf_dir):
    import __spark_entry__ as contract

    df = streaming_parity.stream_events_per_hour(spark, sf_dir)
    assert_matches_oracle(df, sf_dir, contract.oracle_sql()["stream_events_per_hour"])


def test_stream_running_counts_matches_batch_oracle(spark, sf_dir):
    import __spark_entry__ as contract

    df = streaming_parity.stream_running_counts_docs(spark, sf_dir)
    assert_matches_oracle(df, sf_dir, contract.oracle_sql()["stream_running_counts"])


_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_drains_leave_no_memory_sink_view(spark, sf_dir):
    """The memory sink's catalog view pins its rows in the driver for
    the session; a drain drops it once the result is resolved, and the
    result still reads back oracle-exact."""
    import __spark_entry__ as contract

    before = _temp_views(spark)
    for fn, name in (
        (streaming_parity.stream_wordcount_docs, "stream_wordcount"),
        (streaming_parity.stream_running_counts_docs, "stream_running_counts"),
    ):
        df = fn(spark, sf_dir)
        assert _temp_views(spark) == before, name
        assert_matches_oracle(df, sf_dir, contract.oracle_sql()[name])


def test_state_partitions_sized_from_drop_bytes(spark, tmp_path):
    key = "spark.sql.shuffle.partitions"
    cap = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(key)
    input_dir = tmp_path / "in"
    input_dir.mkdir()
    (input_dir / "part-0.txt").write_text("a few words\n")
    with streaming_parity._state_partitions(spark, str(input_dir)):
        assert spark.conf.get(key) == "1"
    assert spark.conf.get(key) == prev

    # a sparse file: its size counts without writing the bytes
    big = (cap + 1) * streaming_parity._DROP_BYTES_PER_STATE_PARTITION
    with open(input_dir / "part-1.bin", "wb") as f:
        os.truncate(f.fileno(), big)
    with pytest.raises(RuntimeError):
        with streaming_parity._state_partitions(spark, str(input_dir)):
            assert spark.conf.get(key) == str(cap)
            raise RuntimeError("drain failed")
    assert spark.conf.get(key) == prev


def test_failed_drain_removes_scratch_and_restores_partitions(
    spark, sf_dir, monkeypatch
):
    """A drain that raises still removes its scratch base (drop plus
    checkpoint) and restores the session's shuffle partitions. Inside
    the drain the checkpoint file manager is the FileSystem one; on
    exit it is unset again, or restored when the session had one."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_eph_*")
    before = set(glob.glob(pattern))
    seen = []

    def _fail(*args, **kwargs):
        seen.append(spark.conf.get(_CKPT_MANAGER_KEY))
        raise RuntimeError("drain failed")

    monkeypatch.setattr(jobs, "_drain_to_table", _fail)
    assert spark.conf.get(_CKPT_MANAGER_KEY, None) is None
    with pytest.raises(RuntimeError, match="drain failed"):
        streaming_parity.stream_events_per_hour(spark, sf_dir)
    assert set(glob.glob(pattern)) <= before
    assert spark.conf.get(key) == prev
    assert spark.conf.get(_CKPT_MANAGER_KEY, None) is None

    spark.conf.set(_CKPT_MANAGER_KEY, _FILE_CONTEXT_MANAGER)
    try:
        with pytest.raises(RuntimeError, match="drain failed"):
            streaming_parity.stream_events_per_hour(spark, sf_dir)
        assert spark.conf.get(_CKPT_MANAGER_KEY) == _FILE_CONTEXT_MANAGER
    finally:
        spark.conf.unset(_CKPT_MANAGER_KEY)
    assert seen == [streaming_parity._FS_CHECKPOINT_MANAGER] * 2


def test_drain_scratch_base_is_private(spark):
    """A drain's scratch base, which holds its file drops and its
    checkpoint, is mode 0700 while the drain runs."""
    import stat

    with streaming_parity._drain(spark, "mode", spark.range(0, 10)) as d:
        assert os.path.dirname(d.dir) == d.base
        assert stat.S_IMODE(os.stat(d.base).st_mode) == 0o700
    assert not os.path.exists(d.base)


def test_drain_restart_with_fs_checkpoint_manager(spark):
    """A drained stateful query restarted on the same checkpoint under
    the FileSystem checkpoint manager reads only the file added since,
    its totals equal the batch answer over both files, and no
    half-written `*.tmp` file is left in the checkpoint."""
    from pyspark.sql import functions as F

    first = spark.range(0, 600).select((F.col("id") % 7).alias("k"))
    added = spark.range(600, 1000).select((F.col("id") % 7).alias("k"))
    with streaming_parity._drain(spark, "restart", first) as d:
        assert (
            spark.conf.get(_CKPT_MANAGER_KEY) == streaming_parity._FS_CHECKPOINT_MANAGER
        )
        counts = d.stream.groupBy("k").count()

        def _run(name):
            q = (
                counts.writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", d.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            rows = {r["k"]: r["count"] for r in spark.table(name).collect()}
            spark.catalog.dropTempView(name)
            return sum(p.numInputRows for p in q.recentProgress), rows

        n1, _ = _run(f"{d.name}_1")
        added.coalesce(1).write.mode("append").parquet(d.dir)
        n2, got = _run(f"{d.name}_2")
        leftovers = [
            f
            for _, _, files in os.walk(d.ckpt)
            for f in files
            if f.endswith(".tmp")
        ]
    both = first.union(added).groupBy("k").count()
    want = {r["k"]: r["count"] for r in both.collect()}
    assert (n1, n2) == (600, 400)
    assert got == want
    assert leftovers == []


def test_stream_wordcount_docs_drains_with_one_state_store(spark, sf_dir):
    """A small drop gets one state store, not a fixed count."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen: list[int] = []
    done = threading.Event()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators
            if ops:
                seen.append(ops[0].numShufflePartitions)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.set()

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        streaming_parity.stream_wordcount_docs(spark, sf_dir)
        assert done.wait(60)
    finally:
        spark.streams.removeListener(listener)
    assert seen and set(seen) == {1}, seen


def test_stream_wordcount_to_files_foreachbatch(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("x y x\n")
    out = str(tmp_path / "out")
    jobs.stream_wordcount_to_files(
        spark, str(d), str(tmp_path / "ckpt"), out, name="wc_fb_t"
    )
    lines = []
    for f in sorted(glob.glob(out + "/part-*")):
        lines += open(f).read().splitlines()
    assert sorted(lines) == ["x:2", "y:1"]


def test_stream_to_versioned_store_exactly_once(spark, tmp_path):
    """Two availableNow drains over a growing input dir: each drain
    lands ONE new version holding the converged totals; re-writing an
    epoch (simulated replay) rewrites its version instead of minting
    a duplicate."""
    from stream_processing_system_spark.plans.reference import wordcount
    from stream_processing_system_spark.sources.text import read_text_lines
    from stream_processing_system_spark.sources.versioned_store import VersionedStore

    d = tmp_path / "in"
    d.mkdir()
    (d / "a.txt").write_text("x y x\n")
    ckpt, root = str(tmp_path / "ckpt"), str(tmp_path / "store")

    jobs.stream_wordcount_to_versioned_store(
        spark, str(d), ckpt, root, query_name="vs_t1"
    )
    store = VersionedStore(root)
    assert store.versions("wc_versions") == [1]

    (d / "b.txt").write_text("y z\n")
    jobs.stream_wordcount_to_versioned_store(
        spark, str(d), ckpt, root, query_name="vs_t2"
    )
    assert store.versions("wc_versions") == [1, 2]
    got = {
        (r["word"], r["cnt"])
        for r in store.get(spark, "wc_versions").collect()
    }
    want = {
        tuple(r)
        for r in wordcount(read_text_lines(spark, str(d))).collect()
    }
    assert got == want

    # replayed epoch rewrites its own version — still exactly two
    # (materialized first: a foreachBatch batch_df is already local,
    # never a lazy self-read of the directory being overwritten)
    replay = spark.createDataFrame(store.get(spark, "wc_versions", 2).collect())
    store.put_idempotent(replay, "wc_versions", 2)
    assert store.versions("wc_versions") == [1, 2]
    assert {
        (r["word"], r["cnt"]) for r in store.get(spark, "wc_versions").collect()
    } == want

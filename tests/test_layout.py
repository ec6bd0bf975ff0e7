"""Storage-layout tests: range-clustered files have disjoint key
ranges (the property min/max skipping relies on); compaction shrinks
file count without changing data."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from stream_processing_system_spark.sources import layout


def test_write_range_clustered_files_are_disjoint(spark, tmp_path):
    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    out = str(tmp_path / "clustered")
    layout.write_range_clustered(df, out, ["k"], num_files=4)

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        row = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        ).collect()[0]
        ranges.append((row["lo"], row["hi"]))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, f"overlapping file ranges: {ranges}"

    # round-trip: no rows lost or duplicated
    assert spark.read.parquet(out).count() == 10_000


def test_write_zorder_clustered_prunes_boxes(spark, tmp_path):
    """The property multi-dim skipping relies on: each file's
    (x, y) bounding box is compact, so a box predicate intersects few
    files. With x-only range clustering every file spans the full y
    range — a y-selective box would touch ALL files; z-order must do
    strictly better on the same query."""
    df = spark.range(0, 40_000).select(
        (F.pmod(F.xxhash64("id"), 1000)).alias("x"),
        (F.pmod(F.xxhash64(F.col("id") + 1), 1000)).alias("y"),
    )
    out = str(tmp_path / "zorder")
    layout.write_zorder_clustered(df, out, ["x", "y"], num_files=16)

    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 16

    def touches(f, x_lo, x_hi, y_lo, y_hi):
        r = (
            spark.read.parquet(f)
            .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
            .collect()[0]
        )
        return not (r[1] < x_lo or r[0] > x_hi or r[3] < y_lo or r[2] > y_hi)

    # quarter-space box in BOTH dimensions
    touched = sum(touches(f, 0, 249, 0, 249) for f in files)
    assert touched <= 8, f"z-order box touched {touched}/16 files"

    # round-trip: clustering must not lose or duplicate rows
    assert spark.read.parquet(out).count() == 40_000


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    src = str(tmp_path / "small_files")
    spark.range(0, 5_000).repartition(40).write.parquet(src)
    assert len(glob.glob(src + "/part-*.parquet")) == 40

    out = str(tmp_path / "compacted")
    n = layout.compact_parquet(spark, src, out, target_file_bytes=10**9)
    assert n == 1
    assert len(glob.glob(out + "/part-*.parquet")) == 1
    got = {r["id"] for r in spark.read.parquet(out).collect()}
    assert got == set(range(5_000))


def test_registered_compaction_reduces_file_count(spark, sf_dir):
    """The registered compacted_events_scan must actually compact:
    the scanned copy has far fewer files than the 64-file fragmented
    write it was built from."""
    from stream_processing_system_spark.plans.pipeline import (
        _compacted_events,
        compacted_events_scan,
    )

    df = compacted_events_scan(spark, sf_dir)
    assert df.count() == 5
    compacted = spark.read.parquet(_compacted_events(spark, sf_dir))
    n_files = len(compacted.inputFiles())
    assert n_files < 16, f"compaction left {n_files} files"


def test_remove_scratch_caches_deletes_fixture_dirs(spark, sf_dir):
    """The one-time fixture copies of `plans/pipeline.py` live in
    scratch dirs that `remove_scratch_caches` (run at exit) deletes;
    it also empties the fixture memo, so the next call rebuilds."""
    import os

    from stream_processing_system_spark.plans import pipeline
    from stream_processing_system_spark.sources import scratch

    zorder = (pipeline._zorder_events, sf_dir)
    corrupt = (pipeline._corrupt_jsonl, sf_dir)
    expected = pipeline.zorder_events_scan(spark, sf_dir).collect()
    pipeline.jsonl_corrupt_scan(spark, sf_dir).collect()
    dirs = [
        scratch._FIXTURES[zorder],
        os.path.dirname(scratch._FIXTURES[corrupt]),
    ]
    assert all(os.path.isdir(d) for d in dirs)

    scratch.remove_scratch_caches()
    assert [d for d in dirs if os.path.exists(d)] == []
    assert zorder not in scratch._FIXTURES
    assert corrupt not in scratch._FIXTURES
    assert pipeline.zorder_events_scan(spark, sf_dir).collect() == expected
    assert os.path.isdir(scratch._FIXTURES[zorder])


def test_remove_scratch_caches_drops_bucketed_tables(spark, sf_dir):
    """`bucketed_revenue_join` writes its two bucketed tables as
    external tables in a fixture dir: after `remove_scratch_caches`
    neither table's data is left, in the warehouse or anywhere else,
    and the next call rebuilds the same rows under the same two
    table names, so the catalog gains no stale entries."""
    import os
    from urllib.parse import urlparse

    from stream_processing_system_spark.plans import pipeline
    from stream_processing_system_spark.sources import scratch

    def bk_tables():
        return {t.name for t in spark.catalog.listTables() if "_bk_" in t.name}

    before = bk_tables()
    key = (pipeline._bucketed_tables, sf_dir)
    expected = pipeline.bucketed_revenue_join(spark, sf_dir).collect()
    tables = scratch._FIXTURES[key]
    locations = [
        urlparse(
            spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
            .where("col_name = 'Location'")
            .first()["data_type"]
        ).path
        for t in tables
    ]
    assert all(os.path.isdir(loc) for loc in locations)
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    scratch.remove_scratch_caches()
    assert [loc for loc in locations if os.path.exists(loc)] == []
    assert [t for t in tables if os.path.exists(os.path.join(warehouse, t))] == []
    assert key not in scratch._FIXTURES
    assert pipeline.bucketed_revenue_join(spark, sf_dir).collect() == expected
    rebuilt = set(scratch._FIXTURES[key])
    assert rebuilt == set(tables) and rebuilt <= bk_tables()
    assert bk_tables() - before == rebuilt - before
    assert all(spark.table(t).count() > 0 for t in rebuilt)


def test_dynamic_partition_overwrite_touches_only_its_partition(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from stream_processing_system_spark.sources.layout import (
        overwrite_partition_dynamic,
    )

    path = str(tmp_path / "pt")
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("p")
    )
    base.write.partitionBy("p").parquet(path)
    before = {
        p: sorted(os.listdir(os.path.join(path, f"p={p}"))) for p in range(4)
    }
    # restate partition p=2 with corrected values (ids shifted +1000)
    fixed = spark.range(0, 10).select(
        (F.col("id") + 1000).alias("id"), F.lit(2).alias("p")
    )
    overwrite_partition_dynamic(fixed, path, "p")
    after_df = spark.read.parquet(path)
    assert after_df.where("p = 2").count() == 10
    assert after_df.where("p = 2").agg(F.min("id")).collect()[0][0] == 1000
    # untouched partitions keep IDENTICAL files (not rewritten copies)
    for p in (0, 1, 3):
        assert sorted(os.listdir(os.path.join(path, f"p={p}"))) == before[p]
        assert after_df.where(f"p = {p}").count() == 25

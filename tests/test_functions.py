"""Scalar-function layer tests (X-series coverage)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_processing_system_spark.functions.scalar import md5_prefix_long, tokenize


def test_tuple_json_roundtrip(spark):
    # X6: Crane's wire tuple is a flat JSON object (`spout/spout.go:111-117`)
    # decoded into a map[string]string (`bolt/bolt.go:220-221`)
    df = spark.createDataFrame([("h1", "/a", "200")], ["host", "url", "status"])
    encoded = df.select(F.to_json(F.struct("host", "url", "status")).alias("j"))
    j = encoded.collect()[0]["j"]
    assert j == '{"host":"h1","url":"/a","status":"200"}'
    decoded = encoded.select(
        F.from_json("j", "map<string,string>").alias("m")
    ).collect()[0]["m"]
    assert decoded == {"host": "h1", "url": "/a", "status": "200"}


def test_md5_prefix_long_matches_python(spark):
    import hashlib

    df = spark.createDataFrame([("hello",)], ["s"])
    got = df.select(md5_prefix_long(F.col("s"), salt="x|")).collect()[0][0]
    assert got == int(hashlib.md5(b"x|hello").hexdigest()[:8], 16)


def test_tokenize_drops_empty_by_default(spark):
    df = spark.createDataFrame([("a  b ",)], ["t"])
    kept = df.select(tokenize("t").alias("x")).collect()[0]["x"]
    assert kept == ["a", "b"]
    raw = df.select(tokenize("t", drop_empty=False).alias("x")).collect()[0]["x"]
    assert raw == ["a", "", "b", ""]


def test_round_robin_partition_count(spark):
    # S4: repartition(n) without columns is round-robin distribution
    df = spark.range(100)
    assert df.repartition(7).rdd.getNumPartitions() == 7

def test_cms_estimate_never_undercounts(spark, sf_dir):
    """Count-min property: estimate >= exact count for every key, and
    equals the exact count when no collision occurred."""
    from pyspark.sql import functions as F

    from stream_processing_system_spark.operators.core import cms_heavy_hitters
    from stream_processing_system_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    est = cms_heavy_hitters(events, "user_id", k=1000).toPandas()
    exact = (
        events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).toPandas()
    ).set_index("user_id")["n"]
    assert len(est) > 0
    for r in est.itertuples():
        assert r.est >= exact[r.user_id]


def test_observed_scan_metrics_single_pass(spark):
    # Dataset.observe meters a scan in the same job as the real work
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], ["id", "v"]
    )
    obs = Observation("scan_quality")
    metered = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null_v"),
        F.max("id").alias("max_id"),
    )
    out = metered.where(F.col("v").isNotNull()).count()  # action drives the plan
    assert out == 2
    got = obs.get
    assert got == {"n_rows": 4, "n_null_v": 2, "max_id": 4}

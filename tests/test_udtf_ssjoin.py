"""UDTF / grouped-agg UDAF surface + stream-stream join."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from stream_processing_system_spark.streaming import jobs


def test_grouped_agg_bolt_udaf(spark):
    @F.pandas_udf("double")
    def spread(s: pd.Series) -> float:
        return float(s.max() - s.min())

    df = spark.createDataFrame([("k", 1.0), ("k", 4.0), ("j", 2.0)], ["k", "v"])
    got = {r["k"]: r["sp"] for r in df.groupBy("k").agg(spread("v").alias("sp")).collect()}
    assert got == {"k": 3.0, "j": 0.0}


def test_table_bolt_udtf(spark):
    class Split:
        def eval(self, line: str):
            for w in line.split(" "):
                if w:
                    yield (w,)

    split_udtf = F.udtf(Split, returnType="word: string")
    out = split_udtf(F.lit("a b a"))
    assert sorted(r["word"] for r in out.collect()) == ["a", "a", "b"]


def test_stream_stream_join_within_window(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    views = [(1, base), (2, base)]
    buys = [
        (1, base + dt.timedelta(minutes=30)),   # within 1h of view → match
        (2, base + dt.timedelta(hours=3)),      # too late → no match
    ]
    vdir, bdir = str(tmp_path / "views"), str(tmp_path / "buys")
    spark.createDataFrame(views, ["user_id", "ts"]).write.parquet(vdir)
    spark.createDataFrame(buys, ["user_id", "ts"]).write.parquet(bdir)
    vs = spark.readStream.schema("user_id long, ts timestamp").parquet(vdir)
    bs = spark.readStream.schema("user_id long, ts timestamp").parquet(bdir)
    got = jobs.stream_stream_join(
        spark, vs, bs, str(tmp_path / "ckpt"), name="ssj_t"
    ).collect()
    assert [(r["l_key"], r["r_key"]) for r in got] == [(1, 1)]
"""Tests for the extension surface (§2.11: the Arrow-batched Spark
calls that stand in for Crane's spout and bolt contracts) and the
multimodal plumbing (schema, Arrow batch shape, 1:N expansion)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from stream_processing_system_spark.operators import multimodal
from stream_processing_system_spark.sources.tables import load_table


def test_spout_from_iterator(spark):
    tuples = [{"word": "a", "n": "1"}, {"word": "b", "n": "2"}]
    df = spark.createDataFrame(
        (tuple(d.values()) for d in tuples), schema="word string, n string"
    )
    assert {tuple(r) for r in df.collect()} == {("a", "1"), ("b", "2")}


def test_scalar_bolt_pandas_udf(spark):
    @F.pandas_udf("string")
    def upper(s: pd.Series) -> pd.Series:
        return s.str.upper()

    df = spark.createDataFrame([("abc",), ("xy",)], ["t"])
    assert {r[0] for r in df.select(upper("t")).collect()} == {"ABC", "XY"}


def test_flatmap_bolt_one_to_n(spark):
    df = spark.createDataFrame([("a b",), ("c",)], ["line"])

    def explode_words(batches):
        for batch in batches:
            words = [w for line in batch["line"] for w in line.split()]
            yield pd.DataFrame({"word": words})

    out = df.mapInPandas(explode_words, schema="word string")
    assert sorted(r["word"] for r in out.collect()) == ["a", "b", "c"]


def test_stateful_bolt_per_group(spark):
    df = spark.createDataFrame([("k1", 1.0), ("k1", 3.0), ("k2", 5.0)], ["k", "v"])

    def spread(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "spread": [pdf["v"].max() - pdf["v"].min()]})

    out = df.groupBy("k").applyInPandas(spread, schema="k string, spread double")
    assert {(r["k"], r["spread"]) for r in out.collect()} == {("k1", 2.0), ("k2", 0.0)}


def test_multimodal_decode_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = multimodal.fake_media_from_documents(spark, docs)
    assert [(f.name, f.dataType.simpleString()) for f in media.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in multimodal.MEDIA_SCHEMA.fields
    ]

    decoded = multimodal.decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 30
    by_id = {r["media_id"]: r for r in rows}
    src = {r["media_id"]: r for r in media.collect()}
    for mid, r in by_id.items():
        assert r["n_bytes"] == len(bytes(src[mid]["payload"]))
        assert r["media_type"] == src[mid]["media_type"]
        if r["media_type"] == "image":
            assert r["width"] > 0 and r["duration_ms"] == 0
        if r["media_type"] == "audio":
            assert r["duration_ms"] > 0 and r["width"] == 0


def test_multimodal_decode_is_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = multimodal.fake_media_from_documents(spark, docs)
    a = sorted(map(tuple, multimodal.decode_media(media).collect()))
    b = sorted(map(tuple, multimodal.decode_media(media).collect()))
    assert a == b


def test_resize_filters_to_images_and_truncates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = multimodal.fake_media_from_documents(spark, docs)
    n_images = media.where(F.col("media_type") == "image").count()
    out = multimodal.resize_images(media, max_side=64)
    rows = out.collect()
    assert len(rows) == n_images
    assert all(len(bytes(r["payload"])) <= 64 * 64 // 64 for r in rows)


def test_sample_frames_one_to_n(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = multimodal.fake_media_from_documents(spark, docs)
    frames = multimodal.sample_frames(media, every_ms=1000)
    pdf = frames.toPandas()
    assert set(pdf.columns) == {"media_id", "frame_idx", "ts_ms"}
    # every sampled video yields ≥1 frame, ts spaced by every_ms
    assert (pdf.groupby("media_id")["frame_idx"].min() == 0).all()
    assert (pdf["ts_ms"] == pdf["frame_idx"] * 1000).all()


def test_media_features_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = multimodal.fake_media_from_documents(spark, docs)
    feats = multimodal.media_features(media, dim=16).collect()
    assert len(feats) == 10
    assert all(len(r["embedding"]) == 16 for r in feats)
    assert all(-1.0 <= x <= 1.0 for r in feats for x in r["embedding"])


def test_ahash_finds_small_edit_not_unrelated(spark):
    """A one-character edit perturbs few grid cells -> small Hamming
    distance -> pair found; an unrelated payload is not paired."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream_processing_system_spark.operators import multimodal

    base = ("key agg row scan slow fast table value part hash " * 8).strip()
    edited = base.replace("slow", "slew", 1)
    other = ("zq xv wk jm pl nt rb cd fg hs " * 10).strip()
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": [base, edited, other],
             "source": ["s", "s", "s"]}
        )
    )
    media = multimodal.fake_media_from_documents(spark, docs)
    sigs = multimodal.ahash_signatures(media)
    pairs = {
        (r["id_a"], r["id_b"]) for r in multimodal.ahash_neardup_pairs(sigs).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ahash_blocking_matches_brute_force(spark, sf_dir):
    """Quarter-blocking returns EXACTLY the brute-force <=3-Hamming
    pair set on real testdata (pigeonhole losslessness)."""
    from pyspark.sql import functions as F

    from stream_processing_system_spark.operators import multimodal
    from stream_processing_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.fake_media_from_documents(spark, docs)
    sigs = multimodal.ahash_signatures(media).cache()
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.ahash_neardup_pairs(sigs, max_hamming=3).collect()
    }
    a = sigs.select(F.col("media_id").alias("id_a"), F.col("sig").alias("_sa"))
    b = sigs.select(F.col("media_id").alias("id_b"), F.col("sig").alias("_sb"))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .collect()
    }
    sigs.unpersist()
    assert blocked == brute


def test_video_neardup_finds_duplicate_payloads_only(spark):
    """Two videos with the SAME payload share all frames; a video
    with different content shares (almost surely) none."""
    import pandas as pd

    from stream_processing_system_spark.operators import multimodal

    base = ("scan merge hash join sort table row value part key " * 20).strip()
    other = ("zq xv wk jm pl nt rb cd fg hs " * 22).strip()
    # doc_id % 3 == 2 -> video
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [2, 5, 8], "text": [base, base, other],
             "source": ["s"] * 3}
        )
    )
    media = multimodal.fake_media_from_documents(spark, docs)
    sigs = multimodal.frame_fingerprints(media)
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_frames"]
        for r in multimodal.video_frame_neardup(sigs, min_shared=3).collect()
    }
    assert (2, 5) in pairs and pairs[(2, 5)] >= 3
    assert (2, 8) not in pairs and (5, 8) not in pairs


def test_audio_energy_known_waveform(spark):
    """Payload-truth check: a crafted 64-byte payload whose first
    32-sample frame is pure silence (all 128 -> energy 0) and whose
    second frame is full-scale (all 255 -> 32*127^2)."""
    from stream_processing_system_spark.operators.multimodal import audio_energy

    payload = bytes([128] * 32 + [255] * 32)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(payload)), (2, "image", bytearray(payload))],
        "media_id long, media_type string, payload binary",
    )
    rows = audio_energy(df).collect()
    assert len(rows) == 1 and rows[0]["media_id"] == 1  # image row filtered
    r = rows[0]
    assert r["n_windows"] == 2
    assert r["peak_energy"] == 32 * 127 * 127
    assert r["silence_ratio"] == 0.5
    assert abs(r["mean_energy"] - (32 * 127 * 127) / 2) < 1e-6

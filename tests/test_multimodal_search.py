"""Multimodal plumbing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from rechercheinfoweb_spark.operators import multimodal as mm


def test_media_metadata_prunes_payload(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("media")) + "/t.parquet"
    mm.synthetic_media(spark, 60).write.parquet(out)
    media = spark.read.parquet(out)
    plan = media.groupBy("kind").agg(
        F.count("*")).select("kind").sparkSession  # noqa: F841
    meta = mm.media_metadata(media)
    explained = meta._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in explained, \
        "metadata pass must not read the binary column"
    rows = {r["kind"]: r["n"] for r in meta.collect()}
    assert rows == {"image": 20, "audio": 20, "video": 20}


def test_extract_features_deterministic(spark):
    media = mm.synthetic_media(spark, 30)
    a = {r["media_id"]: r["features"]
         for r in mm.extract_features(media).collect()}
    b = {r["media_id"]: r["features"]
         for r in mm.extract_features(media).collect()}
    assert a == b and len(a) == 30
    assert all(len(v) == mm.FEATURE_DIM for v in a.values())


def test_sample_frames_shapes(spark):
    media = mm.synthetic_media(spark, 30)
    frames = mm.sample_frames(media, every_ms=5000).collect()
    assert all(r["frame_ts_ms"] % 5000 == 0 for r in frames)
    kinds = {r["media_id"] % 3 for r in frames}
    assert 0 not in kinds  # images (media_id%3==0) excluded
    # per-media frame count = duration//5000 + 1
    durs = {r["media_id"]: r["meta_duration_ms"]
            for r in media.where(F.col("kind") != "image").collect()}
    from collections import Counter
    per = Counter(r["media_id"] for r in frames)
    for mid, dur in durs.items():
        assert per[mid] == (dur or 0) // 5000 + 1


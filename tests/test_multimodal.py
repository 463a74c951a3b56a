"""Multimodal plumbing tests: the real PNG image-features path."""

from __future__ import annotations

from ner_ocr_spark import corpus
from ner_ocr_spark.operators import multimodal as mm


def _media_df(spark):
    rows = [
        ("img1", "image", bytearray(corpus.render_media_blob("mmtest/img1")), "image/png"),
        ("img2", "image", bytearray(b"broken bytes"), "image/png"),
        ("aud1", "audio", bytearray(b"\x00\x01"), "audio/wav"),
        ("vid1", "video", bytearray(b"\x00\x01"), "video/mp4"),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_image_features_real_decode(spark):
    out = {r["media_ref"]: r for r in mm.image_features(_media_df(spark)).collect()}
    assert set(out) == {"img1", "img2"}  # non-image kinds are filtered out
    ok = out["img1"]
    assert ok["error"] is None
    assert ok["width"] > 0 and ok["height"] > 0
    assert 0.0 < ok["ink_ratio"] < 1.0
    bad = out["img2"]
    assert bad["error"] is not None and bad["width"] is None

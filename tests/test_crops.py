"""bbox_image region crops (reference BoundingBox.bbox_image analog,
/root/reference/src/bounding_box.py:21-79)."""

from __future__ import annotations

import numpy as np

from ner_ocr_spark import corpus, pipeline
from ner_ocr_spark.imageio import decode_image_gray
from ner_ocr_spark.kernels import ocr
from ner_ocr_spark.operators.crops import region_crops
from ner_ocr_spark.png import decode


def _ocr_rows(spark, documents_df):
    return pipeline.extract_spans(documents_df.limit(20), with_ner=False).filter(
        "kind = 'media' and error is null"
    )


def test_crops_match_page_pixels(spark, documents_df):
    """A crop is the box cut from the frame the box was measured in: the
    first pass's deskewed, ink-cropped page (every corpus page is skewed,
    so the decoded page would put every crop in the wrong place)."""
    rows = region_crops(_ocr_rows(spark, documents_df)).collect()
    assert rows, "no media regions in fixture"
    pages = {}
    for r in rows:
        assert r["bbox_image"] is not None, r
        crop = decode_image_gray(bytes(r["bbox_image"]))
        ref = r["media_ref"]
        if ref not in pages:
            pages[ref] = ocr.page_frame(corpus.render_media_blob(ref))[0]
        x1, y1, x2, y2 = r["box"]
        want = pages[ref][int(y1): int(np.ceil(y2)), int(x1): int(np.ceil(x2))]
        assert crop.shape == want.shape
        assert np.array_equal(crop, want)


def test_crops_rgba_shape(spark, documents_df):
    rows = region_crops(_ocr_rows(spark, documents_df), rgba=True).limit(3).collect()
    for r in rows:
        img = decode(bytes(r["bbox_image"]))
        assert img.ndim == 3 and img.shape[2] == 4
        assert (img[:, :, 3] == 255).all()          # alpha: fully inside box
        assert np.array_equal(img[:, :, 0], img[:, :, 1])


def test_crops_none_for_text_rows(spark, documents_df):
    rows = region_crops(
        pipeline.extract_spans(documents_df.limit(10), with_ner=False)
    ).filter("kind = 'text'").limit(5).collect()
    assert all(r["bbox_image"] is None for r in rows)


def test_sink_strips_bbox_image(spark, documents_df):
    from ner_ocr_spark.sinks import strip_payload

    with_crops = region_crops(_ocr_rows(spark, documents_df))
    assert "bbox_image" not in strip_payload(with_crops).columns

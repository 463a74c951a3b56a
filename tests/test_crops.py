"""bbox_image region crops (reference BoundingBox.bbox_image analog,
/root/reference/src/bounding_box.py:21-79)."""

from __future__ import annotations

import functools

import numpy as np

from ner_ocr_spark import corpus, pipeline
from ner_ocr_spark.imageio import decode_image_gray
from ner_ocr_spark.kernels import ocr
from ner_ocr_spark.operators.crops import region_crops
from ner_ocr_spark.operators.pdf import PDF_ZOOM, default_page_source, page_of
from ner_ocr_spark.png import decode
from tests.conftest import DOC_SCHEMA


def _ocr_rows(spark, documents_df):
    return pipeline.extract_spans(documents_df.limit(20), with_ner=False).filter(
        "kind = 'media' and error is null"
    )


def _assert_crops_cut_from(rows, frame_of):
    """Every row's crop is its box cut from `frame_of(row)`."""
    for r in rows:
        assert r["bbox_image"] is not None, r
        page = frame_of(r)
        x1, y1, x2, y2 = r["box"]
        want = page[int(y1): int(np.ceil(y2)), int(x1): int(np.ceil(x2))]
        crop = decode_image_gray(bytes(r["bbox_image"]))
        assert crop.shape == want.shape
        assert np.array_equal(crop, want)


def test_crops_match_page_pixels(spark, documents_df):
    """A crop is the box cut from the frame the box was measured in: the
    first pass's deskewed, ink-cropped page (every corpus page is skewed,
    so the decoded page would put every crop in the wrong place)."""
    rows = region_crops(_ocr_rows(spark, documents_df)).collect()
    assert rows, "no media regions in fixture"
    frame = functools.cache(
        lambda ref: ocr.page_frame(corpus.render_media_blob(ref))[0])
    _assert_crops_cut_from(rows, lambda r: frame(r["media_ref"]))


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


def test_crops_of_pdf_rows_come_from_their_rasterized_page(spark):
    """A pdf row's box was measured on its own rasterized page (line_idx
    names the page), so its crop is cut from that page's frame — not from
    the PDF bytes decoded as one image, which gives no crop at all."""
    from ner_ocr_spark import font, pdfio

    pages = []
    for lines in (["ALICE COOPER MET BOB STONE", "IN LONDON TODAY"],
                  ["THE SECOND PAGE", "HAS MORE TEXT"]):
        img = font.render_lines(lines, scale=3, margin=10)
        pages.append(np.where(img == 0, np.uint8(40), np.uint8(210)))
    blob = pdfio.encode_image_pdf(pages)
    resolver = (lambda b: (lambda ref: b))(blob)
    docs = spark.createDataFrame(
        [{"doc_id": "p0", "spans": [{"kind": "pdf", "text": None,
                                     "media_ref": "store/scan.pdf",
                                     "offset": 0}]}],
        DOC_SCHEMA,
    )
    rows = region_crops(
        pipeline.extract_spans(docs, blob_resolver=resolver, with_ner=False)
        .filter("box is not null"),
        blob_resolver=resolver,
    ).collect()
    assert sorted(page_of(r["line_idx"]) for r in rows) == [0, 0, 1, 1]
    frames = [ocr.page_frame(p)[0]
              for p in default_page_source()(blob, PDF_ZOOM)]
    _assert_crops_cut_from(rows, lambda r: frames[page_of(r["line_idx"])])


def test_crops_of_blobs_rows_come_from_the_payload(spark):
    """blobs= path: the payload riding the row is the page. The default
    resolver fabricates a different page for any ref, so crops cut from
    it would be wrong."""
    donor = corpus.render_media_blob("donor/page/1")
    docs = spark.createDataFrame(
        [{"doc_id": "b0", "spans": [{"kind": "media", "text": None,
                                     "media_ref": "store/x", "offset": 0}]}],
        DOC_SCHEMA,
    )
    blobs = spark.createDataFrame(
        [("store/x", bytearray(donor))], "media_ref string, image_png binary"
    )
    ocr_rows = pipeline.extract_spans(docs, blobs=blobs, with_ner=False)
    rows = region_crops(
        ocr_rows.filter("box is not null").join(blobs, "media_ref", "left")
    ).collect()
    assert rows
    frame = ocr.page_frame(donor)[0]
    _assert_crops_cut_from(rows, lambda r: frame)

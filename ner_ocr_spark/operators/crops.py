"""Region crops: attach a `bbox_image` payload per OCR region.

Reference parity: BoundingBox.bbox_image is an RGBA crop of the region,
masked to the region polygon, used by the enhancement stage and the export
path (/root/reference/src/bounding_box.py:21-79,166-180); the JSON sink
strips it before serialization (/root/reference/src/utils.py:131-135 — our
sinks.PAYLOAD_COLS already lists bbox_image).

Spark shape: one map-only mapInPandas over OCR rows. Rows reach their page
through `operators/pdf.page_groups`, the loop the workbench refine stage
shares: a riding `image_png` payload (the blobs= path) is the blob, else
the resolver's; a PDF rasterizes once per run of its rows ("auto" page
source) and a row's page is its line_idx's (`pdf.page_of`). The page's
OCR frame (kernels/ocr.page_frame: the deskewed, ink-cropped page the
boxes are measured in) is built once per (media_ref, page), each region's
box is cropped from it with `pad` context, and the crop is re-encoded as
PNG bytes in a BinaryType column.
Crops never shuffle unless the caller moves them (sinks strip them first).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ner_ocr_spark.operators.pdf import page_groups


def make_crop_stage(
    blob_resolver: Callable[[str], bytes] | None = None,
    pad: int = 0,
    rgba: bool = False,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Input: OCR_SCHEMA-shaped rows (media_ref, line_idx, box and error
    required; an `image_png` payload may ride along). Output: same rows +
    bbox_image (PNG bytes; None for text rows / error rows / missing boxes
    / pages that cannot be read). rgba=True emits the reference's RGBA
    shape (gray replicated, alpha 255 inside the box); default grayscale
    PNG is 4x smaller and OCR-equivalent.

    A box is cut from the frame it was measured in: the first pass's
    deskewed, ink-cropped gray page (kernels/ocr.page_frame), not the
    decoded page — on a skewed page the two differ by the ink-bbox offset
    and the rotation."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ner_ocr_spark.kernels import ocr
        from ner_ocr_spark.png import encode_gray, encode_rgb

        def frame(page: bytes):
            return ocr.page_frame(page)[0]

        def cut(page, box):
            if len(box) != 4:
                return None
            h, w = page.shape
            x1 = max(int(box[0]) - pad, 0)
            y1 = max(int(box[1]) - pad, 0)
            x2 = min(int(np.ceil(box[2])) + pad, w)
            y2 = min(int(np.ceil(box[3])) + pad, h)
            if x2 <= x1 or y2 <= y1:
                return None
            crop = page[y1:y2, x1:x2]
            if rgba:
                return bytearray(encode_rgb(
                    np.dstack([crop, crop, crop, np.full_like(crop, 255)])))
            return bytearray(encode_gray(crop))

        for pdf, groups in page_groups(batches, frame, "auto", blob_resolver):
            boxes = pdf["box"].to_numpy()
            crops = [None] * len(pdf)
            for rows, page in groups:
                if page is not None:
                    for r in rows:
                        crops[r] = cut(page, boxes[r])
            out = pdf.copy()
            out["bbox_image"] = crops
            yield out

    return stage


def region_crops(
    ocr_rows: DataFrame,
    blob_resolver: Callable[[str], bytes] | None = None,
    pad: int = 0,
    rgba: bool = False,
) -> DataFrame:
    """OCR rows -> same rows + bbox_image PNG column."""
    schema = T.StructType(
        list(ocr_rows.schema.fields)
        + [T.StructField("bbox_image", T.BinaryType(), True)]
    )
    return ocr_rows.mapInPandas(make_crop_stage(blob_resolver, pad, rgba), schema)

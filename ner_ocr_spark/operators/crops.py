"""Region crops: attach a `bbox_image` payload per OCR region.

Reference parity: BoundingBox.bbox_image is an RGBA crop of the region,
masked to the region polygon, used by the enhancement stage and the export
path (/root/reference/src/bounding_box.py:21-79,166-180); the JSON sink
strips it before serialization (/root/reference/src/utils.py:131-135 — our
sinks.PAYLOAD_COLS already lists bbox_image).

Spark shape: one map-only mapInPandas over OCR rows — the page's OCR
frame (kernels/ocr.page_frame: the deskewed, ink-cropped page the boxes
are measured in) is built once per media_ref within a batch (rows for one
page co-locate because the OCR stage emitted them together), each region's
box is cropped from it with `pad` context, and the crop is re-encoded as
PNG bytes in a BinaryType column.
Crops never shuffle unless the caller moves them (sinks strip them first).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def make_crop_stage(
    blob_resolver: Callable[[str], bytes] | None = None,
    pad: int = 0,
    rgba: bool = False,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Input: OCR_SCHEMA-shaped rows (media_ref + box required). Output:
    same rows + bbox_image (PNG bytes; None for text rows / error rows /
    missing boxes). rgba=True emits the reference's RGBA shape (gray
    replicated, alpha 255 inside the box); default grayscale PNG is 4x
    smaller and OCR-equivalent.

    A box is cut from the frame it was measured in: the first pass's
    deskewed, ink-cropped gray page (kernels/ocr.page_frame), not the
    decoded page — on a skewed page the two differ by the ink-bbox offset
    and the rotation."""
    from ner_ocr_spark import corpus

    resolver = blob_resolver or corpus.render_media_blob

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ner_ocr_spark.kernels import ocr
        from ner_ocr_spark.png import encode_gray, encode_rgb

        for pdf in batches:
            cache: dict[str, object] = {}

            def page_for(ref: str):
                if ref not in cache:
                    try:
                        cache[ref] = ocr.page_frame(resolver(ref))[0]
                    except Exception:  # noqa: BLE001 — absorb, crop stays None
                        cache[ref] = None
                return cache[ref]

            crops = []
            for row in pdf.itertuples(index=False):
                box = row.box
                ref = row.media_ref
                if ref is None or box is None or len(box) != 4 or (
                    getattr(row, "error", None) is not None
                    and not pd.isna(row.error)
                ):
                    crops.append(None)
                    continue
                page = page_for(ref)
                if page is None:
                    crops.append(None)
                    continue
                h, w = page.shape
                x1 = max(int(box[0]) - pad, 0)
                y1 = max(int(box[1]) - pad, 0)
                x2 = min(int(np.ceil(box[2])) + pad, w)
                y2 = min(int(np.ceil(box[3])) + pad, h)
                if x2 <= x1 or y2 <= y1:
                    crops.append(None)
                    continue
                crop = page[y1:y2, x1:x2]
                if rgba:
                    rgba_img = np.dstack(
                        [crop, crop, crop, np.full_like(crop, 255)]
                    )
                    crops.append(bytearray(encode_rgb(rgba_img)))
                else:
                    crops.append(bytearray(encode_gray(crop)))
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

"""Multimodal columns: media as opaque binary + typed image metadata.

`image_features` decodes image payloads for real — PNG in every 8-bit
color type (gray / RGB / palette / alpha, ner_ocr_spark.png) and baseline
JPEG 4:4:4 / 4:2:0 (ner_ocr_spark.jpeg), dispatched by format sniffing in
ner_ocr_spark.imageio — into dims, ink ratio and Otsu threshold. It is a
mapInPandas over (media_ref, kind, payload): payload bytes never shuffle
(the stage is map-only; any downstream join moves features, not blobs),
and an undecodable payload becomes a per-row error.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # only "image" is featurized
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("ink_ratio", T.DoubleType(), True),
        T.StructField("otsu", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

def image_features_stage() -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """REAL image decode: PNG (gray/RGB/palette/RGBA) or baseline JPEG ->
    dims, ink ratio, Otsu threshold. Resize semantics shared with the OCR
    kernel (bounded_resize)."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ner_ocr_spark.imageio import decode_image_gray as decode_gray
        from ner_ocr_spark.kernels import ocr
        from ner_ocr_spark.operators.rows import absorb_rows

        def rows_of(row) -> list[dict]:
            gray = decode_gray(bytes(row.payload))
            t = ocr.otsu_threshold(gray)
            return [{"media_ref": row.media_ref,
                     "height": int(gray.shape[0]), "width": int(gray.shape[1]),
                     "ink_ratio": float((gray <= t).mean()), "otsu": int(t)}]

        def error_row(row, msg: str) -> dict:
            return {"media_ref": row.media_ref, "error": msg}

        yield from absorb_rows(batches, IMAGE_FEATURES_SCHEMA.fieldNames(),
                               rows_of, error_row)

    return stage


def image_features(media: DataFrame) -> DataFrame:
    return media.filter("kind = 'image'").mapInPandas(
        image_features_stage(), IMAGE_FEATURES_SCHEMA
    )

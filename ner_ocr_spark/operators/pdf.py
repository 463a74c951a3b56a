"""PDF operators: the pipeline's page source and the per-page census.

`blob_pages` is the one blob -> pages step of the OCR stage and the
workbench refine stage (operators/extract.py): a blob sniffing as PDF
(%PDF- magic) is rasterized at PDF_ZOOM and truncated to `max_pages`,
anything else is one page. "auto" resolves to `default_page_source` here
and nowhere else. Expanding pages in-stage keeps mixed corpora at one
scan, one shuffle and one python crossing, and page bitmaps never
serialize through Arrow. It mirrors the reference's primary input path
(its src/pdf_processing.py:21-73 — pypdfium2 render at zoom=2.0,
truncated to `max_num_imgs` pages; dispatched for '.pdf' at
src/bounding_box.py:300-303).

`pdf_report` is the map-only per-page census (page kind, text-layer
lines, /Info metadata) over a table of PDF bytes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

Rasterizer = Callable[[bytes, float], list[bytes]]

PDF_ZOOM = 2.0  # render scale of PDF pages, the reference's zoom


def default_page_source() -> Rasterizer:
    """The page source "auto" names: pypdfium2 rasterization when
    installed (the reference's backend — renders every page, born-digital
    ones included, at `zoom` scale to encoded image bytes), else
    pdfio.pdfio_page_source, which returns image pages as PNG bytes AND
    born-digital text pages as str (the OCR stage emits those lines
    directly, skipping OCR)."""
    try:
        import pypdfium2  # noqa: F401 — optional dependency
    except ImportError:
        from ner_ocr_spark.pdfio import pdfio_page_source

        return pdfio_page_source

    def rasterize(blob: bytes, zoom: float) -> list[bytes]:
        import numpy as np
        import pypdfium2 as pdfium

        from ner_ocr_spark.png import encode_gray

        doc = pdfium.PdfDocument(blob)
        out = []
        for page in doc:
            bitmap = page.render(scale=zoom).to_numpy()
            gray = bitmap if bitmap.ndim == 2 else bitmap[:, :, :3].mean(axis=2)
            out.append(encode_gray(np.asarray(gray, dtype="uint8")))
        return out

    return rasterize


def blob_pages(
    raw: bytes, page_source: Rasterizer | str | None, max_pages: int | None
) -> list[bytes | str]:
    """The pages of one media blob: `page_source(raw, PDF_ZOOM)[:max_pages]`
    when the blob sniffs as PDF and a page source is given ("auto" =
    `default_page_source()`), else `[raw]`. A page is image bytes, or a
    str of newline-joined lines for a born-digital page; a successfully
    parsed zero-page PDF has no pages (it never falls back to decoding
    the PDF as an image)."""
    if page_source is None or raw[:5] != b"%PDF-":
        return [raw]
    if page_source == "auto":
        page_source = default_page_source()
    return [p if isinstance(p, str) else bytes(p)
            for p in page_source(raw, PDF_ZOOM)[:max_pages]]


PDF_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page_idx", T.IntegerType(), True),
        T.StructField("page_kind", T.StringType(), True),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("n_lines", T.IntegerType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def pdf_report(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-page PDF census over a (id, pdf bytes) table: one row per page
    with its kind ('image' raster page / 'text' born-digital) and the
    extracted text for text pages, plus the document's /Info metadata
    (title/author, decrypted when the file is encrypted) repeated per
    page. A zero-page document yields one metadata-only row; a file
    outside the subset yields one error row (M6 absorption). Map-only
    mapInPandas — payload bytes never shuffle."""

    def stage(batches):
        from ner_ocr_spark import pdfio
        from ner_ocr_spark.operators.rows import absorb_rows

        def rows_of(row) -> list[dict]:
            did = str(getattr(row, id_col))
            blob = bytes(getattr(row, payload_col))
            info = pdfio.pdf_info(blob)
            doc = {"doc_id": did, "title": info.get("Title"),
                   "author": info.get("Author"),
                   "n_pages": int(info.get("n_pages", 0))}
            pages = pdfio.extract_page_content(blob)
            if not pages:
                return [{**doc, "n_pages": 0}]
            return [
                {**doc, "page_idx": pi, "page_kind": kind,
                 **({"page_text": "\n".join(v), "n_lines": len(v)}
                    if kind == "text" else {})}
                for pi, (kind, v) in enumerate(pages)
            ]

        def error_row(row, msg: str) -> dict:
            return {"doc_id": str(getattr(row, id_col)), "error": msg}

        yield from absorb_rows(batches, PDF_REPORT_SCHEMA.fieldNames(),
                               rows_of, error_row)

    return df.select(id_col, payload_col).mapInPandas(
        stage, PDF_REPORT_SCHEMA
    )

"""PDF operators: the pipeline's page source and the per-page census.

Every stage that reads a media row's page gets it here, so "which bytes,
which page" has one answer:

  * `line_idx_of` / `page_of` are the one page numbering of OCR rows:
    line_idx = page_idx * PAGE_STRIDE + line, so a document's lines sort
    in page order and a row names its page.
  * `span_pages` is the one blob -> pages step: the span's payload when
    it rides the row (the blobs= path's `image_png`), else
    `resolver(media_ref)` (default `corpus.render_media_blob`); a blob
    sniffing as PDF (%PDF- magic) is rasterized at PDF_ZOOM and truncated
    to `max_pages`, anything else is one page. "auto" resolves to
    `default_page_source` here and nowhere else. The OCR stage calls it
    once per span: expanding pages in-stage keeps mixed corpora at one
    scan, one shuffle and one python crossing, and page bitmaps never
    serialize through Arrow. It mirrors the reference's primary input path
    (its src/pdf_processing.py:21-73 — pypdfium2 render at zoom=2.0,
    truncated to `max_num_imgs` pages; dispatched for '.pdf' at
    src/bounding_box.py:300-303).
  * `page_groups` is the one per-page loop of the stages that revisit OCR
    rows (the workbench refine stage, the region crops): rows grouped by
    (media_ref, page), each page read once through a bounded cache that
    survives batch boundaries.

`pdf_report` is the map-only per-page census (page kind, text-layer
lines, /Info metadata) over a table of PDF bytes.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ner_ocr_spark import corpus

Rasterizer = Callable[[bytes, float], list[bytes]]

PDF_ZOOM = 2.0  # render scale of PDF pages, the reference's zoom
PAGE_STRIDE = 100_000  # line_idx = page_idx * PAGE_STRIDE + line
# (media_ref, page) values `page_groups` keeps across batches
PAGE_CACHE = 8


def line_idx_of(page: int, line: int) -> int:
    """The line_idx of line `line` of page `page`."""
    return page * PAGE_STRIDE + line


def page_of(line_idx):
    """The page a line_idx (an int or an int array) is on."""
    return line_idx // PAGE_STRIDE


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


def span_pages(
    media_ref: str,
    payload: bytes | None,
    page_source: Rasterizer | str | None,
    max_pages: int | None,
    resolver: Callable[[str], bytes] | None,
) -> list[bytes | str]:
    """The pages of one media span. The blob is `payload` when non-null,
    else `resolver(media_ref)` (None = the synthetic corpus renderer,
    standing in for an object-store fetch). It expands to
    `page_source(blob, PDF_ZOOM)[:max_pages]` when it sniffs as PDF and a
    page source is given ("auto" = `default_page_source()`), else to
    `[blob]`. A page is image bytes, or a str of newline-joined lines for
    a born-digital page; a successfully parsed zero-page PDF has no pages
    (it never falls back to decoding the PDF as an image)."""
    raw = bytes(payload if payload is not None
                else (resolver or corpus.render_media_blob)(media_ref))
    if page_source is None or raw[:5] != b"%PDF-":
        return [raw]
    if page_source == "auto":
        page_source = default_page_source()
    return [p if isinstance(p, str) else bytes(p)
            for p in page_source(raw, PDF_ZOOM)[:max_pages]]


def page_groups(
    batches: Iterator[pd.DataFrame],
    read: Callable[[bytes], object],
    page_source: Rasterizer | str | None,
    resolver: Callable[[str], bytes] | None,
) -> Iterator[tuple[pd.DataFrame, Iterator[tuple[np.ndarray, object]]]]:
    """The per-page loop over OCR_SCHEMA-shaped rows (`image_png` may ride
    along). Yields each batch with a lazy iterator of (rows, value), one
    per (media_ref, page) of the batch: `rows` are the positions of the
    page's rows, error rows and box-less rows left out, and `value` is
    `read(page image bytes)`, or None for a missing page, a born-digital
    (str) page or a fetch/read that raises. The page's blob is the
    group's first non-null `image_png`, else the resolver's
    (`span_pages`). The last document's pages are kept, so a PDF
    rasterizes once per run of its rows — once per document for rows
    grouped by document, as the OCR stage emits them.

    Values come from an LRU keyed by (media_ref, page) that survives batch
    boundaries, so a page whose rows straddle two batches is read once.
    It holds at most PAGE_CACHE values, and never more than the current
    batch has pages: a stage keeps no more decoded pages than a per-batch
    dict would."""
    cache: OrderedDict[tuple[str, int], object] = OrderedDict()
    doc: dict[str, list] = {}  # the last document's pages

    def value(ref: str, page: int, payload, cap: int):
        key = (ref, page)
        if key in cache:
            cache.move_to_end(key)
            return cache[key]
        while len(cache) >= cap:
            cache.popitem(last=False)
        try:
            if ref not in doc:
                doc.clear()
                doc[ref] = span_pages(ref, payload, page_source, None, resolver)
            pages = doc[ref]
            p = pages[page] if page < len(pages) else None
            val = None if p is None or isinstance(p, str) else read(p)
        except Exception:  # noqa: BLE001 — absorbed: the rows keep their first pass
            val = None
        cache[key] = val
        return val

    def values(rows: np.ndarray, groups: dict, payloads, cap: int):
        for (ref, page), pos in groups.items():
            payload = None if payloads is None else next(
                (v for v in payloads[pos] if v is not None), None)
            yield rows[pos], value(ref, int(page), payload, cap)

    for pdf in batches:
        ok = (pdf["error"].isna() & pdf["box"].notna()).to_numpy()
        groups = pd.DataFrame({
            "ref": pdf["media_ref"].to_numpy()[ok],
            "page": page_of(pdf["line_idx"].to_numpy()[ok].astype(int)),
        }).groupby(["ref", "page"], sort=False).indices
        payloads = (pdf["image_png"].to_numpy()[ok]
                    if "image_png" in pdf.columns else None)
        cap = min(PAGE_CACHE, len(groups))
        while len(cache) > cap:
            cache.popitem(last=False)
        yield pdf, values(np.flatnonzero(ok), groups, payloads, cap)


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
    outside the subset yields one error row (M6 absorption). Each file is
    opened once (`pdfio.read_pdf`). Map-only mapInPandas — payload bytes
    never shuffle."""

    def stage(batches):
        from ner_ocr_spark import pdfio
        from ner_ocr_spark.operators.rows import absorb_rows

        def rows_of(row) -> list[dict]:
            did = str(getattr(row, id_col))
            blob = bytes(getattr(row, payload_col))
            info, pages = pdfio.read_pdf(blob)
            doc = {"doc_id": did, "title": info.get("Title"),
                   "author": info.get("Author"), "n_pages": len(pages)}
            if not pages:
                return [doc]
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

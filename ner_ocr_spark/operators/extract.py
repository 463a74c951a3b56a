"""The engine's two Python-side operators (everything else is JVM-side
SQL): the mapInPandas OCR stage (+ html extraction) and the NER UDF.

The OCR stage follows the Spark ML-inference pattern (SURVEY.md §2.8
M1-M6): the closure (gazetteer, resolver, kernels) is unpickled and the
stage state (the NER token trie) is built once per task, at the top of
`stage()` — not per batch, and not once per python worker; Arrow-batched
iterators, per-row error absorption into an `error` column (failures never
kill the job: the reference's src/pipelines/base.py:44-57 semantics), and
an in-batch wall-clock guard replacing the reference's thread-pool timeout
(its src/utils.py:21-46).

Text rows are tagged by `ner_udf`, a scalar-iterator Arrow UDF over the
text column alone: the batch function `tag_array` turns an Arrow string
array into the entities/bio struct array with no pandas frame and no
per-row dict, and every other column of the row stays in the JVM.
`tag_columns` is the per-text form the OCR stage appends to its rows;
both call `GazetteerTagger.tag`, so both write the same values.

Which bytes and which page a row reads is decided in `operators/pdf`:
the OCR stage expands a span through `span_pages` and numbers its lines
with `line_idx_of`, and `make_refine_stage` (like the region crops)
revisits rows through `page_groups`. The OCR second pass has one form:
the OCR stage's `refine_below` branch and `make_refine_stage` re-read a
page with one recipe and pair refined lines to first-pass rows by one
geometry rule, `pair_lines` — a plain function that can be checked
outside Spark.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ner_ocr_spark.operators.pdf import (Rasterizer, line_idx_of,
                                         page_groups, span_pages)
from ner_ocr_spark.operators.rows import absorb_rows

# one row per recognized OCR line (reference OCRResult analog, long form).
# transformer_text/transformer_score carry the enhancement second pass
# SEPARATELY from the first-pass text/score, mirroring OCRResult's dual
# columns (/root/reference/src/custom_types/data.py:20-21) so the P4
# coalesce downstream is real, not a no-op.
OCR_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_idx", T.IntegerType(), False),
        T.StructField("line_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("box", T.ArrayType(T.DoubleType()), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("transformer_text", T.StringType(), True),
        T.StructField("transformer_score", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def ocr_ner_schema() -> T.StructType:
    """OCR_SCHEMA + the NER columns (fused-stage output)."""
    return T.StructType(list(OCR_SCHEMA.fields) + list(NER_TYPE.fields))


ENTITY_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("entity_type", T.StringType(), False),
            T.StructField("surface", T.StringType(), False),
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
        ]
    )
)


def tag_columns(tagger, text: str) -> dict:
    """The entities/bio columns of one text, as the OCR stage writes them;
    `tag_array` builds the same values for an Arrow batch of texts."""
    ents, bio = tagger.tag(text)
    return {
        "entities": [{"entity_type": e.entity_type, "surface": e.surface,
                      "start": e.start, "end": e.end} for e in ents],
        "bio": bio,
    }


# what the NER UDF returns per text: the entities/bio columns, as a struct
NER_TYPE = T.StructType([T.StructField("entities", ENTITY_TYPE, True),
                         T.StructField("bio", T.StringType(), True)])
_NER_ARROW = to_arrow_type(NER_TYPE)
_ENTITY_ARROW = _NER_ARROW.field("entities").type


def tag_array(tagger, texts: pa.Array) -> pa.StructArray:
    """`tag_columns` over an Arrow string array, as one struct array: the
    entities of every text as one list array over flat offsets, the bio
    strings as one string array. A NULL text tags as ""."""
    offsets = [0]
    etype, surface, start, end, bio = [], [], [], [], []
    for text in texts.to_pylist():
        ents, tags = tagger.tag(text or "")
        for e in ents:
            etype.append(e.entity_type)
            surface.append(e.surface)
            start.append(e.start)
            end.append(e.end)
        offsets.append(len(etype))
        bio.append(tags)
    flat = pa.StructArray.from_arrays(
        [pa.array(etype, pa.string()), pa.array(surface, pa.string()),
         pa.array(start, pa.int32()), pa.array(end, pa.int32())],
        fields=list(_ENTITY_ARROW.value_type))
    entities = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), flat,
                                        type=_ENTITY_ARROW)
    return pa.StructArray.from_arrays([entities, pa.array(bio, pa.string())],
                                      fields=list(_NER_ARROW))


def ner_udf(gazetteer: list[tuple[str, str]]):
    """The NER crossing as a scalar-iterator Arrow UDF over one string
    column, returning `NER_TYPE`: only the text goes to python and only
    entities/bio come back; every other column stays in the JVM. The
    GazetteerTagger and its token trie are built once per task, at the top
    of the iterator, and reused for every Arrow batch of it."""

    def ner(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        from ner_ocr_spark.kernels.ner import GazetteerTagger

        tagger = GazetteerTagger(gazetteer)
        for texts in batches:
            yield tag_array(tagger, texts)

    return F.arrow_udf(ner, NER_TYPE)


def pair_lines(row_boxes: Sequence, lines: Sequence) -> np.ndarray:
    """The second pass's one pairing rule: for each first-pass row box
    ([x0, y0, x1, y1]), the index into the refined `lines` of the line
    whose box covers the most of the row's height — only when it covers at
    least half of it — else -1.

    Both passes are one recipe with one box frame (same resize scale, noise
    erase and ink-bbox crop; the deskew angles differ slightly), so line
    counts and line indexes never enter: a fine pass that finds a spurious
    extra line, a page split across Arrow batches or a low-score subset of
    its rows cannot shift the pairing."""
    ry = np.array([(b[1], b[3]) for b in row_boxes], dtype=float).reshape(-1, 2)
    if not len(lines):
        return np.full(len(ry), -1)
    ly = np.array([(ln.box[1], ln.box[3]) for ln in lines], dtype=float)
    # cover[r, j]: how much of row r's height line j covers
    cover = np.minimum(ry[:, 1:], ly[:, 1]) - np.maximum(ry[:, :1], ly[:, 0])
    best = cover.argmax(axis=1)
    hit = (cover[np.arange(len(ry)), best]
           >= 0.5 * np.maximum(ry[:, 1] - ry[:, 0], 1e-9))
    return np.where(hit, best, -1)


def make_ocr_stage(
    blob_resolver: Callable[[str], bytes] | None = None,
    batch_timeout_s: float = 400.0,
    refine_below: float | None = None,
    *,
    gazetteer: list[tuple[str, str]],
    pdf_rasterizer: Rasterizer | str | None = None,
    pdf_max_pages: int | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the python-branch mapInPandas function (OCR and html).

    Input batches: (doc_id, span_idx, kind, media_ref[, text][, image_png]).
    If an `image_png` column is present (blobs joined upstream) it is used;
    a NULL image_png — and the column's absence — falls back to
    `blob_resolver(media_ref)` (default: the synthetic corpus renderer),
    the production shape where media_ref points into an object store and
    the fetch happens executor-side (no image bytes ever shuffle). A
    kind='html' row is not OCR'd: its `text` holds raw markup, and
    `htmlx.main_text` makes its one line (line_idx 0, score 1.0, no box);
    only html rows need the `text` column.

    Output: `ocr_ner_schema()`, one row per recognized line that is
    non-blank after normalizing, line_idx ordered top-to-bottom. The
    stage runs on the `absorb_rows` skeleton (operators/rows.py): a span
    fails as a unit, so a failed span — any of its pages — degrades to a
    single (text=None, error=...) row and reassembly still sees the span
    (M6); batch_timeout_s is the reference's 400 s OCR budget, and once a
    batch breaches it the remaining rows emit timeout-error rows instead
    of running (M5).

    When `refine_below` is given, a page with any line scoring below it is
    re-read by the same kernel recipe on the finer REFINE_STEP deskew grid
    (reference M2 analog). The first pass always stays: each row takes
    the refined line `pair_lines` pairs it with (the workbench refine
    stage's rule) in transformer_text/score, a row without one keeps them
    NULL, and a failed second pass refines nothing.

    Every recognized line is normalized in-stage (python twin of
    operators/normalize.normalize_expr — pinned equal by tests; the P4
    coalesce: the refined text wins when it normalizes non-blank), lines
    blank after normalizing are dropped (so is a page with no lines), and
    the `gazetteer` tagger appends entities/bio: media, pdf and html rows
    cross the Python boundary exactly ONCE (extract+normalize+NER fused)
    in both NER modes of the pipeline. Error rows keep text, entities and
    bio NULL.

    When `pdf_rasterizer` is given, a blob expands to its pages IN-STAGE
    through `operators/pdf.span_pages` (PDF sniff, rasterize at PDF_ZOOM,
    truncate to `pdf_max_pages` — the reference's max_num_imgs, its
    src/pdf_processing.py:21-73); each page OCRs with line_idx
    `pdf.line_idx_of(page_idx, line)`. Fusing the 1:N expansion here
    (rather than a separate pdf branch with its own mapInPandas +
    posexplode, the round-2 design) keeps the plan at ONE source scan,
    ONE shuffle and ONE python crossing for mixed corpora, and page
    bitmaps never serialize through Arrow at all.
    """
    from ner_ocr_spark import htmlx
    from ner_ocr_spark.kernels import ocr
    from ner_ocr_spark.kernels.normalize import normalize_text

    def page_lines(page) -> list[dict]:
        """The line columns of one page, top to bottom."""
        if isinstance(page, str):
            # born-digital PDF page: the rasterizer hook (pdfio_page_source)
            # extracted the text layer directly — its lines are exact,
            # score 1.0, no OCR
            return [{"text": t, "score": 1.0} for t in page.split("\n") if t]
        lines = ocr.ocr_page(page)
        out = [{"text": lr.text, "box": lr.box, "score": float(lr.score)}
               for lr in lines]
        if refine_below is not None and any(lr.score < refine_below for lr in lines):
            # M2 analog: score-gated second pass, the same recipe on a finer
            # deskew grid
            try:
                refined = ocr.ocr_page(page, step=ocr.REFINE_STEP)
            except Exception:  # noqa: BLE001 — keep the first pass
                refined = []
            for ln, j in zip(out, pair_lines([lr.box for lr in lines], refined)):
                if j >= 0:
                    ln["transformer_text"] = refined[j].text
                    ln["transformer_score"] = float(refined[j].score)
        return out

    def span_lines(row) -> list[tuple[int, dict]]:
        """(line_idx, line columns) of every line of one span."""
        if row.kind == "html":
            # raw markup: main-content extraction stands in for OCR
            return [(0, {"text": htmlx.main_text(row.text), "score": 1.0})]
        pages = span_pages(row.media_ref, getattr(row, "image_png", None),
                           pdf_rasterizer, pdf_max_pages, blob_resolver)
        return [(line_idx_of(pi, li), ln) for pi, page in enumerate(pages)
                for li, ln in enumerate(page_lines(page))]

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ner_ocr_spark.kernels.ner import GazetteerTagger

        tagger = GazetteerTagger(gazetteer)
        cols = list(ocr_ner_schema().fieldNames())

        def span_key(row) -> dict:
            return {"doc_id": row.doc_id, "span_idx": int(row.span_idx),
                    "kind": row.kind, "media_ref": row.media_ref}

        def rows_of(row) -> list[dict]:
            key = span_key(row)
            out = []
            for li, ln in span_lines(row):
                # P4 for real: the enhanced text wins when it normalizes
                # non-blank (python twin of
                # operators/normalize.refined_text_expr)
                text = (normalize_text(ln.get("transformer_text"))
                        or normalize_text(ln.get("text")))
                if text:  # blank-after-normalize filter
                    out.append({**key, "line_idx": li, **ln, "text": text,
                                **tag_columns(tagger, text)})
            return out

        def error_row(row, msg: str) -> dict:
            return {**span_key(row), "line_idx": 0, "error": msg}

        yield from absorb_rows(batches, cols, rows_of, error_row,
                               budget_s=batch_timeout_s)

    return stage


def make_refine_stage(
    blob_resolver: Callable[[str], bytes] | None = None,
    pdf_rasterizer: Rasterizer | str | None = "auto",
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Second-pass refinement (reference M2 / TrOCR analog,
    the reference's src/transformer_ocr.py:189-283) over OCR_SCHEMA rows
    that already exist: the workbench's enhance stage. It re-reads a page
    exactly as `make_ocr_stage(refine_below=)` does — the first-pass
    recipe on the finer REFINE_STEP deskew grid — and pairs by the same
    `pair_lines` rule, recording the result in transformer_text /
    transformer_score (never overwriting the first pass — OCRResult
    carries both, the reference's src/custom_types/data.py:20-21;
    downstream P4 coalesce picks the winner). It refines every row it is
    given, whatever its first-pass score: the workbench hands it every row
    of every page that holds a search hit, and only the fused stage's
    refine_below gates on score. Each region is enhanced exactly ONCE
    (SURVEY.md §4.3.4), unlike the reference CLI's accidental O(k^2) loop.

    Rows reach their page through `operators/pdf.page_groups`, the loop
    the region crops share: an `image_png` column riding the batch (the
    blobs= media path) is the blob when non-null, else
    `blob_resolver(media_ref)`; a PDF blob rasterizes once per run of its
    rows and each row's page comes from its line_idx (`pdf.page_of`), so
    pdf pages refine with the same semantics as native media.
    pdf_rasterizer=None keeps pdf rows untouched (their page fails to
    decode and refines nothing); born-digital text pages are exact already
    and never refine.

    Line counts and line indexes never enter the pairing, so a page split
    across Arrow batches or any subset of its rows pairs the same.
    Output: OCR_SCHEMA rows (extras dropped). Failures, rows without a
    box, and rows already carrying an error keep the first-pass row (error
    absorption)."""
    from ner_ocr_spark.kernels import ocr

    def refined(page: bytes):
        return ocr.ocr_page(page, step=ocr.REFINE_STEP)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf, groups in page_groups(batches, refined, pdf_rasterizer,
                                       blob_resolver):
            pdf = pdf.copy()
            boxes = pdf["box"].to_numpy()
            for rows, lines in groups:
                if not lines:
                    continue
                pair = pair_lines(boxes[rows], lines)
                hit = pair >= 0
                if not hit.any():
                    continue
                sel = pdf.index[rows[hit]]
                pdf.loc[sel, "transformer_text"] = [
                    lines[j].text for j in pair[hit]
                ]
                pdf.loc[sel, "transformer_score"] = [
                    float(lines[j].score) for j in pair[hit]
                ]
            # project to the declared output schema (the input batch may
            # carry an extra image_png payload column)
            yield pdf[list(OCR_SCHEMA.fieldNames())]

    return stage


def make_ner_stage(
    gazetteer: list[tuple[str, str]],
    text_col: str = "text",
    *,
    passthrough: T.StructType,
) -> tuple[Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]], T.StructType]:
    """A mapInPandas function + its output schema that append `entities`
    and `bio` of `text_col` to every input row (`passthrough` is the input
    schema): a pandas adaptor over `tag_array`, for callers that hold
    pandas batches. The engine's own plans tag through `ner_udf`, which
    keeps the passthrough columns in the JVM."""
    schema = T.StructType(list(passthrough.fields) + list(NER_TYPE.fields))

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ner_ocr_spark.kernels.ner import GazetteerTagger

        tagger = GazetteerTagger(gazetteer)
        for pdf in batches:
            tagged = tag_array(tagger, pa.array(pdf[text_col], pa.string(),
                                                from_pandas=True))
            # numpy object arrays: ~10x faster than python lists, and
            # positional (a Series would align on the batch's index)
            yield pdf.assign(**{c: tagged.field(c).to_numpy(zero_copy_only=False)
                                for c in ("entities", "bio")})

    return stage, schema

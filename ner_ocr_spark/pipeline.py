"""The end-to-end extraction pipeline (SURVEY.md §4.4 physical sketch).

    documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)
      -> posexplode (span_idx mints the order the invariant needs)
      -> route kind:
         text -> JVM normalizer (-> mapInPandas NER with NER: the slim
           (doc_id, span_idx, text) rows only)
         media/pdf/html -> balance_by_cost: one repartitionById exchange
           [size-aware skew defusal]
           -> mapInPandas python stage: OCR (pdf pages expand in-stage) or
              html main-content extraction, + the python normalizer twin
              and NER, fused
      -> unionByName
      -> assemble: groupBy(doc_id) sort_array(collect_list(...))

with_ner=False is the same plan, except that text rows skip the NER
crossing (they never leave the JVM) and entities/bio are dropped; the
python branch is the same stage in both modes.

Two shuffles total, with or without blobs=: the python-branch placement and
the assembly groupBy (a blobs= table small enough to broadcast adds none).
Span order is carried explicitly via (span_idx, line_idx) — never partition
order (SURVEY.md §7 hard part (a)).

Reference parity: the per-file loop of /root/reference/src/pipelines/base.py:31-57
becomes scan parallelism; OCR dispatch /root/reference/src/bounding_box.py:278-309
becomes the kind route; each span is enhanced exactly once (the reference CLI's
accidental O(k^2) re-enhancement, /root/reference/src/pipelines/ocr.py:66-74,
is intentionally not reproduced — the UI path at
/root/reference/src/ui/app.py:525-530 shows intended semantics).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_ocr_spark import corpus as corpus_mod
from ner_ocr_spark.operators.balance import balance_by_cost
from ner_ocr_spark.operators.extract import (
    make_ner_stage,
    make_ocr_stage,
    ocr_ner_schema,
)
from ner_ocr_spark.operators.normalize import normalize_expr
from ner_ocr_spark.operators.pdf import Rasterizer

SPAN_COLS = ["doc_id", "span_idx", "line_idx", "kind", "text", "media_ref",
             "box", "score", "transformer_text", "transformer_score", "error"]


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents -> long span table; span_idx = array position = order."""
    return documents.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def text_rows(spans: DataFrame) -> DataFrame:
    """The JVM text branch: (doc_id, span_idx, text) of every text span
    that is non-blank after normalize_expr."""
    return (
        spans.filter(F.col("kind") == "text")
        .select("doc_id", "span_idx", normalize_expr(F.col("text")).alias("text"))
        .filter(F.length("text") > 0)
    )


def extract_spans(
    documents: DataFrame,
    blobs: DataFrame | None = None,
    blob_resolver: Callable[[str], bytes] | None = None,
    media_partitions: int | None = None,
    gazetteer: list[tuple[str, str]] | None = None,
    with_ner: bool = True,
    refine_below: float | None = None,
    pdf_rasterizer: Rasterizer | str | None = "auto",
    pdf_max_pages: int | None = None,
) -> DataFrame:
    """Full extraction: ordered (kind, text, media_ref) span rows per doc,
    plus entities/bio when with_ner. The NER mode changes one thing: with
    it, text rows cross the NER stage; without it they stay JVM-only and
    the entities/bio columns are dropped (media, pdf and html rows are
    still tagged in python — tagging costs ~0.03 ms per page against
    ~23 ms of OCR — so both modes write the same span rows).

    blobs: optional media table (media_ref, image_png) joined executor-side;
    otherwise blob_resolver(media_ref) fetches bytes inside the OCR UDF
    (default: the synthetic corpus renderer — models an object-store fetch).
    media_partitions: width of the python-branch placement (media, pdf
    and html spans); defaults to spark.sql.shuffle.partitions. Rows are
    dealt heaviest first (payload bytes, else html markup length) over the
    partitions by operators/balance.balance_by_cost, so one media-heavy
    document spreads across the cluster (north-rule skew clause) —
    reassembly restores order via span_idx, never partition order. Two
    shuffles total in both blobs modes: that placement and the assembly
    groupBy (plus the blobs join's own when that table does not broadcast).

    PDF spans (kind='pdf'): pdf_rasterizer is any callable
    (bytes, zoom) -> list of page payloads, called at operators/pdf.PDF_ZOOM;
    each payload is either png bytes (OCR'd) or a str of newline-joined
    text lines (emitted directly, score 1.0 — the born-digital path). The
    default "auto" resolves (in operators/pdf.span_pages) to
    default_page_source — pypdfium2 when installed, else the from-scratch
    pdfio reader (raster pages composited; born-digital pages extracted as
    positioned Tj/TJ text, skipping OCR entirely), so real PDF bytes work
    out of the box. PDF blobs are sniffed (%PDF- magic) and expanded to pages INSIDE the same
    OCR mapInPandas stage with line_idx `operators/pdf.line_idx_of(page_idx,
    line)` (page_idx * PAGE_STRIDE + line), so
    per-document order stays exact and mixed corpora keep ONE source scan /
    ONE shuffle / ONE python crossing (a separate rasterize branch — the
    round-2 design — scanned the source an extra time and shipped page
    bitmaps through Arrow twice). pdf_max_pages is the reference's
    max_num_imgs truncation (/root/reference/src/pdf_processing.py:21-73;
    dispatch /root/reference/src/bounding_box.py:300-303). Out-of-subset
    files degrade to per-row error absorption, never a crash; pass
    pdf_rasterizer=None to disable PDF handling (pdf spans then OCR as
    images and the image sniff rejects them per row).
    """
    spark = documents.sparkSession
    spans = explode_spans(documents)

    # python-branch width (media, pdf and html rows): defaults to
    # spark.sql.shuffle.partitions. At corpus scale that is set far above
    # the core count, so the OCR stage schedules in many fine waves; when
    # partitions ≈ cores (small local runs), pass media_partitions
    # explicitly — one wave per core lets the
    # slowest task stretch the whole stage (measured +8% at 16 cores going
    # from 2 to 8 waves), while over-splitting a tiny input paid ~20% in
    # per-task overhead — measured before _pyworker removed the per-task
    # pyspark.zip re-read that made up most of it; re-measure before
    # tuning this default. Granularity follows data volume.
    n_part = media_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    # -- python branch: every span kind whose work is python -------------
    # media/pdf spans OCR (pdf pages expand in-stage; without a rasterizer
    # the image sniff rejects the bytes into a per-row error) and html spans
    # carry their raw markup in `text` for main-content extraction (north
    # rule: boilerplate strip / DOM heuristics). One spread, one crossing.
    py = spans.filter(F.col("kind").isin(["media", "pdf", "html"])).select(
        "doc_id", "span_idx", "kind", "text", "media_ref"
    )
    # size-aware placement (§4.3.2): payload bytes ~ decoded pixel count
    # ~ OCR cost; html rows' markup length stands in, and rows with neither
    # cost 0, so without blobs the deal is a count round-robin. A
    # 1000-media-span doc lands on ~all partitions, not one straggler.
    cost = F.length("text")
    if blobs is not None:
        py = py.join(blobs, "media_ref", "left")
        cost = F.coalesce(F.length("image_png"), cost)
    py = balance_by_cost(py, cost, n_part)
    # refinement AND normalize+NER happen INSIDE the OCR stage: a
    # filter-fork into a second mapInPandas would re-execute the whole OCR
    # plan on both branches, and a separate NER stage would make these rows
    # cross the Python boundary twice (§4.3.4; each page refined exactly
    # once, each row tagged exactly once). The stage normalizes and drops
    # blank lines itself, in both NER modes.
    gaz = gazetteer if gazetteer is not None else corpus_mod.GAZETTEER
    py_branch = py.mapInPandas(
        make_ocr_stage(blob_resolver, refine_below=refine_below,
                       gazetteer=gaz, pdf_rasterizer=pdf_rasterizer,
                       pdf_max_pages=pdf_max_pages),
        ocr_ner_schema(),
    )

    # -- text branch: JVM normalizer; with NER, the NER crossing ----------
    # SLIM projection through the python boundary (guide §4.1: pass only
    # the columns the function needs): every other SPAN_COLS field is a
    # literal for text rows (line_idx 0, score 1.0, the rest NULL) and is
    # attached JVM-side after the crossing instead of serializing half a
    # million NULL/object cells each way (round 6: the passthrough
    # round-trip alone measured 1.5 s at sf1).
    text = text_rows(spans)
    extra = ["entities", "bio"] if with_ner else []
    if with_ner:
        ner_fn, ner_schema = make_ner_stage(gaz, passthrough=text.schema)
        text = text.mapInPandas(ner_fn, ner_schema)
    return text.select(
        "doc_id",
        "span_idx",
        F.lit(0).alias("line_idx"),
        F.lit("text").alias("kind"),
        "text",
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(None).cast("array<double>").alias("box"),
        F.lit(1.0).alias("score"),
        F.lit(None).cast("string").alias("transformer_text"),
        F.lit(None).cast("double").alias("transformer_score"),
        F.lit(None).cast("string").alias("error"),
        *extra,
    ).unionByName(py_branch.select(*SPAN_COLS, *extra))


def assemble_documents(extracted: DataFrame) -> DataFrame:
    """Re-assemble the per-document ordered span array — the exact shape of
    the span-sequence-equality invariant (kind, text, media_ref, order).
    sort_array on the leading (span_idx, line_idx) struct fields restores
    order without a global sort."""
    ordered = F.transform(
        # sort_array, not array_sort: same ordering ((span_idx, line_idx)
        # is unique per doc, so the nullable tail fields never decide),
        # but ArraySort's default comparator is an interpreted lambda per
        # comparison (round 6)
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_idx"),
                    F.col("line_idx"),
                    F.col("kind"),
                    F.col("text"),
                    F.col("media_ref"),
                )
            )
        ),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    return extracted.filter(F.col("error").isNull()).groupBy("doc_id").agg(
        ordered.alias("spans")
    )


def run(
    spark: SparkSession,
    documents: DataFrame,
    **kwargs,
) -> DataFrame:
    """extract + assemble in one plan."""
    return assemble_documents(extract_spans(documents, **kwargs))

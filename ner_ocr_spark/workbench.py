"""Staged Workbench API — the reference UI's semantic content as a library
(SURVEY.md §3.3): per-stage parameterization, downstream invalidation, and
stage caching.

Reference parity:
  * stage DAG + completion flags with downstream invalidation
    (/root/reference/src/ui/state.py:13-104; run_ocr resets
    search/enhance/entity at /root/reference/src/ui/app.py:331-335,
    run_search resets enhance/entity at :443-445, run_enhancement resets
    entity at :539-540)
  * enhancement runs AFTER search only, over matched regions, exactly once
    (/root/reference/src/ui/app.py:525-538 — the intended semantics; the
    CLI's O(k^2) loop is not reproduced)
  * each stage is a pure DataFrame -> DataFrame function; `df.persist()`
    replaces the UI's in-memory STATE.*_results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ner_ocr_spark import corpus as corpus_mod
from ner_ocr_spark import pipeline
from ner_ocr_spark.operators.extract import make_ner_stage
from ner_ocr_spark.operators.layout import to_markdown
from ner_ocr_spark.operators.search import search as search_op

_STAGES = ("load", "ocr", "search", "enhance", "entities")


class StageNotReadyError(RuntimeError):
    pass


class Workbench:
    """Interactive-style staged pipeline over DataFrames."""

    def __init__(self) -> None:
        self._results: dict[str, DataFrame | None] = {s: None for s in _STAGES}
        # blob/pdf options captured at run_ocr so run_enhancement's refine
        # stage re-resolves media through the SAME resolver/rasterizer
        self._extract_opts: dict = {}

    # -- stage DAG plumbing -------------------------------------------------

    def _invalidate_after(self, stage: str) -> None:
        idx = _STAGES.index(stage)
        for later in _STAGES[idx + 1 :]:
            df = self._results[later]
            if df is not None:
                df.unpersist()
            self._results[later] = None

    def _require(self, stage: str) -> DataFrame:
        df = self._results[stage]
        if df is None:
            raise StageNotReadyError(f"stage '{stage}' has not run")
        return df

    def _set(self, stage: str, df: DataFrame) -> DataFrame:
        self._invalidate_after(stage)
        self._results[stage] = df.persist()
        return df

    def results(self, stage: str) -> DataFrame:
        return self._require(stage)

    def completed(self) -> list[str]:
        return [s for s in _STAGES if self._results[s] is not None]

    # -- stages ---------------------------------------------------------------

    def load(self, documents: DataFrame) -> DataFrame:
        """Stage 1: register the input (doc_id, spans) table."""
        return self._set("load", documents)

    def run_ocr(self, **extract_kwargs) -> DataFrame:
        """Stage 2: extraction WITHOUT entities — the long region table.
        Invalidate search/enhance/entities."""
        docs = self._require("load")
        extract_kwargs.setdefault("with_ner", False)
        self._extract_opts = {
            k: extract_kwargs[k]
            for k in ("blob_resolver", "pdf_rasterizer", "blobs")
            if k in extract_kwargs
        }
        return self._set("ocr", pipeline.extract_spans(docs, **extract_kwargs))

    def run_search(self, search_type: str, task: str | None = None, **query) -> DataFrame:
        """Stage 3: positional/semantic search over OCR media regions.
        Region geometry comes from the OCR `box` column."""
        ocr_rows = self._require("ocr")
        regions = ocr_rows.filter(
            # OCR-derived regions: native media spans AND rasterized pdf pages
            F.col("kind").isin("media", "pdf") & F.col("error").isNull()
        ).select(
            "doc_id",
            F.col("span_idx").alias("page"),
            F.col("line_idx").alias("region_idx"),
            "text",
            F.element_at("box", 1).alias("x1"),
            F.element_at("box", 2).alias("y1"),
            F.element_at("box", 3).alias("x2"),
            F.element_at("box", 4).alias("y2"),
            "score",
        )
        return self._set("search", search_op(regions, search_type, task=task, **query))

    def run_enhancement(self) -> DataFrame:
        """Stage 4: refine every row of every page (media_ref) that holds a
        search hit, whatever its first-pass score — there is no score gate
        (UI semantics: enhance after search, once, P6 guard). Re-runs the
        fine-deskew second pass for those pages, recording results in
        transformer_text/score (P4 coalesce downstream picks the winner).

        Scale-safe: matched media_refs are selected with broadcast
        semi/anti joins — no collect()/isin() driver round-trip (the
        matched set is search output: small, broadcastable)."""
        matched = self._require("search")
        ocr_rows = self._require("ocr")
        from ner_ocr_spark.operators.extract import OCR_SCHEMA, make_refine_stage

        hit_refs = (
            ocr_rows.join(
                matched.select(
                    F.col("doc_id").alias("m_doc"), F.col("page").alias("m_span"),
                    F.col("region_idx").alias("m_line"),
                ),
                on=[F.col("doc_id") == F.col("m_doc"),
                    F.col("span_idx") == F.col("m_span"),
                    F.col("line_idx") == F.col("m_line")],
                how="left_semi",
            )
            .select("media_ref").distinct()
        )
        # rows of a hit media_ref (media AND pdf) refine: the stage
        # re-resolves media_ref, sniffs %PDF-, rasterizes once per document
        # and reads each row's page off its line_idx (operators/pdf). Every
        # other row passes through: text and html rows have a NULL
        # media_ref, which the anti join keeps
        rest = ocr_rows.join(F.broadcast(hit_refs), "media_ref", "left_anti")
        opts = self._extract_opts
        # the refine stage pairs rows to refined lines by box geometry
        # alone, so it needs no page-level line count and no co-location
        # of a page's rows: a plain projection feeds it
        refine_in = ocr_rows.join(
            F.broadcast(hit_refs), "media_ref", "left_semi"
        ).select(*OCR_SCHEMA.fieldNames())
        if opts.get("blobs") is not None:
            # blobs= media path: payloads ride the rows (there may be no
            # resolver at all — and the default resolver FABRICATES a
            # synthetic page for any ref, which would overwrite
            # transformer_text with garbage). Join the payload back in; the
            # stage prefers it over the resolver.
            refine_in = refine_in.join(
                opts["blobs"].select("media_ref", "image_png"),
                "media_ref", "left",
            )
        refined = refine_in.mapInPandas(
            make_refine_stage(
                blob_resolver=opts.get("blob_resolver"),
                pdf_rasterizer=opts.get("pdf_rasterizer", "auto"),
            ),
            OCR_SCHEMA,
        )
        merged = rest.select(*ocr_rows.columns).unionByName(
            refined.select(*ocr_rows.columns)
        )
        return self._set("enhance", merged)

    def run_entities(
        self,
        gazetteer: list[tuple[str, str]] | None = None,
        line_threshold: float = 10.0,
        gap_threshold: float = 50.0,
    ) -> DataFrame:
        """Stage 5: `entity_pages` over the enhanced rows (the OCR rows
        when enhancement has not run)."""
        base = self._results["enhance"] or self._require("ocr")
        return self._set(
            "entities",
            entity_pages(base, gazetteer, line_threshold, gap_threshold),
        )


def entity_pages(
    rows: DataFrame,
    gazetteer: list[tuple[str, str]] | None,
    line_threshold: float,
    gap_threshold: float,
) -> DataFrame:
    """Page-text assembly (W1-W4/A3-A5) + batched NER over OCR span rows
    (SPAN_COLS-shaped: the workbench's stage rows, or a stage-1 table for
    the CLI's entity mode) — the reference entity pipeline's
    _to_markdown -> extract_entities flow
    (the reference's src/pipelines/entity.py:45-73). A region's text is
    the P4 pick: the enhanced transformer_text when it normalizes
    non-blank, else the first-pass text (pipeline output is coalesced
    already, so there it is `text`)."""
    from ner_ocr_spark.operators.normalize import refined_text_expr

    final_text = refined_text_expr(F.col("transformer_text"), F.col("text"))
    regions = rows.filter(
        # OCR-derived regions: native media spans AND rasterized pdf pages
        F.col("kind").isin("media", "pdf") & F.col("error").isNull()
        & (F.size(F.coalesce("box", F.array())) == 4)
        & (F.length(final_text) > 0)
    ).select(
        "doc_id",
        F.element_at("box", 2).alias("y"),
        F.element_at("box", 1).alias("x"),
        final_text.alias("text"),
    )
    pages = to_markdown(regions, line_threshold, gap_threshold)
    gaz = gazetteer if gazetteer is not None else corpus_mod.GAZETTEER
    ner_fn, schema = make_ner_stage(gaz, text_col="page_text",
                                    passthrough=pages.schema)
    return pages.mapInPandas(ner_fn, schema)

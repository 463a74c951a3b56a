"""300-page OCR digests: bit-identity checks for the OCR kernel, the two
second passes and the region crops.

Renders the corpus pages doc{i:08d}/m0 for i < 300, each at the normal and
the oversize scale (600 pages), and hashes two things:

  * `digest`: `kernels.ocr.ocr_page` at its default deskew step on every
    page, every recognized line's (text, box, score):

        sha256(repr(sorted({(ref, oversize): [(text, tuple(box), score), ...]}.items())))[:16]

  * `refined_digest`: the OCR stage with the second pass forced on every
    page (`make_ocr_stage(refine_below=1.01)`, the page bytes riding the
    rows), every output row's (text, box, score, transformer_text,
    transformer_score) hashed the same way — the first pass, the refine
    recipe, the pairing of refined lines to first-pass rows, the P4
    coalesce and the normalizer in one number.

  * `workbench_refined_digest`: the workbench refine stage
    (`make_refine_stage()`) over the `digest` pass's lines as OCR rows
    (one batch per page, the page bytes riding the rows as `image_png`),
    every output row's (text, box, score, transformer_text,
    transformer_score).

  * `crop_digest`: the region crop stage (`make_crop_stage`) over the
    same rows, the sha256 of every row's bbox_image. The stage is also
    given a resolver that returns the same page bytes, so a crop stage
    that ignores the riding payload reads the same page.

Each page has its own media_ref (the oversize page is `<ref>#oversize`),
so no stage-level cache can hand one scale's page to the other.

A refactor that claims bit-identical output must leave both unchanged.
Pages are rendered by the deterministic corpus renderer, so the digests
depend only on the engine (and numpy's float arithmetic).

Usage: python scripts/ocr_digest.py      # ~110 s on a 4-core box
Prints one JSON line: {"digest", "pages", "lines", "refined_digest",
"refined_rows", "workbench_refined_digest", "crop_digest", "crops",
"seconds"}.
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ner_ocr_spark import corpus
from ner_ocr_spark.kernels import ocr
from ner_ocr_spark.operators.crops import make_crop_stage
from ner_ocr_spark.operators.extract import make_ocr_stage, make_refine_stage

N_PAGES = 300
REFINED_COLS = ["text", "box", "score", "transformer_text", "transformer_score"]


def pages():
    for i in range(N_PAGES):
        ref = f"doc{i:08d}/m0"
        for oversize in (False, True):
            yield (ref, oversize), corpus.render_media_blob(ref, oversize=oversize)


def page_lines() -> dict[tuple[str, bool], list[tuple[str, tuple, float]]]:
    return {key: [(l.text, tuple(l.box), l.score) for l in ocr.ocr_page(png)]
            for key, png in pages()}


def cell(v):
    return tuple(v) if isinstance(v, list) else (None if pd.isna(v) else v)


def first_pass_batches(first: dict, blobs: dict):
    """One OCR_SCHEMA batch per page: the page's first-pass lines as rows,
    its bytes riding as image_png."""
    for (ref, oversize), lines in first.items():
        if not lines:
            continue
        media_ref = f"{ref}#oversize" if oversize else ref
        yield pd.DataFrame([{
            "doc_id": ref, "span_idx": int(oversize), "line_idx": li,
            "kind": "media", "text": text, "media_ref": media_ref,
            "box": list(box), "score": score, "transformer_text": None,
            "transformer_score": None, "error": None,
            "image_png": blobs[media_ref],
        } for li, (text, box, score) in enumerate(lines)])


def revisited_rows(first: dict) -> tuple[dict, dict]:
    """(make_refine_stage rows, make_crop_stage crop hashes) per page."""
    blobs = {f"{ref}#oversize" if oversize else ref: png
             for (ref, oversize), png in pages()}
    refined: dict[tuple[str, bool], list[tuple]] = {}
    for batch in make_refine_stage()(first_pass_batches(first, blobs)):
        for row in batch.itertuples(index=False):
            refined.setdefault((row.doc_id, bool(row.span_idx)), []).append(
                tuple(cell(getattr(row, c)) for c in REFINED_COLS))
    crops: dict[tuple[str, bool], list] = {}
    stage = make_crop_stage(blob_resolver=blobs.__getitem__)
    for batch in stage(first_pass_batches(first, blobs)):
        for row in batch.itertuples(index=False):
            crops.setdefault((row.doc_id, bool(row.span_idx)), []).append(
                None if row.bbox_image is None
                else hashlib.sha256(bytes(row.bbox_image)).hexdigest())
    return refined, crops


def refined_rows() -> dict[tuple[str, bool], list[tuple]]:
    batches = (pd.DataFrame({
        "doc_id": [ref], "span_idx": [int(oversize)], "kind": ["media"],
        "media_ref": [ref], "image_png": [png],
    }) for (ref, oversize), png in pages())
    stage = make_ocr_stage(None, refine_below=1.01, gazetteer=corpus.GAZETTEER)
    out: dict[tuple[str, bool], list[tuple]] = {}
    for batch in stage(batches):
        for row in batch.itertuples(index=False):
            out.setdefault((row.doc_id, bool(row.span_idx)), []).append(
                tuple(cell(getattr(row, c)) for c in REFINED_COLS))
    return out


def digest(pages: dict) -> str:
    return hashlib.sha256(repr(sorted(pages.items())).encode()).hexdigest()[:16]


def main() -> None:
    t0 = time.perf_counter()
    first, refined = page_lines(), refined_rows()
    wb_refined, crops = revisited_rows(first)
    print(json.dumps({
        "digest": digest(first),
        "pages": len(first),
        "lines": sum(len(v) for v in first.values()),
        "refined_digest": digest(refined),
        "refined_rows": sum(len(v) for v in refined.values()),
        "workbench_refined_digest": digest(wb_refined),
        "crop_digest": digest(crops),
        "crops": sum(c is not None for v in crops.values() for c in v),
        "seconds": round(time.perf_counter() - t0, 1),
    }))


if __name__ == "__main__":
    main()

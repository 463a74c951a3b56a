"""The per-row skeleton of the python stages (operators/rows.absorb_rows):
a row fails as a unit, and a batch past its wall budget emits timeout
rows — driven through the OCR stage that runs on it (which always
normalizes and tags, in both NER modes of the pipeline)."""

from __future__ import annotations

import pandas as pd

from ner_ocr_spark import corpus
from ner_ocr_spark.operators.extract import make_ocr_stage
from ner_ocr_spark.operators.rows import TIMEOUT, absorb_rows, error_text


def _null(v) -> bool:
    return v is None or (not isinstance(v, list) and pd.isna(v))


def test_ocr_stage_span_fails_as_a_unit():
    """A two-page PDF whose second page is not a valid PNG yields ONE error
    row for the span — never page 1's lines plus an error row under the
    same (span_idx, line_idx=0) key."""
    pages = [corpus.render_media_blob("doc00000011/m0"),
             b"\x89PNG\r\n\x1a\nGARBAGE"]
    stage = make_ocr_stage(None, gazetteer=corpus.GAZETTEER,
                           pdf_rasterizer=lambda blob, zoom: pages)
    batch = pd.DataFrame({
        "doc_id": ["d"], "span_idx": [3], "kind": ["pdf"],
        "media_ref": ["store/two-pages.pdf"], "image_png": [b"%PDF-fake"],
    })
    out = pd.concat(list(stage(iter([batch]))))
    assert len(out) == 1
    (r,) = out.to_dict("records")
    assert r["error"] and (r["doc_id"], r["span_idx"], r["line_idx"]) == ("d", 3, 0)
    assert _null(r["text"]) and _null(r["entities"]) and _null(r["bio"])


def test_ocr_stage_batch_budget_emits_timeout_rows():
    """Past the batch budget every remaining row is skipped and gets the
    timeout row — text, entities and bio NULL."""
    batch = pd.DataFrame({
        "doc_id": ["a", "a", "b"], "span_idx": [0, 1, 0],
        "kind": ["media"] * 3,
        "media_ref": ["doc00000001/m0", "doc00000002/m0", "doc00000003/m0"],
    })
    stage = make_ocr_stage(None, batch_timeout_s=-1, gazetteer=corpus.GAZETTEER)
    out = pd.concat(list(stage(iter([batch])))).reset_index(drop=True)
    assert len(out) == 3
    assert list(out["error"]) == [TIMEOUT] * 3
    assert list(out["doc_id"]) == ["a", "a", "b"]
    for col in ("text", "entities", "bio"):
        assert all(_null(v) for v in out[col]), col


def test_absorb_rows_fills_missing_keys_and_keeps_order():
    def rows_of(row):
        if row.x == 2:
            raise KeyError("two")
        return [{"x": row.x, "y": i} for i in range(row.x)]

    out = pd.concat(list(absorb_rows(
        iter([pd.DataFrame({"x": [1, 2, 0, 3]})]), ["x", "y", "error"],
        rows_of, lambda row, msg: {"x": row.x, "error": msg},
    )))
    assert list(out["x"]) == [1, 2, 3, 3, 3]
    assert [None if _null(v) else v for v in out["y"]] == [0, None, 0, 1, 2]
    assert list(out["error"])[1] == error_text(KeyError("two")) == "KeyError: 'two'"

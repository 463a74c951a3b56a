"""The OCR second pass (reference M2 analog): one pairing rule,
`extract.pair_lines`, checked as a plain function and through the OCR
stage's `refine_below` branch. The workbench refine stage's own tests are
in tests/test_workbench.py."""

from __future__ import annotations

from dataclasses import replace

import pandas as pd

from ner_ocr_spark import corpus
from ner_ocr_spark.kernels import ocr
from ner_ocr_spark.kernels.normalize import normalize_text
from ner_ocr_spark.operators.extract import make_ocr_stage, pair_lines


def _line(y0: float, y1: float, text: str = "X") -> ocr.LineResult:
    box = [0.0, y0, 100.0, y1]
    return ocr.LineResult(text=text, box=box, poly=[], score=1.0)


def test_pair_lines_takes_the_line_covering_most_of_the_row():
    rows = [[0.0, 10.0, 90.0, 30.0], [0.0, 50.0, 90.0, 70.0],
            [0.0, 100.0, 90.0, 120.0]]
    lines = [
        _line(-40.0, -20.0),   # above every row: pairs with nothing
        _line(52.0, 71.0),     # row 1, almost exactly
        _line(11.0, 29.0),     # row 0
        _line(45.0, 56.0),     # overlaps row 1 too, less than line 1 does
        _line(112.0, 140.0),   # covers 8 of row 2's 20 px: under half
    ]
    assert list(pair_lines(rows, lines)) == [2, 1, -1]
    assert list(pair_lines(rows, [])) == [-1, -1, -1]
    assert list(pair_lines([], lines)) == []


def _media_batch(ref: str) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": ["d"], "span_idx": [0], "kind": ["media"],
                         "media_ref": [ref]})


def test_in_stage_refine_keeps_first_pass_when_fine_pass_finds_extra_lines(
    monkeypatch,
):
    """The fine pass finds a different number of lines than the first
    pass: it loses line 0 and finds two speck lines outside the text. The
    first pass stays — every row keeps its first-pass box and score, row 0
    keeps its first-pass text — and only row 1, which geometry pairs,
    gains transformer_text/score; no speck line becomes a row."""
    ref = "media/error-guard/0"  # straight 2-line page
    first = ocr.ocr_page(corpus.render_media_blob(ref))
    assert len(first) == 2
    real_ocr_page = ocr.ocr_page

    def fake_ocr_page(png, max_side_limit=ocr.MAX_SIDE_LIMIT, step=0.25):
        lines = real_ocr_page(png, max_side_limit, step)
        if step != ocr.REFINE_STEP:
            return lines
        top, bottom = lines[0].box[1], lines[-1].box[3]
        return [_line(top - 60.0, top - 40.0, "SPECK ABOVE"),
                replace(lines[1], text="FINE " + lines[1].text, score=0.5),
                _line(bottom + 40.0, bottom + 60.0, "SPECK BELOW")]

    monkeypatch.setattr(ocr, "ocr_page", fake_ocr_page)
    stage = make_ocr_stage(None, refine_below=1.01, gazetteer=corpus.GAZETTEER)
    out = pd.concat(list(stage(iter([_media_batch(ref)]))))
    rows = out.sort_values("line_idx").to_dict("records")

    assert [r["line_idx"] for r in rows] == [0, 1]
    for r, lr in zip(rows, first):
        assert r["error"] is None
        assert list(r["box"]) == lr.box and r["score"] == float(lr.score)
    assert rows[0]["text"] == normalize_text(first[0].text)
    assert rows[0]["transformer_text"] is None
    assert rows[0]["transformer_score"] is None
    assert rows[1]["transformer_text"] == "FINE " + first[1].text
    assert rows[1]["transformer_score"] == 0.5
    # P4: the paired refined text wins the row's text
    assert rows[1]["text"] == normalize_text("FINE " + first[1].text)


def test_in_stage_refine_pairs_first_pass_rows_on_skewed_page():
    """On a skewed page the fine pass re-reads both lines in the first
    pass's frame, so each first-pass row pairs with its own line and keeps
    its first-pass box and score."""
    ref = "doc00000011/m0"
    truth = [normalize_text(t) for t in corpus.media_truth_text(ref)]
    first = ocr.ocr_page(corpus.render_media_blob(ref))
    assert [normalize_text(lr.text) for lr in first] == truth
    stage = make_ocr_stage(None, refine_below=1.01, gazetteer=corpus.GAZETTEER)
    out = pd.concat(list(stage(iter([_media_batch(ref)]))))
    rows = out.sort_values("line_idx").to_dict("records")
    assert [r["line_idx"] for r in rows] == list(range(len(first)))
    for r, lr, want in zip(rows, first, truth):
        assert list(r["box"]) == lr.box and r["score"] == float(lr.score)
        assert r["transformer_text"] is not None
        assert normalize_text(r["transformer_text"]) == want
        assert r["text"] == want

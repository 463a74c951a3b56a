"""Workbench stage-DAG tests (reference UI semantics, SURVEY.md §3.3)."""

from __future__ import annotations

import pytest

from ner_ocr_spark.workbench import StageNotReadyError, Workbench


@pytest.fixture(scope="module")
def wb(spark, documents_df):
    w = Workbench()
    w.load(documents_df.limit(12))
    return w


def test_stage_order_enforced(wb):
    fresh = Workbench()
    with pytest.raises(StageNotReadyError):
        fresh.run_ocr()
    with pytest.raises(StageNotReadyError):
        wb2 = Workbench()
        wb2.run_search("positional", x1=0, y1=0, x2=10, y2=10)


def test_ocr_then_search_then_entities(wb):
    ocr_rows = wb.run_ocr()
    assert ocr_rows.count() > 0
    hits = wb.run_search("semantic", text="baker street", threshold=0.8,
                         search_padding=30.0)
    assert hits.count() >= 0
    ents = wb.run_entities()
    assert "entities" in ents.columns and "page_text" in ents.columns
    assert wb.completed() == ["load", "ocr", "search", "entities"]


def test_rerun_ocr_invalidates_downstream(wb):
    wb.run_ocr()
    wb.run_search("positional", x1=0.0, y1=0.0, x2=1e6, y2=1e6)
    assert "search" in wb.completed()
    wb.run_ocr()  # re-run resets search/enhance/entities
    assert wb.completed() == ["load", "ocr"]
    with pytest.raises(StageNotReadyError):
        wb.results("search")


def test_enhance_requires_search_and_preserves_rows(wb):
    wb.run_ocr()
    with pytest.raises(StageNotReadyError):
        wb.run_enhancement()
    wb.run_search("positional", x1=0.0, y1=0.0, x2=1e6, y2=1e6)
    before = wb.results("ocr").count()
    enhanced = wb.run_enhancement()
    assert enhanced.count() == before  # refine rewrites, never drops/dups


def test_enhancement_covers_pdf_rows(spark):
    """PDF-derived OCR rows refine too: the stage re-resolves media_ref,
    sniffs %PDF-, rasterizes via pdfio, and maps line_idx's page base
    (page_idx*100000 + line) back to the right page — genuine PDF bytes,
    no fake rasterizer."""
    import numpy as np

    from ner_ocr_spark import font, pdfio
    from ner_ocr_spark.kernels.normalize import normalize_text
    from tests.conftest import DOC_SCHEMA

    page_lines = [
        ["ALICE COOPER MET BOB STONE", "IN LONDON TODAY"],
        ["THE SECOND PAGE", "HAS MORE TEXT"],
    ]
    pages = []
    for lines in page_lines:
        img = font.render_lines(lines, scale=3, margin=10)
        pages.append(np.where(img == 0, np.uint8(40), np.uint8(210)))
    blob = pdfio.encode_image_pdf(pages)
    resolver = (lambda b: (lambda ref: b))(blob)

    docs = spark.createDataFrame(
        [{
            "doc_id": "p0",
            "spans": [
                {"kind": "pdf", "text": None,
                 "media_ref": "store/scan.pdf", "offset": 0},
            ],
        }],
        DOC_SCHEMA,
    )
    w = Workbench()
    w.load(docs)
    w.run_ocr(blob_resolver=resolver)
    w.run_search("positional", x1=0.0, y1=0.0, x2=1e6, y2=1e6)
    enhanced = w.run_enhancement()
    pdf_rows = enhanced.filter(
        "kind = 'pdf' and error is null and text is not null"
    ).collect()
    assert len(pdf_rows) == sum(len(p) for p in page_lines)
    for r in pdf_rows:
        page, line = r["line_idx"] // 100000, r["line_idx"] % 100000
        # the refined pass landed, and on the RIGHT page's line
        assert r["transformer_text"] is not None
        assert normalize_text(r["transformer_text"]) == \
            normalize_text(page_lines[page][line])
        assert r["transformer_score"] is not None


def test_refine_stage_skips_error_rows(spark):
    """M6: rows carrying an error never gain transformer columns, even when
    their media_ref resolves (the blob may be fine while the row's own
    first pass failed, e.g. timeout)."""
    import pandas as pd

    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels import ocr
    from ner_ocr_spark.operators.extract import make_refine_stage

    # any ref renders: corpus.render_media_blob is a pure function of the
    # key; this one renders a straight 2-line page. Both rows carry their
    # real first-pass boxes, so geometry would pair each of them — only
    # the error keeps row 0 unrefined
    ref = "media/error-guard/0"
    boxes = [[float(v) for v in lr.box]
             for lr in ocr.ocr_page(corpus.render_media_blob(ref), 1500)]
    assert len(boxes) == 2
    batch = pd.DataFrame({
        "doc_id": ["d", "d"], "span_idx": [0, 0], "line_idx": [0, 1],
        "kind": ["media", "media"], "text": [None, "SOME TEXT"],
        "media_ref": [ref, ref],
        "box": boxes, "score": [None, 0.5],
        "transformer_text": [None, None], "transformer_score": [None, None],
        "error": ["timeout: batch OCR budget exceeded", None],
    })
    stage = make_refine_stage()
    out = pd.concat(list(stage(iter([batch]))))
    # the clean row on the same page DID refine (guard is load-bearing)...
    assert out.iloc[1]["transformer_text"] is not None
    # ...while the error row stayed NULL on both transformer columns
    assert pd.isna(out.iloc[0]["transformer_text"])
    assert pd.isna(out.iloc[0]["transformer_score"])


def test_enhancement_uses_blobs_payloads(spark):
    """blobs= media path (payloads ride the rows; no resolver): the refine
    stage must use the PROVIDED payload. The default resolver fabricates a
    synthetic page for ANY ref, so before the fix this silently overwrote
    transformer_text with OCR of an unrelated page."""
    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels.normalize import normalize_text
    from tests.conftest import DOC_SCHEMA

    donor_ref = "donor/page/1"  # content differs from anything 'store/x' fabricates
    blob = corpus.render_media_blob(donor_ref)
    truth = [normalize_text(t) for t in corpus.media_truth_text(donor_ref)]

    docs = spark.createDataFrame(
        [{
            "doc_id": "b0",
            "spans": [{"kind": "media", "text": None,
                       "media_ref": "store/x", "offset": 0}],
        }],
        DOC_SCHEMA,
    )
    blobs = spark.createDataFrame(
        [("store/x", bytearray(blob))], "media_ref string, image_png binary"
    )
    w = Workbench()
    w.load(docs)
    w.run_ocr(blobs=blobs)
    w.run_search("positional", x1=0.0, y1=0.0, x2=1e6, y2=1e6)
    rows = w.run_enhancement().filter(
        "kind = 'media' and error is null and text is not null"
    ).collect()
    assert rows
    for r in rows:
        assert r["transformer_text"] is not None
        assert normalize_text(r["transformer_text"]) == truth[r["line_idx"]]


def test_refine_stage_n_lines_beats_coincidental_count_match(spark):
    """Batch-straddle coincidence (round-3 advice): a batch holding a dense
    PREFIX of a page's rows (lp 0..k) whose refined segmentation happens to
    find k+1 lines would pass a batch-local count check, but the page's
    TRUE first-pass count can differ — index pairing would then attach the
    wrong lines. The stage pairs by geometry alone, whatever line count
    the caller claims (the extra `n_lines` column here is ignored). Proof:
    the rows' boxes are SWAPPED relative to their line_idx, so geometry
    and index pairing give different answers."""
    import pandas as pd

    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels import ocr
    from ner_ocr_spark.kernels.normalize import normalize_text
    from ner_ocr_spark.operators.extract import make_refine_stage

    ref = "media/error-guard/0"  # straight 2-line page: refine finds 2 lines
    truth = [normalize_text(t) for t in corpus.media_truth_text(ref)]
    first_pass = ocr.ocr_page(corpus.render_media_blob(ref), 1500)
    assert len(first_pass) == 2

    def row(line_idx, box_from):
        lr = first_pass[box_from]
        return {
            "doc_id": "d", "span_idx": 0, "line_idx": line_idx,
            "kind": "media", "text": lr.text, "media_ref": ref,
            "box": [float(v) for v in lr.box], "score": float(lr.score),
            "transformer_text": None, "transformer_score": None,
            "error": None, "n_lines": 3,  # page CLAIMS 3 first-pass lines
        }

    # dense prefix lp=0,1 (count 2 == refined count 2 → the batch-local
    # check would take the index fast path) with boxes swapped
    batch = pd.DataFrame([row(0, box_from=1), row(1, box_from=0)])
    stage = make_refine_stage()
    out = pd.concat(list(stage(iter([batch])))).sort_values("line_idx")
    got = list(out["transformer_text"])
    assert got[0] is not None and got[1] is not None
    # geometry pairing: each row refines to the line its BOX overlaps
    assert normalize_text(got[0]) == truth[1]
    assert normalize_text(got[1]) == truth[0]


def test_refine_stage_pairs_rows_straddling_batches(spark):
    """A page's rows split across two Arrow batches must BOTH refine: the
    batch holding only line 0 cannot use index pairing (it can't see the
    page's full line count), so geometry pairing takes over."""
    import pandas as pd

    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels import ocr
    from ner_ocr_spark.kernels.normalize import normalize_text
    from ner_ocr_spark.operators.extract import make_refine_stage

    ref = "media/error-guard/0"  # straight 2-line page
    truth = [normalize_text(t) for t in corpus.media_truth_text(ref)]
    first_pass = ocr.ocr_page(corpus.render_media_blob(ref), 1500)
    assert len(first_pass) == 2

    def row(line_idx):
        lr = first_pass[line_idx]
        return {
            "doc_id": "d", "span_idx": 0, "line_idx": line_idx,
            "kind": "media", "text": lr.text, "media_ref": ref,
            "box": [float(v) for v in lr.box], "score": float(lr.score),
            "transformer_text": None, "transformer_score": None,
            "error": None,
        }

    b1 = pd.DataFrame([row(0)])
    b2 = pd.DataFrame([row(1)])
    stage = make_refine_stage()
    out = pd.concat(list(stage(iter([b1, b2])))).sort_values("line_idx")
    got = [r for _, r in out.iterrows()]
    for i, r in enumerate(got):
        assert r["transformer_text"] is not None, f"line {i} not refined"
        assert normalize_text(r["transformer_text"]) == truth[i]


def test_refine_stage_pairs_first_pass_rows_on_skewed_page():
    """The refine pass re-reads a page with the first pass's own recipe
    (noise erase + ink-bbox crop, finer deskew grid), so its lines and
    boxes line up with the first-pass rows. A separate copy of the recipe
    without the noise erase and crop found a phantom line on this skewed
    page and put its boxes in another frame, so neither first-pass row got
    a transformer_text."""
    import pandas as pd

    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels import ocr
    from ner_ocr_spark.kernels.normalize import normalize_text
    from ner_ocr_spark.operators.extract import make_refine_stage

    ref = "doc00000011/m0"
    truth = [normalize_text(t) for t in corpus.media_truth_text(ref)]
    first_pass = ocr.ocr_page(corpus.render_media_blob(ref), 1500)
    assert [normalize_text(lr.text) for lr in first_pass] == truth
    batch = pd.DataFrame([{
        "doc_id": "d", "span_idx": 0, "line_idx": i, "kind": "media",
        "text": lr.text, "media_ref": ref,
        "box": [float(v) for v in lr.box], "score": float(lr.score),
        "transformer_text": None, "transformer_score": None,
        "error": None, "n_lines": len(first_pass),
    } for i, lr in enumerate(first_pass)])
    out = pd.concat(list(make_refine_stage()(iter([batch]))))
    got = list(out.sort_values("line_idx")["transformer_text"])
    assert [normalize_text(t) if t is not None else None for t in got] == truth


def test_enhancement_mixed_text_and_raster_pdf(spark):
    """Round-5: a PDF mixing a scanned page with a BORN-DIGITAL text
    page through the workbench enhance path — raster-page rows refine
    (transformer cols set), text-page rows are already exact (score 1.0)
    and the refine stage must skip them (str page in the page list),
    leaving transformer cols NULL without disturbing the raster page's
    pairing."""
    import numpy as np

    from ner_ocr_spark import font, pdfio
    from ner_ocr_spark.kernels.normalize import normalize_text
    from tests.conftest import DOC_SCHEMA

    scan_lines = ["ALICE COOPER MET BOB STONE", "IN LONDON TODAY"]
    img = font.render_lines(scan_lines, scale=3, margin=10)
    scan = np.where(img == 0, np.uint8(40), np.uint8(210))
    blob = pdfio.encode_image_pdf([scan, ["digital page line"]])
    resolver = (lambda b: (lambda ref: b))(blob)

    docs = spark.createDataFrame(
        [{
            "doc_id": "p0",
            "spans": [
                {"kind": "pdf", "text": None,
                 "media_ref": "store/mixed.pdf", "offset": 0},
            ],
        }],
        DOC_SCHEMA,
    )
    w = Workbench()
    w.load(docs)
    w.run_ocr(blob_resolver=resolver)
    w.run_search("positional", x1=0.0, y1=0.0, x2=1e6, y2=1e6)
    enhanced = w.run_enhancement()
    rows = enhanced.filter(
        "kind = 'pdf' and error is null and text is not null"
    ).collect()
    by_page = {}
    for r in rows:
        by_page.setdefault(r["line_idx"] // 100000, []).append(r)
    assert sorted(by_page) == [0, 1]
    for r in by_page[0]:  # raster page: refined
        line = r["line_idx"] % 100000
        assert r["transformer_text"] is not None
        assert normalize_text(r["transformer_text"]) == \
            normalize_text(scan_lines[line])
    (tr,) = by_page[1]  # text page: exact already, never refined
    assert tr["text"] == normalize_text("digital page line")
    assert tr["score"] == 1.0
    assert tr["transformer_text"] is None and tr["transformer_score"] is None


def test_cli_entity_mode_matches_workbench_entities(spark, documents_df,
                                                   tmp_path, monkeypatch):
    """`python -m ner_ocr_spark entity` over a stage-1 table (extraction
    without NER, second pass forced so transformer_text is set) writes the
    same page rows as Workbench.run_entities over the same rows: both are
    `entity_pages`."""
    from ner_ocr_spark.__main__ import main

    # main() stops its session on exit; the fixture session is shared
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    w = Workbench()
    w.load(documents_df.limit(6))
    stage1 = w.run_ocr(refine_below=1.01)
    assert stage1.filter("transformer_text is not null").count() > 0
    inp, out = str(tmp_path / "stage1"), str(tmp_path / "entities")
    stage1.write.parquet(inp)
    assert main(["entity", "-i", inp, "-o", out]) == 0

    def rows(df):
        return sorted((r.asDict(recursive=True) for r in df.collect()),
                      key=lambda r: r["doc_id"])

    cli = rows(spark.read.parquet(out))
    assert cli and any(r["entities"] for r in cli)
    assert cli == rows(w.run_entities())

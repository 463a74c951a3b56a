"""Born-digital (vector-text) PDF pages — round-5 widening. The reference
rasterizes every page and OCRs it (/root/reference/src/pdf_processing.py:
21-73); for pages with no raster content the pdfio reader extracts the
Tj/TJ text runs directly and the pipeline emits them exactly (score 1.0),
skipping OCR. All fixtures are written by pdfio's own text-writer mode, so
the round trips are self-verifying; adversarial shapes (Differences
encodings, rotation, vector-graphics-only pages) are handcrafted bytes.
"""

from __future__ import annotations

import numpy as np
import pytest

from ner_ocr_spark import font, pdfio, pipeline
from ner_ocr_spark.kernels.normalize import normalize_text
from tests.conftest import DOC_SCHEMA


# -- reader/writer round trips ----------------------------------------------


def test_text_roundtrip_multipage():
    lines = [["hello world", "second line here"], ["page two only"]]
    got = pdfio.extract_page_content(pdfio.encode_text_pdf(lines))
    assert got == [("text", lines[0]), ("text", lines[1])]


def test_text_winansi_accents_roundtrip():
    lines = [["café naïve — déjà vu", "über £20 €5 ©2024"]]
    got = pdfio.extract_page_content(pdfio.encode_text_pdf(lines))
    assert got == [("text", lines[0])]


def test_text_tounicode_cmap_roundtrip():
    """Non-identity byte codes + /ToUnicode CMap (bfchar AND bfrange
    sections): the reader must decode through the CMap — a latin-1 or
    WinAnsi read of the same codes would differ."""
    # 'abcdefgh' first: consecutive first-appearance codes map to
    # consecutive unicodes, forcing a bfrange section into the CMap
    lines = [["abcdefgh range run", "Ω mega Ψ psi 中文 test"]]
    blob = pdfio.encode_text_pdf(lines, tounicode=True)
    assert pdfio.extract_page_content(blob) == [("text", lines[0])]
    assert b"beginbfrange" in blob  # consecutive codes exercised the range form
    assert b"beginbfchar" in blob
    assert b"/ToUnicode" in blob and b"WinAnsi" not in blob


def test_text_tj_kern_word_spacing():
    """Words kerned apart with TJ adjustments (no space glyphs at all):
    the kern-gap heuristic must reinsert the spaces."""
    lines = [["kern spaced words here", "and a second line"]]
    blob = pdfio.encode_text_pdf(lines, tj_kern=True)
    assert b"(kern spaced" not in blob  # no literal spaces in the stream
    assert pdfio.extract_page_content(blob) == [("text", lines[0])]


def test_mixed_image_and_text_pages():
    img = (np.arange(200 * 200, dtype=np.uint32) * 17 % 251).astype(np.uint8)
    img = img.reshape(200, 200)
    blob = pdfio.encode_image_pdf([img, ["text page after image"]])
    got = pdfio.extract_page_content(blob)
    assert [k for k, _ in got] == ["image", "text"]
    assert np.array_equal(got[0][1], img)
    assert got[1][1] == ["text page after image"]
    # the strict raster reader still refuses the text page
    with pytest.raises(pdfio.PdfError, match="no image XObject"):
        pdfio.extract_page_images(blob)


def test_text_objstm_form():
    lines = [["objstm text page", "with two lines"]]
    got = pdfio.extract_page_content(pdfio.encode_text_pdf(lines, objstm=True))
    assert got == [("text", lines[0])]


def test_blank_text_page_and_zero_page_doc():
    assert pdfio.extract_page_content(pdfio.encode_text_pdf([[]])) == [
        ("text", [])
    ]
    assert pdfio.extract_page_content(pdfio.encode_image_pdf([])) == []


def test_rotate_180_reorders_lines_to_display_order():
    """/Rotate 180: the displayed top of the page is the original bottom,
    so the reader (which orders by DISPLAY position, like the raster
    path's np.rot90) must emit the lines reversed."""
    blob = pdfio.encode_text_pdf([["first line", "second line", "third line"]])
    rotated = blob.replace(
        b"/Type /Page /Parent", b"/Type /Page /Rotate 180 /Parent"
    )
    got = pdfio.extract_page_content(rotated)
    assert got == [("text", ["third line", "second line", "first line"])]


# -- handcrafted adversarial shapes -----------------------------------------


def _handcrafted(content: bytes, extra_objs: bytes = b"", res: bytes = b""):
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        + res + b" /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        + extra_objs + b"trailer\n<< /Root 1 0 R >>\n"
    )


_FONT_RES = b"/Resources << /Font << /F1 5 0 R >> >>"


def test_differences_encoding_overrides_code():
    font_obj = (
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /BaseEncoding /WinAnsiEncoding "
        b"/Differences [65 /eacute 97 /Omega] >> >>\nendobj\n"
    )
    blob = _handcrafted(
        b"BT /F1 12 Tf 72 720 Td (cAfe ABC abc) Tj ET", font_obj, _FONT_RES
    )
    assert pdfio.extract_page_content(blob) == [
        ("text", ["céfe éBC Ωbc"])
    ]


def test_octal_escapes_quote_op_and_leading():
    font_obj = (
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>\nendobj\n"
    )
    content = (
        b"BT /F1 12 Tf 14 TL 72 720 Td (line \\050one\\051) Tj "
        b"(line two) ' (line three) ' ET"
    )
    blob = _handcrafted(content, font_obj, _FONT_RES)
    assert pdfio.extract_page_content(blob) == [
        ("text", ["line (one)", "line two", "line three"])
    ]


def test_same_line_runs_ordered_by_x_not_stream_order():
    font_obj = (
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>\nendobj\n"
    )
    content = (
        b"BT /F1 12 Tf 1 0 0 1 300 700 Tm (world) Tj "
        b"1 0 0 1 72 700 Tm (hello) Tj ET"
    )
    blob = _handcrafted(content, font_obj, _FONT_RES)
    assert pdfio.extract_page_content(blob) == [("text", ["hello world"])]


def test_vector_graphics_page_is_distinct_error():
    blob = _handcrafted(b"0 0 100 100 re f")
    with pytest.raises(pdfio.PdfError, match="vector-graphics page"):
        pdfio.extract_page_content(blob)


def test_type0_without_tounicode_fails_closed():
    font_obj = (
        b"5 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /Foo "
        b"/Encoding /Identity-H >>\nendobj\n"
    )
    blob = _handcrafted(
        b"BT /F1 12 Tf 72 720 Td <00480049> Tj ET", font_obj, _FONT_RES
    )
    with pytest.raises(pdfio.PdfError, match="undecodable"):
        pdfio.extract_page_content(blob)


# -- page-source adapter -----------------------------------------------------


def test_page_source_mixes_bytes_and_str():
    from ner_ocr_spark import png

    img = (np.arange(64 * 64, dtype=np.uint32) * 7 % 251).astype(np.uint8)
    img = img.reshape(64, 64)
    blob = pdfio.encode_image_pdf([img, ["digital page line"]])
    pages = pdfio.pdfio_page_source(blob)
    assert isinstance(pages[0], (bytes, bytearray))
    assert np.array_equal(png.decode(bytes(pages[0])), img)
    assert pages[1] == "digital page line"


# -- end-to-end through the Spark pipeline (default 'auto') ------------------

TEXT_PAGES = [
    ["ALICE COOPER MET BOB STONE", "IN LONDON TODAY"],
    ["THE SECOND PAGE HAS TEXT"],
]


def _docs(spark):
    rows = [{
        "doc_id": "p0",
        "spans": [
            {"kind": "text", "text": "INTRO TEXT SPAN", "media_ref": None, "offset": 0},
            {"kind": "pdf", "text": None, "media_ref": "store/digital.pdf", "offset": 1},
            {"kind": "text", "text": "CLOSING SPAN", "media_ref": None, "offset": 2},
        ],
    }]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def _resolver_for(blob: bytes):
    return lambda ref: blob


def test_born_digital_pdf_end_to_end_span_equality(spark):
    """The round-5 acceptance bar: a born-digital fixture written by
    pdfio's own writer flows through the full pipeline with EXACT span
    equality — no OCR ran on those pages (score 1.0 on every pdf row),
    no error rows."""
    blob = pdfio.encode_text_pdf(TEXT_PAGES)
    out = pipeline.run(
        spark, _docs(spark), blob_resolver=_resolver_for(blob)
    )
    spans = {r["doc_id"]: r["spans"] for r in out.collect()}["p0"]
    want = (
        [("text", "INTRO TEXT SPAN", None)]
        + [("pdf", normalize_text(line), "store/digital.pdf")
           for page in TEXT_PAGES for line in page]
        + [("text", "CLOSING SPAN", None)]
    )
    assert [(s["kind"], s["text"], s["media_ref"]) for s in spans] == want


def test_born_digital_rows_score_one_and_no_errors(spark):
    blob = pdfio.encode_text_pdf(TEXT_PAGES)
    rows = pipeline.extract_spans(
        _docs(spark), blob_resolver=_resolver_for(blob), with_ner=False
    ).filter("kind = 'pdf'").collect()
    assert len(rows) == 3
    assert all(r["error"] is None and r["score"] == 1.0 for r in rows)
    assert sorted(r["line_idx"] for r in rows) == [0, 1, 100000]


def test_mixed_scan_and_digital_pdf_end_to_end(spark):
    """One document whose PDF mixes a scanned page (OCR path) and a
    born-digital page (text path): span order follows page order, the
    scanned page's lines come from the OCR kernel, the digital page's
    lines are exact."""
    scan = font.render_lines(["SCANNED PAGE LINE"], scale=3, margin=10)
    scan = np.where(scan == 0, np.uint8(40), np.uint8(210))
    blob = pdfio.encode_image_pdf([scan, ["digital page line two"]])
    out = pipeline.run(
        spark, _docs(spark), blob_resolver=_resolver_for(blob)
    )
    spans = {r["doc_id"]: r["spans"] for r in out.collect()}["p0"]
    want = [
        ("text", "INTRO TEXT SPAN"),
        ("pdf", normalize_text("SCANNED PAGE LINE")),
        ("pdf", normalize_text("digital page line two")),
        ("text", "CLOSING SPAN"),
    ]
    assert [(s["kind"], s["text"]) for s in spans] == want


def test_vector_graphics_pdf_absorbs_to_error_row(spark):
    blob = _handcrafted(b"0 0 100 100 re f")
    rows = pipeline.extract_spans(
        _docs(spark), blob_resolver=_resolver_for(blob), with_ner=False
    ).filter("kind = 'pdf'").collect()
    assert len(rows) == 1
    assert rows[0]["error"] is not None
    assert "vector-graphics" in rows[0]["error"]


# -- encryption (standard security handler, empty user password) -------------


@pytest.mark.parametrize("mode", ["rc4-40", "rc4-128", "aes-128"])
def test_encrypted_roundtrip_all_modes(mode):
    img = (np.arange(40 * 60, dtype=np.uint32) * 37 % 251).astype(np.uint8)
    img = img.reshape(40, 60)
    blob = pdfio.encode_image_pdf(
        [img, ["encrypted text page"]], encrypt=mode
    )
    got = pdfio.extract_page_content(blob)
    assert np.array_equal(got[0][1], img)
    assert got[1] == ("text", ["encrypted text page"])


def test_encrypted_streams_are_really_ciphertext():
    import zlib

    img = (np.arange(40 * 60, dtype=np.uint32) * 37 % 251).astype(np.uint8)
    img = img.reshape(40, 60)
    plain = zlib.compress(img.tobytes(), 6)
    blob = pdfio.encode_image_pdf([img], encrypt="aes-128")
    assert plain[:40] not in blob


def test_encrypted_objstm_container_decrypts_before_expansion():
    """/ObjStm container stream is itself encrypted; the xref STREAM is
    not (spec). The decrypt pass must run between scan and expansion."""
    blob = pdfio.encode_image_pdf(
        [["objstm encrypted page"]], objstm=True, encrypt="aes-128"
    )
    assert pdfio.extract_page_content(blob) == [
        ("text", ["objstm encrypted page"])
    ]


def test_nonempty_password_fails_closed_distinctly():
    blob = pdfio.encode_image_pdf([["secret"]], encrypt="rc4-128")
    # corrupt the /U entry: authentication with the empty password fails,
    # which is exactly what a real user password produces
    import re as _re

    m = _re.search(rb"/U <([0-9a-f]{64})>", blob)
    assert m is not None
    bad = blob[: m.start(1)] + b"00" * 32 + blob[m.end(1):]
    with pytest.raises(pdfio.PdfError, match="non-empty user password"):
        pdfio.extract_page_content(bad)


def test_aes256_r6_roundtrip():
    """AES-256 (/V 5 /R 6, AESV3): Algorithm 2.B hash chain authenticates
    the empty user password, /UE yields the file key, and every stream
    decrypts with it directly (no per-object salting)."""
    img = (np.arange(40 * 60, dtype=np.uint32) * 37 % 251).astype(np.uint8)
    img = img.reshape(40, 60)
    blob = pdfio.encode_image_pdf([img, ["aes-256 text page"]],
                                  encrypt="aes-256")
    got = pdfio.extract_page_content(blob)
    assert np.array_equal(got[0][1], img)
    assert got[1] == ("text", ["aes-256 text page"])


def test_aes256_r6_nonempty_password_fails_closed():
    blob = pdfio.encode_image_pdf([["secret"]], encrypt="aes-256")
    import re as _re

    m = _re.search(rb"/U <([0-9a-f]{96})>", blob)
    assert m is not None
    bad = blob[: m.start(1)] + b"00" * 48 + blob[m.end(1):]
    with pytest.raises(pdfio.PdfError, match="non-empty user password"):
        pdfio.extract_page_content(bad)


def test_deprecated_r5_fails_closed():
    """/V 5 /R 5 (the withdrawn Acrobat 9 AES-256 revision) stays
    unsupported with a distinct error."""
    blob = pdfio.encode_image_pdf([["x"]], encrypt="aes-128")
    v5r5 = blob.replace(b"/V 4 /R 4", b"/V 5 /R 5")
    with pytest.raises(pdfio.PdfError, match="unsupported"):
        pdfio.extract_page_content(v5r5)


def test_encrypted_pdf_through_pipeline(spark):
    """e2e: an encrypted born-digital PDF decrypts transparently and its
    text lines flow through the pipeline exactly; a password-protected
    one degrades to a distinct error row (M6), never a crash."""
    blob = pdfio.encode_image_pdf([["inside encrypted pdf"]],
                                  encrypt="aes-128")
    out = pipeline.extract_spans(
        _docs(spark), blob_resolver=_resolver_for(blob), with_ner=False
    ).filter("kind = 'pdf'").collect()
    assert [(r["text"], r["error"]) for r in out] == [
        (normalize_text("inside encrypted pdf"), None)
    ]
    import re as _re

    m = _re.search(rb"/U <([0-9a-f]{64})>", blob)
    locked = blob[: m.start(1)] + b"00" * 32 + blob[m.end(1):]
    rows = pipeline.extract_spans(
        _docs(spark), blob_resolver=_resolver_for(locked), with_ner=False
    ).filter("kind = 'pdf'").collect()
    assert len(rows) == 1 and "non-empty user password" in rows[0]["error"]


def test_form_xobject_text_recursion():
    """Born-digital writers routinely wrap page text in /Subtype /Form
    XObjects: the walker must recurse into the form's content with its
    /Matrix composed into the CTM and the form's own /Resources."""
    form_content = b"BT /F1 12 Tf 0 0 Td (inside the form) Tj ET"
    page_content = b"BT /F1 12 Tf 72 720 Td (on the page) Tj ET q 1 0 0 1 72 640 cm /Fx1 Do Q"
    font_obj = (
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>\nendobj\n"
        b"6 0 obj\n<< /Type /XObject /Subtype /Form /BBox [0 0 400 100] "
        b"/Matrix [1 0 0 1 0 0] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Length "
        + str(len(form_content)).encode() + b" >>\nstream\n"
        + form_content + b"\nendstream\nendobj\n"
    )
    res = (b"/Resources << /Font << /F1 5 0 R >> "
           b"/XObject << /Fx1 6 0 R >> >>")
    blob = _handcrafted(page_content, font_obj, res)
    assert pdfio.extract_page_content(blob) == [
        ("text", ["on the page", "inside the form"])
    ]


def test_torture_combined_modes_end_to_end(spark):
    """Everything at once: /ObjStm + xref stream + AES-256 encryption +
    ToUnicode CMap + TJ kerning + a scanned page mixed with a
    born-digital page — one document through the full Spark pipeline
    with exact span equality."""
    scan = font.render_lines(["SCANNED TORTURE LINE"], scale=3, margin=10)
    scan = np.where(scan == 0, np.uint8(40), np.uint8(210))
    blob = pdfio.encode_image_pdf(
        [scan, ["kerned unicode line Ω", "second digital line"]],
        objstm=True, encrypt="aes-256",
        text_tounicode=True, text_tj_kern=True,
    )
    # sanity: the reader alone round-trips
    got = pdfio.extract_page_content(blob)
    assert [k for k, _ in got] == ["image", "text"]
    assert got[1][1] == ["kerned unicode line Ω", "second digital line"]
    out = pipeline.run(
        spark, _docs(spark), blob_resolver=_resolver_for(blob)
    )
    spans = {r["doc_id"]: r["spans"] for r in out.collect()}["p0"]
    want = [
        ("text", "INTRO TEXT SPAN"),
        ("pdf", normalize_text("SCANNED TORTURE LINE")),
        ("pdf", normalize_text("kerned unicode line Ω")),
        ("pdf", normalize_text("second digital line")),
        ("text", "CLOSING SPAN"),
    ]
    assert [(s["kind"], s["text"]) for s in spans] == want


@pytest.mark.parametrize("enc", [None, "rc4-128", "aes-128", "aes-256"])
@pytest.mark.parametrize("objstm", [False, True])
def test_pdf_info_roundtrip_all_modes(enc, objstm):
    """/Info metadata: UTF-16BE text strings, n_pages, and — under
    encryption — per-object STRING decryption (file key under AESV3),
    across classic and objstm forms."""
    meta = {"Title": "Quarterly Report — Ω edition", "Author": "alice"}
    blob = pdfio.encode_image_pdf(
        [["one line"], ["two"]], objstm=objstm, encrypt=enc, info=meta
    )
    got = pdfio.pdf_info(blob)
    assert got["Title"] == meta["Title"]
    assert got["Author"] == "alice"
    assert got["n_pages"] == 2
    # content still round-trips alongside the metadata
    pages = pdfio.extract_page_content(blob)
    assert pages[0][1] == ["one line"] and pages[1][1] == ["two"]


def test_pdf_info_absent_is_just_page_count():
    assert pdfio.pdf_info(pdfio.encode_image_pdf([["x"]])) == {"n_pages": 1}


def test_pdf_report_and_cli_mode(spark, tmp_path, monkeypatch):
    """Operator + CLI: per-page census with metadata over a payload
    table, error rows for out-of-subset files."""
    import numpy as np

    from ner_ocr_spark.operators.pdf import pdf_report

    img = (np.arange(40 * 40, dtype=np.uint32) * 11 % 251).astype(np.uint8)
    good = pdfio.encode_image_pdf(
        [img.reshape(40, 40), ["digital line one", "line two"]],
        encrypt="aes-128", info={"Title": "Census Doc", "Author": "bob"},
    )
    rows = spark.createDataFrame(
        [("a", bytearray(good)), ("b", bytearray(b"not a pdf"))],
        "doc_id string, payload binary",
    )
    got = {(r["doc_id"], r["page_idx"]): r
           for r in pdf_report(rows).collect()}
    assert got[("a", 0)]["page_kind"] == "image"
    r1 = got[("a", 1)]
    assert r1["page_kind"] == "text"
    assert r1["page_text"] == "digital line one\nline two"
    assert r1["n_lines"] == 2 and r1["title"] == "Census Doc"
    assert r1["author"] == "bob" and r1["n_pages"] == 2
    err = got[("b", None)]
    assert err["error"] is not None and "PDF" in err["error"]

    # CLI drive — main() stops its session on exit; share the fixture's
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    inp, outp = str(tmp_path / "in.pq"), str(tmp_path / "out")
    rows.write.parquet(inp)
    from ner_ocr_spark.__main__ import main

    assert main(["pdf", "-i", inp, "-o", outp]) == 0
    back = spark.read.parquet(outp)
    assert back.count() == 3
    assert back.filter("page_kind = 'text'").count() == 1


def test_pdf_report_reads_each_file_once(monkeypatch):
    """pdf_report's per-row function opens a file once: one object scan
    per row, whose page list also gives n_pages. The stage runs in
    process over a stand-in frame that captures the mapInPandas
    function."""
    import pandas as pd

    from ner_ocr_spark.operators.pdf import pdf_report

    scans = []
    real_scan = pdfio._scan_objects
    monkeypatch.setattr(pdfio, "_scan_objects",
                        lambda blob: scans.append(1) or real_scan(blob))

    class _Frame:
        def select(self, *cols):
            return self

        def mapInPandas(self, fn, schema):
            self.fn = fn
            return self

    frame = pdf_report(_Frame())
    blob = pdfio.encode_image_pdf(
        [["one line"], ["two", "lines"]], info={"Title": "Once"})
    batch = pd.DataFrame({"doc_id": ["a"], "payload": [blob]})
    (out,) = list(frame.fn(iter([batch])))
    assert len(scans) == 1
    assert list(out["page_idx"]) == [0, 1]
    assert list(out["n_pages"]) == [2, 2]
    assert list(out["title"]) == ["Once", "Once"]
    assert out["error"].isna().all()

"""Kernel unit tests (SURVEY.md §5.2.1) — pure functions, no Spark."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from ner_ocr_spark import corpus, font
from ner_ocr_spark.kernels import ocr
from ner_ocr_spark.kernels.ner import GazetteerTagger
from ner_ocr_spark.kernels.normalize import normalize_text
from ner_ocr_spark.operators.extract import (_NER_ARROW, make_ner_stage,
                                             tag_array, tag_columns)
from ner_ocr_spark.png import decode_gray, encode_gray


def test_png_roundtrip():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (41, 97)).astype(np.uint8)
    assert np.array_equal(decode_gray(encode_gray(img)), img)


def test_png_rejects_garbage():
    with pytest.raises(ValueError):
        decode_gray(b"definitely not a png")


def test_otsu_bimodal():
    img = np.full((50, 50), 200, dtype=np.uint8)
    img[:10] = 30
    t = ocr.otsu_threshold(img)
    assert 30 <= t < 200
    assert ocr.binarize(img).sum() == 10 * 50


def test_despeckle_kills_singletons_and_pairs():
    m = np.zeros((20, 20), dtype=bool)
    m[5, 5] = True  # singleton
    m[10, 10] = m[10, 11] = True  # pair
    m[15:18, 15:18] = True  # 3x3 block survives
    d = ocr.despeckle(m)
    assert d.sum() == 9
    assert d[15:18, 15:18].all()


def test_deskew_single_and_multi_line():
    for lines in (["SINGLE LINE PAGE"], ["TWO LINES", "OF TEXT HERE"]):
        page = font.render_lines(lines, scale=4, margin=12)
        gray = np.where(page == 0, np.uint8(40), np.uint8(210))
        for true_angle in (-4.0, -1.5, 2.5, 5.0):
            rot = corpus._rotate_gray(gray, true_angle, 210)
            mask = ocr.despeckle(ocr.binarize(rot))
            est = ocr.estimate_skew(mask)
            assert abs(est + true_angle) <= 0.5, (lines, true_angle, est)


def test_bounded_resize():
    img = np.full((3000, 600), 200, dtype=np.uint8)
    out = ocr.bounded_resize(img, 1500)
    assert max(out.shape) <= 1500
    small = np.full((100, 100), 200, dtype=np.uint8)
    assert ocr.bounded_resize(small, 1500) is small


# -- reference forms of the rewritten kernel phases ----------------------------
# The dense/float forms the kernel used before its sparse and integer
# rewrites; each rewrite must match its reference bit for bit.

def _bounded_resize_ref(gray, max_side_limit):
    h, w = gray.shape
    k = math.ceil(max(h, w) / max_side_limit)
    gray = np.pad(gray, ((0, (-h) % k), (0, (-w) % k)), constant_values=255)
    h2, w2 = gray.shape
    return gray.reshape(h2 // k, k, w2 // k, k).mean(axis=(1, 3)).astype(np.uint8)


def _rotate_gray_ref(gray, angle_deg, bg):
    h, w = gray.shape
    r = math.radians(angle_deg)
    c, s = math.cos(r), math.sin(r)
    nh = int(abs(h * c) + abs(w * s) + 1)
    nw = int(abs(w * c) + abs(h * s) + 1)
    dy = np.arange(nh, dtype=np.float32) - (nh - 1) / 2.0
    dx = np.arange(nw, dtype=np.float32) - (nw - 1) / 2.0
    sy = (c * dy + (h - 1) / 2.0)[:, None] + (s * dx)[None, :]
    sx = (-s * dy + (w - 1) / 2.0)[:, None] + (c * dx)[None, :]
    y0 = np.floor(sy).astype(np.int32)
    x0 = np.floor(sx).astype(np.int32)
    fy, fx = sy - y0, sx - x0
    y0 = np.clip(y0, -1, h) + 1
    x0 = np.clip(x0, -1, w) + 1
    g = np.full((h + 3, w + 3), np.float32(bg))
    g[1 : h + 1, 1 : w + 1] = gray
    v = (g[y0, x0].astype(np.float64) * (1.0 - fy)) * (1.0 - fx)
    v += (g[y0, x0 + 1].astype(np.float64) * (1.0 - fy)) * fx
    v += (g[y0 + 1, x0].astype(np.float64) * fy) * (1.0 - fx)
    v += (g[y0 + 1, x0 + 1].astype(np.float64) * fy) * fx
    return np.clip(np.round(v), 0, 255).astype(np.uint8)


def _estimate_skew_ref(mask, step, max_angle=6.0, max_px=20000):
    ys, xs = np.nonzero(mask)
    if len(ys) < 32:
        return 0.0
    if len(ys) > max_px:
        idx = np.linspace(0, len(ys) - 1, max_px).astype(np.int64)
        ys, xs = ys[idx], xs[idx]
    ysf, xsf = ys.astype(np.float32), xs.astype(np.float32)

    def obj(ang):
        r = math.radians(ang)
        bins = np.round(ysf * math.cos(r) - xsf * math.sin(r)).astype(np.int64)
        counts = np.bincount(bins - bins.min()).astype(np.float64)
        return float((counts * counts).sum())

    best_angle, best_obj = 0.0, -1.0
    for grid in (lambda: np.arange(-max_angle, max_angle + 1e-9, step),
                 lambda: np.arange(best_angle - step, best_angle + step + 1e-9, step / 5)):
        for ang in grid():
            o = obj(float(ang))
            if o > best_obj:
                best_obj, best_angle = o, float(ang)
    return best_angle


@pytest.mark.parametrize("k", [2, 3, 16, 17])
def test_bounded_resize_matches_float_mean(k):
    """Integer block sums == the float64 block mean truncated, on both sides
    of the uint16 -> uint32 accumulator switch (k*k*255 < 2**16 up to k=16),
    with padding on both axes."""
    limit = 11
    rng = np.random.RandomState(k)
    for gray in (rng.randint(0, 256, (k * limit - 1, k * limit - 3)),
                 np.full((k * limit - 2, 5 * k + 1), 255),
                 np.full((3 * k + 2, k * limit - 1), 0),
                 rng.choice([0, 1, 254, 255], (k * limit - 1, 2 * k - 1))):
        gray = gray.astype(np.uint8)
        got = ocr.bounded_resize(gray, limit)
        assert math.ceil(max(gray.shape) / limit) == k
        assert got.dtype == np.uint8
        assert np.array_equal(got, _bounded_resize_ref(gray, limit))


def test_rotate_gray_matches_dense_form():
    """The sparse rotation (four-tap math only near non-bg pixels) equals the
    dense float64 bilinear form: on noisy grays with no uniform background,
    with a bg that is not the page median, on rendered pages, at small and
    large angles of both signs, and on 1xN / Nx1 images."""
    rng = np.random.RandomState(11)
    page = font.render_lines(["SKEWED PAGE", "OF TEXT"], scale=3, margin=6)
    rendered = np.where(page == 0, np.uint8(40), np.uint8(210))
    cases = [
        (rng.randint(0, 256, (37, 53)).astype(np.uint8), 97),
        (np.clip(200 + rng.randint(-3, 4, (40, 60)), 0, 255).astype(np.uint8), 200),
        (rng.choice([30, 220], (25, 31), p=[0.1, 0.9]).astype(np.uint8), 30),
        (rendered, 210),
        (rendered, 0),
        (rng.randint(0, 256, (1, 50)).astype(np.uint8), 128),
        (rng.randint(0, 256, (50, 1)).astype(np.uint8), 255),
        (np.full((1, 1), 7, dtype=np.uint8), 7),
    ]
    for gray, bg in cases:
        for angle in (0.05, -0.05, 0.3, -1.7, 2.5, -4.0, 6.0, -6.0):
            got = ocr.rotate_gray(gray, angle, bg)
            assert np.array_equal(got, _rotate_gray_ref(gray, angle, bg)), (gray.shape, bg, angle)


@pytest.mark.parametrize("step", [0.25, ocr.REFINE_STEP])
def test_estimate_skew_matches_reference_objective(step):
    """The buffered, integer-count sweep picks the same angle as the float
    sum-of-squares objective, also when the ink is subsampled (> max_px)."""
    masks = []
    for i in range(6):
        ref = f"doc{i:08d}/m0"
        gray = decode_gray(corpus.render_media_blob(ref, oversize=i % 2 == 1))
        masks.append(ocr.despeckle(ocr.binarize(ocr.bounded_resize(gray))))
    rng = np.random.RandomState(5)
    masks.append(rng.random_sample((300, 400)) < 0.3)  # 36k px: subsampled
    masks.append(rng.random_sample((5, 9)) < 0.9)
    for m in masks:
        assert ocr.estimate_skew(m, step=step) == _estimate_skew_ref(m, step)


def _resample_ref(cell):
    h, w = cell.shape
    y0, y1 = ocr._edges(h, ocr._MATCH_H)
    x0, x1 = ocr._edges(w, ocr._MATCH_W)
    sat = np.zeros((h + 1, w + 1), dtype=np.float32)
    sat[1:, 1:] = cell.astype(np.float32).cumsum(0).cumsum(1)
    s = (sat[y1[:, None], x1[None, :]] - sat[y0[:, None], x1[None, :]]
         - sat[y1[:, None], x0[None, :]] + sat[y0[:, None], x0[None, :]])
    return s / ((y1 - y0)[:, None] * (x1 - x0)[None, :])


def _recognize_ref(mask):
    """recognize_mask's per-cell form: crop, robust-trim and resample one
    cell at a time."""
    out = []
    for y0, y1 in ocr.segment_lines(mask):
        trimmed, x_off, y_off = ocr._trim(mask[y0:y1])
        if trimmed.size == 0:
            continue
        scale_hint = max(trimmed.shape[0] / font.GLYPH_H, 1.0)
        min_ink = max(2.0 * scale_hint, 2.0)
        robust = max(2, int(round(scale_hint / 2.0)))
        crops, raw, spaces, kept = [], [], [], []
        for x0, x1, space in ocr.segment_cells(trimmed, scale_hint):
            cell = trimmed[:, x0:x1]
            if int(cell.sum()) < min_ink:
                continue
            rows = np.flatnonzero(cell.sum(axis=1) >= robust)
            cols = np.flatnonzero(cell.sum(axis=0) >= robust)
            if len(rows) == 0 or len(cols) == 0:
                cy = ocr._trim(cell)[0]
            else:
                cy = cell[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
            crops.append(_resample_ref(cy))
            raw.append(cy)
            spaces.append(space)
            kept.append((x0, x1))
        if not crops:
            continue
        chars, scores = ocr.classify_glyphs(np.stack(crops), lambda i: raw[i])
        text = "".join((" " if sp else "") + ch for ch, sp in zip(chars, spaces))
        out.append((text, [float(x_off + kept[0][0]), float(y0 + y_off),
                           float(x_off + kept[-1][1]), float(y0 + y_off + trimmed.shape[0])],
                    float(scores.mean())))
    return out


def test_recognize_mask_matches_per_cell_form():
    """The line-at-once glyph resample equals cropping and resampling each
    cell on its own, including cells whose rows or columns never reach the
    robust-trim count (they fall back to the plain ink box)."""
    rng = np.random.RandomState(3)
    masks = []
    for scale in (3, 4):
        page = font.render_lines(["QUICK 0123 FOX", "JUMPS OVER"], scale=scale, margin=8) == 0
        masks.append(page)
        noisy = page.copy()
        noisy |= rng.random_sample(page.shape) < 0.002
        # thin diagonal strokes after the (shorter) second line: one ink
        # pixel per row, so no row reaches the robust-trim count
        y0, y1 = ocr.segment_lines(page)[1]
        x = int(np.flatnonzero(page[y0:y1].any(axis=0))[-1]) + 8 * scale
        for j in range(3):
            for r in range(y1 - y0):
                noisy[y0 + r, x + 6 * scale * j + r // 3] = True
        masks.append(noisy)
    masks.append(rng.random_sample((60, 120)) < 0.2)
    masks += [ocr.page_frame(corpus.render_media_blob(f"doc{i:08d}/m0"))[1] for i in range(3)]
    for m in masks:
        got = [(l.text, l.box, l.score) for l in ocr.recognize_mask(m)]
        assert got == _recognize_ref(m)


def test_ocr_page_digest_sample():
    """Bit-identity pin of the kernel: every line's (text, box, score) of
    doc0-19 /m0 at both scales (the oversize pages take the resize path,
    the skewed ones the rotation path), hashed as scripts/ocr_digest.py
    does. The value was recorded before the kernel's phase rewrites."""
    lines = {(f"doc{i:08d}/m0", oversize): [
        (l.text, tuple(l.box), l.score)
        for l in ocr.ocr_page(corpus.render_media_blob(f"doc{i:08d}/m0", oversize=oversize))]
        for i in range(20) for oversize in (False, True)}
    got = hashlib.sha256(repr(sorted(lines.items())).encode()).hexdigest()[:16]
    assert got == "376b2a0c069c7d97"


@pytest.mark.parametrize("i", range(25))
def test_ocr_roundtrip_exact(i):
    ref = f"doc{i:08d}/m0"
    truth = "\n".join(corpus.media_truth_text(ref))
    got, score = ocr.ocr_text(corpus.render_media_blob(ref))
    assert got == truth
    assert score > 0.8


def test_ocr_roundtrip_oversize():
    for i in range(5):
        ref = f"doc{i:08d}/m0"
        truth = "\n".join(corpus.media_truth_text(ref))
        assert ocr.ocr_text(corpus.render_media_blob(ref, oversize=True))[0] == truth


def test_ocr_error_absorption():
    assert ocr.ocr_text(b"garbage") == ("", 0.0)
    blank = encode_gray(np.full((64, 64), 220, dtype=np.uint8))
    assert ocr.ocr_text(blank) == ("", 0.0)


def test_normalize_text():
    assert normalize_text("  A  B  ") == "A B"
    assert normalize_text("X [[COOKIE POLICY ACCEPT ALL]] Y") == "X Y"
    assert normalize_text(None) == ""
    assert normalize_text("A \n B") == "A\nB"
    assert normalize_text("[[ALL OF IT]]") == ""


def test_gazetteer_tagger_leftmost_longest():
    tagger = GazetteerTagger([("BOB", "PERSON"), ("BOB STONE", "PERSON"),
                              ("LONDON", "CITY")])
    ents, bio = tagger.tag("SAW BOB STONE IN LONDON")
    assert [(e.entity_type, e.surface) for e in ents] == [
        ("PERSON", "BOB STONE"), ("CITY", "LONDON")]
    assert bio == "O B-PERSON I-PERSON O B-CITY"
    # char offsets point back into the text
    e = ents[0]
    assert "SAW BOB STONE IN LONDON"[e.start:e.end] == "BOB STONE"


def test_gazetteer_tagger_empty():
    tagger = GazetteerTagger(corpus.GAZETTEER)
    assert tagger.tag("") == ([], "")


# surfaces that overlap and share tokens, plus one whose surface upper-cases
# differently from its lower-case spelling (ß -> SS)
_ADVERSARIAL_GAZ = corpus.GAZETTEER + [
    ("BOB", "PERSON"), ("STONE AGE", "ERA"), ("NEW YORK", "CITY"),
    ("NEW YORK TIMES", "ORG"), ("STRASSE", "STREET")]

_ADVERSARIAL_TEXTS = [
    "",
    "ALICE\nCOOPER",  # a multi-token surface split by a newline
    "saw BOB\n\nSTONE  and\tCAROL \n RIVERA",
    "LONDON LONDON LONDON",  # repeated surfaces
    "BOB STONE AGE BOB BOB STONE",  # overlapping surfaces
    "NEW YORK TIMES NEW YORK NEW",
    "\x1cALICE\x1dCOOPER\x1e\x1fLONDON\x1c",  # str.split() separators
    "\xa0LONDON\xa0BOB\xa0STONE",
    "straße Straße STRASSE ß",
]


def _tag_array(tagger, texts):
    out = tag_array(tagger, texts if isinstance(texts, pa.Array)
                    else pa.array(texts, pa.string()))
    assert out.type == _NER_ARROW and len(out) == len(texts)
    return out


def test_tag_array_matches_tag_columns_over_corpus_text():
    """tag_array (the NER UDF's batch function) equals tag_columns row by
    row over the corpus's text spans, raw and normalized."""
    tagger = GazetteerTagger(corpus.GAZETTEER)
    raw = [s["text"] for d in corpus.build_documents(60) for s in d["spans"]
           if s["kind"] == "text"]
    texts = raw + [normalize_text(t) for t in raw]
    got = _tag_array(tagger, texts).to_pylist()
    assert got == [tag_columns(tagger, t) for t in texts]
    assert sum(len(r["entities"]) for r in got) > 50


def test_tag_array_adversarial_text():
    tagger = GazetteerTagger(_ADVERSARIAL_GAZ)
    got = _tag_array(tagger, _ADVERSARIAL_TEXTS).to_pylist()
    assert got == [tag_columns(tagger, t) for t in _ADVERSARIAL_TEXTS]
    assert got[1]["bio"] == "B-PERSON I-PERSON"
    assert [e["surface"] for e in got[4]["entities"]] == [
        "BOB STONE", "BOB", "BOB STONE"]
    assert [e["entity_type"] for e in got[6]["entities"]] == ["PERSON", "CITY"]
    assert [e["surface"] for e in got[8]["entities"]] == ["STRASSE"] * 3
    # an Arrow batch may be a slice of a larger buffer: offsets start there
    whole = pa.array(_ADVERSARIAL_TEXTS, pa.string())
    assert _tag_array(tagger, whole.slice(3, 4)).to_pylist() == got[3:7]


def test_tag_array_batch_without_entities():
    """A batch with no match (and a NULL, which tags as "") still yields one
    entities list per row, all empty, over zero flat entities."""
    tagger = GazetteerTagger(corpus.GAZETTEER)
    out = _tag_array(tagger, ["no match here", "", None, "ALICE alone"])
    ents = out.field("entities")
    assert len(ents) == 4 and ents.null_count == 0
    assert ents.offsets.to_pylist() == [0, 0, 0, 0, 0]
    assert len(ents.values) == 0
    assert out.field("bio").to_pylist() == ["O O O", "", "", "O O"]


def test_make_ner_stage_adapts_tag_array():
    """make_ner_stage keeps its (fn, schema) contract over pandas batches:
    the input columns pass through, entities/bio are appended."""
    passthrough = T.StructType([T.StructField("k", T.IntegerType()),
                                T.StructField("page_text", T.StringType())])
    fn, schema = make_ner_stage(_ADVERSARIAL_GAZ, "page_text",
                                passthrough=passthrough)
    assert schema.fieldNames() == ["k", "page_text", "entities", "bio"]
    texts = _ADVERSARIAL_TEXTS + [None]
    # a batch whose index does not start at 0, as a slice of a frame has
    frames = list(fn(iter([pd.DataFrame({"k": range(len(texts)),
                                         "page_text": texts},
                                        index=range(7, 7 + len(texts)))])))
    tagger = GazetteerTagger(_ADVERSARIAL_GAZ)
    got = [{"entities": list(e), "bio": b}
           for e, b in zip(frames[0]["entities"], frames[0]["bio"])]
    assert got == [tag_columns(tagger, t or "") for t in texts]
    assert frames[0]["k"].tolist() == list(range(len(texts)))

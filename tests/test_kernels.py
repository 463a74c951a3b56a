"""Kernel unit tests (SURVEY.md §5.2.1) — pure functions, no Spark."""

from __future__ import annotations

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

"""HTML main-content extraction (north rule: "HTML boilerplate strip,
DOM heuristics") — kernel units + Spark operator plan gate. The full
value check runs through the driver oracle (`html_main`): the wrapped
page must round-trip back to the source text exactly."""

from __future__ import annotations

import numpy as np
import pytest

from ner_ocr_spark import htmlx

SF = "/root/testdata/sf0.01"

PAGE = """<html><head><title>T</title>
<script>var p = '<p>decoy</p>'; if (a < b) {}</script>
<style>.x { color: red; }</style></head><body>
<nav class="nav"><a href="/">Home</a> <a href="/a">About</a></nav>
<div class="sidebar"><a href="#">Ad one</a> <a href="#">Ad two</a> buy</div>
<div id="main" class="article content">
  <h1>The   Headline</h1>
  <p>First paragraph, with &amp; entities &lt;kept&gt;, and commas, plenty.</p>
  <p>Second   paragraph
     spans source lines.</p>
</div>
<footer><a href="#">Contact</a> &copy; corp</footer></body></html>"""


def test_boilerplate_stripped_content_kept():
    out = htmlx.main_text(PAGE)
    assert out == (
        "The Headline\n"
        "First paragraph, with & entities <kept>, and commas, plenty.\n"
        "Second paragraph spans source lines."
    )


def test_script_style_never_leak():
    out = htmlx.main_text(PAGE)
    assert "decoy" not in out and "color" not in out


def test_link_density_demotes_link_farms():
    page = (
        '<body><div class="big"><a href="1">one long link text here</a> '
        '<a href="2">another long link text here</a> '
        '<a href="3">third long link text right here</a></div>'
        "<div><p>Short real sentence, with substance, standing alone.</p>"
        "</div></body>"
    )
    assert htmlx.main_text(page) == (
        "Short real sentence, with substance, standing alone."
    )


def test_class_priors_break_text_mass_ties():
    page = (
        '<body><div class="comment">Equal length filler text here one.</div>'
        '<div class="article">Equal length filler text here two.</div></body>'
    )
    assert htmlx.main_text(page) == "Equal length filler text here two."


def test_entities_and_numeric_refs():
    assert htmlx.unescape("&amp;&lt;&gt;&quot;&#65;&#x42;&nbsp;&bogus;") == (
        '&<>"AB\xa0&bogus;'
    )


def test_implied_closes_and_malformed_tags_tolerated():
    page = ("<body><div><p>one<p>two<li>three"
            "<p>four </div extra junk> <p>tail</body>")
    out = htmlx.main_text(page)
    for word in ("one", "two", "three", "four"):
        assert word in out
    # each implied-closed block lands on its own line
    assert "one\ntwo" in out


def test_garbage_inputs_never_raise():
    for blob in ("", None, "plain words only", "<", "<<<>>>",
                 "<a href='x", "<div><div><div>", "\x00\xff binary-ish",
                 "<p>" * 2000):
        htmlx.main_text(blob)  # must not raise
    rng = np.random.default_rng(7)
    for _ in range(25):
        raw = bytes(rng.integers(0, 256, 300, dtype=np.uint8).tolist())
        htmlx.main_text(raw)  # bytes garbage must not raise either


def test_spark_operator_is_map_only(spark):
    import __spark_entry__ as e

    df = e.q_html_main(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "Python" in plan  # the kernel stage


def test_spark_roundtrip_sample(spark):
    """Spot value check in the gate (the driver oracle covers all rows)."""
    import re

    import __spark_entry__ as e

    got = {r["doc_id"]: r["main_text"]
           for r in e.q_html_main(spark, SF).filter("doc_id < 20").collect()}
    src = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(f"{SF}/documents.parquet")
           .filter("doc_id < 20").collect()}
    assert len(got) == 20
    for did, text in src.items():
        want = f"DOC {did}\n" + re.sub(r"[ \t\n\x0B\f\r]+", " ", text).strip()
        assert got[did] == want


@pytest.mark.parametrize("with_ner, use_blobs",
                         [(True, False), (False, False), (True, True)],
                         ids=["True", "False", "blobs"])
def test_html_span_kind_interleaved_end_to_end(spark, with_ner, use_blobs):
    """kind='html' is a first-class span kind: raw markup spans extract
    their MAIN CONTENT (boilerplate stripped, entities decoded), feed the
    same normalizer as text spans, and keep their interleaved position
    under span-sequence equality — one document mixing text + html +
    media, with and without NER, and with media bytes from a blobs table
    (the cost-balanced spread, where an html row has no payload)."""
    from ner_ocr_spark import corpus, pipeline
    from ner_ocr_spark.kernels.normalize import normalize_text
    from tests.conftest import DOC_SCHEMA

    ref = "media/html-e2e/0"
    truth = [normalize_text(t) for t in corpus.media_truth_text(ref)]
    html = (
        '<html><head><script>var x = "<p>no</p>";</script></head><body>'
        '<nav class="nav"><a href="/">Home</a><a href="/a">About</a></nav>'
        '<div id="c" class="content"><p>Embedded &amp; extracted, main'
        " content   wins.</p></div>"
        '<footer><a href="#">Contact</a></footer></body></html>'
    )
    docs = spark.createDataFrame(
        [{
            "doc_id": "h0",
            "spans": [
                {"kind": "text", "text": "LEADING TEXT", "media_ref": None,
                 "offset": 0},
                {"kind": "html", "text": html, "media_ref": None,
                 "offset": 1},
                {"kind": "media", "text": None, "media_ref": ref,
                 "offset": 2},
                {"kind": "text", "text": "TRAILING TEXT", "media_ref": None,
                 "offset": 3},
            ],
        }],
        DOC_SCHEMA,
    )
    kw = {}
    if use_blobs:
        kw["blobs"] = spark.createDataFrame(
            [(ref, bytearray(corpus.render_media_blob(ref)))],
            "media_ref string, image_png binary",
        )
        kw["blob_resolver"] = lambda r: (_ for _ in ()).throw(
            RuntimeError("resolver must not be called"))
    out = pipeline.run(spark, docs, with_ner=with_ner, **kw)
    spans = {r["doc_id"]: r["spans"] for r in out.collect()}["h0"]
    got = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
    want = (
        [("text", normalize_text("LEADING TEXT"), None),
         ("html", normalize_text("Embedded & extracted, main content wins."),
          None)]
        + [("media", t, ref) for t in truth]
        + [("text", normalize_text("TRAILING TEXT"), None)]
    )
    assert got == want


# -- round-4 review-pass regressions -----------------------------------------


def test_deeply_nested_html_no_recursion_error():
    """2000-deep div nesting must extract, not RecursionError (iterative
    walks; the Arrow stage would otherwise fail the whole task)."""
    page = "<div>" * 2000 + "deep text survives" + "</div>" * 2000
    assert htmlx.main_text(page) == "deep text survives"


def test_nbsp_uses_pinned_whitespace_class():
    """\\xa0 is NOT edge whitespace (pinned ASCII class, CLAUDE.md):
    str.strip() would eat it and diverge from the SQL oracle."""
    out = htmlx.main_text(
        '<body><div class="content"><p>\xa0padded\xa0</p></div></body>'
    )
    assert out == "\xa0padded\xa0"
    # &nbsp; decodes to a REAL NBSP, consistent with &#160;
    assert htmlx.unescape("&nbsp;") == htmlx.unescape("&#160;") == "\xa0"


def test_nul_bytes_become_replacement_char_not_block_breaks():
    """HTML5 rule: NUL -> U+FFFD — and the internal block sentinel can't
    collide with source bytes."""
    out = htmlx.main_text(
        '<body><div class="content"><p>a\x00b</p></div></body>'
    )
    assert out == "a�b"  # ONE line, not two


def test_unquoted_href_trailing_slash_keeps_anchor_open():
    """HTML5: a stray '/' on a non-void start tag is ignored — an unquoted
    URL value ending in '/' must not make <a> self-closing (it would
    undercount link density and promote link farms)."""
    root = htmlx.parse(
        "<body><div><a href=http://x.example/>anchor text</a></div></body>"
    )
    (a,) = [n for n in htmlx._iter_nodes(root) if n.tag == "a"]
    assert a.attrs["href"] == "http://x.example/"
    assert htmlx.text_of(a) == "anchor text"
    stats = htmlx._subtree_stats(root)
    assert stats[a][1] == stats[a][0] > 0  # all of it counted as link text


def test_ocr_stage_absorbs_html_kernel_failure(monkeypatch):
    """html rows ride the python branch's stage: a main-content failure on
    one row absorbs to that row's error row (M6: error set, text/entities/
    bio NULL); the other html row of the batch extracts and is tagged."""
    import pandas as pd

    from ner_ocr_spark import htmlx as hx
    from ner_ocr_spark.kernels.normalize import normalize_text
    from ner_ocr_spark.operators.extract import make_ocr_stage

    real = hx.main_text

    def flaky(h):
        if "boom" in h:
            raise ValueError("synthetic kernel failure")
        return real(h)

    monkeypatch.setattr(hx, "main_text", flaky)
    stage = make_ocr_stage(None, gazetteer=[("alice", "PER")])
    batch = pd.DataFrame({
        "doc_id": ["d", "d"], "span_idx": [0, 1], "kind": ["html", "html"],
        "text": ["<p>boom</p>", "<p>alice spoke</p>"], "media_ref": [None, None],
    })
    out = pd.concat(list(stage(iter([batch])))).reset_index(drop=True)
    assert len(out) == 2
    bad, good = out.to_dict("records")
    assert bad["span_idx"] == 0 and "synthetic kernel failure" in bad["error"]
    for col in ("text", "entities", "bio"):
        assert bad[col] is None or (not isinstance(bad[col], list)
                                    and pd.isna(bad[col])), col
    assert good["span_idx"] == 1 and good["error"] is None
    assert good["text"] == normalize_text("alice spoke")
    assert good["score"] == 1.0 and len(good["entities"]) == 1


def test_cli_html_mode(spark, tmp_path, monkeypatch):
    """`python -m ner_ocr_spark html`: pages(html) parquet in ->
    main_text + metadata columns out."""
    from ner_ocr_spark.__main__ import main

    # main() stops its session on exit; the fixture session is shared
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    inp, out = str(tmp_path / "pages"), str(tmp_path / "out")
    spark.createDataFrame(
        [("p1",
          '<body><nav><a href="/">Home</a></nav>'
          '<div class="content"><h1>Hi</h1><p>Real content, here.</p></div>'
          "</body>")],
        "page_id string, html string",
    ).write.parquet(inp)
    assert main(["html", "-i", inp, "-o", out]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["page_id"] == "p1" and "html" not in rows[0].asDict()
    assert r["main_text"] == "Hi\nReal content, here."
    assert r["headline"] == "Hi" and r["n_links"] == 1
    assert r["links_joined"] == "/"


# --- round-5 adversarial fixture families (real-crawl shapes) ---------------

from ner_ocr_spark.htmlx import main_text  # noqa: E402


TABLE_PAGE = """
<html><head><title>Quarterly results</title></head><body>
<div class="nav"><a href="/">Home</a> <a href="/about">About</a></div>
<table id="layout">
<tr><td class="sidebar"><a href="/q1">Q1</a> <a href="/q2">Q2</a>
<a href="/q3">Q3</a> <a href="/q4">Q4</a></td>
<td class="content-cell">
<h1>Quarterly results</h1>
<table class="data">
<tr><th>Region</th><th>Revenue</th><th>Growth</th></tr>
<tr><td>North</td><td>1,200</td><td>4.5%</td></tr>
<tr><td>South</td><td>980</td><td>2.1%</td></tr>
<tr><td>East</td><td>1,430</td><td>6.8%</td></tr>
</table>
<p>Revenue grew across all regions this quarter, with the east region
leading at nearly seven percent growth, driven by strong demand in the
enterprise segment and continued expansion of the partner channel.</p>
</td></tr>
</table>
<div class="footer"><a href="/privacy">Privacy</a></div>
</body></html>
"""


def test_table_layout_page_preserves_row_order():
    """Old-school table layout: the content CELL wins (td is a candidate
    tag); nav/sidebar/footer drop; the inner DATA table's text survives
    in row order, header row first."""
    got = main_text(TABLE_PAGE)
    lines = got.split("\n")
    assert lines[0] == "Quarterly results"
    # data table rows in document order, no interleaving
    flat = [ln for ln in lines if ln not in ("Quarterly results",)]
    joined = " ".join(lines)
    for earlier, later in [("Region", "North"), ("North", "South"),
                           ("South", "East"), ("East", "Revenue grew")]:
        assert joined.index(earlier) < joined.index(later)
    assert "Home" not in got and "Privacy" not in got and "Q1" not in got
    assert "Revenue grew across all regions" in joined


COMMENTS_PAGE = """
<html><body>
<div class="article-content">
<h1>Understanding query planners</h1>
<p>A query planner turns a declarative statement into an executable plan,
choosing join orders, access paths, and physical operators by estimating
the cost of each alternative against table statistics.</p>
<p>Modern planners add adaptive execution, re-planning mid-query when
observed cardinalities diverge from the estimates that drove the plan.</p>
</div>
<div id="discussion-thread">
<h2>42 comments</h2>
<div class="thread-item"><a href="/u/alice">alice</a> Great post.</div>
<div class="thread-item"><a href="/u/bob">bob</a> Streaming engines too?</div>
<div class="thread-item"><a href="/u/carol">carol</a> Stale stats bit us.</div>
<div class="thread-item"><a href="/u/dave">dave</a> Saved a regression.</div>
</div>
</body></html>
"""


def test_comment_section_dropped_article_kept():
    """Article + comment thread: raw text mass makes the broad container
    win candidate selection, so the CONDITIONAL clean must drop the
    negative-tagged thread ('discussion') while keeping the article.
    Also pins that 'thread-item' never matches the token-anchored 'ad-'
    prior (the round-4 advice edge)."""
    got = main_text(COMMENTS_PAGE)
    assert "query planner turns a declarative statement" in got
    assert "adaptive execution" in got
    assert "alice" not in got and "42 comments" not in got


FORUM_PAGE = """
<html><body><div id="discussion-thread">
<div class="thread-item"><a href="/u/a">a</a> The first reply in a long
forum thread about tuning shuffle partitions for wide aggregations.</div>
<div class="thread-item"><a href="/u/b">b</a> Second reply describing how
adaptive execution coalesces small partitions after the fact.</div>
<div class="thread-item"><a href="/u/c">c</a> Third reply with a worked
example of skew-join salting and broadcast thresholds.</div>
</div></body></html>
"""


def test_forum_page_comments_are_the_content():
    """The clean is CONDITIONAL: when stripping the negative-tagged
    subtrees would remove nearly everything (a forum thread page, where
    the 'comments' ARE the main content), the unstripped text wins."""
    got = main_text(FORUM_PAGE)
    assert "first reply in a long" in got
    assert "skew-join salting" in got

"""End-to-end span-sequence equality vs the pure-Python oracle
(SURVEY.md §5.2.3; BASELINE.json invariant: (kind, text, media_ref, order))."""

from __future__ import annotations

import re

import pytest

from ner_ocr_spark import corpus, oracle, pipeline

SPAN_TYPES = [
    ("doc_id", "string"), ("span_idx", "int"), ("line_idx", "int"),
    ("kind", "string"), ("text", "string"), ("media_ref", "string"),
    ("box", "array<double>"), ("score", "double"),
    ("transformer_text", "string"), ("transformer_score", "double"),
    ("error", "string"),
]
NER_TYPES = [
    ("entities", "array<struct<entity_type:string,surface:string,start:int,end:int>>"),
    ("bio", "string"),
]


def test_span_sequence_equality(spark, documents_df):
    result = pipeline.run(spark, documents_df)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
           for r in result.collect()}
    n_docs = documents_df.count()
    assert len(got) == n_docs
    for i in range(n_docs):
        doc_id = corpus.doc_id_for(i)
        want = [(s["kind"], s["text"], s["media_ref"])
                for s in oracle.expected_spans(doc_id)]
        assert got[doc_id] == want, f"span sequence mismatch for {doc_id}"


def test_entities_match_oracle(spark, documents_df):
    extracted = pipeline.extract_spans(documents_df)
    rows = extracted.filter("error is null").orderBy("doc_id", "span_idx",
                                                     "line_idx").collect()
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, doc_rows in by_doc.items():
        want = oracle.expected_entities(doc_id)
        assert len(doc_rows) == len(want)
        for got_row, want_row in zip(doc_rows, want):
            got_ents = [(e["entity_type"], e["surface"], e["start"], e["end"])
                        for e in (got_row["entities"] or [])]
            want_ents = [(e["entity_type"], e["surface"], e["start"], e["end"])
                         for e in want_row["entities"]]
            assert got_ents == want_ents
            assert got_row["bio"] == want_row["bio"]


@pytest.mark.parametrize("with_ner", [True, False])
def test_extract_spans_schema(spark, documents_df, with_ner):
    """extract_spans' column types in both NER modes, and each branch's
    own: unionByName widens a branch whose type differs (a bare SQL 1.0 is
    DECIMAL(2,1), a bare NULL is VOID) by casting its column under the
    union, so the output schema alone would not show a mistyped literal."""
    out = pipeline.extract_spans(documents_df, with_ner=with_ner)
    got = [(f.name, f.dataType.simpleString()) for f in out.schema.fields]
    assert got == SPAN_TYPES + (NER_TYPES if with_ner else [])
    union = out._jdf.queryExecution().analyzed()
    assert union.nodeName() == "Union"
    children = union.children()
    for i in range(children.size()):
        head = children.apply(i).toString().splitlines()[0]
        assert not re.search(r"cast\(\w+#\d+L? as ", head), head


def test_normalized_text_column_is_kept_per_gateway(spark):
    """text_rows reuses one normalize_expr Column across plan builds; a
    Column is a handle into one JVM, so another gateway gets its own."""
    from types import SimpleNamespace

    first = pipeline._normalized_text(spark)
    assert pipeline._normalized_text(spark) is first
    elsewhere = SimpleNamespace(sparkContext=SimpleNamespace(_gateway=object()))
    assert pipeline._normalized_text(elsewhere) is not first
    assert pipeline._normalized_text(spark) is not first


def test_no_errors_on_clean_corpus(spark, documents_df):
    extracted = pipeline.extract_spans(documents_df, with_ner=False)
    assert extracted.filter("error is not null").count() == 0


def test_blobs_table_join_path(spark, documents_df):
    """Media bytes can also arrive via a (media_ref, image_png) table."""
    from ner_ocr_spark.pipeline import explode_spans

    refs = [r["media_ref"] for r in explode_spans(documents_df)
            .filter("kind = 'media'").select("media_ref").collect()]
    blob_rows = [(ref, bytearray(corpus.render_media_blob(ref))) for ref in refs]
    blobs = spark.createDataFrame(blob_rows, "media_ref string, image_png binary")
    result = pipeline.run(spark, documents_df, blobs=blobs,
                          blob_resolver=lambda ref: (_ for _ in ()).throw(
                              RuntimeError("resolver must not be called")))
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
           for r in result.collect()}
    doc0 = corpus.doc_id_for(0)
    want = [(s["kind"], s["text"], s["media_ref"])
            for s in oracle.expected_spans(doc0)]
    assert got[doc0] == want


def test_refine_pass_preserves_equality(spark, documents_df):
    """refine_below=1.01 forces the second pass on every media page; the
    clean corpus must still match the oracle exactly (enhance-once
    semantics, no duplication)."""
    from ner_ocr_spark import corpus, oracle

    result = pipeline.run(spark, documents_df.limit(10), refine_below=1.01)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
           for r in result.collect()}
    for doc_id, spans in got.items():
        want = [(s["kind"], s["text"], s["media_ref"])
                for s in oracle.expected_spans(doc_id)]
        assert spans == want, doc_id


def test_entry_contract(spark):
    """The driver's smoke check: entry(spark) returns >0 rows with a stable
    schema on sf0.001."""
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<"
        "kind:string,text:string,media_ref:string>>>"
    )
    assert df.count() == 500


def test_heavy_doc_e2e(spark):
    """Full skew test (SURVEY.md §5.2.5): a ~500-media-span doc among small
    docs completes, spreads across partitions, and stays oracle-exact."""
    from pyspark.sql import functions as F

    from tests.conftest import DOC_SCHEMA

    heavy_spans = []
    for rep in range(12):  # ~12 x 40-80 spans of heavy docs -> one mega doc
        heavy_spans.extend(corpus.doc_spans(f"h{rep}", heavy=True))
    heavy_spans = [
        {**s, "media_ref": f"mega/{i}" if s["kind"] == "media" else None,
         "offset": i}
        for i, s in enumerate(heavy_spans)
    ][:500]
    rows = [{"doc_id": "mega", "spans": heavy_spans}] + corpus.build_documents(6)
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    extracted = pipeline.extract_spans(docs, with_ner=False).persist()
    # the mega doc spread: its media spans appear on >=4 partitions
    parts = (
        extracted.filter("doc_id = 'mega' and kind = 'media'")
        .select(F.spark_partition_id().alias("p")).distinct().count()
    )
    assert parts >= 4
    # order AND content exact (near-tie sub-pixel vote resolved the last
    # D/O confusion at |angle| ~ 5 deg)
    out = pipeline.assemble_documents(extracted)
    mega = {r["doc_id"]: r["spans"] for r in out.collect()}["mega"]
    media_texts = [s["text"] for s in mega if s["kind"] == "media"]
    want = []
    for s in heavy_spans:
        if s["kind"] == "media":
            from ner_ocr_spark.kernels.normalize import normalize_text
            for line in corpus.media_truth_text(s["media_ref"]):
                t = normalize_text(line)
                if t:
                    want.append(t)
    assert media_texts == want
    extracted.unpersist()

"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: build the input_hint-shaped interleaved corpus from
                the sf0.001 documents table, run the full OCR+NER extraction
                pipeline, return the assembled per-document span table.
queries()     — one callable per implemented operator (SURVEY.md §2 + the
                training-data operators from the driver brief).
oracle_sql()  — DuckDB-equivalent SQL for every SQL-expressible query.

Column names are aliased identically on both sides; doubles are rounded on
both sides so the value-hash compares stably.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the engine package lives next to this file; make imports cwd-independent
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from ner_ocr_spark.operators.normalize import WS_RUN  # noqa: E402

_SHIPPED: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executor python workers (addPyFile zip) so the
    mapInPandas stages import it regardless of the driver's cwd/PYTHONPATH
    — the spark-submit --py-files mechanism, self-applied."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import tempfile
    import zipfile

    zpath = Path(tempfile.mkdtemp()) / "ner_ocr_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in (Path(_REPO) / "ner_ocr_spark").rglob("*.py"):
            z.write(p, p.relative_to(_REPO).as_posix())
    spark.sparkContext.addPyFile(str(zpath))
    _SHIPPED.add(key)

SF_DEFAULT = "/root/testdata/sf0.001"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def interleaved_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the input_hint-shaped table (doc_id, spans array<struct<kind,
    text,media_ref,offset>>) from the driver's flat documents table:
    sentences become text spans; every 10th doc gets a media span whose blob
    the OCR stage synthesizes from the media_ref (deterministic)."""
    # the driver texts have no sentence punctuation; chunk into 8-word
    # spans so documents are genuinely multi-span interleaved. `words`
    # MUST be a materialized column: inline split()-in-lambda re-evaluates
    # the regex per chunk element (interpreted HOF, ~ms/row).
    docs = _t(spark, sf_dir, "documents").withColumn(
        "words", F.split(F.trim(F.col("text")), WS_RUN)
    )
    words = F.col("words")
    n_chunks_expr = F.ceil(F.size(words) / F.lit(8)).cast("int")
    sents = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_chunks_expr - 1, F.lit(0))),
            lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
        ),
        lambda s: F.length(s) > 0,
    )
    text_spans = F.transform(
        sents,
        lambda s, i: F.struct(
            F.lit("text").alias("kind"),
            s.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("doc"), F.lpad(F.col("doc_id").cast("string"), 8, "0"),
                 F.lit("/m0")).alias("media_ref"),
        F.lit(1_000_000).cast("int").alias("offset"),
    )
    spans = F.when(
        F.col("doc_id") % 10 == 0, F.concat(text_spans, F.array(media_span))
    ).otherwise(text_spans)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ner_ocr_spark import pipeline

    _ensure_shipped(spark)
    docs = interleaved_documents(spark, SF_DEFAULT)
    extracted = pipeline.extract_spans(docs)
    return pipeline.assemble_documents(extracted)


# ---------------------------------------------------------------------------
# operator queries (SURVEY.md §2) — each paired with oracle SQL below
# ---------------------------------------------------------------------------

def q_kind_route(spark, sf):  # S2 routing as conditional projection + count
    return (
        _t(spark, sf, "documents")
        .withColumn("kind", F.when(F.col("lang") == "en", "text").otherwise("media"))
        .groupBy("kind")
        .agg(F.count("*").alias("n_spans"))
    )


def q_ext_filter(spark, sf):  # S1/P1 whitelist filter
    return (
        _t(spark, sf, "documents")
        .filter(F.col("source").isin("src0", "src1", "src2"))
        .select("doc_id", "source", "lang")
    )


def q_coalesce_blank(spark, sf):  # P3/P4 empty-string coalesce semantics
    return _t(spark, sf, "documents").selectExpr(
        "doc_id",
        """coalesce(nullif(trim(CASE WHEN n_chars % 7 = 0 THEN NULL
                                     WHEN n_chars % 7 = 1 THEN ''
                                     ELSE substr(text, 1, 20) END), ''),
                    'FALLBACK') AS t""",
    )


def q_rect_filter(spark, sf):  # J2 positional search (literal query rect)
    from ner_ocr_spark.operators.spatial import positional_search

    regions = _t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % 100).cast("int").alias("x1"),
        (F.col("l_suppkey") % 100).cast("int").alias("y1"),
        ((F.col("l_partkey") % 100) + 1 + F.col("l_linenumber")).cast("int").alias("x2"),
        ((F.col("l_suppkey") % 100) + 5).cast("int").alias("y2"),
    )
    return positional_search(regions, 25.0, 25.0, 75.0, 75.0)


def q_spatial_semi(spark, sf):  # J3 spatial semi self-join (padded)
    from ner_ocr_spark.operators.spatial import spatial_semi_join

    regions = _t(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_partkey") % 100).cast("int").alias("x1"),
        (F.col("l_suppkey") % 100).cast("int").alias("y1"),
        ((F.col("l_partkey") % 100) + 1 + F.col("l_linenumber")).cast("int").alias("x2"),
        ((F.col("l_suppkey") % 100) + 5).cast("int").alias("y2"),
    )
    matches = _t(spark, sf, "part").filter(F.col("p_partkey") % 97 == 0).select(
        (F.col("p_partkey") % 100).cast("int").alias("x1"),
        ((F.col("p_partkey") * 7) % 100).cast("int").alias("y1"),
        ((F.col("p_partkey") % 100) + 10).cast("int").alias("x2"),
        (((F.col("p_partkey") * 7) % 100) + 10).cast("int").alias("y2"),
    )
    return spatial_semi_join(regions, matches, pad=5.0)


def q_semi_join(spark, sf):  # J4 match-identity semi join
    customer = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation").filter(F.col("n_regionkey") == 1)
    return customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left_semi"
    ).select("c_custkey", "c_name", "c_nationkey")


def q_outer_align(spark, sf):  # J5 index alignment as left outer join
    orders = _t(spark, sf, "orders")
    customer = _t(spark, sf, "customer").filter(F.col("c_custkey") % 3 == 0)
    return orders.join(customer, orders.o_custkey == customer.c_custkey, "left").select(
        "o_orderkey",
        F.coalesce(F.col("c_name"), F.lit("MISSING")).alias("c_name"),
    )


def q_counts(spark, sf):  # A1 group counts (metrics rows)
    return (
        _t(spark, sf, "events").groupBy("user_id").agg(F.count("*").alias("n_events"))
    )


def q_geomean(spark, sf):  # A2 geometric-mean confidence = exp(avg(ln))
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(F.exp(F.avg(F.log("l_extendedprice"))), 2).alias("geomean_price"))
    )


def q_line_assembly(spark, sf):  # A4/A5 ordered string agg
    docs = _t(spark, sf, "documents").select(
        "lang", "doc_id", F.substring("text", 1, 10).alias("piece")
    )
    joined = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "piece"))),
            lambda s: s["piece"],
        ),
        " | ",
    )
    return docs.groupBy("lang").agg(joined.alias("line_text"))


def q_sessionize(spark, sf):  # W2 gap sessionization (cumsum window)
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("epoch")
    )
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    gap = F.col("epoch") - F.lag("epoch").over(w)
    flag = F.when(gap.isNull() | (gap <= 1800), 0).otherwise(1)
    return ev.withColumn(
        "session_id", F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).select("user_id", "event_id", "session_id")


def q_paragraph_gap(spark, sf):  # W4 gap flags between consecutive items
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("epoch")
    )
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    gap = F.col("epoch") - F.lag("epoch").over(w)
    flag = F.when(gap > 3600, 1).otherwise(0)
    return ev.withColumn("f", flag).groupBy("user_id").agg(
        (F.sum("f") + 1).alias("n_paragraphs")
    )


def q_markdown_assembly(spark, sf):  # W1-W4 + A3-A5 full layout pipeline
    from ner_ocr_spark.operators.layout import to_markdown

    regions = _t(spark, sf, "lineitem").select(
        (F.col("l_orderkey") % 50).cast("int").alias("doc_id"),
        (F.col("l_partkey") % 40).cast("int").alias("y"),
        (F.col("l_suppkey") % 100).cast("int").alias("x"),
        F.col("l_returnflag").alias("text"),
    )
    return to_markdown(regions, line_threshold=3.0, gap_threshold=8.0)


def q_json_extract(spark, sf):  # F6 JSON -> typed value with null fallback
    ev = _t(spark, sf, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1)
    return (
        ev.withColumn("k", F.nullif(k, F.lit("")).cast("int"))
        .groupBy("event_type")
        # -1 sentinel: an all-null group would make the sum a nullable
        # BIGINT, which pandas renders float64 on the compare side
        .agg(
            F.coalesce(F.sum("k"), F.lit(-1)).cast("long").alias("k_sum"),
            F.count("k").alias("k_cnt"),
        )
    )


def q_think_strip(spark, sf):  # F4/F5 think-block + EOS strip
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("chain of thought</think>"), F.substring("text", 1, 20),
            F.lit("<|im_end|>")
        ).alias("raw"),
    )
    stripped = F.regexp_replace(
        F.regexp_replace("raw", r"^.*</think>", ""), r"(<\|im_end\|>)+$", ""
    )
    return docs.select("doc_id", stripped.alias("clean"))


# -- training-data operators (driver brief) --------------------------------

def q_dedup_exact(spark, sf):
    from ner_ocr_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.substring("text", 1, 30).alias("text")
    )
    return exact_dedup(docs)


def q_ngram_jaccard(spark, sf):
    from ner_ocr_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return ngram_jaccard_pairs(docs, n=1, group_col="lang", threshold=0.3)


def q_minhash_pairs(spark, sf):  # rows-only (hash-seeded candidates)
    from ner_ocr_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return minhash_lsh_pairs(docs)


def q_minhash_pairs_md5(spark, sf):  # FULL LSH candidate pairs, value-checked
    """The entire banded-LSH pair generation (shingle -> signature -> band
    buckets -> distinct pairs -> est_jaccard) against a DuckDB twin: with
    the portable md5 base hash every stage is SQL-expressible, so the
    oracle enumerates all pairs sharing any band and must agree exactly —
    the rows-only `minhash_pairs` keeps the production xxhash64 plan."""
    from ner_ocr_spark.operators.dedup import md5_hash31, minhash_lsh_pairs

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 150)
    # 8 bands of 1 row: high candidate rate, so the oracle compare covers
    # real pairs (bands of 2 found zero collisions at this corpus size).
    # max_bucket_df=2 is the stop-hash cap, taken IDENTICALLY by the twin
    # (count per band value <= 2 in the join disjuncts) — at this corpus
    # size it genuinely drops the df=3 buckets, so the capped path is
    # value-checked, not just plumbed through
    return minhash_lsh_pairs(
        docs, num_hashes=8, bands=8, base_hash=md5_hash31, max_bucket_df=2
    )


_SKEW_TEXT = "the quick brown fox jumps over the lazy dog again and again"


def _skewed_docs(spark, sf):
    """doc_id < 150 with every 5th text replaced by ONE fixed string — a
    deterministic hot-bucket corpus (30 identical docs) shared by the
    stophash_cap / hot_buckets queries and their DuckDB twins."""
    return _t(spark, sf, "documents").filter(F.col("doc_id") < 150).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(_SKEW_TEXT))
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_stophash_cap(spark, sf):  # capped LSH on a skewed corpus, value-checked
    """The stop-hash cap END-TO-END on real skew: 30 identical documents
    form a df-30 bucket in every band; max_bucket_df=8 drops those buckets
    before the self-join (no quadratic pair blow-up from boilerplate), and
    the DuckDB twin applies the identical per-band df predicate — so the
    DROP semantics themselves are value-checked, complementing
    minhash_pairs_md5 where the cap barely bites."""
    from ner_ocr_spark.operators.dedup import md5_hash31, minhash_lsh_pairs

    return minhash_lsh_pairs(
        _skewed_docs(spark, sf),
        num_hashes=8, bands=8, base_hash=md5_hash31, max_bucket_df=8,
    )


def q_pdf_text_roundtrip(spark, sf):  # born-digital PDF path, value-checked
    """Driver-signed VALUE oracle for the round-5 vector-text PDF path:
    each document's text becomes a one-page born-digital PDF via pdfio's
    own writer (10-word lines, WinAnsi Helvetica) and the from-scratch
    reader extracts it back through the full text-state machine
    (fonts/Td/Tj/line bucketing). The round trip is EXACT for this
    corpus, so the DuckDB twin is the same 10-word line split expressed
    in SQL — writer, object scan, content tokenizer, font decode and
    baseline ordering are all under the value hash. Python crossing is
    one Arrow-batched UDF over 100 docs (a correctness probe, not a perf
    path)."""
    from pyspark.sql.functions import pandas_udf

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )

    @pandas_udf("string")
    def roundtrip(texts):
        import re as _re

        import pandas as pd

        from ner_ocr_spark import pdfio

        ws = _re.compile(r"[ \t\n\x0B\f\r]+")  # the pinned ASCII class

        def one(t):
            words = [w for w in ws.split(t if isinstance(t, str) else "") if w]
            lines = [" ".join(words[i : i + 10])
                     for i in range(0, len(words), 10)]
            try:
                blob = pdfio.encode_text_pdf([lines])
            except pdfio.PdfError:
                # non-WinAnsi chars (not in this corpus, but the query
                # must not CRASH if the corpus ever gains them): the
                # ToUnicode writer mode round-trips arbitrary unicode
                blob = pdfio.encode_text_pdf([lines], tounicode=True)
            ((kind, out_lines),) = pdfio.extract_page_content(blob)
            assert kind == "text"
            return "\n".join(out_lines)

        return pd.Series([one(t) for t in texts])

    return docs.select("doc_id", roundtrip("text").alias("pdf_text"))


def q_pdf_info_roundtrip(spark, sf):  # encrypted metadata path, value-checked
    """Driver-signed VALUE oracle for PDF metadata + STRING decryption:
    each doc writes an ENCRYPTED one-page PDF carrying an /Info dict
    (Title has non-ASCII so the UTF-16BE text-string path is exercised;
    the cipher rotates through all four supported modes by doc_id), then
    pdf_info reads Title/Author back — per-object string decryption,
    Algorithm 2.B included, all under the value hash. The twin is the
    same deterministic string construction in SQL."""
    from pyspark.sql.functions import pandas_udf

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 40).select(
        "doc_id", "text"
    )

    @pandas_udf("title string, author string, mode string")
    def roundtrip(doc_ids, texts):
        import pandas as pd

        from ner_ocr_spark import pdfio

        modes = ["rc4-40", "rc4-128", "aes-128", "aes-256"]
        titles, authors, used = [], [], []
        for did, t in zip(doc_ids, texts):
            mode = modes[int(did) % 4]
            blob = pdfio.encode_image_pdf(
                [["metadata fixture page"]],
                encrypt=mode,
                info={
                    "Title": "Doc %d — %s" % (int(did), (t if isinstance(t, str) else "")[:20]),
                    "Author": f"author{int(did) % 7}",
                },
            )
            got = pdfio.pdf_info(blob)
            titles.append(got.get("Title"))
            authors.append(got.get("Author"))
            used.append(mode)
        return pd.DataFrame(
            {"title": titles, "author": authors, "mode": used}
        )

    out = roundtrip("doc_id", "text")
    return docs.select(
        "doc_id",
        out["title"].alias("title"),
        out["author"].alias("author"),
        out["mode"].alias("mode"),
    )


_BPE_MERGES = 24
_BPE_MAX_WORDS = 2000
_BPE_DOCS = 300


def q_bpe_tokenize(spark, sf):  # BPE induction + tokenization, value-checked
    """Tokenizer-training tier: BPE merges induced from the corpus
    (distributed word-frequency aggregation -> bounded greedy merge loop,
    the standard tokenizer-training shape) and applied as literal chained
    replaces — pure codegen, no python in the apply path. The DuckDB twin
    recomputes the SAME frequency table in SQL, runs the SHARED learn_bpe
    loop, and folds the identical merges into its own replace chain (the
    lsh/ivf generated-twin pattern), so induction AND application are
    both under the value hash."""
    from ner_ocr_spark.operators.bpe import (
        merges_from_corpus,
        n_tokens_expr,
        tokenize_expr,
    )
    from ner_ocr_spark.operators.dedup import normalize_for_dedup

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < _BPE_DOCS)
    merges = merges_from_corpus(
        docs, num_merges=_BPE_MERGES, max_words=_BPE_MAX_WORDS
    )
    norm = normalize_for_dedup(F.col("text"))
    return docs.select(
        "doc_id",
        F.substring(tokenize_expr(norm, merges), 1, 200).alias("bpe_head"),
        n_tokens_expr(norm, merges).alias("n_bpe_tokens"),
    )


def _bpe_oracle_sql() -> str | None:
    """Generated q_bpe_tokenize twin: identical word-frequency cut in
    DuckDB, identical shared merge loop, merges folded as literals."""
    import os

    import duckdb

    from ner_ocr_spark.operators.bpe import (
        learn_bpe,
        tokenize_sql,
        word_freqs_duckdb,
    )

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    path = Path(sf) / "documents.parquet"
    if not path.exists():
        return None
    try:
        con = duckdb.connect()
        src = (f"SELECT text FROM read_parquet('{path}') "
               f"WHERE doc_id < {_BPE_DOCS}")
        merges = learn_bpe(
            word_freqs_duckdb(con, src, _BPE_MAX_WORDS), _BPE_MERGES
        )
    except Exception:  # noqa: BLE001 — unreadable parquet: rows-only
        return None
    norm = ("trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', "
            "' ', 'g'))")
    piped = tokenize_sql(norm, merges)
    return f"""
        SELECT doc_id,
               substr(trim(regexp_replace(replace({piped}, '|', ' '),
                                          ' +', ' ', 'g')), 1, 200)
                   AS bpe_head,
               CAST(length({piped}) - length(replace({piped}, '|', ''))
                    AS BIGINT) AS n_bpe_tokens
        FROM documents WHERE doc_id < {_BPE_DOCS}
    """


def q_hot_buckets(spark, sf):  # dropped-mass report, value-checked
    """The companion report a capped run must emit (stop-hash drops are
    never silent): per over-cap band bucket, its df and the pair count
    avoided. band_hash (xxhash64) is projected away so the DuckDB twin can
    count per band VALUE instead — same buckets, oracle-expressible."""
    from ner_ocr_spark.operators.dedup import md5_hash31, minhash_hot_buckets

    return minhash_hot_buckets(
        _skewed_docs(spark, sf),
        num_hashes=8, bands=8, base_hash=md5_hash31, max_bucket_df=8,
    ).select(
        F.col("band_idx").cast("int").alias("band_idx"),
        "bucket_df",
        "pairs_avoided",
    )


def q_minhash_sig(spark, sf):  # minhash signature stage, value-checked
    """The signature math itself (shingle -> base hash -> affine-min family)
    against a DuckDB twin. Uses the portable md5-based base hash
    (dedup.md5_hash31) — xxhash64, the production default, has no DuckDB
    equivalent; the affine family and plan shape are identical."""
    from ner_ocr_spark.operators.dedup import md5_hash31, minhash_signatures

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    sig = minhash_signatures(docs, num_hashes=8, base_hash=md5_hash31)
    return sig.select(
        F.col("id").alias("doc_id"),
        *[F.element_at("sig", i + 1).alias(f"mh{i}") for i in range(8)],
    )


def q_simhash_sig(spark, sf):  # simhash signature stage, value-checked
    """The bit-vote signature math against a DuckDB twin (portable
    md5-based 60-bit base hash; production default is xxhash64/64-bit —
    same plan, same votes, different base hash)."""
    from ner_ocr_spark.operators.dedup import md5_hash60, simhash_table

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    return simhash_table(docs, base_hash=md5_hash60, n_bits=60).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_simhash_candidates(spark, sf):  # rows-only
    from ner_ocr_spark.operators.dedup import simhash_candidates

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return simhash_candidates(docs, prefix_bits=8)


def q_simhash_pairs_md5(spark, sf):  # FULL rotation-bucketed candidates, value-checked
    """Round-3 promotion (mirrors minhash_pairs_md5): the whole Manku
    rotation-scheme pair generation on the portable md5 base hash. With
    prefix_bits=16 and 4 rotations at step 16 the prefix windows never
    wrap the 64-bit word, so each rotation's bucket is a plain
    right-shift+mask in the DuckDB twin."""
    from ner_ocr_spark.operators.dedup import (
        md5_hash60,
        simhash_bucket_pairs,
        simhash_table,
    )

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    sh = simhash_table(docs, base_hash=md5_hash60, n_bits=60)
    # stop-hash cap mirrored by the twin's QUALIFY (no bucket exceeds it
    # at this corpus size — the drop path is value-checked by stophash_cap)
    pairs = simhash_bucket_pairs(sh, prefix_bits=16, rotations=4,
                                 max_bucket_df=16)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_dup_clusters(spark, sf):  # pair graph -> transitive clusters, value-checked
    """Dup-CLUSTER resolution: connected components (alternating large-star
    / small-star, dedup.connected_components) over a deterministic
    candidate-pair graph, plus the per-document keep flag. Oracled by a
    DuckDB RECURSIVE CTE computing the same transitive closure. The edge
    set is rank-adjacent chains under two independent blockings
    (normalized-text 4-char prefix; (lang, length-bucket)) so components
    are branchy merged chains — the general graph case, not cliques."""
    from ner_ocr_spark.operators.dedup import dup_clusters, normalize_for_dedup

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 400)
    d = docs.select(
        "doc_id",
        "lang",
        F.substring(normalize_for_dedup(F.col("text")), 1, 4).alias("p4"),
        F.pmod(F.length("text"), F.lit(5)).alias("tb"),
    )
    w1 = Window.partitionBy("p4").orderBy("doc_id")
    w2 = Window.partitionBy("lang", "tb").orderBy("doc_id")
    e1 = d.select(
        F.lag("doc_id").over(w1).alias("id_a"), F.col("doc_id").alias("id_b")
    ).filter(F.col("id_a").isNotNull())
    e2 = d.select(
        F.lag("doc_id").over(w2).alias("id_a"), F.col("doc_id").alias("id_b")
    ).filter(F.col("id_a").isNotNull())
    return dup_clusters(docs, e1.unionByName(e2))


def q_fingerprint_pairs(spark, sf):  # winnowing containment pairs, value-checked
    """5th dedup family: pairs sharing >= 2 winnowing fingerprint hashes
    (shared >= window+k-1-char runs — catches a paragraph LIFTED into a
    larger doc, which whole-document Jaccard dilutes away). Containment is
    synthesized deterministically: every doc gets the first 60 chars of
    its decade-anchor doc appended, identically in the DuckDB twin."""
    from ner_ocr_spark.operators.dedup import fingerprint_pairs, md5_hash60

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    anchors = docs.select(
        F.col("doc_id").alias("aid"), F.substring("text", 1, 60).alias("frag")
    )
    inj = docs.join(
        anchors, docs["doc_id"] - docs["doc_id"] % 10 == anchors["aid"]
    ).select("doc_id", F.concat("text", F.lit(" "), "frag").alias("text"))
    # spread BEFORE the per-doc winnowing: the sf parquet is one split, so
    # without this the interpreted k-gram/window pass runs on a single
    # task (measured 351 s -> the map parallelizes across cores; at corpus
    # scale the source already has many splits and this is a no-op cost)
    inj = inj.repartition(32, "doc_id")
    # stop-hash cap mirrored by the twin's QUALIFY over the exploded
    # hash table; 64 keeps the decade-anchor hashes (df <= ~11) while
    # pinning the cap semantics in the value compare
    return fingerprint_pairs(inj, min_shared=2, base_hash=md5_hash60,
                             max_bucket_df=64)


def q_source_mix(spark, sf):  # per-source corpus mixing report
    """Domain-mixing health report: per source, volume, token mass, mean
    word length, and the gopher keep rate — what a curation run reports
    per upstream domain before choosing sampling weights."""
    from ner_ocr_spark.operators.textstats import gopher_filter

    docs = _t(spark, sf, "documents")
    g = gopher_filter(docs)
    return g.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
        F.round(F.avg("mean_word_len"), 4).alias("avg_word_len"),
        F.sum("keep").cast("long").alias("n_keep"),
        F.round(F.avg(F.col("keep").cast("double")), 4).alias("keep_rate"),
    )


def q_cosine_topk(spark, sf):
    from ner_ocr_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(emb, queries, k=5)


def q_lsh_topk(spark, sf):  # value-checked: seeded hyperplanes fold into SQL
    from ner_ocr_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_topk(emb, queries, k=5)


def q_ivf_topk(spark, sf):  # value-checked: trained centroids fold into SQL
    from ner_ocr_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3)


def _ivf_oracle_sql() -> str | None:
    """Generate the ivf_topk DuckDB twin: replicate the Spark trainer's
    deterministic sample (first 2048 vectors by vec_id, float->double) in
    numpy via the SAME lloyd_kmeans, then fold the resulting centroids into
    the argmin/probe SQL as literals (round-2 verdict #1 — the quantizer IS
    SQL-expressible once the trained centroids are constants). The driver
    compares at sf0.01; SPARK_GRAFT_ORACLE_SF_DIR overrides for local runs.
    Returns None (rows-only fallback) if the parquet is unreadable."""
    import os

    import duckdb
    import numpy as np

    from ner_ocr_spark.operators.similarity import (
        ivf_topk_oracle_sql,
        lloyd_kmeans,
    )

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    path = Path(sf) / "embeddings.parquet"
    if not path.exists():
        return None
    try:
        con = duckdb.connect()
        rows = con.execute(
            "SELECT CAST(embedding AS DOUBLE[]) FROM read_parquet(?) "
            "ORDER BY vec_id LIMIT 2048",
            [str(path)],
        ).fetchall()
        con.close()
    except Exception:  # noqa: BLE001 — degrade to rows-only, never crash
        return None
    if not rows:
        return None
    x = np.array([r[0] for r in rows], dtype=np.float64)
    return ivf_topk_oracle_sql(lloyd_kmeans(x, 8), k=5, n_probe=3)


def q_embed_neardup(spark, sf):  # embedding-cosine near-dup (exact, blocked)
    """sf-scale VALUE ORACLE for `cosine_expr`, not the production near-dup
    path: exact cosine within label blocks is quadratic in block size, and
    the `label` block key is unbounded — at corpus scale a hot label would
    go O(n²). The 100-TB paths are `lsh_topk` (SRP buckets, bounded by
    bands) and `ivf_topk` (bounded cells), both value-oracled; this query
    exists so the cosine arithmetic itself is pinned against DuckDB on a
    small, bounded slice (vec_id < 200)."""
    from ner_ocr_spark.operators.similarity import cosine_expr

    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    l = emb.select(F.col("vec_id").alias("id_a"), F.col("label").alias("bl"),
                   F.col("e").alias("ea"))
    r = emb.select(F.col("vec_id").alias("id_b"), F.col("label").alias("br"),
                   F.col("e").alias("eb"))
    pairs = l.join(r, on=[F.col("bl") == F.col("br"), F.col("id_a") < F.col("id_b")])
    cos = cosine_expr(F.col("ea"), F.col("eb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


def q_quality_features(spark, sf):
    from ner_ocr_spark.operators.textstats import quality_features

    return quality_features(_t(spark, sf, "documents")).select(
        "doc_id", "n_words", "punct_ratio", "stopword_hits", "mean_word_len",
        "quality_score",
    )


def q_token_count(spark, sf):
    from ner_ocr_spark.operators.textstats import (
        token_count_bpe_ish, token_count_ws,
    )

    return _t(spark, sf, "documents").select(
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_ws_tokens"),
        token_count_bpe_ish(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def q_lang_id(spark, sf):
    from ner_ocr_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf, "documents")).select("doc_id", "lang_pred")


def q_fingerprint(spark, sf):  # winnowing fingerprint, value-checked
    """Winnowing (k=8, window=16) with the portable md5-based k-gram hash
    so DuckDB can replicate the exact selected-hash set; production default
    is xxhash64 (same plan, JVM-only hash)."""
    from ner_ocr_spark.operators.dedup import md5_hash60
    from ner_ocr_spark.operators.textstats import fingerprint

    fp = fingerprint(_t(spark, sf, "documents"), base_hash=md5_hash60)
    return fp.select(
        "doc_id",
        F.col("fingerprint_digest").alias("fp_digest"),
        F.size("fingerprint").cast("long").alias("fp_n"),
    )


def q_gopher_filter(spark, sf):  # Gopher quality rules, value-checked
    """Composite quality filter (word count, mean word length, symbol
    ratio, alpha-word ratio, stopword hits) with per-rule rejection
    attribution — Rae et al. 2021 §A1.1 style rules as one codegen
    projection."""
    from ner_ocr_spark.operators.textstats import gopher_filter

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return gopher_filter(docs).drop("text")


def q_temperature_mix(spark, sf):  # temperature-mixed sampling, value-checked
    """The multilingual-LM mixing rule as an operator: q_s ∝ p_s^tau
    keep-rates from the corpus's own source shares (tau=0.5 flattens
    toward uniform — the rarest source keeps 100%, dominant sources
    downsample), applied via the portable md5 unit hash. The report
    aggregates per source: input size, share, rate, kept count — rates
    round to 6 dp before the boundary compare on BOTH engines, so a
    last-ulp pow() difference cannot flip a row."""
    from ner_ocr_spark.operators.sampling import (
        temperature_rates,
        temperature_sample,
        unit_hash_md5,
    )

    docs = _t(spark, sf, "documents")
    kept = temperature_sample(
        docs, strata_col="source", tau=0.5, seed=11, unit_hash=unit_hash_md5
    ).groupBy("source").agg(F.count("*").alias("n_kept"))
    rates = temperature_rates(docs, "source", tau=0.5)
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.round("share", 4).alias("share"),
            F.round("rate", 4).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def q_stratified_sample(spark, sf):  # deterministic domain-mixing sample
    """Per-language keep rates via the portable md5 unit hash — the exact
    row set is reproducible across engines, runs, and task retries
    (production default is the xxhash64 unit hash, same plan)."""
    from ner_ocr_spark.operators.sampling import stratified_sample, unit_hash_md5

    docs = _t(spark, sf, "documents")
    out = stratified_sample(
        docs, {"en": 0.5, "de": 0.25}, default_rate=0.1, seed=7,
        unit_hash=unit_hash_md5,
    )
    return out.select("doc_id", "lang")


def q_sample_per_stratum(spark, sf):  # exactly-k deterministic exemplars
    from ner_ocr_spark.operators.sampling import sample_per_stratum, unit_hash_md5

    docs = _t(spark, sf, "documents")
    out = sample_per_stratum(docs, k=5, seed=3, unit_hash=unit_hash_md5)
    return out.select("doc_id", "lang")


def q_seq_pack(spark, sf):  # concat-and-chunk sequence packing placement
    """GPT-style packing metadata: per-doc (shard, token offsets, spanned
    sequence range) from a shard-partitioned window cumsum — no global
    sort; every shard packs independently."""
    from ner_ocr_spark.operators.packing import pack_sequences, shard_hash_md5

    docs = _t(spark, sf, "documents")
    return pack_sequences(docs, budget=256, shards=8, shard_hash=shard_hash_md5)


def q_pii_scrub(spark, sf):  # regex PII redaction + attribution counts
    """Email/IPv4/phone redaction over text with deterministic injected
    PII (pure function of doc_id, built identically in the oracle SQL —
    the raw corpus contains none, which would make the scrub a no-op).
    Patterns are RE2-compatible so DuckDB runs the IDENTICAL strings;
    the scrubbed text is compared by md5."""
    from ner_ocr_spark.operators.pii import scrub_pii

    docs = _t(spark, sf, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com tel +1 555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit("."),
            F.pmod(F.col("doc_id") * 7, F.lit(256)).cast("string"),
        ).alias("text"),
    )
    out = scrub_pii(injected)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ip").cast("long").alias("n_ip"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.md5("scrubbed").alias("scrub_md5"),
    )


def q_repetition_stats(spark, sf):  # Gopher repetition rules, value-checked
    """Word-level n-gram repetition (top-2/3-gram fraction, duplicated
    2-gram mass) + keep flag — the §A1.2 half of the Gopher filter; the
    character/line variants degrade on this single-line corpus."""
    from ner_ocr_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"))


def q_embed_quantize(spark, sf):  # int8 embedding quantization
    """Per-vector symmetric int8 quantization summary. Rounding is the
    explicit sign*floor(|y|+.5) form on both engines (engine-independent
    half-away-from-zero)."""
    from ner_ocr_spark.operators.similarity import quantize_int8

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = quantize_int8(emb)
    return out.select(
        "vec_id",
        F.round("q_scale", 6).alias("scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


def q_curation_pipeline(spark, sf):  # the COMPOSED training-data pipeline
    """Flagship composition: gopher quality filter -> repetition filter ->
    exact-dedup canonical keep -> per-language stratified sample ->
    sequence packing, in one plan. The DuckDB twin is assembled from the
    SAME per-stage SQL fragments (per-doc stats are row-independent, so
    whole-corpus stage oracles compose via keep-joins verbatim)."""
    from ner_ocr_spark.curation import curate
    from ner_ocr_spark.operators.packing import shard_hash_md5
    from ner_ocr_spark.operators.sampling import unit_hash_md5

    docs = _t(spark, sf, "documents")
    return curate(
        docs, {"en": 0.6, "de": 0.3}, default_rate=0.2, budget=256,
        shards=8, seed=7, unit_hash=unit_hash_md5, shard_hash=shard_hash_md5,
    )


def q_chunk_text(spark, sf):  # RAG sliding-window chunking
    from ner_ocr_spark.operators.textstats import chunk_text

    return chunk_text(_t(spark, sf, "documents"), size=16, overlap=4)


def q_term_stats(spark, sf):  # BM25 index-build term statistics
    from ner_ocr_spark.operators.textstats import term_stats

    return term_stats(_t(spark, sf, "documents"), min_df=2)


def q_decontam(spark, sf):  # benchmark n-gram decontamination
    """Training docs sharing any word 3-gram with the deterministic eval
    split (doc_id % 37 == 0) — eval gram hashes broadcast; the training
    side never shuffles its text."""
    from ner_ocr_spark.operators.decontam import ngram_overlap
    from ner_ocr_spark.operators.dedup import md5_hash60

    docs = _t(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 37 != 0)
    eval_df = docs.filter(F.col("doc_id") % 37 == 0)
    return ngram_overlap(train, eval_df, n=3, base_hash=md5_hash60)


def q_explode_1n(spark, sf):  # S3 1:N expansion (pdf -> pages analog)
    docs = _t(spark, sf, "documents")
    pieces = F.split(F.col("text"), WS_RUN)
    return docs.select(
        "doc_id", F.posexplode(pieces).alias("piece_idx", "piece")
    ).select("doc_id", "piece_idx", F.length("piece").alias("piece_len"))


def q_poly_bbox(spark, sf):  # F8 min/max over polygon points
    li = _t(spark, sf, "lineitem").limit(5000)
    poly = F.array(
        F.array((F.col("l_partkey") % 100).cast("double"),
                (F.col("l_suppkey") % 100).cast("double")),
        F.array(((F.col("l_partkey") + 13) % 100).cast("double"),
                ((F.col("l_suppkey") + 7) % 100).cast("double")),
        F.array(((F.col("l_partkey") + 29) % 100).cast("double"),
                ((F.col("l_suppkey") + 3) % 100).cast("double")),
    )
    pts = li.select("l_orderkey", "l_linenumber", poly.alias("poly"))
    xs = F.transform(F.col("poly"), lambda p: F.element_at(p, 1))
    ys = F.transform(F.col("poly"), lambda p: F.element_at(p, 2))
    return pts.select(
        "l_orderkey", "l_linenumber",
        F.array_min(xs).alias("x_min"), F.array_min(ys).alias("y_min"),
        F.array_max(xs).alias("x_max"), F.array_max(ys).alias("y_max"),
    )


def q_circle_rect(spark, sf):  # F11 circle-rectangle intersection expr
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_partkey") % 100).cast("double").alias("rx1"),
        (F.col("l_suppkey") % 100).cast("double").alias("ry1"),
        ((F.col("l_partkey") % 100) + 10).cast("double").alias("rx2"),
        ((F.col("l_suppkey") % 100) + 10).cast("double").alias("ry2"),
    )
    cx, cy, r = F.lit(50.0), F.lit(50.0), F.lit(12.0)
    closest_x = F.greatest(F.col("rx1"), F.least(cx, F.col("rx2")))
    closest_y = F.greatest(F.col("ry1"), F.least(cy, F.col("ry2")))
    d2 = F.pow(cx - closest_x, 2) + F.pow(cy - closest_y, 2)
    return li.filter(d2 <= r * r)


def q_topk_per_group(spark, sf):  # top-K per group (OLAP pattern)
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "event_id", F.round("value", 4).alias("value"), "rank")
    )


def q_semantic_search(spark, sf):  # J3 + F2 fuzzy (rows-only: difflib UDF)
    from ner_ocr_spark.operators.search import search

    _ensure_shipped(spark)
    regions = _t(spark, sf, "documents").select(
        F.col("doc_id"),
        F.lit(0).alias("page"),
        F.col("doc_id").cast("int").alias("region_idx"),
        F.substring("text", 1, 40).alias("text"),
        (F.col("doc_id") % 100).cast("double").alias("x1"),
        ((F.col("doc_id") * 3) % 100).cast("double").alias("y1"),
        ((F.col("doc_id") % 100) + 20).cast("double").alias("x2"),
        (((F.col("doc_id") * 3) % 100) + 10).cast("double").alias("y2"),
    ).withColumn("doc_id", (F.col("doc_id") % 7).cast("string"))
    return search(regions, "semantic", task="bench",
                  text="window merge spark", threshold=0.8, search_padding=15.0)


def q_entity_json(spark, sf):  # F6 + dynamic YAML schema (oracle since r2)
    from ner_ocr_spark.schema import entity_registry, parse_entity_json

    yaml_doc = """
entities:
  EventEntity:
    create_list: true
    fields:
      k:
        type: "int | None"
      label:
        type: "str | None"
"""
    reg = entity_registry(yaml_doc)
    ev = _t(spark, sf, "events")
    parsed = parse_entity_json(F.col("props"), reg["EventEntity"])
    # -1 sentinel keeps k integral on both engines even if a props row
    # lacks the key (nullable BIGINT -> pandas float64, CLAUDE.md rule)
    return ev.select(
        "event_id",
        F.coalesce(parsed["k"], F.lit(-1)).cast("long").alias("k"),
        parsed["label"].alias("label"),
    )


def q_image_features(spark, sf):  # multimodal image decode (rows-only)
    from ner_ocr_spark.operators.multimodal import MEDIA_SCHEMA, image_features
    from ner_ocr_spark.operators.extract import OCR_SCHEMA  # noqa: F401

    _ensure_shipped(spark)
    refs = _t(spark, sf, "documents").filter(F.col("doc_id") < 40).select(
        F.concat(F.lit("imgq/"), F.col("doc_id").cast("string")).alias("media_ref")
    )

    def _attach(batches):
        from ner_ocr_spark import corpus
        for pdf in batches:
            pdf = pdf.copy()
            pdf["kind"] = "image"
            pdf["payload"] = pdf["media_ref"].map(
                lambda r: bytearray(corpus.render_media_blob(r))
            )
            pdf["mime"] = "image/png"
            yield pdf

    media = refs.mapInPandas(_attach, MEDIA_SCHEMA)
    return image_features(media)


def q_interval_join(spark, sf):  # bucketized range join, value-checked
    """Point-in-interval join via time bucketing (operators/ranges): every
    click landing inside a same-user signup's 90-minute attribution
    window. The naive BETWEEN theta-join is nested-loop; the bucketed form
    is a pure equi-join + refine (plan-gated in tests)."""
    from ner_ocr_spark.operators.ranges import interval_join

    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_timestamp("ts").alias("epoch"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("epoch").alias("s"),
        (F.col("epoch") + 5400).alias("e"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "epoch"
    )
    out = interval_join(clicks, signups, point_ts="epoch", start_col="s",
                        end_col="e", keys=["user_id"], bucket=3600)
    return out.select(
        "user_id", "click_id", "signup_id",
        (F.col("epoch") - F.col("s")).alias("delay_s"),
    )


def q_funnel(spark, sf):  # ordered conversion funnel (view -> click -> purchase)
    """Per-user ordered funnel with a 7-day window per step: first view,
    first click AFTER that view (within 7 d), first purchase AFTER that
    click (within 7 d); stage = how deep the user got.

    Plan: ONE shuffle. A single groupBy(user_id) computes min(view epoch)
    plus the per-user click/purchase epoch arrays map-side-combined; the
    staged min-after-min is then pure array expressions (filter +
    array_min) on the aggregate output. At 10^12 docs the per-user step
    tables are billions of rows — NOT broadcastable — so the round-2 form
    (three conditional-min aggregates re-joined per step) shuffled the
    events table once per step; this form touches events once. The arrays
    hold only each user's click/purchase epochs (bounded by per-user
    activity, not corpus size)."""
    ev = _t(spark, sf, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("epoch")
    )
    win = 7 * 86400
    agg = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("epoch"))).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("epoch"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("epoch"))
        ).alias("purchases"),
    )
    # NULL t1 propagates through the lambda comparison -> filter drops all
    # elements -> t2 NULL (matches the join form's "no view, no click step").
    t2 = F.array_min(
        F.filter(
            "clicks",
            lambda c: (c >= F.col("t1")) & (c <= F.col("t1") + F.lit(win)),
        )
    )
    staged = agg.withColumn("t2", t2).withColumn(
        "t3",
        F.array_min(
            F.filter(
                "purchases",
                lambda p: (p >= F.col("t2")) & (p <= F.col("t2") + F.lit(win)),
            )
        ),
    )
    return staged.select(
        "user_id",
        F.coalesce("t1", F.lit(-1)).alias("t_view"),
        F.coalesce("t2", F.lit(-1)).alias("t_click"),
        F.coalesce("t3", F.lit(-1)).alias("t_purchase"),
        (F.col("t1").isNotNull().cast("int")
         + F.col("t2").isNotNull().cast("int")
         + F.col("t3").isNotNull().cast("int")).alias("stage"),
    )


def q_retention(spark, sf):  # weekly retention cohorts
    """Cohort = epoch-aligned week of the user's first event; matrix cell
    (cohort, week_offset) counts distinct users active that many weeks
    later. Epoch-aligned weeks (floor(epoch/604800)) sidestep engine
    week-truncation conventions.

    Plan: TWO shuffles. One groupBy(user_id) yields (cohort = min week,
    collect_set of active weeks) — per-user dedup rides the aggregate, so
    after explode each (user, week) appears exactly once and the matrix
    cell is a plain count, no count_distinct expand. The round-3 form
    (distinct + cohort join + count_distinct) ran 5 exchanges +
    3 broadcasts for the same answer."""
    ev = _t(spark, sf, "events").select(
        "user_id", F.floor(F.unix_timestamp("ts") / 604800).alias("week")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("week").alias("cohort"), F.collect_set("week").alias("weeks")
    )
    return (
        per_user.select("cohort", F.explode("weeks").alias("week"))
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("week_offset"))
        .agg(F.count("*").alias("n_users"))
    )


def q_html_main(spark, sf):  # north rule: HTML boilerplate strip (DOM heuristics)
    """Main-content extraction from real HTML markup: each document's text
    is wrapped JVM-side into a full page — nav with links, a per-doc
    variable-length sidebar of promo links, script/style decoys (one
    containing a fake <p> tag), an entity-escaped content div, and a
    footer — and the from-scratch readability-style extractor
    (htmlx.parse + candidate scoring by text mass x (1 - link density) +
    class/id priors) must recover EXACTLY the original text: boilerplate
    dropped, entities decoded, whitespace collapsed on the pinned ASCII
    class. The oracle derives the expected output directly from
    documents.text, so any parser/scorer/unescape defect hash-fails.
    Map-only plan: the page build is pure codegen, the extractor one
    Arrow-batched python stage, zero shuffles (plan-gated)."""
    from ner_ocr_spark.operators.html import extract_main_content

    _ensure_shipped(spark)
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return extract_main_content(
        docs.withColumn("html", _doc_page_html()), "html"
    ).select("doc_id", "main_text")


def _doc_page_html():
    """JVM-built synthetic page around documents.text: doc-varying
    <title>/<h1>, nav + variable-length sidebar link farm + footer
    boilerplate, script/style decoys, entity-escaped content. Everything
    the extractors must recover is SQL-derivable for the oracles."""
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    sidebar = F.expr(
        "repeat('<a href=\"#\">promo link</a> ', cast(doc_id % 4 + 1 as int))"
    )
    doc_tag = F.concat(F.lit("DOC "), F.col("doc_id").cast("string"))
    return F.concat(
        F.lit("<html><head><title>"),
        doc_tag,
        F.lit(
            "</title>"
            '<script>var p = "<p>decoy</p>";</script>'
            "<style>.m{display:none}</style></head><body>"
            '<nav class="nav menu"><a href="/">Home</a> '
            '<a href="/a">About</a> <a href="/b">More</a></nav>'
            '<div class="sidebar">'
        ),
        sidebar,
        F.lit('</div><div id="main" class="article content"><h1>'),
        doc_tag,
        F.lit("</h1><p>"),
        esc,
        F.lit(
            '</p></div><footer><a href="#">Contact</a> '
            "&copy; corp</footer></body></html>"
        ),
    )


def q_html_meta(spark, sf):  # page census: title / headline / outlinks
    """Structural metadata over the same synthetic pages: <title> (inside
    the dropped <head> subtree — needs the all-nodes walk), the first
    h1-h3, and the outlink census (count + hrefs in document order, the
    link-graph feed). All four values are SQL-derivable, so this is a
    full value oracle over the parser's tag/attribute handling."""
    from ner_ocr_spark.operators.html import extract_metadata

    _ensure_shipped(spark)
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    out = extract_metadata(docs.withColumn("html", _doc_page_html()), "html")
    return out.select(
        "doc_id", "meta.title", "meta.headline", "meta.n_links",
        "meta.links_joined",
    )


def q_tpch_q1(spark, sf):  # showcase agg (bench headline)
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-01")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark, sf):  # 3-way join + agg + deterministic top-k
    """TPC-H Q3 shape (no o_shippriority column in this corpus): the small
    filtered dimension broadcasts, the fact join stays shuffle-side, AQE
    picks the order. Tie-broken LIMIT so the top-10 is deterministic."""
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
    )


def q_percentiles(spark, sf):  # exact quantiles per group
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 2).alias("p99"),
    )


def q_pivot(spark, sf):  # pivot/unpivot (OLAP pattern)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


def q_rollup(spark, sf):  # rollup aggregation
    return (
        _t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_qty", "n",
        )
    )


def q_display_format(spark, sf):  # F12 display format/round (closes the last §2 row)
    """Reference UI's f"{score:.3f}" display tables (SURVEY F12,
    /root/reference/src/ui/visualisation.py:131-133) as expressions. The
    tie-prone step is made engine-independent by rounding EXPLICITLY
    (floor(x*1000+0.5)) before formatting — Java's format_string rounds
    half-up, C's printf half-even, and a raw double at an exact .0005
    boundary would format differently."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 3000)
    score = F.col("l_quantity") / 51.0 + F.col("l_discount") / 7.0
    r3 = F.floor(score * 1000 + F.lit(0.5)) / 1000.0
    r1 = F.floor(score * 1000 + F.lit(0.5)) / 10.0
    return li.select(
        "l_orderkey", "l_linenumber",
        F.format_string("%.3f", r3).alias("score_disp"),
        F.concat(F.format_string("%.1f", r1), F.lit("%")).alias("score_pct"),
    )


def q_cube(spark, sf):  # cube aggregation + grouping() disambiguation
    """CUBE over (returnflag, linestatus) with explicit grouping() flags —
    unlike the rollup query's 'ALL' coalesce, grouping() distinguishes a
    real NULL group value from a cube subtotal."""
    return (
        _t(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("-")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("-")).alias("l_linestatus"),
            "g_rf", "g_ls", "sum_qty", "n",
        )
    )


def q_asof_join(spark, sf):  # as-of: latest prior 'view' per 'click', per user
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", "event_type", F.unix_timestamp("ts").alias("epoch")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_view = F.last(
        F.when(F.col("event_type") == "view", F.col("epoch")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("prior_view_epoch", prior_view)
        .filter(F.col("event_type") == "click")
        # nullable BIGINT becomes float64 in pandas (oracle compare side);
        # -1 sentinel keeps the column integral on both engines
        .select("user_id", "event_id",
                F.coalesce("prior_view_epoch", F.lit(-1)).alias("prior_view_epoch"))
    )


def q_set_ops(spark, sf):  # union/intersect/except
    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_acctbal") > 0).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        a.intersect(b).withColumn("src", F.lit("both"))
        .unionByName(a.exceptAll(b).withColumn("src", F.lit("pos_only")))
    )


def q_refine_coalesce(spark, sf):  # P4 over (transformer_text, text) for real
    """refined_text_expr semantics, value-checked: the enhanced text wins
    only when it normalizes non-blank (NULL / whitespace / boilerplate-only
    transformer outputs all fall back to the first-pass text)."""
    from ner_ocr_spark.operators.normalize import refined_text_expr

    docs = _t(spark, sf, "documents")
    m = F.col("doc_id") % 4
    t_enh = (
        F.when(m == 0, F.lit(None).cast("string"))
        .when(m == 1, F.lit("  \n "))
        .when(m == 2, F.concat(F.lit("[["), F.substring("text", 1, 8), F.lit("]]")))
        .otherwise(F.concat(F.lit("ENH  "), F.substring("text", 1, 15)))
    )
    t_ocr = F.when(F.col("n_chars") % 5 == 0, F.lit(None).cast("string")).otherwise(
        F.substring("text", 5, 20)
    )
    return docs.select(
        "doc_id", refined_text_expr(t_enh, t_ocr).alias("final_text")
    )


def q_extraction_text_branch(spark, sf):
    """The engine's text branch, value-verified: interleave -> explode ->
    normalize -> blank-filter, reproduced in ANSI SQL. (The python branch
    needs the OCR kernel -> covered by the rows-only extraction_e2e and the
    pytest span-equality oracle.)"""
    from ner_ocr_spark import pipeline

    docs = interleaved_documents(spark, sf)
    return pipeline.text_rows(pipeline.explode_spans(docs))


def q_stream_metrics(spark, sf):  # Structured Streaming windowed agg
    """Runs a REAL streaming query (file source -> watermark -> sliding
    window agg -> memory sink, availableNow trigger) and returns the
    drained result. Window boundaries are epoch-aligned on both engines."""
    import uuid

    from ner_ocr_spark.streaming import stream_metrics

    schema = _t(spark, sf, "events").schema
    # the streaming file source needs a directory basePath; glob-filter
    # the single events file inside the sf dir
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    agg = stream_metrics(stream, window="30 minutes")
    name = f"qsm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError("stream_metrics stream did not drain in 300 s")
    return spark.table(name).select(
        F.unix_timestamp("win_start").alias("win_start"),
        "event_type", "n", "v",
    )


def q_stateful_sessions(spark, sf):  # applyInPandasWithState, value-checked
    """REAL stateful streaming (applyInPandasWithState + event-time
    timeout): gap sessionization per user over the events stream. Emits
    every session the watermark has CLOSED (end + gap + 1 < max event
    time); the equivalent batch SQL reproduces exactly those sessions."""
    import uuid

    from ner_ocr_spark.streaming import stateful_sessionize

    schema = _t(spark, sf, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
        .select(
            # the operator's output schema types user_id as string
            F.col("user_id").cast("string").alias("user_id"),
            "event_id",
            F.col("ts").cast("timestamp").cast("long").alias("epoch"),
        )
    )
    sessions = stateful_sessionize(stream, gap_s=1800)
    name = f"qss_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError("stateful_sessions stream did not drain in 300 s")
    # session ordinal recomputed from start_epoch, NOT the operator's
    # state-local session_id: state ids restart at 0 after a timeout flush,
    # so their oracle parity silently assumed the whole file lands in one
    # microbatch (round-2 ADVICE). row_number over start_epoch is identical
    # under any microbatch split.
    w = Window.partitionBy("user_id").orderBy("start_epoch")
    return spark.table(name).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        "start_epoch", "end_epoch",
    ).withColumn("session_seq", F.row_number().over(w) - 1)


def q_stream_dedup(spark, sf):  # state-backed streaming dedup, value-checked
    """REAL streaming exact-dedup (dropDuplicates state over the 128-bit
    normalized-content key, availableNow drain). WHICH row survives a key
    is engine-chosen, so the query returns the surviving KEY SET — which
    must equal the batch distinct-key set exactly (portable md5 key here;
    production default is xxhash64)."""
    import uuid

    from ner_ocr_spark.operators.dedup import md5_hash60
    from ner_ocr_spark.streaming import stream_dedup

    schema = _t(spark, sf, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
    )
    dd = stream_dedup(
        stream,
        base_hash=lambda c, s: md5_hash60(F.concat(c, F.lit(f"#{s}"))),
        keep_key=True,
    )
    name = f"qsd_{uuid.uuid4().hex[:8]}"
    q = (
        dd.select("h1").writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError("stream_dedup stream did not drain in 300 s")
    return spark.table(name).select("h1")


def q_extraction_e2e(spark, sf):  # the engine itself, rows-only oracle
    from ner_ocr_spark import pipeline

    _ensure_shipped(spark)
    docs = interleaved_documents(spark, sf)
    out = pipeline.extract_spans(docs, with_ner=True)
    return out.select(
        "doc_id", "span_idx", "line_idx", "kind", "text", "media_ref", "bio"
    )


# the exhaustive rows-only ledger: every queries() entry WITHOUT an
# oracle_sql() twin must appear here with its justification — pinned by
# tests/test_entry_contract.py so no future query lands unverified
# (round-2 verdict #9).
ROWS_ONLY: dict[str, str] = {
    "minhash_pairs": "production xxhash64 base hash has no DuckDB twin; the"
    " md5-based minhash_pairs_md5 value-checks the identical banded plan",
    "simhash_candidates": "xxhash64 token hashing not reproducible in DuckDB;"
    " simhash_sig + simhash_pairs_md5 value-check the identical signature"
    " math and rotation-bucketed pair generation on the md5 path",
    "semantic_search": "difflib partial-ratio python kernel (F2) is not"
    " expressible in STOCK DuckDB SQL (driver constraint); VALUE-checked"
    " anyway: scripts/check_oracle.py registers kernels/fuzzy.score as a"
    " DuckDB scalar function and compares a full SQL twin (32 rows), and"
    " tests/test_semantic_oracle.py runs the same comparison in the gate",
    "image_features": "python image decode (PNG/JPEG codecs) not"
    " SQL-expressible; pytest pins decode + feature values",
    "extraction_e2e": "the OCR kernel itself (Otsu/deskew/segment/match) is"
    " the system under test; span-sequence equality vs render truth is"
    " pinned by pytest against ner_ocr_spark/oracle.py",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order matters for verification currency: the driver's
    # correctness artifact covers a 50-entry window from the FRONT of this
    # dict, so the entries that have never appeared in a driver-signed
    # CORRECTNESS_r*.json (rounds 1-4 covered the same first-50 window)
    # are listed first.  The previously-signed 50 follow; they stay pinned
    # by scripts/check_oracle.py and tests/test_entry_contract.py.
    return {
        # --- never driver-signed through round 4 (front of the window) ---
        "entity_json": q_entity_json,
        "image_features": q_image_features,
        "interval_join": q_interval_join,
        "funnel": q_funnel,
        "retention": q_retention,
        "html_main": q_html_main,
        "html_meta": q_html_meta,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "percentiles": q_percentiles,
        "pivot": q_pivot,
        "rollup": q_rollup,
        "cube": q_cube,
        "display_format": q_display_format,
        "asof_join": q_asof_join,
        "set_ops": q_set_ops,
        "refine_coalesce": q_refine_coalesce,
        "extraction_text_branch": q_extraction_text_branch,
        "stream_metrics": q_stream_metrics,
        "stateful_sessions": q_stateful_sessions,
        "stream_dedup": q_stream_dedup,
        "extraction_e2e": q_extraction_e2e,
        # --- new in round 5 (still inside the 50-window) ---
        "stophash_cap": q_stophash_cap,
        "hot_buckets": q_hot_buckets,
        "pdf_text_roundtrip": q_pdf_text_roundtrip,
        "bpe_tokenize": q_bpe_tokenize,
        "pdf_info_roundtrip": q_pdf_info_roundtrip,
        "temperature_mix": q_temperature_mix,
        # --- driver-signed in rounds 1-4 ---
        "kind_route": q_kind_route,
        "ext_filter": q_ext_filter,
        "coalesce_blank": q_coalesce_blank,
        "rect_filter": q_rect_filter,
        "spatial_semi": q_spatial_semi,
        "semi_join": q_semi_join,
        "outer_align": q_outer_align,
        "counts": q_counts,
        "geomean": q_geomean,
        "line_assembly": q_line_assembly,
        "sessionize": q_sessionize,
        "paragraph_gap": q_paragraph_gap,
        "markdown_assembly": q_markdown_assembly,
        "json_extract": q_json_extract,
        "think_strip": q_think_strip,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_pairs": q_minhash_pairs,
        "minhash_sig": q_minhash_sig,
        "minhash_pairs_md5": q_minhash_pairs_md5,
        "dup_clusters": q_dup_clusters,
        "fingerprint_pairs": q_fingerprint_pairs,
        "source_mix": q_source_mix,
        "simhash_sig": q_simhash_sig,
        "simhash_candidates": q_simhash_candidates,
        "simhash_pairs_md5": q_simhash_pairs_md5,
        "cosine_topk": q_cosine_topk,
        "embed_neardup": q_embed_neardup,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "quality_features": q_quality_features,
        "token_count": q_token_count,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "gopher_filter": q_gopher_filter,
        "stratified_sample": q_stratified_sample,
        "sample_per_stratum": q_sample_per_stratum,
        "seq_pack": q_seq_pack,
        "decontam": q_decontam,
        "repetition_stats": q_repetition_stats,
        "embed_quantize": q_embed_quantize,
        "pii_scrub": q_pii_scrub,
        "chunk_text": q_chunk_text,
        "term_stats": q_term_stats,
        "curation_pipeline": q_curation_pipeline,
        "explode_1n": q_explode_1n,
        "poly_bbox": q_poly_bbox,
        "circle_rect": q_circle_rect,
        "topk_per_group": q_topk_per_group,
        "semantic_search": q_semantic_search,
    }


def oracle_sql() -> dict[str, str]:
    # 60 bit-vote terms for the simhash oracle, generated (not hand-typed)
    simhash_bits = " + ".join(
        "(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1"
        " THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)".format(b=b)
        for b in range(60)
    )
    rect_regions = """
        SELECT l_orderkey, l_linenumber,
               CAST(l_partkey % 100 AS INT) AS x1,
               CAST(l_suppkey % 100 AS INT) AS y1,
               CAST((l_partkey % 100) + 1 + l_linenumber AS INT) AS x2,
               CAST((l_suppkey % 100) + 5 AS INT) AS y2
        FROM lineitem
    """
    out = {
        "kind_route": """
            SELECT CASE WHEN lang = 'en' THEN 'text' ELSE 'media' END AS kind,
                   count(*) AS n_spans
            FROM documents GROUP BY 1
        """,
        "ext_filter": """
            SELECT doc_id, source, lang FROM documents
            WHERE source IN ('src0', 'src1', 'src2')
        """,
        "coalesce_blank": """
            SELECT doc_id,
                   coalesce(nullif(trim(CASE WHEN n_chars % 7 = 0 THEN NULL
                                             WHEN n_chars % 7 = 1 THEN ''
                                             ELSE substr(text, 1, 20) END), ''),
                            'FALLBACK') AS t
            FROM documents
        """,
        "rect_filter": f"""
            SELECT * FROM ({rect_regions})
            WHERE NOT (x1 > 75 OR 25 > x2 OR y1 > 75 OR 25 > y2)
        """,
        "spatial_semi": f"""
            SELECT * FROM ({rect_regions}) r
            WHERE EXISTS (
                SELECT 1 FROM (
                    SELECT CAST(p_partkey % 100 AS INT) AS mx1,
                           CAST((p_partkey * 7) % 100 AS INT) AS my1,
                           CAST((p_partkey % 100) + 10 AS INT) AS mx2,
                           CAST(((p_partkey * 7) % 100) + 10 AS INT) AS my2
                    FROM part WHERE p_partkey % 97 = 0
                ) m
                WHERE NOT (m.mx1 - 5 > r.x2 OR r.x1 > m.mx2 + 5
                        OR m.my1 - 5 > r.y2 OR r.y1 > m.my2 + 5)
            )
        """,
        "semi_join": """
            SELECT c_custkey, c_name, c_nationkey FROM customer
            WHERE EXISTS (SELECT 1 FROM nation
                          WHERE n_nationkey = c_nationkey AND n_regionkey = 1)
        """,
        "outer_align": """
            SELECT o_orderkey, coalesce(c_name, 'MISSING') AS c_name
            FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
              ON o_custkey = c_custkey
        """,
        "counts": "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
        "geomean": """
            SELECT l_returnflag, round(exp(avg(ln(l_extendedprice))), 2) AS geomean_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "line_assembly": """
            SELECT lang,
                   string_agg(substr(text, 1, 10), ' | ' ORDER BY doc_id) AS line_text
            FROM documents GROUP BY lang
        """,
        # integer sum() in DuckDB returns HUGEINT, which pandas renders as
        # float64 ("3.0" vs Spark's "3" in the value hash) -> CAST to BIGINT.
        # Windows order by floor(epoch(ts)) to match Spark's truncating
        # unix_timestamp if sub-second timestamps ever appear.
        "sessionize": """
            SELECT user_id, event_id,
                   CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY epoch, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM (
                SELECT user_id, event_id, epoch,
                       CASE WHEN lag_e IS NULL OR epoch - lag_e <= 1800
                            THEN 0 ELSE 1 END AS flag
                FROM (
                    SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
                           lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                               (PARTITION BY user_id
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS lag_e
                    FROM events
                )
            )
        """,
        "paragraph_gap": """
            SELECT user_id, CAST(sum(flag) + 1 AS BIGINT) AS n_paragraphs
            FROM (
                SELECT user_id,
                       CASE WHEN epoch - lag_e > 3600 THEN 1 ELSE 0 END AS flag
                FROM (
                    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch,
                           lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                               (PARTITION BY user_id
                                ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS lag_e
                    FROM events
                )
            ) GROUP BY user_id
        """,
        "markdown_assembly": """
            WITH regions AS (
                SELECT CAST(l_orderkey % 50 AS INT) AS doc_id,
                       CAST(l_partkey % 40 AS INT) AS y,
                       CAST(l_suppkey % 100 AS INT) AS x,
                       l_returnflag AS text
                FROM lineitem
            ), flagged AS (
                SELECT *, CASE WHEN lag_y IS NULL OR abs(y - lag_y) <= 3
                               THEN 0 ELSE 1 END AS flag
                FROM (SELECT *, lag(y) OVER w AS lag_y FROM regions
                      WINDOW w AS (PARTITION BY doc_id ORDER BY y)) s
            ), sess AS (
                SELECT *, sum(flag) OVER (PARTITION BY doc_id ORDER BY y
                                          ROWS UNBOUNDED PRECEDING) AS line_id
                FROM flagged
            ), lines AS (
                SELECT doc_id, line_id, avg(y) AS avg_y,
                       string_agg(text, '   ' ORDER BY x, text) AS line_text
                FROM sess GROUP BY doc_id, line_id
            ), prefixed AS (
                SELECT doc_id, line_id,
                       CASE WHEN lag(avg_y) OVER w IS NOT NULL
                                 AND avg_y - lag(avg_y) OVER w > 8
                            THEN chr(10)||chr(10)||chr(10) ELSE '' END
                       || line_text AS pline
                FROM lines WINDOW w AS (PARTITION BY doc_id ORDER BY line_id)
            )
            SELECT doc_id, string_agg(pline, chr(10) ORDER BY line_id) AS page_text
            FROM prefixed GROUP BY doc_id
        """,
        "json_extract": """
            SELECT event_type,
                   coalesce(CAST(sum(CAST(nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS INT)) AS BIGINT), -1) AS k_sum,
                   count(CAST(nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS INT)) AS k_cnt
            FROM events GROUP BY event_type
        """,
        "entity_json": """
            SELECT event_id,
                   coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), -1) AS k,
                   json_extract_string(props, '$.label') AS label
            FROM events
        """,
        "think_strip": """
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           'chain of thought</think>' || substr(text, 1, 20) || '<|im_end|>',
                           '^.*</think>', ''),
                       '(<\\|im_end\\|>)+$', '') AS clean
            FROM documents
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) AS n_dups
            FROM documents
            GROUP BY trim(regexp_replace(lower(substr(text, 1, 30)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
        """,
        "ngram_jaccard": """
            WITH grams AS (
                SELECT doc_id AS id, lang AS block,
                       list_distinct(string_split_regex(trim(regexp_replace(
                           lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ')) AS g
                FROM documents WHERE doc_id < 100
            )
            SELECT l.id AS id_a, r.id AS id_b,
                   round(CAST(len(list_intersect(l.g, r.g)) AS DOUBLE)
                         / len(list_distinct(list_concat(l.g, r.g))), 4) AS jaccard
            FROM grams l JOIN grams r ON l.block = r.block AND l.id < r.id
            WHERE CAST(len(list_intersect(l.g, r.g)) AS DOUBLE)
                  / len(list_distinct(list_concat(l.g, r.g))) >= 0.3
        """,
        # minhash_pairs_md5 / stophash_cap / hot_buckets are generated from
        # the shared sig-CTE template after this dict (same affine family,
        # different source + stop-hash cap)
        "dup_clusters": """
            WITH RECURSIVE d AS (
                SELECT doc_id, lang,
                       substr(trim(regexp_replace(lower(text),
                              '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), 1, 4) AS p4,
                       length(text) % 5 AS tb
                FROM documents WHERE doc_id < 400
            ), e1 AS (
                SELECT lag(doc_id) OVER (PARTITION BY p4 ORDER BY doc_id) AS u,
                       doc_id AS v
                FROM d
            ), e2 AS (
                SELECT lag(doc_id) OVER (PARTITION BY lang, tb ORDER BY doc_id) AS u,
                       doc_id AS v
                FROM d
            ), edges AS (
                SELECT u, v FROM e1 WHERE u IS NOT NULL
                UNION
                SELECT u, v FROM e2 WHERE u IS NOT NULL
            ), sym AS (
                SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
            ), walk AS (
                SELECT u, v AS lab FROM sym
                UNION
                SELECT w.u, s.v AS lab FROM walk w JOIN sym s ON w.lab = s.u
            ), comp AS (
                SELECT u AS doc_id, least(u, min(lab)) AS component
                FROM walk GROUP BY u
            )
            SELECT doc.doc_id AS doc_id,
                   coalesce(c.component, doc.doc_id) AS cluster_id,
                   CAST(coalesce(c.component, doc.doc_id) = doc.doc_id AS INT) AS keep
            FROM (SELECT doc_id FROM documents WHERE doc_id < 400) doc
            LEFT JOIN comp c ON doc.doc_id = c.doc_id
        """,
        "minhash_sig": """
            WITH grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(w) - 2, 1) + 1),
                           i -> array_to_string(w[i:i+2], ' '))) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split(trim(regexp_replace(lower(text),
                                             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
                    FROM documents WHERE doc_id < 50
                )
            ), hashed AS (
                SELECT doc_id,
                       list_transform(shingles,
                           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                                % 2147483648) AS hs
                FROM grams
            )
            SELECT doc_id,
                   list_min(list_transform(hs, h -> (h *  1 +  7919) % 2147483647)) AS mh0,
                   list_min(list_transform(hs, h -> (h *  3 + 15838) % 2147483647)) AS mh1,
                   list_min(list_transform(hs, h -> (h *  5 + 23757) % 2147483647)) AS mh2,
                   list_min(list_transform(hs, h -> (h *  7 + 31676) % 2147483647)) AS mh3,
                   list_min(list_transform(hs, h -> (h *  9 + 39595) % 2147483647)) AS mh4,
                   list_min(list_transform(hs, h -> (h * 11 + 47514) % 2147483647)) AS mh5,
                   list_min(list_transform(hs, h -> (h * 13 + 55433) % 2147483647)) AS mh6,
                   list_min(list_transform(hs, h -> (h * 15 + 63352) % 2147483647)) AS mh7
            FROM hashed
        """,
        "simhash_sig": f"""
            WITH grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(w) - 1, 1) + 1),
                           i -> array_to_string(w[i:i+1], ' '))) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split(trim(regexp_replace(lower(text),
                                             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
                    FROM documents WHERE doc_id < 50
                )
            ), hashed AS (
                SELECT doc_id,
                       list_transform(shingles,
                           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs
                FROM grams
            )
            SELECT doc_id, ({simhash_bits}) AS simhash
            FROM hashed
        """,
        # full rotation-scheme pair generation (r3): rotations 0/16/32/48
        # with a 16-bit prefix never wrap, so bucket_r is a shift+mask
        "simhash_pairs_md5": f"""
            WITH grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(w) - 1, 1) + 1),
                           i -> array_to_string(w[i:i+1], ' '))) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split(trim(regexp_replace(lower(text),
                                             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
                    FROM documents WHERE doc_id < 200
                )
            ), hashed AS (
                SELECT doc_id,
                       list_transform(shingles,
                           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs
                FROM grams
            ), sh AS (
                SELECT doc_id AS id, ({simhash_bits}) AS simhash FROM hashed
            ), b0 AS (
                SELECT id, simhash, rot,
                       CASE rot
                           WHEN 0 THEN simhash >> 48
                           WHEN 1 THEN (simhash >> 32) & 65535
                           WHEN 2 THEN (simhash >> 16) & 65535
                           ELSE simhash & 65535
                       END AS bucket
                FROM sh, (SELECT unnest([0, 1, 2, 3]) AS rot) t
            ), b AS (
                -- stop-hash cap twin (max_bucket_df=16 in the Spark query)
                SELECT * FROM b0
                QUALIFY count(*) OVER (PARTITION BY rot, bucket) <= 16
            )
            SELECT DISTINCT l.id AS id_a, r.id AS id_b,
                   CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
            FROM b l JOIN b r
              ON l.rot = r.rot AND l.bucket = r.bucket AND l.id < r.id
        """,
        "cosine_topk": """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            q AS (SELECT vec_id AS query_id, e AS qv FROM emb WHERE vec_id < 3),
            scored AS (
                SELECT q.query_id, emb.vec_id,
                       round(list_dot_product(emb.e, q.qv)
                             / (sqrt(list_dot_product(emb.e, emb.e))
                                * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
                FROM emb CROSS JOIN q
            )
            SELECT query_id, vec_id, cosine, rank FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC, vec_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "embed_neardup": """
            WITH emb AS (
                SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings WHERE vec_id < 200
            )
            SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                   round(list_dot_product(l.e, r.e)
                         / (sqrt(list_dot_product(l.e, l.e))
                            * sqrt(list_dot_product(r.e, r.e))), 4) AS cosine
            FROM emb l JOIN emb r ON l.label = r.label AND l.vec_id < r.vec_id
            WHERE list_dot_product(l.e, r.e)
                  / (sqrt(list_dot_product(l.e, l.e))
                     * sqrt(list_dot_product(r.e, r.e))) >= 0.3
        """,
        "quality_features": """
            WITH base AS (
                SELECT doc_id, text, length(text) AS n_chars,
                       len(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS n_words,
                       len(list_intersect(
                           list_distinct(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')),
                           ['the','a','of','and','to','in','is','on','for','with']))
                           AS stopword_hits,
                       length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0B\\f\\r]', '', 'g'))
                           AS n_punct
                FROM documents
            )
            SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                   round(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4) AS punct_ratio,
                   CAST(stopword_hits AS BIGINT) AS stopword_hits,
                   round(CAST(n_chars AS DOUBLE) / greatest(n_words, 1), 4) AS mean_word_len,
                   round(least(1.0,
                         (n_words / 50.0) * 0.5
                         + CASE WHEN stopword_hits >= 2 THEN 0.3 ELSE 0.0 END
                         + CASE WHEN CAST(n_chars AS DOUBLE) / greatest(n_words, 1)
                                     BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END), 4)
                       AS quality_score
            FROM base
        """,
        "token_count": """
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT)
                       AS n_ws_tokens,
                   CAST(list_sum(list_transform(
                        string_split_regex(lower(text), '[^a-z0-9]+'),
                        w -> CASE WHEN length(w) = 0 THEN 0
                                  ELSE CAST(ceil(length(w) / 4.0) AS INT) END))
                        AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "lang_id": """
            WITH scored AS (
                SELECT doc_id,
                       len(list_intersect(w, ['the','and','of','is','with'])) AS h_en,
                       len(list_intersect(w, ['der','und','die','ist','mit'])) AS h_de,
                       len(list_intersect(w, ['le','et','la','est','avec'])) AS h_fr,
                       len(list_intersect(w, ['el','y','la','es','con'])) AS h_es,
                       len(list_intersect(w, ['de','shi','he','zai','le'])) AS h_zh
                FROM (SELECT doc_id,
                             list_distinct(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS w
                      FROM documents)
            )
            SELECT doc_id,
                   CASE WHEN greatest(h_en,h_de,h_fr,h_es,h_zh) = 0 THEN 'en'
                        WHEN h_zh = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'zh'
                        WHEN h_fr = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'fr'
                        WHEN h_es = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'es'
                        WHEN h_de = greatest(h_en,h_de,h_fr,h_es,h_zh) THEN 'de'
                        ELSE 'en' END AS lang_pred
            FROM scored
        """,
        "fingerprint": """
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
                FROM documents
            ), h AS (
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(length(t) - 7, 1) + 1),
                           i -> CAST('0x' || substr(md5(substr(t, CAST(i AS INT), 8)),
                                                    1, 15) AS BIGINT)) AS hs
                FROM n
            ), w AS (
                SELECT doc_id,
                       list_sort(list_distinct(list_transform(
                           range(1, greatest(len(hs) - 15, 1) + 1),
                           j -> list_min(hs[j:j+15])))) AS fp
                FROM h
            )
            SELECT doc_id,
                   md5(array_to_string(fp, ',')) AS fp_digest,
                   CAST(len(fp) AS BIGINT) AS fp_n
            FROM w
        """,
        "gopher_filter": """
            WITH w AS (
                SELECT doc_id, text,
                       string_split_regex(trim(lower(text)),
                                          '[ \\t\\n\\x0B\\f\\r]+') AS w
                FROM documents
            ), m AS (
                SELECT doc_id,
                       len(w) AS n_words,
                       list_sum(list_transform(w, x -> length(x)))
                           / CAST(greatest(len(w), 1) AS DOUBLE) AS mean_wl,
                       (length(text) - length(regexp_replace(text,
                            '[#@*^~\\\\]', '', 'g')))
                           / CAST(greatest(length(text), 1) AS DOUBLE)
                           AS sym_ratio,
                       len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                           / CAST(greatest(len(w), 1) AS DOUBLE)
                           AS a_ratio,
                       len(list_intersect(list_distinct(w),
                           ['the','a','of','and','to','in','is','on','for','with']))
                           AS stop_hits
                FROM w
            )
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   round(mean_wl, 4) AS mean_word_len,
                   round(sym_ratio, 4) AS symbol_ratio,
                   round(a_ratio, 4) AS alpha_ratio,
                   CAST(stop_hits AS BIGINT) AS stopword_hits,
                   CAST(n_words >= 5 AND n_words <= 2000
                        AND mean_wl >= 3.0 AND mean_wl <= 10.0
                        AND sym_ratio <= 0.1 AND a_ratio >= 0.8
                        AND stop_hits >= 2 AS INT) AS keep,
                   coalesce(array_to_string(list_filter([
                       CASE WHEN NOT (n_words >= 5 AND n_words <= 2000)
                            THEN 'word_count' END,
                       CASE WHEN NOT (mean_wl >= 3.0 AND mean_wl <= 10.0)
                            THEN 'mean_word_len' END,
                       CASE WHEN NOT (sym_ratio <= 0.1)
                            THEN 'symbol_ratio' END,
                       CASE WHEN NOT (a_ratio >= 0.8)
                            THEN 'alpha_ratio' END,
                       CASE WHEN NOT (stop_hits >= 2)
                            THEN 'stopword_hits' END
                   ], x -> x IS NOT NULL), ','), '') AS reject_reasons
            FROM m
        """,
        "temperature_mix": """
            WITH c AS (
                SELECT source, count(*) AS n_docs
                FROM documents GROUP BY source
            ), r AS (
                SELECT source, n_docs,
                       n_docs / CAST(sum(n_docs) OVER () AS DOUBLE) AS share,
                       pow(n_docs / CAST(sum(n_docs) OVER () AS DOUBLE),
                           -0.5) AS _r
                FROM c
            ), rr AS (
                SELECT source, n_docs, share,
                       round(_r / max(_r) OVER (), 6) AS rate
                FROM r
            ), kept AS (
                SELECT d.source, count(*) AS n_kept
                FROM documents d JOIN rr ON d.source = rr.source
                WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                              || ':11'), 1, 15) AS BIGINT)
                      / 1152921504606846976.0 < rr.rate
                GROUP BY d.source
            )
            SELECT rr.source, rr.n_docs,
                   round(rr.share, 4) AS share,
                   round(rr.rate, 4) AS rate,
                   coalesce(kept.n_kept, 0) AS n_kept
            FROM rr LEFT JOIN kept ON rr.source = kept.source
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
                                      1, 15) AS BIGINT)
                  / 1152921504606846976.0
                  < CASE WHEN lang = 'en' THEN 0.5
                         WHEN lang = 'de' THEN 0.25
                         ELSE 0.1 END
        """,
        "sample_per_stratum": """
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY CAST('0x' || substr(md5(
                                        CAST(doc_id AS VARCHAR) || ':3'),
                                        1, 15) AS BIGINT)
                                    / 1152921504606846976.0,
                                    doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn <= 5
        """,
        "seq_pack": """
            WITH t AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                           1, 15) AS BIGINT) % 8 AS shard,
                       CAST(len(string_split_regex(trim(lower(text)),
                            '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
                FROM documents
            ), c AS (
                SELECT doc_id, shard, n_tokens,
                       CAST(sum(n_tokens) OVER (
                            PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                           AS start_offset
                FROM t
            )
            SELECT doc_id, shard, n_tokens, start_offset,
                   CAST(floor(start_offset / 256.0) AS BIGINT) AS seq_first,
                   CAST(floor((start_offset + n_tokens - 1) / 256.0) AS BIGINT)
                       AS seq_last
            FROM c
        """,
        "repetition_stats": """
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)),
                                          '[ \\t\\n\\x0B\\f\\r]+') AS w
                FROM documents
            ), g2 AS (
                SELECT doc_id, 2 AS n,
                       unnest(list_transform(
                           range(1, greatest(len(w) - 1, 1) + 1),
                           i -> array_to_string(w[i:i+1], ' '))) AS g
                FROM w
            ), g3 AS (
                SELECT doc_id, 3 AS n,
                       unnest(list_transform(
                           range(1, greatest(len(w) - 2, 1) + 1),
                           i -> array_to_string(w[i:i+2], ' '))) AS g
                FROM w
            ), counts AS (
                SELECT doc_id, n, g, count(*) AS c
                FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3)
                GROUP BY doc_id, n, g
            ), stats AS (
                SELECT doc_id,
                       round(coalesce(max(CASE WHEN n = 2 THEN c END), 0)
                             / CAST(greatest(sum(CASE WHEN n = 2 THEN c END), 1)
                                    AS DOUBLE), 4) AS top2_frac,
                       round(coalesce(max(CASE WHEN n = 3 THEN c END), 0)
                             / CAST(greatest(sum(CASE WHEN n = 3 THEN c END), 1)
                                    AS DOUBLE), 4) AS top3_frac,
                       round(coalesce(sum(CASE WHEN n = 2 AND c > 1 THEN c END), 0)
                             / CAST(greatest(sum(CASE WHEN n = 2 THEN c END), 1)
                                    AS DOUBLE), 4) AS dup2_frac
                FROM counts GROUP BY doc_id
            )
            SELECT doc_id, top2_frac, top3_frac, dup2_frac,
                   CAST(top2_frac <= 0.20 AND top3_frac <= 0.18
                        AND dup2_frac <= 0.60 AS INT) AS keep
            FROM stats
        """,
        "embed_quantize": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ), s AS (
                SELECT vec_id, v,
                       CASE WHEN m > 0 THEN m ELSE 1.0 END AS scale
                FROM (SELECT vec_id, v,
                             list_max(list_transform(v, x -> abs(x))) AS m
                      FROM v)
            ), q AS (
                SELECT vec_id, scale,
                       list_transform(v, x -> CAST(
                           sign(x / scale * 127.0)
                           * floor(abs(x / scale * 127.0) + 0.5) AS INT)) AS q
                FROM s
            )
            SELECT vec_id, round(scale, 6) AS scale,
                   CAST(list_sum(q) AS BIGINT) AS q_sum,
                   CAST(list_min(q) AS INT) AS q_min,
                   CAST(list_max(q) AS INT) AS q_max
            FROM q
        """,
        "chunk_text": """
            WITH w AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)),
                                          '[ \\t\\n\\x0B\\f\\r]+') AS w
                FROM documents
            )
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_idx,
                   array_to_string(w[CAST(i*12+1 AS INT):CAST(i*12+16 AS INT)],
                                   ' ') AS chunk_text,
                   CAST(len(w[CAST(i*12+1 AS INT):CAST(i*12+16 AS INT)]) AS INT)
                       AS chunk_words
            FROM w, LATERAL unnest(range(0,
                 CAST(ceil(greatest(len(w) - 4, 1) / 12.0) AS BIGINT))) AS t(i)
        """,
        "term_stats": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)),
                              '[ \\t\\n\\x0B\\f\\r]+')) AS term
                FROM documents
            ), per AS (
                SELECT term, count(DISTINCT doc_id) AS doc_freq,
                       count(*) AS term_count
                FROM toks GROUP BY term
            ), nn AS (SELECT count(*) AS n FROM documents)
            SELECT term, doc_freq, term_count,
                   round(ln((n - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0), 6)
                       AS idf
            FROM per, nn WHERE doc_freq >= 2
        """,
        "decontam": """
            WITH w AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text),
                           '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(len(w) - 2, 1) + 1),
                           i -> array_to_string(w[i:i+2], ' ')))) AS g
                FROM w
            ), hashed AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS gh
                FROM grams
            ), ev AS (
                SELECT DISTINCT gh FROM hashed WHERE doc_id % 37 = 0
            ), hits AS (
                SELECT h.doc_id, count(DISTINCT h.gh) AS n_overlap
                FROM hashed h JOIN ev USING (gh)
                WHERE h.doc_id % 37 <> 0
                GROUP BY h.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(hits.n_overlap, 0) AS BIGINT) AS n_overlap,
                   CAST(coalesce(hits.n_overlap, 0) > 0 AS INT) AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d
            LEFT JOIN hits USING (doc_id)
        """,
        "explode_1n": """
            WITH p AS (SELECT doc_id,
                              string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+') AS pieces
                       FROM documents)
            SELECT doc_id, CAST(i - 1 AS INT) AS piece_idx,
                   length(pieces[i]) AS piece_len
            FROM p, LATERAL (SELECT unnest(range(1, len(pieces)+1)) AS i) t
        """,
        "poly_bbox": """
            WITH pts AS (
                SELECT l_orderkey, l_linenumber,
                       CAST(l_partkey % 100 AS DOUBLE) AS x0,
                       CAST(l_suppkey % 100 AS DOUBLE) AS y0,
                       CAST((l_partkey + 13) % 100 AS DOUBLE) AS x1,
                       CAST((l_suppkey + 7) % 100 AS DOUBLE) AS y1,
                       CAST((l_partkey + 29) % 100 AS DOUBLE) AS x2,
                       CAST((l_suppkey + 3) % 100 AS DOUBLE) AS y2
                FROM lineitem LIMIT 5000
            )
            SELECT l_orderkey, l_linenumber,
                   least(x0, x1, x2) AS x_min, least(y0, y1, y2) AS y_min,
                   greatest(x0, x1, x2) AS x_max, greatest(y0, y1, y2) AS y_max
            FROM pts
        """,
        "circle_rect": """
            SELECT * FROM (
                SELECT l_orderkey, l_linenumber,
                       CAST(l_partkey % 100 AS DOUBLE) AS rx1,
                       CAST(l_suppkey % 100 AS DOUBLE) AS ry1,
                       CAST((l_partkey % 100) + 10 AS DOUBLE) AS rx2,
                       CAST((l_suppkey % 100) + 10 AS DOUBLE) AS ry2
                FROM lineitem
            )
            WHERE power(50.0 - greatest(rx1, least(50.0, rx2)), 2)
                + power(50.0 - greatest(ry1, least(50.0, ry2)), 2) <= 144.0
        """,
        "topk_per_group": """
            SELECT event_type, event_id, round(value, 4) AS value, rank FROM (
                SELECT event_type, event_id, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value DESC, event_id ASC) AS rank
                FROM events
            ) WHERE rank <= 3
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
                   round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
                   round(quantile_cont(l_extendedprice, 0.99), 2) AS p99
            FROM lineitem GROUP BY l_returnflag
        """,
        "pivot": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'view') AS n_view,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'error') AS n_error
            FROM events GROUP BY user_id
        """,
        "rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                   coalesce(l_linestatus, 'ALL') AS l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "display_format": """
            SELECT l_orderkey, l_linenumber,
                   printf('%.3f', floor((l_quantity/51.0 + l_discount/7.0)
                          * 1000 + 0.5) / 1000.0) AS score_disp,
                   printf('%.1f', floor((l_quantity/51.0 + l_discount/7.0)
                          * 1000 + 0.5) / 10.0) || '%' AS score_pct
            FROM lineitem WHERE l_orderkey < 3000
        """,
        "cube": """
            SELECT coalesce(l_returnflag, '-') AS l_returnflag,
                   coalesce(l_linestatus, '-') AS l_linestatus,
                   CAST(grouping(l_returnflag) AS INT) AS g_rf,
                   CAST(grouping(l_linestatus) AS INT) AS g_ls,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "asof_join": """
            SELECT user_id, event_id, coalesce(prior_view_epoch, -1) AS prior_view_epoch FROM (
                SELECT user_id, event_id, event_type,
                       last_value(CASE WHEN event_type = 'view'
                                       THEN CAST(floor(epoch(ts)) AS BIGINT) END
                                  IGNORE NULLS)
                           OVER (PARTITION BY user_id
                                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS prior_view_epoch
                FROM events
            ) WHERE event_type = 'click'
        """,
        "set_ops": """
            WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0),
                 b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
            SELECT c_custkey, 'both' AS src FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
            UNION ALL
            SELECT c_custkey, 'pos_only' AS src FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        """,
        "refine_coalesce": """
            WITH cand AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 0 THEN NULL
                            WHEN doc_id % 4 = 1 THEN '  ' || chr(10) || ' '
                            WHEN doc_id % 4 = 2 THEN '[[' || substr(text, 1, 8) || ']]'
                            ELSE 'ENH  ' || substr(text, 1, 15) END AS t_enh,
                       CASE WHEN n_chars % 5 = 0 THEN NULL
                            ELSE substr(text, 5, 20) END AS t_ocr
                FROM documents
            ), normed AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                           coalesce(t_enh, ''),
                           '\\[\\[.*?\\]\\]', '', 'g'), '[ \t]+', ' ', 'g'),
                           ' ?\n ?', chr(10), 'g'),
                           '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') AS n_enh,
                       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                           coalesce(t_ocr, ''),
                           '\\[\\[.*?\\]\\]', '', 'g'), '[ \t]+', ' ', 'g'),
                           ' ?\n ?', chr(10), 'g'),
                           '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') AS n_ocr
                FROM cand
            )
            SELECT doc_id,
                   coalesce(nullif(n_enh, ''), nullif(n_ocr, ''), '') AS final_text
            FROM normed
        """,
        "extraction_text_branch": """
            WITH base AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS words
                FROM documents
            ), chunked AS (
                SELECT doc_id,
                       CAST(i - 1 AS INT) AS span_idx,
                       array_to_string(words[(i-1)*8+1 : (i-1)*8+8], ' ') AS piece
                FROM base, LATERAL (
                    SELECT unnest(range(1, greatest(CAST(ceil(len(words)/8.0) AS INT), 1) + 1)) AS i
                ) t
            )
            SELECT doc_id, span_idx,
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(piece,
                        '\\[\\[.*?\\]\\]', '', 'g'),
                        '[ \t]+', ' ', 'g'),
                        ' ?\n ?', chr(10), 'g'),
                        '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') AS text
            FROM chunked
            WHERE length(regexp_replace(regexp_replace(regexp_replace(piece,
                        '\\[\\[.*?\\]\\]', '', 'g'),
                        '[ \t]+', ' ', 'g'),
                        '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g')) > 0
        """,
        "stream_metrics": """
            SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT)
                       AS win_start,
                   event_type, count(*) AS n, round(sum(value), 4) AS v
            FROM events GROUP BY 1, 2
        """,
        "interval_join": """
            WITH ev AS (
                SELECT user_id, event_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS epoch
                FROM events
            ), signups AS (
                SELECT user_id, event_id AS signup_id, epoch AS s,
                       epoch + 5400 AS e
                FROM ev WHERE event_type = 'signup'
            ), clicks AS (
                SELECT user_id, event_id AS click_id, epoch
                FROM ev WHERE event_type = 'click'
            )
            SELECT c.user_id, c.click_id, sg.signup_id,
                   c.epoch - sg.s AS delay_s
            FROM clicks c JOIN signups sg
              ON c.user_id = sg.user_id
             AND c.epoch >= sg.s AND c.epoch <= sg.e
        """,
        "funnel": """
            WITH ev AS (
                SELECT user_id, event_type,
                       CAST(floor(epoch(ts)) AS BIGINT) AS epoch
                FROM events
            ), v AS (
                SELECT user_id, min(epoch) AS t1 FROM ev
                WHERE event_type = 'view' GROUP BY user_id
            ), c AS (
                SELECT e.user_id, min(e.epoch) AS t2
                FROM ev e JOIN v ON e.user_id = v.user_id
                WHERE e.event_type = 'click'
                  AND e.epoch >= v.t1 AND e.epoch <= v.t1 + 604800
                GROUP BY e.user_id
            ), p AS (
                SELECT e.user_id, min(e.epoch) AS t3
                FROM ev e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase'
                  AND e.epoch >= c.t2 AND e.epoch <= c.t2 + 604800
                GROUP BY e.user_id
            )
            SELECT u.user_id,
                   coalesce(v.t1, -1) AS t_view,
                   coalesce(c.t2, -1) AS t_click,
                   coalesce(p.t3, -1) AS t_purchase,
                   CAST(v.t1 IS NOT NULL AS INT)
                 + CAST(c.t2 IS NOT NULL AS INT)
                 + CAST(p.t3 IS NOT NULL AS INT) AS stage
            FROM (SELECT DISTINCT user_id FROM ev) u
            LEFT JOIN v ON u.user_id = v.user_id
            LEFT JOIN c ON u.user_id = c.user_id
            LEFT JOIN p ON u.user_id = p.user_id
        """,
        "retention": """
            WITH ev AS (
                SELECT DISTINCT user_id,
                       CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 604800)
                            AS BIGINT) AS week
                FROM events
            ), fw AS (
                SELECT user_id, min(week) AS cohort FROM ev GROUP BY user_id
            )
            SELECT fw.cohort, ev.week - fw.cohort AS week_offset,
                   count(DISTINCT ev.user_id) AS n_users
            FROM ev JOIN fw ON ev.user_id = fw.user_id
            GROUP BY fw.cohort, ev.week - fw.cohort
        """,
        # the expected main content IS the wrapper's h1 + the source text
        # (whitespace collapsed on the pinned ASCII class): boilerplate
        # must drop, escaping must undo, blocks separate on newline
        # blank-text guard: a whitespace-only text yields an empty block
        # that the extractor's text_of drops entirely, so the trailing
        # chr(10) must be omitted or the twin hash-fails on such a corpus
        "html_main": """
            SELECT doc_id,
                   CASE WHEN body = '' THEN 'DOC ' || CAST(doc_id AS VARCHAR)
                        ELSE 'DOC ' || CAST(doc_id AS VARCHAR) || chr(10)
                             || body END AS main_text
            FROM (
                SELECT doc_id,
                       trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+',
                                           ' ', 'g')) AS body
                FROM documents
            )
        """,
        # wrapper structure is deterministic per doc_id: title/h1 carry the
        # doc tag; links = nav 3 + sidebar (doc_id%4+1) + footer 1
        "html_meta": """
            SELECT doc_id,
                   'DOC ' || CAST(doc_id AS VARCHAR) AS title,
                   'DOC ' || CAST(doc_id AS VARCHAR) AS headline,
                   CAST(doc_id % 4 + 5 AS BIGINT) AS n_links,
                   '/ /a /b' || repeat(' #', CAST(doc_id % 4 + 1 AS INT))
                             || ' #' AS links_joined
            FROM documents
        """,
        "stream_dedup": """
            SELECT DISTINCT
                   CAST('0x' || substr(md5(trim(regexp_replace(lower(text),
                        '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) || '#0'), 1, 15)
                        AS BIGINT) AS h1
            FROM documents
        """,
        "stateful_sessions": """
            WITH e AS (
                SELECT CAST(user_id AS VARCHAR) AS user_id, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS epoch
                FROM events
            ), mx AS (SELECT max(epoch) AS m FROM e),
            flagged AS (
                SELECT user_id, event_id, epoch,
                       CASE WHEN lag_e IS NULL OR epoch - lag_e <= 1800
                            THEN 0 ELSE 1 END AS flag
                FROM (
                    SELECT user_id, event_id, epoch,
                           lag(epoch) OVER (PARTITION BY user_id
                                            ORDER BY epoch, event_id) AS lag_e
                    FROM e
                )
            ), sess AS (
                SELECT user_id, epoch,
                       sum(flag) OVER (PARTITION BY user_id
                                       ORDER BY epoch, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            ), agg AS (
                SELECT user_id, sid, count(*) AS n,
                       min(epoch) AS st, max(epoch) AS en,
                       max(sid) OVER (PARTITION BY user_id) AS max_sid
                FROM sess GROUP BY user_id, sid
            )
            SELECT user_id,
                   CAST(n AS BIGINT) AS n_events,
                   st AS start_epoch, en AS end_epoch,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY st)
                        - 1 AS INT) AS session_seq
            FROM agg, mx
            -- emitted iff gap-closed by a later event of the SAME user
            -- (sid < max_sid) OR watermark-closed (m > en + gap + 1):
            -- gap-closure alone covers the boundary case where the closing
            -- event IS the global max and en + 1801 == m exactly
            WHERE sid < max_sid OR m > en + 1801
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
    }
    # ANN value-twins (round-2 verdict #1): both approximate-search queries
    # are SQL-expressible once their "model" state is folded in as literals
    # — the SRP hyperplanes are seeded constants, the IVF centroids are
    # retrained identically from the same deterministic sample.
    from ner_ocr_spark.operators.similarity import lsh_topk_oracle_sql

    out["lsh_topk"] = lsh_topk_oracle_sql(k=5, dim=64, n_planes=8)
    bpe = _bpe_oracle_sql()
    if bpe is not None:
        out["bpe_tokenize"] = bpe
    # pdf_info_roundtrip: the metadata strings are pure functions of
    # (doc_id, text); an exact round trip means the SQL construction IS
    # the expected output (mode names included — they rotate by doc_id)
    out["pdf_info_roundtrip"] = """
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR) || ' — '
                      || coalesce(substr(text, 1, 20), '') AS title,
               'author' || CAST(doc_id % 7 AS VARCHAR) AS author,
               CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN 'rc4-40' WHEN 1 THEN 'rc4-128'
                   WHEN 2 THEN 'aes-128' ELSE 'aes-256' END AS mode
        FROM documents WHERE doc_id < 40
    """

    # --- generated minhash twins (shared sig-CTE template; the affine
    # family constants are the Spark side's 2i+1 / 7919*(i+1)) ---
    def _minhash_sig_ctes(source_sql: str) -> str:
        return f"""
            WITH grams AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(w) - 2, 1) + 1),
                           i -> array_to_string(w[i:i+2], ' '))) AS shingles
                FROM (
                    SELECT doc_id,
                           string_split(trim(regexp_replace(lower(text),
                                             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS w
                    FROM ({source_sql})
                )
            ), hashed AS (
                SELECT doc_id,
                       list_transform(shingles,
                           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                                % 2147483648) AS hs
                FROM grams
            ), sig AS (
                SELECT doc_id,
                   list_min(list_transform(hs, h -> (h *  1 +  7919) % 2147483647)) AS mh0,
                   list_min(list_transform(hs, h -> (h *  3 + 15838) % 2147483647)) AS mh1,
                   list_min(list_transform(hs, h -> (h *  5 + 23757) % 2147483647)) AS mh2,
                   list_min(list_transform(hs, h -> (h *  7 + 31676) % 2147483647)) AS mh3,
                   list_min(list_transform(hs, h -> (h *  9 + 39595) % 2147483647)) AS mh4,
                   list_min(list_transform(hs, h -> (h * 11 + 47514) % 2147483647)) AS mh5,
                   list_min(list_transform(hs, h -> (h * 13 + 55433) % 2147483647)) AS mh6,
                   list_min(list_transform(hs, h -> (h * 15 + 63352) % 2147483647)) AS mh7
                FROM hashed
            )"""

    def _minhash_pairs_twin(source_sql: str, cap: int) -> str:
        # the stop-hash cap: a band bucket only generates candidates when
        # its df <= cap; the per-band df is count() over the band VALUE
        # (bands of 1 row => bucket == mh_i; band_hash is injective mod
        # 64-bit xxhash collisions, the same assumption the uncapped twin
        # already made for the join condition itself)
        conds = " OR ".join(
            f"(l.mh{i} = r.mh{i} AND l.c{i} <= {cap})" for i in range(8)
        )
        counts = ",\n                   ".join(
            f"count(*) OVER (PARTITION BY mh{i}) AS c{i}" for i in range(8)
        )
        return f"""{_minhash_sig_ctes(source_sql)}, sigc AS (
                SELECT *,
                   {counts}
                FROM sig
            )
            SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                   round((CAST(l.mh0 = r.mh0 AS INT) + CAST(l.mh1 = r.mh1 AS INT)
                        + CAST(l.mh2 = r.mh2 AS INT) + CAST(l.mh3 = r.mh3 AS INT)
                        + CAST(l.mh4 = r.mh4 AS INT) + CAST(l.mh5 = r.mh5 AS INT)
                        + CAST(l.mh6 = r.mh6 AS INT) + CAST(l.mh7 = r.mh7 AS INT))
                        / 8.0, 4) AS est_jaccard
            FROM sigc l JOIN sigc r
              ON l.doc_id < r.doc_id
             AND ({conds})
        """

    out["minhash_pairs_md5"] = _minhash_pairs_twin(
        "SELECT doc_id, text FROM documents WHERE doc_id < 150", 2
    )
    _skew_src = (
        "SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN '" + _SKEW_TEXT
        + "' ELSE text END AS text FROM documents WHERE doc_id < 150"
    )
    out["stophash_cap"] = _minhash_pairs_twin(_skew_src, 8)
    # born-digital PDF round trip: the reader must reproduce the writer's
    # 10-word line split exactly, so the twin IS that split in SQL
    # (array_to_string of an empty list is NULL in DuckDB — coalesce)
    out["pdf_text_roundtrip"] = """
        SELECT doc_id,
               coalesce(array_to_string(
                   list_transform(
                       range(0, CAST(ceil(len(w) / 10.0) AS BIGINT)),
                       i -> array_to_string(w[i*10+1 : i*10+10], ' ')),
                   chr(10)), '') AS pdf_text
        FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(text,
                       '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS w
            FROM documents WHERE doc_id < 100
        )
    """
    _bands_union = "\n                UNION ALL ".join(
        f"SELECT {i} AS b, mh{i} AS v FROM sig" for i in range(8)
    )
    out["hot_buckets"] = f"""{_minhash_sig_ctes(_skew_src)}, u AS (
                {_bands_union}
            )
            SELECT CAST(b AS INT) AS band_idx,
                   count(*) AS bucket_df,
                   CAST((count(*) * (count(*) - 1)) // 2 AS BIGINT)
                       AS pairs_avoided
            FROM u GROUP BY b, v HAVING count(*) > 8
        """
    ivf = _ivf_oracle_sql()
    if ivf is not None:
        out["ivf_topk"] = ivf
    out["fingerprint_pairs"] = """
        WITH inj AS (
            SELECT d.doc_id, d.text || ' ' || substr(a.text, 1, 60) AS raw
            FROM documents d
            JOIN documents a ON a.doc_id = d.doc_id - d.doc_id % 10
            WHERE d.doc_id < 200
        ), n AS (
            SELECT doc_id,
                   trim(regexp_replace(lower(raw),
                        '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
            FROM inj
        ), h AS (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(length(t) - 7, 1) + 1),
                       i -> CAST('0x' || substr(md5(substr(t, CAST(i AS INT), 8)),
                                                1, 15) AS BIGINT)) AS hs
            FROM n
        ), w AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(hs) - 15, 1) + 1),
                       j -> list_min(hs[j:j+15]))) AS fp
            FROM h
        ), e0 AS (SELECT doc_id, len(fp) AS n_fp, unnest(fp) AS h FROM w
        ), e AS (
            -- stop-hash cap twin (max_bucket_df=64 in the Spark query)
            SELECT * FROM e0 QUALIFY count(*) OVER (PARTITION BY h) <= 64
        )
        SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_shared,
               round(count(*) / CAST(any_value(l.n_fp) + any_value(r.n_fp)
                                     - count(*) AS DOUBLE), 4) AS fp_jaccard
        FROM e l JOIN e r ON l.h = r.h AND l.doc_id < r.doc_id
        GROUP BY l.doc_id, r.doc_id
        HAVING count(*) >= 2
    """
    out["source_mix"] = f"""
        WITH g AS (
            SELECT doc_id, n_words, mean_word_len, keep
            FROM ({out["gopher_filter"]})
        )
        SELECT d.source,
               count(*) AS n_docs,
               CAST(sum(g.n_words) AS BIGINT) AS n_tokens,
               round(avg(g.mean_word_len), 4) AS avg_word_len,
               CAST(sum(g.keep) AS BIGINT) AS n_keep,
               round(avg(CAST(g.keep AS DOUBLE)), 4) AS keep_rate
        FROM documents d JOIN g ON d.doc_id = g.doc_id
        GROUP BY d.source
    """
    # PII twin: the pattern strings are shared VERBATIM from operators/pii
    # (RE2-compatible subset), injected PII is the same pure function of
    # doc_id on both engines
    from ner_ocr_spark.operators.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    out["pii_scrub"] = f"""
        WITH inj AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com tel +1 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
            FROM documents
        ), s1 AS (
            SELECT doc_id,
                   len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_email,
                   regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1
            FROM inj
        ), s2 AS (
            SELECT doc_id, n_email,
                   len(regexp_extract_all(t1, '{IPV4_RE}')) AS n_ip,
                   regexp_replace(t1, '{IPV4_RE}', '<IP>', 'g') AS t2
            FROM s1
        ), s3 AS (
            SELECT doc_id, n_email, n_ip,
                   len(regexp_extract_all(t2, '{PHONE_RE}')) AS n_phone,
                   regexp_replace(t2, '{PHONE_RE}', '<PHONE>', 'g') AS t3
            FROM s2
        )
        SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
               CAST(n_ip AS BIGINT) AS n_ip,
               CAST(n_phone AS BIGINT) AS n_phone,
               md5(t3) AS scrub_md5
        FROM s3
    """
    # curation twin: ASSEMBLED from the per-stage fragments above — the
    # quality/repetition stage SQL is embedded verbatim as subqueries, so
    # the composition cannot drift from the individually-verified stages
    out["curation_pipeline"] = f"""
        WITH gq AS (SELECT doc_id, keep FROM ({out["gopher_filter"]})),
             rq AS (SELECT doc_id, keep FROM ({out["repetition_stats"]})),
             kept AS (
                 SELECT d.doc_id, d.lang, d.text FROM documents d
                 JOIN gq ON d.doc_id = gq.doc_id AND gq.keep = 1
                 JOIN rq ON d.doc_id = rq.doc_id AND rq.keep = 1
             ),
             keyed AS (
                 SELECT doc_id, lang, text,
                        CAST('0x' || substr(md5(trim(regexp_replace(
                             lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))),
                             1, 15) AS BIGINT) AS k
                 FROM kept
             ),
             dd AS (
                 SELECT doc_id, lang, text FROM (
                     SELECT *, row_number() OVER (
                         PARTITION BY k ORDER BY doc_id) AS rn
                     FROM keyed
                 ) WHERE rn = 1
             ),
             samp AS (
                 SELECT doc_id, lang, text FROM dd
                 WHERE CAST('0x' || substr(md5(
                           CAST(doc_id AS VARCHAR) || ':7'), 1, 15) AS BIGINT)
                       / 1152921504606846976.0
                       < CASE WHEN lang = 'en' THEN 0.6
                              WHEN lang = 'de' THEN 0.3
                              ELSE 0.2 END
             ),
             t AS (
                 SELECT doc_id,
                        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                             1, 15) AS BIGINT) % 8 AS shard,
                        CAST(len(string_split_regex(trim(lower(text)),
                             '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
                 FROM samp
             ),
             c AS (
                 SELECT doc_id, shard, n_tokens,
                        CAST(sum(n_tokens) OVER (
                             PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                            AS start_offset
                 FROM t
             )
        SELECT doc_id, shard, n_tokens, start_offset,
               CAST(floor(start_offset / 256.0) AS BIGINT) AS seq_first,
               CAST(floor((start_offset + n_tokens - 1) / 256.0) AS BIGINT)
                   AS seq_last
        FROM c
    """
    return out

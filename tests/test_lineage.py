"""Checkpoint/resume + lineage tests (SURVEY.md §5.2.4-5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_ocr_spark import lineage, pipeline


def test_resume_no_dups_no_gaps(spark, documents_df, tmp_path):
    out = str(tmp_path / "snap")
    # "crash" after 3 of 8 chunks
    s1 = lineage.run_checkpointed(spark, documents_df, out, n_chunks=8, max_chunks=3)
    assert 0 < s1["chunks_done"] <= 3
    partial = lineage.read_output(spark, out).select("doc_id").distinct().count()
    assert partial < documents_df.count()
    # restart: processes only the remainder
    s2 = lineage.run_checkpointed(spark, documents_df, out, n_chunks=8)
    data = lineage.read_output(spark, out)
    n_docs = documents_df.count()
    assert data.select("doc_id").distinct().count() == n_docs
    # no duplicates: every (doc_id, span_idx, line_idx) appears exactly once
    dup = (
        data.groupBy("doc_id", "span_idx", "line_idx")
        .count().filter("count > 1").count()
    )
    assert dup == 0
    # content identical to a single-shot run
    single = pipeline.extract_spans(documents_df)
    a = {tuple(r) for r in single.select(
        "doc_id", "span_idx", "line_idx", "kind", "text", "media_ref").collect()}
    b = {tuple(r) for r in data.select(
        "doc_id", "span_idx", "line_idx", "kind", "text", "media_ref").collect()}
    assert a == b


def test_rerun_on_complete_output_is_noop(spark, documents_df, tmp_path):
    out = str(tmp_path / "snap2")
    lineage.run_checkpointed(spark, documents_df, out, n_chunks=4)
    before = lineage.read_output(spark, out).count()
    s = lineage.run_checkpointed(spark, documents_df, out, n_chunks=4)
    assert s["docs_done"] == 0
    assert lineage.read_output(spark, out).count() == before


def test_lineage_rows_cover_all_spans(spark, documents_df, tmp_path):
    out = str(tmp_path / "snap3")
    lineage.run_checkpointed(spark, documents_df, out, n_chunks=4)
    lin = lineage.read_lineage(spark, out)
    assert lin.count() > 0
    total_spans = lin.agg(F.sum("n_spans")).collect()[0][0]
    assert total_spans == lineage.read_output(spark, out).count()
    assert lin.filter("n_errors > 0").count() == 0
    cols = set(lin.columns)
    assert {"run_id", "chunk", "partition_id", "n_docs", "n_spans",
            "n_errors", "wall_ms"} <= cols


def test_media_branch_spreads_heavy_doc(spark):
    """Skew test (SURVEY.md §5.2.5): one media-heavy doc among small docs
    must spread across partitions, not serialize on one task. The rows go
    through the placement extract_spans uses (cost as without blobs=)."""
    from ner_ocr_spark import corpus
    from ner_ocr_spark.operators.balance import balance_by_cost
    from tests.conftest import DOC_SCHEMA

    rows = [{"doc_id": "heavy0", "spans": corpus.doc_spans("heavy0", heavy=True)}]
    rows += corpus.build_documents(10)
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    spans = pipeline.explode_spans(docs)
    media = balance_by_cost(spans.filter(F.col("kind") == "media"),
                            F.length("text"), 8)
    per_part = (
        media.select(F.spark_partition_id().alias("p"))
        .groupBy("p").count().collect()
    )
    counts = [r["count"] for r in per_part]
    n_media = sum(counts)
    heavy_spans = len([s for s in corpus.doc_spans("heavy0", heavy=True)
                       if s["kind"] == "media"])
    assert heavy_spans >= 30
    # the heavy doc alone exceeds any single partition's share -> it spread
    assert max(counts) < heavy_spans
    assert len(counts) >= 4


def _partition_costs(df) -> list[int]:
    return [r["c"] for r in df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum("cost").alias("c")).collect()]


def test_balance_by_cost_beats_hash_spread(spark):
    """The cost deal must equalize per-partition cost when row costs are
    wildly skewed (one giant row per group of small ones), and must reach
    every partition when the upstream partitions hold fewer rows than there
    are targets: a round-robin that restarts at bin 0 in every upstream
    partition fills only the low bins (14 of 32, max/mean 3.02)."""
    from ner_ocr_spark.operators.balance import balance_by_cost

    rows = [(f"d{i % 40}", i, 1000 if i % 50 == 0 else 10) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id string, span_idx int, cost long")
    placed = balance_by_cost(df, F.col("cost"), 8)
    costs = _partition_costs(placed)
    assert placed.count() == 500
    assert max(costs) <= sum(costs) / 8 * 1.8

    rows = [(f"d{i % 40}", i, 1000 if i % 20 == 0 else 10 + i % 13)
            for i in range(186)]
    df = spark.createDataFrame(rows, "doc_id string, span_idx int, cost long")
    placed = balance_by_cost(df, F.col("cost"), 32)
    costs = _partition_costs(placed)
    assert len(costs) == 32
    assert placed.count() == 186
    assert max(costs) <= sum(costs) / 32 * 2.9


def test_iceberg_format_flag(spark, tmp_path, documents_df):
    """table_format='iceberg' routes every read/write through the Iceberg
    DataSource. Skipped when the connector jars are absent (this
    container); with jars present the checkpoint semantics must match the
    parquet path exactly."""
    import pytest

    from ner_ocr_spark import lineage

    try:
        stats = lineage.run_checkpointed(
            spark, documents_df.limit(4), str(tmp_path / "ice"),
            n_chunks=2, with_ner=False, table_format="iceberg",
        )
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        if "Failed to find" in msg or "ClassNotFound" in msg or "iceberg" in msg.lower():
            pytest.skip("iceberg connector jars not present in this image")
        raise
    out = lineage.read_output(spark, str(tmp_path / "ice"), table_format="iceberg")
    assert out.select("doc_id").distinct().count() == stats["docs_done"]

"""Checkpointed, resumable runs with per-partition lineage + metrics rows
(SURVEY.md §4.3.3; north rule: "every partition writes lineage + metrics
rows so the job resumes from the last committed snapshot checkpoint").

Snapshot pattern without an Iceberg catalog (no connector jars in this
image; the layout is Iceberg-shaped — an append-only data dir + a lineage
table). `table_format` IS that format string: pass "iceberg" where the
runtime ships the Iceberg connector and both tables commit through it
(tests skip when the DataSource is absent, proving the flag is wired):

  out_dir/data/     — extracted span rows, appended per committed chunk
  out_dir/lineage/  — one row per (run, chunk, partition): doc/span/error
                      counts + wall time

The unit of commit is a doc_id hash chunk. Resume = anti-join the input
against the doc_ids already present in the DATA (not the lineage — data is
what must not duplicate; lineage is observability), so a crash between the
data commit and the lineage append cannot double-process a chunk.

The reference has no analog (closest: per-file error-skip,
/root/reference/src/pipelines/base.py:44-57); this is the scale feature the
north rule adds.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ner_ocr_spark import pipeline


def _data_dir(out_dir: str) -> str:
    return f"{out_dir.rstrip('/')}/data"


def _lineage_dir(out_dir: str) -> str:
    return f"{out_dir.rstrip('/')}/lineage"


def _write_append(df: DataFrame, path: str, table_format: str) -> None:
    df.write.mode("append").format(table_format).save(path)


def _read(spark: SparkSession, path: str, table_format: str) -> DataFrame:
    return spark.read.format(table_format).load(path)


def committed_doc_ids(
    spark: SparkSession, out_dir: str, table_format: str = "parquet"
) -> DataFrame | None:
    """Distinct doc_ids already in the committed output, or None if no
    snapshot exists yet."""
    try:
        return _read(spark, _data_dir(out_dir), table_format).select(
            "doc_id"
        ).distinct()
    except Exception as e:  # noqa: BLE001 — no committed data yet
        if "Failed to find" in str(e) or "ClassNotFound" in str(e):
            raise  # missing DataSource is a config error, not an empty dir
        return None


def remaining_documents(
    documents: DataFrame, out_dir: str, table_format: str = "parquet"
) -> DataFrame:
    """Checkpoint anti-join (SURVEY.md §2.3): input minus committed."""
    done = committed_doc_ids(documents.sparkSession, out_dir, table_format)
    if done is None:
        return documents
    return documents.join(done, "doc_id", "left_anti")


def partition_metrics(extracted: DataFrame, run_id: str, chunk: int) -> DataFrame:
    """Per-partition metrics rows: doc/span/error counts keyed by the
    physical partition that produced them, plus one rollup total row
    (partition_id NULL; its n_docs is the distinct doc count of the whole
    input). The rollup groups a materialized partition_id column:
    rollup(spark_partition_id()) itself fails analysis."""
    return (
        extracted.withColumn("partition_id", F.spark_partition_id())
        .rollup("partition_id")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_spans"),
            F.sum(F.col("error").isNotNull().cast("int")).alias("n_errors"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(chunk).alias("chunk"),
            "partition_id",
            "n_docs",
            "n_spans",
            "n_errors",
        )
    )


def commit_chunk(
    extracted: DataFrame,
    out_dir: str,
    run_id: str,
    chunk: int,
    table_format: str = "parquet",
) -> int:
    """Commit one chunk of extracted rows: append the data, then one
    lineage row per partition with the chunk's wall time. Returns the
    chunk's distinct doc count; an empty chunk writes nothing and
    returns 0. One job over the cached chunk collects every count
    before the data append and the lineage append."""
    t0 = time.monotonic()
    extracted = extracted.persist()
    try:
        # collect metrics BEFORE appending: extracted's plan anti-joins
        # against the committed dir, so any post-append re-evaluation
        # (cache eviction, new file index) would see the chunk's own rows
        # as committed and silently compute over nothing
        rows = partition_metrics(extracted, run_id, chunk).collect()
        per_part = [r for r in rows if r["partition_id"] is not None]
        if not per_part:  # a rollup over no rows has no total row either
            return 0
        _write_append(extracted, _data_dir(out_dir), table_format)
        wall_ms = int((time.monotonic() - t0) * 1000)
        _write_append(
            extracted.sparkSession.createDataFrame(per_part)
            .withColumn("wall_ms", F.lit(wall_ms)),
            _lineage_dir(out_dir), table_format,
        )
        return next(r["n_docs"] for r in rows if r["partition_id"] is None)
    finally:
        extracted.unpersist()


def run_checkpointed(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    n_chunks: int = 8,
    max_chunks: int | None = None,
    run_id: str | None = None,
    table_format: str = "parquet",
    **extract_kwargs,
) -> dict:
    """Extract in doc_id-hash chunks, committing data + lineage per chunk.

    max_chunks caps how many chunks this invocation processes (the resume
    test's crash injection). Re-running after a partial run processes only
    uncommitted documents — no duplicates, no gaps.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    todo = remaining_documents(documents, out_dir, table_format)
    stats = {"run_id": run_id, "chunks_done": 0, "docs_done": 0}
    for chunk in range(n_chunks):
        if max_chunks is not None and stats["chunks_done"] >= max_chunks:
            break
        subset = todo.filter(F.pmod(F.xxhash64("doc_id"), F.lit(n_chunks)) == chunk)
        n_docs = commit_chunk(pipeline.extract_spans(subset, **extract_kwargs),
                              out_dir, run_id, chunk, table_format)
        if n_docs:
            stats["chunks_done"] += 1
            stats["docs_done"] += n_docs
    return stats


def read_output(
    spark: SparkSession, out_dir: str, table_format: str = "parquet"
) -> DataFrame:
    return _read(spark, _data_dir(out_dir), table_format)


def read_lineage(
    spark: SparkSession, out_dir: str, table_format: str = "parquet"
) -> DataFrame:
    return _read(spark, _lineage_dir(out_dir), table_format)

"""Sinks (SURVEY.md §2.1 S6/S7).

S6 — reference-format JSON sink: serialize span rows per document with the
image-payload columns stripped (/root/reference/src/utils.py:116-142 drops
original_image/bbox_image before json.dump; numpy scalar coercion is free
under Arrow). Output: one JSON object per doc, `{stem}_ocr_results.json`
shape — here a Spark json write of the assembled table (distributed, not a
driver loop).

S7 — results export: the doc results with the run's metadata (its run id)
on every row, the reference UI's export_results
(/root/reference/src/ui/app.py:882-925) as a table write.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# payload columns never serialized (reference strip list,
# /root/reference/src/utils.py:131-135)
PAYLOAD_COLS = ("bbox_image", "original_image", "image_png", "payload")


def strip_payload(df: DataFrame) -> DataFrame:
    """P2: drop image-payload columns before any sink."""
    drop = [c for c in PAYLOAD_COLS if c in df.columns]
    return df.drop(*drop) if drop else df


def write_json_results(assembled: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6: per-document JSON rows (doc_id, spans[, entities]) — the
    reference's `{stem}_ocr_results.json` as a distributed json write."""
    strip_payload(assembled).write.mode(mode).json(path)


def export_results(
    assembled: DataFrame,
    path: str,
    run_id: str | None = None,
    mode: str = "overwrite",
) -> None:
    """S7: bundle document results with the run's metadata (a JSON string
    column — metadata, not data-plane schema)."""
    meta = json.dumps({"run_id": run_id})
    out = strip_payload(assembled).withColumn("run_meta", F.lit(meta))
    out.write.mode(mode).json(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    order_col: str = "start_offset",
    max_records_per_file: int = 0,
    mode: str = "overwrite",
) -> None:
    """Training-data layout sink: one directory per shard
    (`shard=N/part-*.parquet`), rows sorted by `order_col` within files so
    a sequential trainer streams each shard's token stream in packing
    order without a read-side sort. Pairs with packing.pack_sequences
    (whose shard/offset columns define the layout); max_records_per_file
    bounds individual files for parallel readers. The repartition keys on
    the shard column so each shard's rows land in one task's files —
    partitionBy alone would scatter every shard across all tasks' files,
    breaking the one-directory-one-stream property."""
    out = df.repartition(F.col(shard_col)).sortWithinPartitions(
        shard_col, order_col
    )
    w = out.write.mode(mode).partitionBy(shard_col)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(int(max_records_per_file)))
    w.parquet(path)

"""JSON sink (S6/S7) and training-shard sink tests."""

from __future__ import annotations

import json

from ner_ocr_spark import pipeline, sinks


def test_json_sink_strips_payload_and_roundtrips(spark, documents_df, tmp_path):
    assembled = pipeline.run(spark, documents_df.limit(8))
    out = str(tmp_path / "json_out")
    sinks.write_json_results(assembled, out)
    back = spark.read.json(out)
    assert back.count() == 8
    assert set(back.columns) == {"doc_id", "spans"}
    # payload columns are stripped even if present
    with_payload = assembled.withColumn("image_png", assembled.doc_id.cast("binary"))
    assert "image_png" not in sinks.strip_payload(with_payload).columns


def test_export_results_records_run_id(spark, documents_df, tmp_path):
    assembled = pipeline.run(spark, documents_df.limit(4))
    out = str(tmp_path / "export")
    sinks.export_results(assembled, out, run_id="r42")
    back = spark.read.json(out)
    assert back.count() == 4
    meta = json.loads(back.select("run_meta").first()["run_meta"])
    assert meta == {"run_id": "r42"}


def test_write_training_shards_layout(spark, tmp_path):
    """Shard directories + in-file packing order: a sequential read of any
    one shard directory yields rows in start_offset order."""
    from pyspark.sql import functions as F

    from ner_ocr_spark.operators.packing import pack_sequences, shard_hash_md5
    from ner_ocr_spark.sinks import write_training_shards

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(5 + i % 7))) for i in range(200)],
        "doc_id long, text string",
    )
    packed = pack_sequences(docs, budget=64, shards=4,
                            shard_hash=shard_hash_md5)
    out = str(tmp_path / "shards")
    write_training_shards(packed, out)

    import os
    shard_dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(shard_dirs) == 4
    back = spark.read.parquet(out)
    assert back.count() == 200
    for d in shard_dirs:
        rows = spark.read.parquet(f"{out}/{d}").select(
            "start_offset", F.input_file_name().alias("f")
        ).collect()
        # rows within each file arrive in packing order
        by_file: dict[str, list] = {}
        for r in rows:
            by_file.setdefault(r["f"], []).append(r["start_offset"])
        for offs in by_file.values():
            assert offs == sorted(offs)


def test_cli_curate_end_to_end(spark, tmp_path):
    """python -m ner_ocr_spark curate: documents in -> shard-partitioned
    trainable parquet out (own JVM via subprocess; the CLI owns its
    session lifecycle)."""
    import json as json_mod
    import subprocess
    import sys

    src = str(tmp_path / "docs.parquet")
    out = str(tmp_path / "shards")
    spark.createDataFrame(
        [(i, ["en", "de"][i % 2],
          "the quick fox and dog went to town "
          + " ".join(f"w{(i * 13 + j) % 53} stone" for j in range(4 + i % 9)))
         for i in range(80)],
        "doc_id long, lang string, text string",
    ).write.parquet(src)

    proc = subprocess.run(
        [sys.executable, "-m", "ner_ocr_spark", "curate",
         "-i", src, "-o", out, "--rates", "en=1.0", "--default-rate", "1.0",
         "--budget", "64", "--shards", "2", "--master", "local[4]"],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json_mod.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["mode"] == "curate" and stats["n_docs"] > 0

    import duckdb
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT shard, count(*) AS n, min(start_offset) AS mn "
        f"FROM read_parquet('{out}/*/*.parquet', hive_partitioning=1) "
        f"GROUP BY shard ORDER BY shard"
    ).fetchall()
    assert len(rows) == 2  # both shard directories materialized
    for _, n, mn in rows:
        assert n > 0 and mn == 0  # each stream starts at offset 0
    cols = con.sql(
        f"SELECT * FROM read_parquet('{out}/*/*.parquet', hive_partitioning=1) LIMIT 1"
    ).columns
    assert "text" in cols and "seq_first" in cols  # trainable payload+placement

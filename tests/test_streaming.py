"""Structured Streaming tests: file-source extraction with incremental
arrival, and watermarked window metrics."""

from __future__ import annotations

from ner_ocr_spark import corpus, oracle, streaming
from tests.conftest import DOC_SCHEMA


def _write_docs(spark, path, lo, hi):
    rows = [
        {"doc_id": corpus.doc_id_for(i), "spans": corpus.doc_spans(corpus.doc_id_for(i))}
        for i in range(lo, hi)
    ]
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_stream_extract_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, inp, 0, 8)
    q = streaming.stream_extract(spark, inp, out, ckpt)
    q.awaitTermination(120)
    data1 = spark.read.parquet(f"{out}/data")
    assert data1.select("doc_id").distinct().count() == 8
    # more files arrive; a new availableNow run picks up ONLY the new ones
    _write_docs(spark, inp, 8, 12)
    q2 = streaming.stream_extract(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    data2 = spark.read.parquet(f"{out}/data")
    assert data2.select("doc_id").distinct().count() == 12
    dups = (
        data2.groupBy("doc_id", "span_idx", "line_idx").count()
        .filter("count > 1").count()
    )
    assert dups == 0
    # span-sequence equality holds through the streaming path
    doc0 = corpus.doc_id_for(0)
    rows = (
        data2.filter(f"doc_id = '{doc0}' and error is null")
        .orderBy("span_idx", "line_idx")
        .select("kind", "text", "media_ref").collect()
    )
    want = [(s["kind"], s["text"], s["media_ref"])
            for s in oracle.expected_spans(doc0)]
    assert [(r["kind"], r["text"], r["media_ref"]) for r in rows] == want
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.count() > 0
    # the streaming commit is the batch one: wall time recorded, and the
    # lineage spans add up to the committed data
    assert lin.filter("wall_ms is null").count() == 0
    assert lin.agg({"n_spans": "sum"}).collect()[0][0] == data2.count()


def test_stateful_sessionize_across_restarts(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions closed by a gap emit
    immediately; an open session flushes when the WATERMARK passes its
    last event + gap (event-time timeout — deterministic under
    availableNow); and the remaining open state survives a query restart
    through the streaming checkpoint, closed by run-2 events. Semantics
    match the batch `sessionize` window query (gap > gap_s starts a new
    session)."""
    src = str(tmp_path / "sess_in")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    schema = "user_id string, event_id long, epoch long"

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming.stateful_sessionize(stream, gap_s=1800)
            .writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return {
            (r["user_id"], r["start_epoch"]): (r["n_events"], r["end_epoch"])
            for r in spark.read.parquet(out).collect()
        }

    # batch 1: u1 closes a session [10,110] by gap and leaves one open at
    # 5000; u2's lone session at 10 flushes IN-RUN because the watermark
    # reaches 5000 > 10 + gap (event-time timeout at work)
    spark.createDataFrame(
        [("u1", 1, 10), ("u1", 2, 110), ("u1", 3, 5000), ("u2", 4, 10)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    got1 = run()
    assert got1 == {("u1", 10): (2, 110), ("u2", 10): (1, 10)}

    # batch 2 (NEW query, same checkpoint): u1's open session carried in
    # state is closed by the far-future event; u2's new session at 9000
    # flushes in-run (watermark 20000 passes its horizon); u1's newest
    # session at 20000 stays open — nothing is past ITS horizon yet
    spark.createDataFrame(
        [("u1", 5, 20000), ("u2", 6, 9000)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    got2 = run()
    assert got2[("u1", 5000)] == (1, 5000)
    assert got2[("u2", 9000)] == (1, 9000)
    assert ("u1", 20000) not in got2


def test_stream_metrics_windows(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = streaming.stream_metrics(stream, window="30 minutes")
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("metrics_out").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from metrics_out")
    assert got.count() > 0
    # totals match a plain batch aggregation
    batch_total = events.count()
    assert got.agg({"n": "sum"}).collect()[0][0] == batch_total
    assert set(got.columns) == {"win_start", "win_end", "event_type", "n", "v"}


def test_stream_dedup_suppresses_across_microbatches(spark, tmp_path):
    """State-backed exact dedup: in-batch duplicates collapse, and a later
    run against the same checkpoint suppresses keys already seen (the
    dedup state survives query restarts). Keying matches batch
    exact_dedup's normalizer (case/whitespace-insensitive)."""
    from ner_ocr_spark import streaming

    src = str(tmp_path / "dd_in")
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    schema = "doc_id long, text string"

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming.stream_dedup(stream)
            .writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        return spark.read.parquet(out).collect()

    spark.createDataFrame(
        [(1, "Alpha  Beta"), (2, "alpha\tbeta"), (3, "gamma")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    rows1 = run()
    assert len(rows1) == 2  # the normalized 'alpha beta' pair collapsed
    assert {r["doc_id"] for r in rows1} & {1, 2}  # one of the pair survived
    assert 3 in {r["doc_id"] for r in rows1}

    spark.createDataFrame(
        [(4, "ALPHA BETA"), (5, "delta")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    rows2 = run()
    ids = {r["doc_id"] for r in rows2}
    assert 4 not in ids  # suppressed by state from run 1
    assert 5 in ids and len(rows2) == 3


def test_stream_dedup_watermark_variant_runs(spark, tmp_path):
    """With an event-time column the operator switches to
    dropDuplicatesWithinWatermark (bounded state); duplicates inside the
    watermark window are still suppressed."""
    from ner_ocr_spark import streaming

    src = str(tmp_path / "ddw_in")
    schema = "doc_id long, text string, ts long"
    spark.createDataFrame(
        [(1, "same text", 1000), (2, "same  TEXT", 1060), (3, "other", 1100)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    dd = streaming.stream_dedup(stream, ts_col="ts", watermark="10 minutes")
    name = "ddw_out"
    q = (
        dd.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = spark.table(name).collect()
    assert len(got) == 2
    assert {r["doc_id"] for r in got} >= {3}


def test_stream_dedup_key_set_matches_batch_across_epochs(spark, tmp_path):
    """Round-4 evidence: two parquet drops processed as SEPARATE
    microbatches (maxFilesPerTrigger=1 splits them inside one run; a third
    drop then arrives via a query RESTART against the same checkpoint).
    The union of surviving content keys must equal batch exact_dedup's key
    set over all drops — stream state and batch semantics agree exactly."""
    from pyspark.sql import functions as F

    from ner_ocr_spark.operators.dedup import exact_dedup, normalize_for_dedup

    src = str(tmp_path / "bd_in")
    out = str(tmp_path / "bd_out")
    ckpt = str(tmp_path / "bd_ckpt")
    schema = "doc_id long, text string"
    drops = [
        [(1, "Alpha  Beta"), (2, "alpha\tbeta"), (3, "gamma")],
        [(4, "ALPHA BETA"), (5, "delta"), (6, "Gamma")],
        [(7, "delta"), (8, "epsilon")],
    ]

    def run(files_per_trigger=None):
        stream = spark.readStream.schema(schema)
        if files_per_trigger:
            stream = stream.option("maxFilesPerTrigger", files_per_trigger)
        q = (
            streaming.stream_dedup(stream.parquet(src), keep_key=True)
            .writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)

    # drops 1+2 land before the first run; maxFilesPerTrigger=1 forces one
    # microbatch per file (state carries WITHIN the run, no restart)
    for d in drops[:2]:
        spark.createDataFrame(d, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    run(files_per_trigger=1)
    # drop 3 arrives later; a restarted query resumes from the checkpoint
    spark.createDataFrame(drops[2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    survivors = spark.read.parquet(out)
    stream_keys = {(r["h1"], r["h2"]) for r in
                   survivors.select("h1", "h2").collect()}
    everything = spark.createDataFrame(
        [row for d in drops for row in d], schema
    )
    norm = normalize_for_dedup(F.col("text"))
    batch_keys = {
        (r["h1"], r["h2"])
        for r in everything.select(
            F.xxhash64(norm).alias("h1"), F.xxhash64(norm, F.lit(1)).alias("h2")
        ).distinct().collect()
    }
    assert stream_keys == batch_keys
    # exactly one survivor per key (state suppressed every later arrival)
    assert survivors.count() == len(batch_keys)
    assert exact_dedup(everything).count() == len(batch_keys)


def test_stateful_sessions_ordinals_match_batch_across_epochs(spark, tmp_path):
    """Round-4 evidence: session ORDINALS stay stable across microbatch
    boundaries. Three drops — processed as two microbatches in run 1
    (maxFilesPerTrigger=1) plus a restarted run 2 — must close the same
    sessions, in the same per-user order (row_number over start_epoch), as
    the batch window sessionizer over the union."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    src = str(tmp_path / "so_in")
    out = str(tmp_path / "so_out")
    ckpt = str(tmp_path / "so_ckpt")
    schema = "user_id string, event_id long, epoch long"
    drops = [
        [("u1", 1, 10), ("u1", 2, 110)],                      # open session
        [("u1", 3, 5000), ("u2", 4, 30)],                     # closes s0, opens s1
        [("u1", 5, 20000), ("u2", 6, 25000), ("u2", 7, 25060)],
    ]

    def run(files_per_trigger=None):
        stream = spark.readStream.schema(schema)
        if files_per_trigger:
            stream = stream.option("maxFilesPerTrigger", files_per_trigger)
        q = (
            streaming.stateful_sessionize(stream.parquet(src), gap_s=1800)
            .writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)

    for d in drops[:2]:
        spark.createDataFrame(d, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    run(files_per_trigger=1)
    spark.createDataFrame(drops[2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run()

    closed = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy("start_epoch")
    got = {
        (r["user_id"], r["session_seq"]): (r["start_epoch"], r["end_epoch"],
                                           r["n_events"])
        for r in closed.withColumn(
            "session_seq", F.row_number().over(w) - 1
        ).collect()
    }

    # batch twin over the union: same gap rule, sessions that a watermark
    # at max(epoch) would have flushed (start+... every session whose
    # last event + gap < global max epoch is closed in-stream too)
    ev = spark.createDataFrame([row for d in drops for row in d], schema)
    bw = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    gap = F.col("epoch") - F.lag("epoch").over(bw)
    flag = F.when(gap.isNull() | (gap <= 1800), 0).otherwise(1)
    sess = (
        ev.withColumn("sid", F.sum(flag).over(
            bw.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("epoch").alias("start_epoch"),
             F.max("epoch").alias("end_epoch"),
             F.count("*").alias("n_events"))
    )
    horizon = ev.agg(F.max("epoch")).collect()[0][0]
    want = {
        (r["user_id"], r["sid"]): (r["start_epoch"], r["end_epoch"],
                                   r["n_events"])
        for r in sess.collect()
        if r["end_epoch"] + 1800 < horizon  # still-open sessions not emitted
    }
    assert got == want

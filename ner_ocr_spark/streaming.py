"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.9 — no streaming operators), so
batch snapshot resume (lineage.py) is the primary resumability story. This
module adds the engine's streaming ingestion path for continuously-arriving
document files, plus watermarked event metrics — the shapes a production
deployment needs:

  * stream_extract — readStream over a documents directory; each micro-batch
    runs the SAME batch extraction plan inside foreachBatch and appends
    data + lineage via the snapshot layout. Spark's streaming checkpoint
    tracks consumed files (exactly-once file source); the committed-doc
    anti-join inside the batch writer makes replays idempotent on top.
  * stream_metrics — watermark + sliding-window counts over an event stream
    (late data dropped past the watermark), the standard streaming-agg shape.
  * stream_dedup — state-backed exact dedup on the 128-bit normalized
    content key (batch-identical key function); watermark-bounded state
    via dropDuplicatesWithinWatermark on unbounded streams.
  * stateful_sessionize — applyInPandasWithState custom stateful operator:
    event-time-gap sessionization per user with explicit GroupState
    (running session accumulator + processing-time timeout flush) — the
    operator class Spark's built-in windows can't express, per the driver
    brief's custom-stateful-operator clause.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), False),
                        T.StructField("text", T.StringType(), True),
                        T.StructField("media_ref", T.StringType(), True),
                        T.StructField("offset", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    **extract_kwargs,
):
    """Continuous extraction: file-source stream -> foreachBatch(batch
    pipeline + snapshot commit). Returns the started StreamingQuery."""
    from ner_ocr_spark import lineage, pipeline

    docs = spark.readStream.schema(DOC_STREAM_SCHEMA).parquet(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        todo = lineage.remaining_documents(batch_df, out_dir)
        lineage.commit_chunk(pipeline.extract_spans(todo, **extract_kwargs),
                             out_dir, f"epoch{epoch_id}", 0)

    writer = (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_OUT_SCHEMA = (
    "user_id string, session_id int, n_events int, "
    "start_epoch long, end_epoch long"
)
_SESSION_STATE_SCHEMA = (
    "session_id int, n_events int, start_epoch long, last_epoch long"
)


def _fold_sessions(user, rows, opened, gap_s):
    """Merge one user's (epoch, order)-sorted events into the open session
    `opened` = (session_id, n_events, start, last). Returns the columns of
    the sessions a gap > gap_s closed and the session left open (last is
    None while nothing has been seen). Module-level, so the state
    function's python workers load the engine and its zip guard
    (`_pyworker`)."""
    sid, n, start, last = opened
    closed = {"user_id": [], "session_id": [], "n_events": [],
              "start_epoch": [], "end_epoch": []}
    for epoch, _ in rows:
        epoch = int(epoch)
        if last is None:
            start, n = epoch, 1
        elif epoch - last > gap_s:
            closed["user_id"].append(user)
            closed["session_id"].append(sid)
            closed["n_events"].append(n)
            closed["start_epoch"].append(start)
            closed["end_epoch"].append(last)
            sid, start, n = sid + 1, epoch, 1
        else:
            n += 1
        last = epoch
    return closed, (sid, n, start, last)


def stateful_sessionize(
    events: DataFrame,
    gap_s: int = 1800,
    user_col: str = "user_id",
    epoch_col: str = "epoch",
    order_col: str = "event_id",
):
    """Custom stateful streaming operator (applyInPandasWithState): gap
    sessionization per user over a stream.

    State per user = the OPEN session (id, count, start, last-event epoch).
    A batch's events merge into it in (epoch, order) order; every session
    CLOSED by a gap > gap_s is emitted immediately; the open session
    flushes via an EVENT-TIME timeout — once the stream's watermark passes
    last_epoch + gap_s, no event can extend the session, so the flush is
    deterministic (a processing-time timeout makes availableNow drains
    stall until wall-clock expiry — measured, not guessed). State survives
    restarts through the streaming checkpoint. After a timeout flush the
    user's session_id restarts at 0 (state is gone by design): ids are
    unique per state lifetime; (user_id, start_epoch) is the durable key.

    This is the operator shape Spark's built-in windows cannot express
    (W2's batch cumulative-sum window needs the whole partition; here state
    is O(1) per user regardless of stream length). Batch twin: the
    `sessionize` driver query — semantics pinned against it in tests."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        user = key[0]
        if state.hasTimedOut:
            sid, n, start, last = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user], "session_id": [sid], "n_events": [n],
                 "start_epoch": [start], "end_epoch": [last]}
            )
            return
        rows = []
        for pdf in pdfs:
            rows.extend(
                zip(pdf[epoch_col].astype("int64"), pdf[order_col])
            )
        opened = state.get if state.exists else (0, 0, None, None)
        closed, (sid, n, start, last) = _fold_sessions(
            user, sorted(rows), opened, gap_s
        )
        if last is not None:  # no-op batches must not write a null state
            state.update((sid, n, start, last))
            # flush once the watermark proves no extender can arrive
            state.setTimeoutTimestamp((last + gap_s + 1) * 1000)
        if closed["user_id"]:
            yield pd.DataFrame(closed)

    with_ts = events.withColumn(
        "_event_ts", F.col(epoch_col).cast("timestamp")
    ).withWatermark("_event_ts", "0 seconds")
    return (
        with_ts.groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    base_hash=None,
    keep_key: bool = False,
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST-arriving row per 128-bit
    normalized-content key (two seeded hashes of the dedup normalizer —
    same key as batch `dedup.exact_dedup`, so batch and stream agree on
    what counts as a duplicate).

    With an event-time column, dropDuplicatesWithinWatermark bounds the
    key state — keys older than the watermark age out, the only viable
    form on an unbounded 100 TB/day stream (plain dropDuplicates keeps
    every key forever). Without ts_col it falls back to the unbounded
    variant (backfill/availableNow drains, where the input is finite).

    Which row survives WITHIN one microbatch is engine-chosen (standard
    dropDuplicates semantics); the content KEY set is deterministic, and
    cross-batch suppression is exact (state-backed). Output carries the
    INPUT columns; the internal key columns are dropped unless
    keep_key=True (the driver's value-check compares the key set)."""
    from ner_ocr_spark.operators.dedup import normalize_for_dedup

    # default keys match dedup.exact_dedup EXACTLY (h1 = xxhash64(norm)
    # unseeded, h2 seeded with 1) so stream state can be reconciled
    # against a batch backfill's keys — xxhash64(c) != xxhash64(c, lit(0))
    bh = base_hash or (
        lambda c, s: F.xxhash64(c) if s == 0 else F.xxhash64(c, F.lit(s))
    )
    norm = normalize_for_dedup(F.col(text_col))
    keyed = docs.withColumn("h1", bh(norm, 0)).withColumn("h2", bh(norm, 1))
    if ts_col is not None:
        keyed = keyed.withColumn(
            ts_col, F.col(ts_col).cast("timestamp")
        ).withWatermark(ts_col, watermark)
        out = keyed.dropDuplicatesWithinWatermark(["h1", "h2"])
    else:
        out = keyed.dropDuplicates(["h1", "h2"])
    return out if keep_key else out.drop("h1", "h2")


def stream_metrics(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked sliding-window metrics over a streaming events table
    (ts, event_type, value): count + sum per (window, event_type)."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    # parquet TIMESTAMP_NTZ is not a valid event-time column; normalize
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n", "v",
        )
    )

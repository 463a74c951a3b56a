"""The traced run (--trace 1): per-layer metrics from outside the program.

Two sources, both read by the benchmark's own code:

1. Spark's instrumentation, read after each traced job: per-stage task
   metrics from the app status store (exact counters: run time, GC, shuffle,
   spill, per-task run time) and per-node SQL metrics from the SQL status
   store (python-worker time and bytes, exchange bytes, aggregate memory,
   codegen duration). Nodes are attributed to layers by plan node; a node's
   stage comes from the "(stage X.Y: task Z)" tag of its per-task metrics.
2. An in-process replay of the python stage functions that
   `make_ner_stage` / `make_ocr_stage` build, fed batches shaped like the
   plan ships them (`maxRecordsPerBatch` rows per partition batch) from the
   same generated input, with the public kernel functions wrapped in
   self-time timers. `*.boundary_s` = the node's python-worker time minus
   the replayed stage time.

Task time is attributed to layers stage by stage: the result stage of the
last job is `assemble`; in the stage that runs the python crossings, tasks
that read shuffle data are the OCR side (`ocr_stage`) and the others the
text side, of which the NER node's worker time is `ner` and the rest
`text_branch`; the other map stages feed the media shuffle. Task time of
stages none of these rules reach is `job.unattributed_s`.

Spans (name, start, end, parent) are kept in memory and written to
.perfbench_cache/trace-<workload>-s<seed>.json when the run ends.

Which end-to-end metric each layer should move, and on which workload:

    session        setup_s, every workload
    text_branch    docs_per_s, text_interleaved (and the lineage sub-run)
    ner            docs_per_s, text_interleaved
    media_shuffle  docs_per_s, media_skew
    ocr_stage      docs_per_s, media_skew
    ocr            docs_per_s, media_skew; no change on text_interleaved
    assemble       docs_per_s on text_interleaved, and peak_rss_mb
    lineage        the lineage sub-run of text_interleaved only
    curate/dedup/pack  the curate_dupskew sub-run of text_interleaved only
    job            every end-to-end metric

The lineage and curation layers run inside the traced text_interleaved run
(a stop-and-resume `lineage.run_checkpointed` over a quarter of its input, and a
`curate(...)` over a generated table in which one dedup key owns ~30% of the
rows, checked against the DuckDB twin of `curation_pipeline`): timed runs of
their own do not fit the benchmark's time budget.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict
from pathlib import Path

from py4j.protocol import Py4JJavaError

TRACE_REPS = 2
BATCH_ROWS = 1024  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark

OCR_PHASES = ["decode_gray", "bounded_resize", "binarize", "despeckle",
              "estimate_skew", "rotate_gray", "recognize_mask"]
PHASE_METRIC = {"decode_gray": "decode", "bounded_resize": "resize",
                "binarize": "binarize", "despeckle": "despeckle",
                "estimate_skew": "deskew", "rotate_gray": "rotate",
                "recognize_mask": "recognize"}

# every per-layer metric and its unit; layers a workload does not run read 0
UNITS = {
    "session.get_spark_s": "s", "session.first_job_s": "s",
    "text_branch.rows_out": "count", "text_branch.codegen_s": "s",
    "text_branch.task_s": "s",
    "ner.rows_in": "count", "ner.python_s": "s", "ner.bytes_sent": "bytes",
    "ner.bytes_returned": "bytes", "ner.replay_s": "s", "ner.tag_s": "s",
    "ner.boundary_s": "s",
    "media_shuffle.bytes": "bytes", "media_shuffle.records": "count",
    "media_shuffle.partition_cost_skew": "ratio", "media_shuffle.task_s": "s",
    "ocr_stage.rows_in": "count", "ocr_stage.rows_out": "count",
    "ocr_stage.python_s": "s", "ocr_stage.bytes_sent": "bytes",
    "ocr_stage.task_s_p50": "s", "ocr_stage.task_s_max": "s",
    "ocr_stage.replay_s": "s", "ocr_stage.boundary_s": "s",
    "ocr_stage.task_s": "s",
    "ocr.pages": "count", "ocr.fused_normalize_ms": "ms/page",
    "ocr.fused_tag_ms": "ms/page", "ocr.kernel_s": "s",
    **{f"ocr.{m}_ms": "ms/page" for m in PHASE_METRIC.values()},
    "assemble.shuffle_bytes": "bytes", "assemble.agg_s": "s",
    "assemble.spill_bytes": "bytes", "assemble.peak_mem_bytes": "bytes",
    "assemble.task_s": "s",
    "lineage.chunks": "count", "lineage.jobs_per_chunk": "count",
    "lineage.chunk_s_p50": "s", "lineage.bytes_written": "bytes",
    "lineage.resume_antijoin_s": "s",
    "curate.quality_codegen_s": "s", "dedup.shuffle_bytes": "bytes",
    "dedup.task_s_max_over_p50": "ratio", "dedup.spill_bytes": "bytes",
    "pack.shuffle_bytes": "bytes", "curate.rows_out": "count",
    "curate.task_s": "s",
    "job.task_s": "s", "job.task_busy_frac": "ratio", "job.gc_s": "s",
    "job.shuffle_bytes": "bytes", "job.spill_bytes": "bytes",
    "job.stages": "count", "job.tasks": "count", "job.unattributed_s": "s",
    "job.scaling_eff": "ratio", "trace.overhead_s": "s",
}


class Spans:
    """In-memory spans; `self_s` is each name's duration minus its children."""

    def __init__(self):
        self.done: list[dict] = []
        self.stack: list[list] = []  # [name, start, child_s, id, parent]
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    def open(self, name: str):
        parent = self.stack[-1][3] if self.stack else None
        self.stack.append([name, time.perf_counter(), 0.0, len(self.done) + len(self.stack), parent])

    def close(self) -> None:
        name, t0, child_s, sid, parent = self.stack.pop()
        t1 = time.perf_counter()
        self.self_s[name] += (t1 - t0) - child_s
        self.calls[name] += 1
        if self.stack:
            self.stack[-1][2] += t1 - t0
        self.done.append({"id": sid, "name": name, "start": t0, "end": t1,
                          "parent": parent})

    def wrap(self, name: str, fn):
        def timed(*a, **k):
            self.open(name)
            try:
                return fn(*a, **k)
            finally:
                self.close()
        return timed


# -- status stores -------------------------------------------------------------

_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def _value(text: str) -> float:
    parts = text.strip().replace(",", "").split()
    return float(parts[0]) * (_UNIT[parts[1]] if len(parts) > 1 else 1)


def parse_metric(text: str) -> tuple[float, float, int | None]:
    """(total, largest task value, stage id of that task) of one formatted
    SQL metric, in bytes / seconds / count."""
    stage = _STAGE.search(text)
    line = text.split("\n")[-1] if text.startswith("total") else text
    total = _value(line.split(" (")[0])
    if "(" not in line:
        return total, total, None
    largest = _value(line.split(" (", 1)[1].split(", ")[2].split(" (")[0])
    return total, largest, int(stage.group(1)) if stage else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def drain_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def sql_nodes(spark, after_id: int) -> list[dict]:
    """Every plan node of the SQL executions after `after_id`, with its
    parsed metrics and stage tags."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _seq(store.executionsList()):
        eid = ex.executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            metrics, largest, stages = {}, {}, set()
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    val, top, st = parse_metric(v.get())
                    metrics[m.name()] = metrics.get(m.name(), 0.0) + val
                    largest[m.name()] = max(largest.get(m.name(), 0.0), top)
                    if st is not None:
                        stages.add(st)
            members = []
            if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
                members = [n.name() + " " + n.desc() for n in _seq(node.nodes())]
            out.append({"name": node.name(), "desc": node.desc(),
                        "metrics": metrics, "largest": largest, "stages": stages,
                        "members": members})
    return out


def last_execution_id(spark) -> int:
    ex = _seq(spark._jsparkSession.sharedState().statusStore().executionsList())
    return max((e.executionId() for e in ex), default=-1)


def stage_data(spark, group: str) -> tuple[list[dict], int]:
    """Completed stages of the jobs in `group`, with per-task split of the
    run time into tasks that read shuffle data and tasks that did not, and
    the id of the last job's result stage."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    result_stage = max(tracker.getJobInfo(jobs[-1]).stageIds) if jobs else -1
    stages = []
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            shuffle_side, other = [], []
            for t in _seq(store.taskList(sid, sd.attemptId(), 100000)):
                tm = t.taskMetrics()
                if not tm.isDefined():
                    continue
                tm = tm.get()
                sr = tm.shuffleReadMetrics()
                side = shuffle_side if sr.localBytesRead() + sr.remoteBytesRead() > 0 else other
                side.append(tm.executorRunTime() / 1000.0)
            stages.append({
                "id": sid, "tasks": sd.numTasks(),
                "task_s": sd.executorRunTime() / 1000.0,
                "gc_s": sd.jvmGcTime() / 1000.0,
                "shuffle_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "peak_mem": sd.peakExecutionMemory(),
                "shuffle_side": shuffle_side,
                "shuffle_side_s": sum(shuffle_side), "other_side_s": sum(other),
            })
    return stages, result_stage


def traced_job(spark, job, tag: str) -> tuple[float, list[dict], list[dict], int]:
    """Run `job` under a job group; (wall, stages, plan nodes, result stage)."""
    sc = spark.sparkContext
    after = last_execution_id(spark)
    sc.setJobGroup(tag, tag)
    t0 = time.monotonic()
    job()
    wall = time.monotonic() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    drain_listeners(spark)
    stages, result_stage = stage_data(spark, tag)
    return wall, stages, sql_nodes(spark, after), result_stage


# -- attribution --------------------------------------------------------------

def _find(nodes, name, needle=None, absent=None):
    return [n for n in nodes if n["name"] == name
            and (needle is None or needle in n["desc"])
            and (absent is None or absent not in n["desc"])]


def _m(nodes, metric) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes)


def _python_s(nodes) -> float:
    # "time to start/initialize Python workers" is left out: it overlaps the
    # task's run time and, summed, exceeds it
    return _m(nodes, "time to run Python workers")


_ASSEMBLE_EXCHANGE = re.compile(r"hashpartitioning\(doc_id#\d+, \d+\), ENSURE_REQUIREMENTS")


def extraction_layers(stages, nodes, result_stage, cores, wall) -> dict:
    """Layer metrics of one traced extraction job (pipeline.run)."""
    ner = _find(nodes, "MapInPandas", absent="transformer_text")
    ocr = _find(nodes, "MapInPandas", needle="transformer_text")
    text_filter = _find(nodes, "Filter", needle="IN (text,html)")
    exchanges = _find(nodes, "Exchange")
    asm_x = [n for n in exchanges if _ASSEMBLE_EXCHANGE.search(n["desc"])]
    media_x = [n for n in exchanges if n not in asm_x]
    aggs = _find(nodes, "ObjectHashAggregate", needle="collect_list")
    text_wscg = [n for n in nodes if n["name"].startswith("WholeStageCodegen")
                 and any("IN (text,html)" in m for m in n["members"])]
    py_stages = set().union(*(n["stages"] for n in ner + ocr)) if ner + ocr else set()

    ner_py, ocr_py = _python_s(ner), _python_s(ocr)
    task = defaultdict(float)
    for s in stages:
        if s["id"] == result_stage:
            task["assemble"] += s["task_s"]
        elif s["id"] in py_stages:
            task["ocr_stage"] += s["shuffle_side_s"]
            task["ner"] += min(ner_py, s["other_side_s"])
            task["text_branch"] += max(s["other_side_s"] - ner_py, 0.0)
        elif s["shuffle_bytes"] > 0 and s["tasks"] > 0:
            task["media_shuffle"] += s["task_s"]
        else:
            task["unattributed"] += s["task_s"]
    ocr_stage_ids = set().union(*(n["stages"] for n in ocr)) if ocr else set()
    ocr_st = [s for s in stages if s["id"] in ocr_stage_ids]
    sent = _m(ocr, "data sent to Python workers")
    ocr_tasks = [t for s in ocr_st for t in s["shuffle_side"]]
    n_ocr_tasks = len(ocr_tasks) or 1
    max_sent = max((n["largest"].get("data sent to Python workers", 0.0)
                    for n in ocr), default=0.0)
    return _common_job(stages, cores, wall, task) | {
        "text_branch.rows_out": _m(text_filter, "number of output rows"),
        "text_branch.codegen_s": _m(text_wscg, "duration"),
        "text_branch.task_s": task["text_branch"],
        "ner.python_s": ner_py,
        "ner.bytes_sent": _m(ner, "data sent to Python workers"),
        "ner.bytes_returned": _m(ner, "data returned from Python workers"),
        "media_shuffle.bytes": _m(media_x, "shuffle bytes written"),
        "media_shuffle.records": _m(media_x, "shuffle records written"),
        "media_shuffle.partition_cost_skew": (
            max_sent / (sent / n_ocr_tasks) if sent else 0.0),
        "media_shuffle.task_s": task["media_shuffle"],
        "ocr_stage.rows_out": _m(ocr, "number of output rows"),
        "ocr_stage.python_s": ocr_py,
        "ocr_stage.bytes_sent": sent,
        "ocr_stage.task_s_p50": statistics.median(ocr_tasks) if ocr_tasks else 0.0,
        "ocr_stage.task_s_max": max(ocr_tasks, default=0.0),
        "ocr_stage.task_s": task["ocr_stage"],
        "assemble.shuffle_bytes": _m(asm_x, "shuffle bytes written"),
        # the final (merge) aggregate: the partial one's build time includes
        # pulling its inputs through both python crossings
        "assemble.agg_s": _m([n for n in aggs if "partial_" not in n["desc"]],
                             "time in aggregation build"),
        "assemble.spill_bytes": _m(aggs, "spill size"),
        "assemble.peak_mem_bytes": max((s["peak_mem"] for s in stages
                                        if s["id"] == result_stage
                                        or s["id"] in py_stages), default=0),
        "assemble.task_s": task["assemble"],
    }


def _common_job(stages, cores, wall, task) -> dict:
    task_s = sum(s["task_s"] for s in stages)
    attributed = sum(v for k, v in task.items() if k != "unattributed")
    return {
        "job.task_s": task_s,
        "job.task_busy_frac": task_s / (cores * wall),
        "job.gc_s": sum(s["gc_s"] for s in stages),
        "job.shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
        "job.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "job.stages": len(stages),
        "job.tasks": sum(s["tasks"] for s in stages),
        "job.unattributed_s": task_s - attributed,
    }


# -- replay -------------------------------------------------------------------

def _partition_batches(rows: list[dict], cores: int):
    """pandas batches as the plan ships them: rows spread over `cores`
    partitions, at most BATCH_ROWS rows per Arrow batch."""
    import pandas as pd

    for p in range(cores):
        part = rows[p::cores]
        for i in range(0, len(part), BATCH_ROWS):
            yield pd.DataFrame(part[i:i + BATCH_ROWS])


def _read_rows(path: Path) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(str(path)).to_pylist()


def _consume(spans: Spans, name: str, stage, rows: list[dict], cores: int) -> float:
    """Wall seconds to drain `stage` over `rows`, recorded as span `name`."""
    t0 = time.perf_counter()
    spans.open(name)
    for _ in stage(_partition_batches(rows, cores)):
        pass
    spans.close()
    return time.perf_counter() - t0


def replay(w, d: Path, cores: int, spans: Spans) -> dict:
    """Replay the NER and OCR stage functions over the workload's input
    outside Spark, with the kernels they call wrapped in timers."""
    from pyspark.sql import types as T

    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels import normalize as knorm
    from ner_ocr_spark.kernels import ocr as kocr
    from ner_ocr_spark.kernels.ner import GazetteerTagger
    from ner_ocr_spark.operators.extract import make_ner_stage, make_ocr_stage
    from ner_ocr_spark.operators.pdf import default_page_source

    docs = _read_rows(d / "input")
    text_rows, media_rows = [], []
    for doc in docs:
        for i, s in enumerate(doc["spans"]):
            if s["kind"] == "text":
                t = knorm.normalize_text(s["text"])
                if t:
                    text_rows.append({"doc_id": doc["doc_id"], "span_idx": i,
                                      "kind": "text", "text": t, "error": None})
            else:
                media_rows.append({"doc_id": doc["doc_id"], "span_idx": i,
                                   "kind": s["kind"], "media_ref": s["media_ref"]})
    if (d / "blobs").exists():
        blobs = {b["media_ref"]: b["image_png"] for b in _read_rows(d / "blobs")}
        for r in media_rows:
            r["image_png"] = blobs[r["media_ref"]]

    saved = {n: getattr(kocr, n) for n in OCR_PHASES}
    saved_norm, saved_tag = knorm.normalize_text, GazetteerTagger.tag
    out = {}
    try:
        for n in OCR_PHASES:
            setattr(kocr, n, spans.wrap(f"ocr.{n}", saved[n]))
        knorm.normalize_text = spans.wrap("ocr.fused_normalize", saved_norm)
        GazetteerTagger.tag = spans.wrap("tag", saved_tag)
        # NER crossing: the text branch's slim projection
        passthrough = T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("span_idx", T.IntegerType()),
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("error", T.StringType())])
        fn, _ = make_ner_stage(corpus.GAZETTEER, passthrough=passthrough)
        out["ner.replay_s"] = _consume(spans, "ner.replay", fn, text_rows, cores)
        out["ner.tag_s"] = spans.self_s["tag"]
        # OCR stage, fused normalize + NER, as extract_spans builds it
        stage = make_ocr_stage(None, gazetteer=corpus.GAZETTEER,
                               pdf_rasterizer=default_page_source())
        out["ocr_stage.replay_s"] = _consume(spans, "ocr_stage.replay", stage,
                                             media_rows, cores)
    finally:
        for n in OCR_PHASES:
            setattr(kocr, n, saved[n])
        knorm.normalize_text, GazetteerTagger.tag = saved_norm, saved_tag
    pages = spans.calls["ocr.decode_gray"]
    kernel = {n: spans.self_s[f"ocr.{n}"] for n in OCR_PHASES}
    fused = spans.self_s["ocr.fused_normalize"]
    tag = spans.self_s["tag"] - out["ner.tag_s"]
    out["ner.rows_in"] = len(text_rows)
    out["ocr_stage.rows_in"] = len(media_rows)
    out["ocr.pages"] = pages
    out["ocr.kernel_s"] = sum(kernel.values())
    per_page = 1000.0 / max(pages, 1)
    for n, v in kernel.items():
        out[f"ocr.{PHASE_METRIC[n]}_ms"] = v * per_page
    out["ocr.fused_normalize_ms"] = fused * per_page
    out["ocr.fused_tag_ms"] = tag * per_page
    return out


# -- sub-runs of the traced text_interleaved run ---------------------------------

def lineage_layer(spark, d: Path, scratch: Path, expected: dict) -> tuple[dict, int]:
    """One stop-and-resume run of lineage.run_checkpointed over a quarter
    of the input; (lineage metrics, wrong documents)."""
    import shutil

    from ner_ocr_spark import lineage

    import workloads

    docs = spark.read.parquet(str(d / "lineage_input"))
    out = scratch / "ckpt-trace"
    tag = "perfbench-lineage"
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    stats = [lineage.run_checkpointed(spark, docs, str(out), n_chunks=workloads.CHUNKS,
                                      max_chunks=workloads.CHUNKS // 2)]
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
    t0 = time.monotonic()
    lineage.remaining_documents(docs, str(out)).count()
    antijoin = time.monotonic() - t0
    sc.setJobGroup(tag + "-resume", tag)
    stats.append(lineage.run_checkpointed(spark, docs, str(out), n_chunks=workloads.CHUNKS))
    sc.setLocalProperty("spark.jobGroup.id", None)
    walls = [r["wall_ms"] / 1000.0 for r in
             lineage.read_lineage(spark, str(out)).select("chunk", "wall_ms").distinct().collect()]
    written = sum(f.stat().st_size for f in out.rglob("*") if f.is_file())
    slice_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    sub = {"docs": {k: v for k, v in expected["docs"].items() if k in slice_ids}}
    wrong = workloads.check_checkpoint(spark, out, stats, sub)
    shutil.rmtree(out, ignore_errors=True)
    return {
        "lineage.chunks": sum(s["chunks_done"] for s in stats),
        "lineage.jobs_per_chunk": n_jobs / max(stats[0]["chunks_done"], 1),
        "lineage.chunk_s_p50": statistics.median(walls) if walls else 0.0,
        "lineage.bytes_written": written,
        "lineage.resume_antijoin_s": antijoin,
    }, wrong


def curate_layer(spark, seed: int, cache: Path) -> tuple[dict, int]:
    """The curate_dupskew job (one dedup key owns ~30% of rows), traced;
    (curation metrics, wrong rows against the DuckDB twin)."""
    import workloads

    w = workloads.CURATE
    d, expected = workloads.prepare(w, seed, cache)
    job = workloads.make_job(w, spark, d)
    job()  # warm-up
    wall, stages, nodes, _ = traced_job(spark, job, "perfbench-curate")
    dedup_x = [n for n in _find(nodes, "Exchange") if "_k#" in n["desc"]]
    pack_x = [n for n in _find(nodes, "Exchange") if "shard#" in n["desc"]]
    # the dedup window runs in the first stage that reads the dedup exchange
    write = min(set().union(*(n["stages"] for n in dedup_x)), default=-1)
    dedup_st = [s for s in stages if s["id"] > write and s["shuffle_side_s"] > 0][:1]
    # the quality/repetition codegen blocks are chained in one stage, each
    # duration including the blocks below it: the outermost one covers all
    quality = [n for n in nodes if n["name"].startswith("WholeStageCodegen")
               and any("keep" in m for m in n["members"])]
    wrong = workloads.check(w, spark, d, expected)["wrong_docs"]
    return {
        "curate.quality_codegen_s": max((n["metrics"].get("duration", 0.0)
                                         for n in quality), default=0.0),
        "dedup.shuffle_bytes": _m(dedup_x, "shuffle bytes written"),
        "dedup.task_s_max_over_p50": max(
            (max(s["shuffle_side"]) / statistics.median(s["shuffle_side"])
             for s in dedup_st if statistics.median(s["shuffle_side"]) > 0), default=0.0),
        "dedup.spill_bytes": sum(s["spill_bytes"] for s in dedup_st),
        "pack.shuffle_bytes": _m(pack_x, "shuffle bytes written"),
        "curate.rows_out": len(expected["rows"]),
        "curate.task_s": sum(s["task_s"] for s in stages),
    }, wrong


def scaling(w, spark, d: Path, cores: int, wall_n: float):
    """One rep at local[1] on the same input; (efficiency, a fresh
    local[cores] session)."""
    import run
    import workloads

    spark.stop()
    one = run.start_session(1)
    job = workloads.make_job(w, one, d)
    job()  # warm-up
    t0 = time.monotonic()
    job()
    wall_1 = time.monotonic() - t0
    one.stop()
    spark = run.start_session(cores)
    workloads.make_job(w, spark, d)()
    return wall_1 / (cores * wall_n), spark


# -- the traced run -------------------------------------------------------------

def traced_run(w, spark, d: Path, scratch: Path, expected: dict, job, walls,
               setups, cores: int, seed: int, cache: Path):
    """(per-layer metrics, session to use afterwards, extra wrong docs)."""
    spans = Spans()
    reps = []
    for i in range(TRACE_REPS):
        spans.open("job")
        wall, stages, nodes, result_stage = traced_job(spark, job, f"perfbench-trace-{i}")
        spans.close()
        reps.append((wall, extraction_layers(stages, nodes, result_stage, cores, wall)))
    layers = {k: statistics.mean(r[k] for _, r in reps) for k in reps[0][1]}
    traced_wall = statistics.median(wall for wall, _ in reps)
    layers["trace.overhead_s"] = traced_wall - statistics.median(walls)
    layers["session.get_spark_s"] = statistics.median(s[0] for s in setups)
    layers["session.first_job_s"] = statistics.median(s[1] for s in setups)

    spans.open("replay")
    layers |= replay(w, d, cores, spans)
    spans.close()
    layers["ner.boundary_s"] = layers["ner.python_s"] - layers["ner.replay_s"]
    layers["ocr_stage.boundary_s"] = layers["ocr_stage.python_s"] - layers["ocr_stage.replay_s"]

    wrong = 0
    if w.name == "text_interleaved":
        spans.open("lineage")
        extra, bad = lineage_layer(spark, d, scratch, expected)
        spans.close()
        layers |= extra
        wrong += bad
        spans.open("curate")
        extra, bad = curate_layer(spark, seed, cache)
        spans.close()
        layers |= extra
        wrong += bad
    if w.name == "media_skew":
        spans.open("scaling")
        layers["job.scaling_eff"], spark = scaling(w, spark, d, cores,
                                                   statistics.median(walls))
        spans.close()

    (cache / f"trace-{w.name}-s{seed}.json").write_text(json.dumps(spans.done))
    metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in UNITS.items()}
    return metrics, spark, wrong

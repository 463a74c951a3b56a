"""Physical-plan quality gates (SURVEY.md §4.2): the optimizations the
engine relies on at 100 TB must actually appear in the executed plan —
predicate pushdown to the parquet scan, column pruning, broadcast joins for
small sides, and a bounded shuffle count in the extraction pipeline."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _full(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 10).select("doc_id", "lang")
    plan = _full(q)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(doc_id,10\)", plan)


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", "lang")
    plan = _executed(q)
    # the scan must read only the projected columns, never `text`
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    assert "text" not in m.group(1)


def test_spatial_semi_join_broadcasts_match_side(spark):
    from ner_ocr_spark.operators.spatial import spatial_semi_join

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    regions = docs.select(
        "doc_id",
        (F.col("doc_id") % 100).cast("double").alias("x1"),
        F.lit(0.0).alias("y1"),
        ((F.col("doc_id") % 100) + 10).cast("double").alias("x2"),
        F.lit(10.0).alias("y2"),
    )
    plan = _executed(spatial_semi_join(regions, regions.limit(3)))
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftSemi" in plan
    # the big side must NOT shuffle for this join
    assert "Exchange hashpartitioning" not in plan


def test_semi_join_broadcast_hash(spark):
    import __spark_entry__ as e

    plan = _executed(e.q_semi_join(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def _subtree(plan: str, marker: str) -> list[str]:
    """The plan lines below the first node line matching `marker`."""
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if re.search(marker, ln))
    depth = re.search(r"[+:]- ", lines[at]).start()
    below = []
    for ln in lines[at + 1:]:
        child = re.search(r"[+:]- ", ln)
        if child and child.start() <= depth:
            break
        below.append(ln)
    return below


@pytest.mark.parametrize("with_blobs", [False, True], ids=["no_blobs", "blobs"])
def test_pipeline_shuffle_count(spark, documents_df, tmp_path, with_blobs):
    """The extraction plan has exactly the two designed shuffles (the
    python-branch placement + reassembly groupBy) in both blobs modes: one
    repartitionById exchange feeds the OCR stage, no range exchange (whose
    bound sample re-ran scan + explode + join) and no Spark job runs while
    the plan is built."""
    from ner_ocr_spark import corpus, pipeline

    blobs = None
    if with_blobs:
        refs = [s["media_ref"] for r in corpus.build_documents(40)
                for s in r["spans"] if s["kind"] == "media"][:4]
        spark.createDataFrame(
            [(r, corpus.render_media_blob(r)) for r in refs],
            "media_ref string, image_png binary",
        ).write.parquet(str(tmp_path / "blobs"))
        blobs = spark.read.parquet(str(tmp_path / "blobs"))
    sc = spark.sparkContext
    sc.setJobGroup("plan-build", "plan-build")
    try:
        out = pipeline.run(spark, documents_df, blobs=blobs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("plan-build")) == []
    plan = _executed(out)
    assert "rangepartitioning" not in plan, plan
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 3, f"unexpected extra shuffles:\n{plan}"
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") <= 3
    below_ocr = _subtree(plan, r"MapInPandas stage.*transformer_text")
    shuffles = [ln for ln in below_ocr if re.search(r"(?<!Broadcast)Exchange ", ln)]
    assert len(shuffles) == 1, plan
    assert "shufflepartitionidpassthrough" in shuffles[0], plan


def test_curate_dedup_window_limit_is_partial_and_final(spark):
    """curate()'s dedup keeps row_number() == 1 per key; Spark 4.1 plans it
    as a Partial WindowGroupLimit before the exchange and a Final one after
    it, so a one-key straggler ships one row per map task, not every
    duplicate. A Spark upgrade that loses the partial limit fails here."""
    from ner_ocr_spark.curation import curate

    docs = spark.createDataFrame(
        [(i, "en", "the cat sat on the mat and the dog ran") for i in range(6)],
        "doc_id long, lang string, text string",
    )
    plan = _executed(curate(docs, {"en": 1.0}))
    assert re.search(r"WindowGroupLimit .*Partial", plan), plan
    assert re.search(r"WindowGroupLimit .*Final", plan), plan


@pytest.mark.parametrize("with_ner", [True, False])
def test_extraction_plan_compiles_without_codegen_fallback(spark, with_ner):
    """Every whole-stage-codegen subtree of the extraction plan fits the
    JVM's 64 KB method limit: with the interpreted fallback off, an
    oversized stage raises `Code grows beyond 64 KB` instead of silently
    running interpreted. collect(), not count(): count() prunes `text` and
    hides the overflow.

    The plan has two branches in both NER modes: the source explodes
    twice (text branch + python branch), one python stage serves media,
    pdf and html spans, and the NER stage — with NER only — sees the slim
    (doc_id, span_idx, text) text rows. Without NER, text rows stay in
    the JVM, so the plan has no ArrowEvalPython."""
    from ner_ocr_spark import corpus, pipeline
    from tests.conftest import DOC_SCHEMA

    docs = spark.createDataFrame(corpus.build_documents(3), DOC_SCHEMA)
    out = pipeline.extract_spans(docs, with_ner=with_ner)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert out.collect()
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")
    # AQE prints the final and the initial plan: count in the final one
    plan = _executed(out).split("== Initial Plan ==")[0]
    assert plan.count("Generate posexplode") == 2, plan
    stages = re.findall(r"MapInPandas stage\(([^)]*)\)#\d+, \[([^\]]*)\]", plan)
    assert len(stages) == (2 if with_ner else 1), plan
    ner_inputs = [re.sub(r"#\d+", "", args).split(", ")
                  for args, outs in stages if "transformer_text" not in outs]
    assert ner_inputs == ([["doc_id", "span_idx", "text"]] if with_ner else [])
    if not with_ner:
        assert "ArrowEvalPython" not in _executed(out)


def test_minhash_uses_partial_aggregation(spark):
    """The signature groupBy must map-side combine (partial_min) so the
    shuffle carries one row per doc, not one per shingle."""
    from ner_ocr_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    plan = _executed(minhash_lsh_pairs(docs))
    assert re.search(r"partial_min|HashAggregate.*\bmin\b", plan)


def test_minhash_band_join_carries_no_signatures(spark):
    """Shuffle diet (round-2): the banded self-join moves ONLY
    (id, band_idx, band_hash); the 32-long sig arrays are fetched by a
    single re-join per side AFTER the candidate pairs are distinct()ed —
    otherwise every signature crosses the shuffle 2 x bands times."""
    from ner_ocr_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    plan = _executed(minhash_lsh_pairs(docs))
    # the Project nodes feeding the band self-join output exactly
    # (id, band_idx, band_hash) — their output lists must not mention sig
    band_projects = re.findall(r"Project \[([^\]]*band_hash[^\]]*)\]", plan)
    assert band_projects, plan
    for cols in band_projects:
        assert "sig#" not in cols and "mh0" not in cols, cols
    # and the join itself exists
    assert re.search(r"Join \[?band", plan) or "band_hash" in plan


def test_map_only_operators_have_no_shuffle(spark):
    """fingerprint (winnowing), quality/lang/token stats, refine-coalesce,
    and region crops are all map-only — a shuffle in any of them would be
    a plan regression at 100 TB."""
    import __spark_entry__ as e

    from ner_ocr_spark.operators.textstats import (
        fingerprint, lang_id, quality_features,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        fingerprint(docs),
        quality_features(docs),
        lang_id(docs),
        e.q_refine_coalesce(spark, SF),
        e.q_token_count(spark, SF),
    ):
        plan = _executed(df)
        assert "Exchange" not in plan, plan


def test_cosine_topk_broadcasts_queries(spark):
    import __spark_entry__ as e

    plan = _executed(e.q_cosine_topk(spark, SF))
    assert "Broadcast" in plan


def test_plans_md_is_fresh():
    """PLANS.md is a committed generated artifact (scripts/plan_audit.py);
    this gate fails when queries() gains/loses entries without a regen, so
    the judge-facing audit can't silently go stale. (Plan-property drift is
    caught by the targeted assertions above; this pins the roster.)"""
    from pathlib import Path

    import __spark_entry__ as e

    plans = Path(__file__).resolve().parent.parent / "PLANS.md"
    rows = re.findall(r"^\| (\w+) \|", plans.read_text(), re.MULTILINE)
    audited = {r for r in rows if r != "query"}
    assert audited == set(e.queries().keys()), (
        f"PLANS.md stale — run scripts/plan_audit.py. "
        f"missing={set(e.queries()) - audited} extra={audited - set(e.queries())}"
    )


def test_funnel_single_shuffle(spark):
    """Round-4: the funnel is ONE groupBy — its executed plan must stay at
    <=2 exchanges with zero broadcast step-table joins (the round-2 form
    shuffled events once per step: 12 exchanges / 18 broadcasts)."""
    import __spark_entry__ as e

    plan = _executed(e.q_funnel(spark, SF))
    assert plan.count("Exchange") <= 2, plan
    assert "Broadcast" not in plan, plan


def test_interval_join_is_equi_not_nested_loop(spark):
    """The bucketized range join must execute as an EQUI join (hash/sort
    merge on keys+bucket); the naive BETWEEN theta-join degenerates to
    BroadcastNestedLoopJoin / cartesian — the scale-killer this operator
    exists to avoid."""
    import __spark_entry__ as e

    plan = _executed(e.q_interval_join(spark, SF))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan


def test_get_spark_pins_performance_settings(spark):
    """The session settings performance depends on (`spark` is built by
    session.get_spark): the InferFiltersFromGenerate exclusion and the
    1024-row Arrow batch bound."""
    rules = spark.conf.get("spark.sql.optimizer.excludedRules").split(",")
    assert "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate" in rules
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "1024"
    # and the exclusion holds in the plan: exploding a computed array gets
    # no inferred size(...) > 0 filter re-evaluating the generator input
    # (a projected array, then exploded: the span builder's shape)
    q = spark.range(3).select(
        F.transform(F.split(F.col("id").cast("string"), ","), F.upper)
        .alias("a")
    ).select(F.posexplode("a"))
    optimized = q._jdf.queryExecution().optimizedPlan().toString()
    assert "size(" not in optimized, optimized


def test_curate_fence_keeps_hof_trees_out_of_keep_filters(spark):
    """curate() fences each keep flag (`curation._fence`) so
    PushPredicateThroughNonJoin cannot inline the map-only quality and
    repetition trees into the `keep == 1` filters. Inlined, the word
    split and the sorted gram-hash arrays are re-evaluated per predicate
    reference (sort_array 2 -> 6, split 2 -> 29 in this plan; 110 s vs
    13 s for the sf1 curation, see `_fence`). Each tree must appear once
    in the optimized plan: the gopher and repetition word splits, and the
    2- and 3-gram hash sorts."""
    from ner_ocr_spark.curation import curate

    docs = spark.createDataFrame(
        [(1, "en", "the cat sat on the mat and the dog ran"),
         (2, "de", "a b c")],
        "doc_id long, lang string, text string",
    )
    plan = curate(docs, {"en": 1.0})._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 2, plan
    assert plan.count("sort_array(") == 2, plan

"""End-to-end corpus curation: the composed training-data pipeline.

The individual operators (quality filter, repetition filter, dedup,
sampling, packing) are each value-checked in isolation; this module is the
flagship COMPOSITION — what a user actually runs over a crawl dump:

    documents
      -> gopher_filter            quality rules          (map-only)
      -> repetition_cols keep     n-gram repetition      (map-only)
      -> exact-dedup canonical    min-id per content key (1 window shuffle)
      -> stratified_sample        per-language rates     (map-only filter)
      -> pack_sequences           concat-and-chunk       (1 window shuffle)

Everything between the scan and the final packing metadata is id/hash
keyed — document TEXT crosses a shuffle only for the dedup window (as the
60-bit key + the row it rides with), never exploded. The driver query
`curation_pipeline` value-checks the whole composition against a DuckDB
twin assembled from the same per-stage SQL fragments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ner_ocr_spark.operators.dedup import md5_hash60, normalize_for_dedup
from ner_ocr_spark.operators.packing import pack_sequences
from ner_ocr_spark.operators.sampling import stratified_sample
from ner_ocr_spark.operators.textstats import (
    gopher_filter,
    repetition_cols,
    token_count_ws,
)


def _fence(col):
    """Value-preserving pushdown fence: shuffling a SINGLE-element array is
    a nondeterministic no-op (element_at(shuffle([x]), 1) == x, including
    NULL), and a nondeterministic alias is one
    PushPredicateThroughNonJoin cannot substitute into a Filter condition.
    Without it, `filter(keep == 1)` over the map-only quality/repetition
    projections inlines each heavy HOF tree (gram hashing, sort, fold)
    4-6x into the predicate — measured 110 s vs 13 s for the sf1 curation
    (the pre-round-6 hash-aggregate was an accidental barrier). Task
    retries re-shuffle a 1-element array — the value never changes. (A
    rand(seed) >= -1 guard does NOT survive: Spark 4 folds it by value
    range.) Guide §4.4 — the same duplication fix as asNondeterministic
    for UDFs, applied to codegen-free expression trees."""
    return F.element_at(F.shuffle(F.array(col), 7), 1)


def curate(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.2,
    budget: int = 256,
    shards: int = 8,
    seed: int = 7,
    strata_col: str = "lang",
    dedup_key=None,
    unit_hash=None,
    shard_hash=None,
) -> DataFrame:
    """Run the full curation pipeline over (doc_id, lang, text) rows and
    return the packing placement of every surviving document (doc_id,
    shard, n_tokens, start_offset, seq_first, seq_last).

    Per-doc stats are independent of other rows, so filters commute with
    each other — the quality and repetition stages here match their
    standalone whole-corpus queries row-for-row, which is what lets the
    oracle compose the per-stage SQL verbatim."""
    base = docs.select("doc_id", strata_col, "text")
    kept_quality = (
        gopher_filter(base).withColumn("keep", _fence(F.col("keep")))
        .filter(F.col("keep") == 1)
        .select("doc_id", strata_col, "text")
    )
    # repetition stats are per-row (round 6: map-only repetition_cols), so
    # the keep flag filters IN PLACE — the previous
    # repetition_stats -> left_semi self-join re-keyed the corpus by doc_id
    # for no reason (guide §2.4)
    kept = (
        repetition_cols(kept_quality)
        .withColumn("keep", _fence(F.col("keep")))
        .filter(F.col("keep") == 1)
        .select("doc_id", strata_col, "text")
    )
    # compute everything downstream still needs from `text` BEFORE the
    # dedup exchange — the window then shuffles (id, stratum, key, count)
    # instead of full document bodies (guide §2.3 "shuffle fewer bytes";
    # pack_sequences consumes the precomputed count via token_count=)
    key = (dedup_key or md5_hash60)(normalize_for_dedup(F.col("text")))
    w = Window.partitionBy("_k").orderBy("doc_id")
    deduped = (
        kept.select(
            "doc_id", strata_col, key.alias("_k"),
            token_count_ws(F.col("text")).cast("long").alias("_nt"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_k", "_rn")
    )
    sampled = stratified_sample(
        deduped, rates, strata_col=strata_col,
        default_rate=default_rate, seed=seed, unit_hash=unit_hash,
    )
    return pack_sequences(
        sampled, budget=budget, shards=shards, shard_hash=shard_hash,
        token_count=F.col("_nt"),
    )

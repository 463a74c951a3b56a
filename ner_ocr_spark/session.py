"""SparkSession factory with the engine's standard tuning.

Local mode runs on local[N] with N from the SPARK_GRAFT_CPUS environment
variable (32 when unset), and shuffle partitions default to N; pass
`master` to override. On a real cluster the same builder is used minus
`master` (spark-submit provides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ner_ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[k]: shuffle partitions ~ cores (guide: default 200 is wrong for
    # tiny local data); cluster: leave to AQE via the submit conf.
    if shuffle_partitions is None:
        shuffle_partitions = cpus if master.startswith("local") else 200
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # InferFiltersFromGenerate duplicates the GENERATOR EXPRESSION into
        # an inferred `size(e) > 0` Filter; for computed arrays (the span
        # builder, chunkers) the filter inlines the whole HOF tree with
        # split() re-substituted into lambda bodies — re-evaluated per
        # element (round-6: the e2e span build measured 2x+ for this one
        # inferred filter). The engine never explodes nullable STORED
        # arrays where the inferred filter would pay; excluding the rule
        # only removes a redundant re-computation (plan semantics
        # unchanged at any scale).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # media batches carry decoded pages through python workers — bound
        # the Arrow batch so peak memory stays flat
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # DuckDB-oracle comparison needs UTC-naive timestamp semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

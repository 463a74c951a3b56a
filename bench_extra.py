"""Round-6 optimization harness: noop-sink timing of single queries and
plan dumps — not bench.py (whose one-line JSON contract is fixed); this
file only feeds OPTIMIZATION_r06.md evidence. Per-layer breakdowns of
extraction and curation come from `perfbench/run.py --trace 1`, which
reads them from Spark's plan metrics and timed stage replays.

Usage:
    python bench_extra.py queries [name ...]   # individual bench queries
    python bench_extra.py plans [name ...]     # dump explain("formatted")

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))


def _spark():
    from ner_ocr_spark.session import get_spark

    spark = get_spark(
        app_name="bench_extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def best_of(spark, label, make_df, reps=REPS):
    spark.sparkContext.setJobDescription(label)
    _noop(make_df())  # warm-up
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        _noop(make_df())
        best = min(best, time.monotonic() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"{label:32s} {best:8.3f} s")
    return round(best, 3)


def run_queries(names):
    import __spark_entry__ as entry

    spark = _spark()
    qs = entry.queries()
    out = {}
    for name in names:
        out[name] = best_of(spark, name, lambda n=name: qs[n](spark, SF_DIR))
    print(json.dumps({"sf_dir": SF_DIR, "queries": out}))
    spark.stop()


def dump_plans(names, outdir="plans/r06", suffix="before"):
    import __spark_entry__ as entry
    from ner_ocr_spark import pipeline

    spark = _spark()
    qs = entry.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        if name == "extraction_e2e":
            df = pipeline.assemble_documents(
                pipeline.extract_spans(entry.interleaved_documents(spark, SF_DIR))
            )
        else:
            df = qs[name](spark, SF_DIR)
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = Path(outdir) / f"{name}_{suffix}.txt"
        path.write_text(p)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode == "queries":
        run_queries(sys.argv[2:])
    elif mode == "plans":
        names = sys.argv[2:]
        suffix = "before"
        if names and names[0].startswith("--suffix="):
            suffix = names[0].split("=", 1)[1]
            names = names[1:]
        dump_plans(names, suffix=suffix)
    else:
        raise SystemExit(__doc__)

"""CLI — the reference entrypoint's semantics on Spark
(/root/reference/scripts/entrypoint.py:13-73 argparse, :110-163 dispatch).

Modes:
  extract — full OCR+NER pipeline, checkpointed (resumable) output
  ocr     — extraction without NER (stage 1; reference --mode ocr)
  entity  — NER + layout assembly over a stage-1 output table
            (reference --mode entity re-reads stage-1 JSON,
             /root/reference/src/pipelines/entity.py:41-42)
  curate  — training-data curation over documents(doc_id, lang, text):
            quality filter -> repetition filter -> exact-dedup -> per-lang
            stratified sample -> sequence packing, written as shard-
            partitioned training layout (curation.curate +
            sinks.write_training_shards)
  html    — main-content extraction over pages(<id cols>, html): strips
            boilerplate via the readability-style DOM heuristics and adds
            main_text + title/headline/n_links/links_joined columns
            (north rule: HTML boilerplate strip / DOM heuristics)
  pdf     — per-page census over (id, pdf bytes): page kind
            (image/text), born-digital text, /Info metadata (decrypted
            when the standard handler allows the empty user password)

Run locally:
    python -m ner_ocr_spark extract -i docs.parquet -o out/
Cluster (spark-submit --py-files, north-rule launch shape):
    see scripts/submit_extract.sh
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="ner_ocr_spark")
    p.add_argument("mode",
                   choices=["extract", "ocr", "entity", "curate", "html",
                            "pdf"])
    p.add_argument("-i", "--input", required=True,
                   help="parquet path of documents(doc_id, spans) — or of "
                        "stage-1 span rows for mode=entity")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--chunks", type=int, default=8,
                   help="checkpoint commit granularity (doc_id hash chunks)")
    p.add_argument("--refine-below", type=float, default=None,
                   help="second-pass OCR refinement threshold (M2 analog)")
    p.add_argument("--gazetteer", default=None,
                   help="CSV of surface,entity_type (default: built-in)")
    p.add_argument("--master", default=None)
    p.add_argument("--line-threshold", type=float, default=10.0)
    p.add_argument("--gap-threshold", type=float, default=50.0)
    p.add_argument("--rates", default=None,
                   help="curate: per-stratum keep rates, e.g. en=0.5,de=0.2")
    p.add_argument("--default-rate", type=float, default=1.0,
                   help="curate: keep rate for strata not in --rates")
    p.add_argument("--budget", type=int, default=2048,
                   help="curate: tokens per packed training sequence")
    p.add_argument("--shards", type=int, default=64,
                   help="curate: independent packing streams")
    p.add_argument("--seed", type=int, default=7,
                   help="curate: sampling hash seed")
    p.add_argument("--html-col", default="html",
                   help="html: input column holding page markup")
    p.add_argument("--pdf-col", default="payload",
                   help="pdf: input column holding the PDF bytes")
    p.add_argument("--id-col", default="doc_id",
                   help="pdf: identifier column carried through")
    return p.parse_args(argv)


def parse_rates(spec: str | None) -> dict[str, float]:
    if not spec:
        return {}
    out = {}
    for part in spec.split(","):
        part = part.strip()
        if not part:  # tolerate a trailing comma
            continue
        if "=" not in part:
            raise SystemExit(
                f"--rates: expected strata=rate pairs like en=0.5,de=0.2, "
                f"got {part!r}"
            )
        k, v = part.split("=", 1)
        try:
            rate = float(v)
        except ValueError:
            raise SystemExit(f"--rates: {v!r} is not a number in {part!r}") from None
        if not 0.0 <= rate <= 1.0:
            raise SystemExit(f"--rates: rate must be in [0, 1], got {part!r}")
        out[k.strip()] = rate
    return out


def load_gazetteer(path: str | None) -> list[tuple[str, str]] | None:
    if path is None:
        return None
    out = []
    with open(path) as f:
        for i, line in enumerate(f):
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            surface, etype = line.rsplit(",", 1)
            surface, etype = surface.strip(), etype.strip()
            # a conventional header line is metadata, not an entity
            if i == 0 and (surface.lower(), etype.lower()) in (
                ("surface", "entity_type"), ("surface", "type"),
            ):
                continue
            out.append((surface, etype))
    return out


def write_counted(df, write) -> int:
    """Run `write` on `df` and return the number of rows it wrote.
    observe() piggybacks the count on the write job itself — a re-read (or
    a separate count()) would re-scan everything just written / recompute
    the pipeline for one log line."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


def write_parquet(path: str):
    return lambda df: df.write.mode("overwrite").parquet(path)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from ner_ocr_spark import lineage
    from ner_ocr_spark.session import get_spark

    spark = get_spark(app_name=f"ner_ocr_spark-{args.mode}", master=args.master)
    gaz = load_gazetteer(args.gazetteer)

    if args.mode == "curate":
        from ner_ocr_spark.curation import curate
        from ner_ocr_spark.sinks import write_training_shards

        docs = spark.read.parquet(args.input)
        placed = curate(
            docs, parse_rates(args.rates), default_rate=args.default_rate,
            budget=args.budget, shards=args.shards, seed=args.seed,
        )
        # join the surviving text back so each shard file is directly
        # trainable (placement + payload); the placement side is the
        # post-curation survivor set
        out = placed.join(docs.select("doc_id", "text"), "doc_id")
        n = write_counted(out, lambda d: write_training_shards(d, args.output))
        print(json.dumps({"mode": "curate", "output": args.output,
                          "n_docs": n, "shards": args.shards,
                          "budget": args.budget}))
        spark.stop()
        return 0

    if args.mode == "html":
        from ner_ocr_spark.operators.html import (
            extract_main_content, extract_metadata,
        )

        pages = spark.read.parquet(args.input)
        out = extract_metadata(
            extract_main_content(pages, args.html_col), args.html_col
        ).select("*", "meta.*").drop("meta", args.html_col)
        n = write_counted(out, write_parquet(args.output))
        print(json.dumps({"mode": "html", "output": args.output,
                          "n_pages": n}))
        spark.stop()
        return 0

    if args.mode == "pdf":
        from ner_ocr_spark.operators.pdf import pdf_report

        rows = spark.read.parquet(args.input)
        out = pdf_report(rows, payload_col=args.pdf_col, id_col=args.id_col)
        n = write_counted(out, write_parquet(args.output))
        print(json.dumps({"mode": "pdf", "output": args.output,
                          "n_rows": n}))
        spark.stop()
        return 0

    if args.mode in ("extract", "ocr"):
        docs = spark.read.parquet(args.input)
        stats = lineage.run_checkpointed(
            spark,
            docs,
            args.output,
            n_chunks=args.chunks,
            with_ner=(args.mode == "extract"),
            refine_below=args.refine_below,
            gazetteer=gaz,
        )
        print(json.dumps(stats))
    else:  # entity: stage-2 over stage-1 span rows
        from ner_ocr_spark.workbench import entity_pages

        pages = entity_pages(spark.read.parquet(args.input), gaz,
                             args.line_threshold, args.gap_threshold)
        pages.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"mode": "entity", "output": args.output}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

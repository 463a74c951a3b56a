"""The benchmark workloads: seeded inputs, oracle expectations, the timed
job and the correctness check of each.

Inputs are pure functions of (workload, seed). Document ids live in a
seed-named namespace (`s<seed>-<i>`), so `corpus.doc_spans` gives every seed
different documents. Media spans take their references from the vetted page
pools (`pools.py`), drawn by the seed. Documents are picked from the seeded
candidate stream so that the totals that set the work (text spans, media
pages) sit within 0.5% of fixed targets: every seed then does the same amount
of work, and the spread between seeds is the engine's, not the generator's.

The program sees only the generated tables (parquet under the cache dir);
the oracle side never runs Spark.
"""

from __future__ import annotations

import pickle
import random
import shutil
from collections import defaultdict
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import pools

N_FILES = 8  # input files per table; the scan packs them into ~nproc splits
LINEAGE_SHARE = 4  # the lineage sub-run checkpoints 1/LINEAGE_SHARE of the input
CHUNKS = 4  # checkpointed run: doc_id-hash chunks; the first call stops at half

SPANS_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int64()),
]))
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPANS_TYPE)])
BLOBS_SCHEMA = pa.schema([("media_ref", pa.string()), ("image_png", pa.binary())])
CURATE_SCHEMA = pa.schema([("doc_id", pa.int64()), ("lang", pa.string()),
                           ("text", pa.string())])

# curate(...) parameters of the `curation_pipeline` query
CURATE_ARGS = dict(rates={"en": 0.6, "de": 0.3}, default_rate=0.2, budget=256,
                   shards=8, seed=7)


class Workload:
    """A named input shape: document count plus the generator's knobs."""

    def __init__(self, name, why, docs, **sizes):
        self.name, self.why, self.n_docs, self.sizes = name, why, docs, sizes


WORKLOADS = {
    w.name: w for w in [
        Workload("text_interleaved",
                 "text spans (>99.9%): span explode, JVM normalizer, NER Arrow "
                 "crossing and groupBy(doc_id) reassembly do the work; OCR "
                 "almost none", docs=2400, p_media=0.0005),
        Workload("media_skew",
                 "30% media spans, heavy docs and 10% oversize pages: media "
                 "shuffle, cost balancing and the OCR kernel do the work; "
                 "the NER crossing sees few rows", docs=70, heavy=1,
                 p_media=0.3, oversize=0.1),
    ]
}

# measured only inside the traced text_interleaved run (tracing.py): a timed
# run of its own does not fit the benchmark's time budget
CURATE = Workload("curate_dupskew",
                  "curation with no python crossing: gopher, repetition fold, "
                  "dedup window with one key owning ~30% of rows, sampling, "
                  "packing", docs=7500, dup_share=0.3)


# -- generation ---------------------------------------------------------------

def _counts(spans):
    media = sum(1 for s in spans if s["kind"] == "media")
    return len(spans) - media, media


def _pick_docs(rng, seed, n, heavy, p_media):
    """n documents (the first `heavy` of them heavy) from the seeded
    candidate stream, swapped until total text spans and media pages are
    within 0.5% of their expectations."""
    from ner_ocr_spark import corpus

    next_id = iter(range(10**9))

    def cand(is_heavy):
        doc_id = f"s{seed}-{next(next_id):07d}"
        spans = corpus.doc_spans(doc_id, p_media=p_media, heavy=is_heavy)
        return doc_id, spans, _counts(spans)

    # expected totals, from a fixed (seed-independent) sample of the corpus
    ref = [_counts(corpus.doc_spans(f"ref-{i}", p_media=p_media))
           for i in range(4000)]
    ref_h = [_counts(corpus.doc_spans(f"ref-{i}", heavy=True))
             for i in range(400)]
    target = [(n - heavy) * sum(c[k] for c in ref) / len(ref)
              + heavy * sum(c[k] for c in ref_h) / len(ref_h) for k in (0, 1)]
    docs = [cand(i < heavy) for i in range(n)]
    tot = [sum(d[2][k] for d in docs) for k in (0, 1)]

    def err(t):
        return sum(abs(t[k] - target[k]) / max(target[k], 1.0) for k in (0, 1))

    tol = [max(0.005 * target[k], 1.0) for k in (0, 1)]
    for _ in range(200_000):
        if all(abs(tot[k] - target[k]) <= tol[k] for k in (0, 1)):
            break
        i = rng.randrange(n)
        new = cand(i < heavy)
        moved = [tot[k] - docs[i][2][k] + new[2][k] for k in (0, 1)]
        if err(moved) < err(tot):
            docs[i], tot = new, moved
    else:
        raise RuntimeError("document totals did not converge")
    return [(d, s) for d, s, _ in docs]


def _assign_pages(rng, docs, oversize_share):
    """Point every media span at a distinct vetted page; return the
    oversize flag per page."""
    media = [s for _, spans in docs for s in spans if s["kind"] == "media"]
    n_over = round(oversize_share * len(media))
    flags = [True] * n_over + [False] * (len(media) - n_over)
    rng.shuffle(flags)
    pool = {o: pools.usable(o) for o in (False, True)}
    for o in pool.values():
        rng.shuffle(o)
    if n_over > len(pool[True]) or len(media) - n_over > len(pool[False]):
        raise RuntimeError("page pool too small for this input")
    take = {False: iter(pool[False]), True: iter(pool[True])}
    over = {}
    for s, o in zip(media, flags):
        s["media_ref"] = next(take[o])
        over[s["media_ref"]] = o
    return over


def _write(rows, schema, path: Path) -> None:
    path.mkdir(parents=True)
    per = -(-len(rows) // N_FILES)
    for f in range(N_FILES):
        part = rows[f * per:(f + 1) * per]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema),
                           path / f"part-{f:02d}.parquet")


def _expected_doc(spans, tagger):
    """oracle.expected_spans / expected_entities semantics over a span list:
    text -> normalize_text, media -> the lines the renderer drew."""
    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels.normalize import normalize_text

    seq, ents = [], []
    for s in spans:
        if s["kind"] == "text":
            lines = [(s["text"], None)]
        else:
            lines = [(t, s["media_ref"]) for t in corpus.media_truth_text(s["media_ref"])]
        for text, ref in lines:
            t = normalize_text(text)
            if t:
                seq.append((s["kind"], t, ref))
                found, bio = tagger.tag(t)
                ents.append(([(e.entity_type, e.surface, e.start, e.end)
                              for e in found], bio))
    return seq, ents


def _gen_extraction(w, seed, rng, d: Path):
    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels.ner import GazetteerTagger

    docs = _pick_docs(rng, seed, w.n_docs, w.sizes.get("heavy", 0),
                      w.sizes["p_media"])
    rng.shuffle(docs)  # heavy docs anywhere in the input
    over = _assign_pages(rng, docs, w.sizes.get("oversize", 0.0))
    rows = [{"doc_id": i, "spans": s} for i, s in docs]
    _write(rows, DOCS_SCHEMA, d / "input")
    if w.name == "text_interleaved":
        _write(rows[:len(rows) // LINEAGE_SHARE], DOCS_SCHEMA, d / "lineage_input")
    if w.name == "media_skew":
        blobs = [{"media_ref": r, "image_png": corpus.render_media_blob(r, o)}
                 for r, o in over.items()]
        _write(blobs, BLOBS_SCHEMA, d / "blobs")
    tagger = GazetteerTagger(corpus.GAZETTEER)
    return {
        "docs": {i: _expected_doc(s, tagger) for i, s in docs},
        "spans": sum(len(s) for _, s in docs),
        "pages": len(over),
        "oversize": sum(over.values()),
    }


STOP = "the a of and to in is on for with".split()
VOCAB = ("river stone cloud light paper table green north south house plant "
         "metal glass train window market garden bridge letter summer winter "
         "engine signal harbor valley forest silver copper orange yellow "
         "morning evening country village station number record").split()
LANGS = ["en"] * 4 + ["de"] * 2 + ["fr", "es", "zh"]


def _sentence(rng, n_words):
    words = [rng.choice(VOCAB) for _ in range(n_words)]
    for k in range(0, n_words, 4):
        words[k] = rng.choice(STOP)
    return " ".join(words)


def _gen_curate(w, seed, rng, d: Path):
    import duckdb

    import __spark_entry__ as entry

    n = w.n_docs
    mega = _sentence(rng, 48)  # passes the quality and repetition rules
    n_mega = round(w.sizes["dup_share"] * n)
    kinds = ["mega"] * n_mega + ["plain"] * (n - n_mega)
    rng.shuffle(kinds)
    rows = []
    for i, kind in enumerate(kinds):
        if kind == "mega":
            # same dedup key (case and whitespace fold away), distinct bytes
            words = [t.upper() if rng.random() < 0.2 else t for t in mega.split()]
            text = ("  " if rng.random() < 0.3 else "") + " ".join(words)
        else:
            r = rng.random()
            text = _sentence(rng, rng.randrange(20, 90))
            if r < 0.08:  # fails gopher: symbols
                text = text.replace(" ", " # ")
            elif r < 0.14:  # fails the repetition rule
                text = " ".join(["green river stone"] * 12)
            elif r < 0.18:  # a small duplicate cluster
                text = _sentence(random.Random(f"{seed}:{rng.randrange(40)}"), 30)
        rows.append({"doc_id": seed * 10**7 + i, "lang": rng.choice(LANGS),
                     "text": text})
    _write(rows, CURATE_SCHEMA, d / "input")
    con = duckdb.connect()
    con.register("documents", pa.Table.from_pylist(rows, CURATE_SCHEMA))
    want = con.execute(entry.oracle_sql()["curation_pipeline"]).fetchall()
    return {"rows": sorted(tuple(int(v) for v in r) for r in want),
            "spans": n}


def prepare(w: Workload, seed: int, cache: Path) -> tuple[Path, dict]:
    """Generate (or reuse) the inputs and expectations for (w, seed)."""
    d = cache / f"{w.name}-s{seed}"
    done = d / "expected.pkl"
    if done.exists():
        return d, pickle.loads(done.read_bytes())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    rng = random.Random(f"{w.name}:{seed}")
    gen = _gen_curate if w.name == "curate_dupskew" else _gen_extraction
    expected = gen(w, seed, rng, d)
    tmp = d / "expected.tmp"
    tmp.write_bytes(pickle.dumps(expected))
    tmp.rename(done)
    return d, expected


# -- jobs ---------------------------------------------------------------------

def make_job(w: Workload, spark, d: Path):
    """A zero-argument callable that runs one full job of the workload
    through the noop sink."""
    from ner_ocr_spark import pipeline

    src = str(d / "input")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    if w.name == "text_interleaved":
        return lambda: noop(pipeline.run(spark, spark.read.parquet(src)))
    if w.name == "media_skew":
        blobs = str(d / "blobs")
        return lambda: noop(pipeline.run(spark, spark.read.parquet(src),
                                         blobs=spark.read.parquet(blobs)))
    return lambda: noop(curate_df(spark, src))


def curate_df(spark, src: str):
    from ner_ocr_spark.curation import curate
    from ner_ocr_spark.operators.packing import shard_hash_md5
    from ner_ocr_spark.operators.sampling import unit_hash_md5

    a = CURATE_ARGS
    return curate(spark.read.parquet(src), a["rates"],
                  default_rate=a["default_rate"], budget=a["budget"],
                  shards=a["shards"], seed=a["seed"],
                  unit_hash=unit_hash_md5, shard_hash=shard_hash_md5)


# -- correctness --------------------------------------------------------------

def _check_extracted(rows, expected) -> tuple[int, int]:
    """(wrong docs, error rows) of extract_spans rows vs the oracle."""
    by_doc = defaultdict(list)
    errors = 0
    for r in rows:
        if r["error"] is not None:
            errors += 1
            continue
        by_doc[r["doc_id"]].append(r)
    wrong = 0
    for doc_id, (seq, ents) in expected["docs"].items():
        got = sorted(by_doc.pop(doc_id, []), key=lambda r: (r["span_idx"], r["line_idx"]))
        got_seq = [(r["kind"], r["text"], r["media_ref"]) for r in got]
        got_ents = [([(e["entity_type"], e["surface"], e["start"], e["end"])
                      for e in (r["entities"] or [])], r["bio"]) for r in got]
        if got_seq != seq or got_ents != ents:
            wrong += 1
    return wrong + len(by_doc), errors


def check_checkpoint(spark, out: Path, stats: list[dict], expected: dict) -> int:
    """Wrong documents of a stopped-and-resumed lineage.run_checkpointed
    output: oracle mismatches, duplicate (doc_id, span_idx, line_idx) rows,
    and one more if the lineage rows are not one set per committed chunk."""
    from pyspark.sql import functions as F

    from ner_ocr_spark import lineage

    rows = lineage.read_output(spark, str(out)).select(*CHECK_COLS).collect()
    keys = {(r["doc_id"], r["span_idx"], r["line_idx"]) for r in rows}
    lin = lineage.read_lineage(spark, str(out)).groupBy("run_id", "chunk").agg(
        F.sum("n_spans").alias("n")).collect()
    committed = sum(s["chunks_done"] for s in stats)
    lineage_ok = len(lin) == committed and sum(r["n"] for r in lin) == len(rows)
    wrong, _ = _check_extracted(rows, expected)
    return wrong + len(rows) - len(keys) + (0 if lineage_ok else 1)


CHECK_COLS = ["doc_id", "span_idx", "line_idx", "kind", "text", "media_ref",
              "entities", "bio", "error"]


def check(w: Workload, spark, d: Path, expected: dict) -> dict:
    """Run the workload once more, untimed, and compare with the oracle."""
    from ner_ocr_spark import pipeline

    res = {"attempted": expected["spans"], "failed": 0, "wrong_docs": 0}
    if w.name == "curate_dupskew":
        got = [tuple(int(v) for v in r)
               for r in curate_df(spark, str(d / "input")).collect()]
        want = {r[0]: r for r in expected["rows"]}
        have = {r[0]: r for r in got}
        res["wrong_docs"] = sum(1 for k in want.keys() | have.keys()
                                if want.get(k) != have.get(k)) + len(got) - len(have)
        return res
    docs = spark.read.parquet(str(d / "input"))
    blobs = spark.read.parquet(str(d / "blobs")) if w.name == "media_skew" else None
    extracted = pipeline.extract_spans(docs, blobs=blobs).persist()
    rows = extracted.select(*CHECK_COLS).collect()
    assembled = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
                 for r in pipeline.assemble_documents(extracted).collect()}
    extracted.unpersist()
    wrong, res["failed"] = _check_extracted(rows, expected)
    # the timed job's own output: the assembled span sequence per document
    want = expected["docs"]
    wrong_assembled = sum(1 for k, (seq, _) in want.items() if assembled.get(k) != seq)
    res["wrong_docs"] = max(wrong, wrong_assembled + len(assembled.keys() - want.keys()))
    return res

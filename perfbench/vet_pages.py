"""Find the pages of the benchmark's page pools that the OCR kernel misreads.

The OCR kernel mis-recognises a small share of rendered pages (about 0.5%:
e.g. LONDON read as LONOON). The benchmark's correctness pass compares media
spans with the text the renderer drew (`corpus.media_truth_text`), so the
generator draws media pages only from pools of pages known to round-trip.
This script writes that exclusion list, `misread_pages.txt`, next to itself.
It is run once, on the code the pools were vetted with; re-run it only to
re-vet after a deliberate change of the renderer.

    python3 perfbench/vet_pages.py [--procs 3]
"""

from __future__ import annotations

import argparse
import multiprocessing
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import pools  # noqa: E402


def _misread(args: tuple[str, bool]) -> str | None:
    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels import ocr
    from ner_ocr_spark.kernels.normalize import normalize_text

    ref, oversize = args
    want = [t for t in map(normalize_text, corpus.media_truth_text(ref)) if t]
    png = corpus.render_media_blob(ref, oversize=oversize)
    got = [t for t in (normalize_text(l.text) for l in ocr.ocr_page(png, 1500)) if t]
    return None if got == want else ref


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--procs", type=int, default=3)
    args = ap.parse_args()
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    jobs = [(r, False) for r in pools.candidates(oversize=False)]
    jobs += [(r, True) for r in pools.candidates(oversize=True)]
    with multiprocessing.get_context("spawn").Pool(args.procs) as pool:
        bad = [r for r in pool.imap(_misread, jobs, chunksize=32) if r]
    (HERE / "misread_pages.txt").write_text("".join(f"{r}\n" for r in bad))
    print(f"{len(bad)} of {len(jobs)} pages misread")


if __name__ == "__main__":
    main()

"""300-page OCR digest: a bit-identity check for the OCR kernel.

Renders the corpus pages doc{i:08d}/m0 for i < 300, each at the normal and
the oversize scale (600 pages), runs `kernels.ocr.ocr_page` at its default
deskew step on every page, and hashes every recognized line's
(text, box, score):

    sha256(repr(sorted({(ref, oversize): [(text, tuple(box), score), ...]}.items())))[:16]

A kernel refactor that claims bit-identical output must leave the digest
unchanged. Pages are rendered by the deterministic corpus renderer, so the
digest depends only on the kernel (and numpy's float arithmetic).

Usage: python scripts/ocr_digest.py      # ~1 min on one core
Prints one JSON line: {"digest", "pages", "lines", "seconds"}.
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ner_ocr_spark import corpus
from ner_ocr_spark.kernels import ocr

N_PAGES = 300


def page_lines() -> dict[tuple[str, bool], list[tuple[str, tuple, float]]]:
    out = {}
    for i in range(N_PAGES):
        ref = f"doc{i:08d}/m0"
        for oversize in (False, True):
            lines = ocr.ocr_page(corpus.render_media_blob(ref, oversize=oversize))
            out[(ref, oversize)] = [(l.text, tuple(l.box), l.score) for l in lines]
    return out


def digest(pages: dict) -> str:
    return hashlib.sha256(repr(sorted(pages.items())).encode()).hexdigest()[:16]


def main() -> None:
    t0 = time.perf_counter()
    pages = page_lines()
    print(json.dumps({
        "digest": digest(pages),
        "pages": len(pages),
        "lines": sum(len(v) for v in pages.values()),
        "seconds": round(time.perf_counter() - t0, 1),
    }))


if __name__ == "__main__":
    main()

"""Fixed page pools the generator draws media references from.

Normal pages are rendered at the corpus' default scale; oversize pages at
the scale that exceeds the OCR stage's 1500 px bound. A reference is a pure
function of its pool and index, so its pixels and its ground truth are too.
"""

from __future__ import annotations

from pathlib import Path

POOL_SIZE = {False: 5000, True: 1200}


def candidates(oversize: bool) -> list[str]:
    prefix = "q" if oversize else "p"
    return [f"{prefix}{i:05d}" for i in range(POOL_SIZE[oversize])]


def usable(oversize: bool) -> list[str]:
    """Candidates minus the pages the OCR kernel misreads."""
    bad = set((Path(__file__).resolve().parent / "misread_pages.txt")
              .read_text().split())
    return [r for r in candidates(oversize) if r not in bad]

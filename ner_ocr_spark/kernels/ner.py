"""Deterministic NER kernel: gazetteer matching + BIO sequence tagging.

Replaces the reference's LLM entity extractor
(/root/reference/src/entity_extraction.py:116-139) with the north star's
classical pair: broadcast gazetteer of surface forms -> entity type, matched
leftmost-longest at token boundaries, then BIO tags over whitespace tokens.
One pass tags all entity types (the reference loops per type,
/root/reference/src/pipelines/entity.py:53-63 — O(types) model calls; here
one scan).

Pure functions; the Spark side calls them per text from the NER Arrow UDF
and from the OCR stage (operators/extract.py).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EntityMatch:
    entity_type: str
    surface: str
    start: int  # char offset in the text
    end: int  # exclusive


class GazetteerTagger:
    """Token-level trie matcher (Aho-Corasick-lite for word sequences).

    Surfaces are tokenized on whitespace; matching is leftmost-longest and
    non-overlapping, case-insensitive. The trie is built once per python
    worker from the broadcast gazetteer and reused across Arrow batches.
    """

    def __init__(self, gazetteer: list[tuple[str, str]]):
        # token-trie: dict token -> subtrie; "" key = terminal entity type
        self.trie: dict = {}
        for surface, etype in gazetteer:
            node = self.trie
            for tok in surface.upper().split():
                node = node.setdefault(tok, {})
            node[""] = (etype, surface.upper())

    def match_tokens(self, tokens: list[str]) -> list[tuple[int, int, str, str]]:
        """Leftmost-longest non-overlapping matches over a token list.
        Returns (tok_start, tok_end_exclusive, entity_type, surface)."""
        out = []
        i = 0
        n = len(tokens)
        while i < n:
            node = self.trie
            best: tuple[int, str, str] | None = None
            j = i
            while j < n and tokens[j].upper() in node:
                node = node[tokens[j].upper()]
                j += 1
                if "" in node:
                    best = (j, node[""][0], node[""][1])
            if best is not None:
                end, etype, surface = best
                out.append((i, end, etype, surface))
                i = end
            else:
                i += 1
        return out

    def tag(self, text: str) -> tuple[list[EntityMatch], str]:
        """(entity matches with char offsets, space-joined BIO tag string).

        Tokens are whitespace-delimited; newlines count as whitespace. BIO
        tags align 1:1 with tokens: B-TYPE / I-TYPE / O.
        """
        if not text:
            return [], ""
        tokens: list[str] = []
        starts: list[int] = []
        pos = 0
        for tok in text.split():
            at = text.index(tok, pos)
            tokens.append(tok)
            starts.append(at)
            pos = at + len(tok)
        matches = self.match_tokens(tokens)
        bio = ["O"] * len(tokens)
        ents: list[EntityMatch] = []
        for ts, te, etype, surface in matches:
            bio[ts] = f"B-{etype}"
            for k in range(ts + 1, te):
                bio[k] = f"I-{etype}"
            ents.append(
                EntityMatch(
                    entity_type=etype,
                    surface=surface,
                    start=starts[ts],
                    end=starts[te - 1] + len(tokens[te - 1]),
                )
            )
        return ents, " ".join(bio)

"""PII scrubbing for training-data pipelines: regex redaction of emails,
phone numbers, and IPv4 addresses, with per-type counts for removal
attribution (how much PII each source contributes is a standard corpus
health metric).

Pure regexp expressions — codegen, no python, no shuffle; composes with
the quality/sampling filters on one scan. Patterns are restricted to the
RE2-compatible subset (character classes, bounded repeats, non-capturing
groups, \\b — NO lookaround or backreferences) so the DuckDB oracle runs
the IDENTICAL pattern strings; Java and RE2 agree on this subset for
ASCII input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# bare 555-0123, (555) 123-4567, +1 555-0123 forms
PHONE_RE = r"(?:\(\d{3}\) |\+\d{1,2} )?\d{3}-\d{4}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

# scrub order matters: emails first (their local parts can contain
# digit runs a phone pattern could bite into), then IPs (dotted quads are
# untouchable by the dot-free phone class, but scrubbing them first keeps
# the counts independent of replacement tokens), phones last
_PII = [
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ip", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds `n_email`, `n_ip`, `n_phone` (match counts BEFORE scrubbing,
    so attribution survives redaction) and `scrubbed` (the redacted
    text). Counts are computed on the progressively-scrubbed string the
    same way the replacement is applied, so overlapping pattern classes
    can't double-count one span."""
    out = df
    cur = F.col(text_col)
    for name, pat, token in _PII:
        out = out.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, token)
    return out.withColumn("scrubbed", cur)

"""HTML main-content extraction operator (north rule: "HTML boilerplate
strip ... DOM heuristics").

The kernel (`ner_ocr_spark/htmlx.py`) is a from-scratch HTML parser +
readability-style scorer; real DOM work is python, so the Spark surface
is an Arrow-batched pandas UDF — the same batching model as the OCR
kernel, never row-at-a-time. The operator is MAP-ONLY: zero shuffles,
plan-gated in tests — at 100 TB each task streams its split through the
extractor and nothing crosses the wire but the rows themselves.

The reference repo has no HTML ingestion (OCR-only); this operator is
original work against the published Readability/Boilerpipe heuristic
family.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


@pandas_udf("string")
def _main_text_udf(htmls: pd.Series) -> pd.Series:
    from ner_ocr_spark.htmlx import main_text

    def one(h):
        try:
            return main_text(h)
        except Exception:  # noqa: BLE001 — per-row absorption (M6)
            return ""

    return htmls.map(one)


def extract_main_content(
    df: DataFrame, html_col: str = "html", out_col: str = "main_text"
) -> DataFrame:
    """Append `out_col` = the page's main content text (boilerplate —
    nav / sidebar / footer / script / style — stripped; entities decoded;
    whitespace collapsed per block on the pinned ASCII class)."""
    return df.withColumn(out_col, _main_text_udf(F.col(html_col)))


@pandas_udf("title string, headline string, n_links bigint, "
            "links_joined string")
def _meta_udf(htmls: pd.Series) -> pd.DataFrame:
    from ner_ocr_spark import htmlx

    rows = []
    for h in htmls:
        if h is None:
            rows.append(("", "", 0, ""))
            continue
        try:
            root = htmlx.parse(h)
            lk = htmlx.links(root)
            rows.append((htmlx.title_text(root), htmlx.first_heading(root),
                         len(lk), " ".join(lk)))
        except Exception:  # noqa: BLE001 — per-row absorption (M6)
            rows.append(("", "", 0, ""))
    return pd.DataFrame(
        rows, columns=["title", "headline", "n_links", "links_joined"]
    )


def extract_metadata(
    df: DataFrame, html_col: str = "html", out_col: str = "meta"
) -> DataFrame:
    """Append `out_col` = struct(title, headline, n_links, links_joined):
    the crawl-pipeline page census — <title>, the first h1-h3, and every
    anchor href in document order (joined; outlink extraction for link
    graphs). Map-only, one Arrow-batched stage."""
    return df.withColumn(out_col, _meta_udf(F.col(html_col)))

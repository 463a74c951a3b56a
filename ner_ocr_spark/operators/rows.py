"""The per-row skeleton of the batched python stages (M5 budget, M6
error absorption).

A stage supplies `rows_of(row) -> list[dict]`, a plain function of one
input row that can be tested outside Spark, and `error_row(row, msg)`,
the single row that stands in for a failed one. `absorb_rows` runs it
over mapInPandas batches:

  * a row fails as a unit: if `rows_of` raises, none of that row's output
    is kept and `error_row(row, error_text(e))` replaces it, so a
    two-page PDF whose second page fails yields one error row, never the
    first page's lines plus an error row under the same key;
  * once a batch has run longer than `budget_s`, each later row is not
    run and gets `error_row(row, TIMEOUT)` (the reference's 400 s OCR
    budget, its config.yaml:3, as an in-batch wall clock);
  * a key an output dict leaves out is NULL.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd

TIMEOUT = "timeout: batch OCR budget exceeded"


def error_text(e: BaseException) -> str:
    """The error column's "<Type>: <message>" form."""
    return f"{type(e).__name__}: {e}"


def absorb_rows(
    batches: Iterable[pd.DataFrame],
    columns: Sequence[str],
    rows_of: Callable[[tuple], list[dict]],
    error_row: Callable[[tuple, str], dict],
    budget_s: float | None = None,
) -> Iterator[pd.DataFrame]:
    """Yield one frame of `columns` per input batch: every row's
    `rows_of` output, or its error row (see the module docstring)."""
    for pdf in batches:
        t0 = time.monotonic()
        out: dict[str, list] = {k: [] for k in columns}
        for row in pdf.itertuples(index=False):
            if budget_s is not None and time.monotonic() - t0 > budget_s:
                rows = [error_row(row, TIMEOUT)]
            else:
                try:
                    rows = list(rows_of(row))
                except Exception as e:  # noqa: BLE001 — M6 row-level absorption
                    rows = [error_row(row, error_text(e))]
            for r in rows:
                for k, v in out.items():
                    v.append(r.get(k))
        # object dtype per column: a batch whose rows were ALL dropped
        # otherwise yields empty float64 columns that Arrow cannot convert
        # to list/struct types ("NumPyConverter doesn't implement
        # list<double>")
        yield pd.DataFrame({k: pd.Series(v, dtype=object) for k, v in out.items()})

"""Size-aware placement of the python branch (SURVEY.md §4.3.2 and the
§4.4 sketch's "shuffle 1"; north rule: "OCR-heavy partitions are split
via size-aware range partitioning").

Hash-spreading on (doc_id, span_idx) equalizes row COUNTS; when per-row
cost varies by orders of magnitude (payload bytes ~ decoded pixels ~ OCR
time), a partition can still draw several giant rows. `balance_by_cost`
deals each upstream partition's rows, heaviest first, round-robin over the
n target partitions and places them with ONE `repartitionById` exchange:

    sortWithinPartitions(cost desc, doc_id, span_idx)   [no shuffle]
    rank = monotonically_increasing_id() - (pid << 33)  [row # in pid]
    bin  = pmod(rank + floor(vdc(pid) * n), n)
    repartitionById(n, bin)

pid is spark_partition_id() and vdc(pid) its van der Corput fraction (the
bits of pid reversed behind the binary point), so the upstream
partitions start their deals at offsets spread evenly over the n bins for
any number of upstream partitions; a plain `rank + pid` offset stacks the
giants of neighbouring partitions. No driver-side job and no sample job
run at plan build.

The bound it gives: inside one upstream partition the deal is LPT
round-robin over rows sorted by cost, so any two target partitions' shares
of it differ by at most its largest row. Summed over the upstream
partitions, the heaviest target partition holds at most the mean plus the
sum of every upstream partition's largest row. The offsets decide how
close to that it gets: media_skew's python rows at n=4 give max/mean 1.02,
but two upstream partitions whose offsets fall on the same bin stack their
giants there (a 6-way round-robin upstream at n=16: 2.69).

The tie-break on (doc_id, span_idx) makes the deal a pure function of the
partition's rows, so a retried map task places every row where its first
attempt did. Span order never rides partition order (span_idx/line_idx).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# no longer filled; perfbench's set-up still clears it before every run
_token_cache: dict[int, list[int]] = {}

_VDC_BITS = 20


def balance_by_cost(df: DataFrame, cost: Column, n_partitions: int) -> DataFrame:
    """Place df's (doc_id, span_idx) rows on n_partitions so each holds
    ~equal total `cost`, through one repartitionById exchange."""
    pid = F.spark_partition_id()
    rank = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    vdc = F.conv(F.reverse(F.lpad(F.bin(pid), _VDC_BITS, "0")), 2, 10).cast(
        "double") / (1 << _VDC_BITS)
    n = F.lit(n_partitions)
    target = F.pmod(rank + F.floor(vdc * n), n).cast("int")
    return df.sortWithinPartitions(cost.desc(), "doc_id", "span_idx").repartitionById(
        n_partitions, target)

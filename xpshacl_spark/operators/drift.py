"""Distribution-drift statistics over merged histogram bins.

The per-bin counts come from one fused Spark aggregation (the
compiler's whole-table aggregation or profile's), each counted by
histogram_counts over a bucket column projected before the
aggregation, so each row is bucketed once. histogram_bucket is the one
bucketing of a profile histogram and a Drift check, so a profile
histogram is a Drift baseline bin for bin.
PSI and KS over the counts are Column expressions
(psi_column / ks_column) in the same plan: no collect, no driver-side
arithmetic. psi_statistic / ks_statistic are the Python references.
Deterministic given fixed bins (SURVEY.md §4 custom item 2). The
reference has no drift checks — a north-rule addition
(BASELINE.json north_star).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from xpshacl_spark.sqltext import double_literal


def _proportions(counts: Sequence[float], eps: float) -> list[float]:
    total = float(sum(counts))
    if total <= 0:
        return [eps] * len(counts)
    return [max(c / total, eps) for c in counts]


def psi_statistic(
    baseline: Sequence[float], current: Sequence[float], eps: float = 1e-6
) -> float:
    """Population Stability Index: sum (p_i - q_i) * ln(p_i / q_i).

    Conventional read: <0.1 stable, 0.1-0.2 moderate, >0.2 drifted.
    Small-count bins are floored at eps to keep the statistic finite.
    """
    if len(baseline) != len(current):
        raise ValueError("bin count mismatch")
    p = _proportions(current, eps)
    q = _proportions(baseline, eps)
    return float(sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q)))


def ks_statistic(
    baseline: Sequence[float], current: Sequence[float]
) -> float:
    """Two-sample Kolmogorov-Smirnov statistic approximated on shared
    fixed bins: max |ECDF_current - ECDF_baseline| over bin edges."""
    if len(baseline) != len(current):
        raise ValueError("bin count mismatch")
    tb = float(sum(baseline)) or 1.0
    tc = float(sum(current)) or 1.0
    cb = cc = 0.0
    gap = 0.0
    for b, c in zip(baseline, current):
        cb += b / tb
        cc += c / tc
        gap = max(gap, abs(cc - cb))
    return float(gap)


# The same statistics as Columns over two equal-length arrays of bin
# counts, each built as one SQL string and parsed by one F.expr (callers
# check the length; zip_with pads with NULL). `baseline` and `current`
# are SQL text: a count column's name or an array literal; lambda
# variables start with `__` so they never shadow them. Every sum folds
# from 0.0 in bin order like Python's sum(), so the doubles are the
# references' up to an ulp of log; the tree is O(bins).

_ZERO = double_literal(0.0)


def _total_sql(counts: str) -> str:
    return f"aggregate({counts}, {_ZERO}, (__acc, __c) -> __acc + __c)"


def _proportions_sql(counts: str, eps: float) -> str:
    """_proportions: c / total floored at eps; a zero total is all-eps."""
    counts = f"CAST({counts} AS ARRAY<DOUBLE>)"
    total = _total_sql(counts)
    eps = double_literal(eps)
    return (
        f"CASE WHEN {total} > 0 "
        f"THEN transform({counts}, __c -> greatest(__c / {total}, {eps})) "
        f"ELSE transform({counts}, __c -> {eps}) END"
    )


def psi_column(baseline: str, current: str, eps: float = 1e-6) -> Column:
    """psi_statistic over two array<number> SQL expressions of bin
    counts."""
    terms = (
        f"zip_with({_proportions_sql(current, eps)}, "
        f"{_proportions_sql(baseline, eps)}, "
        "(__p, __q) -> (__p - __q) * ln(__p / __q))"
    )
    return F.expr(f"aggregate({terms}, {_ZERO}, (__acc, __t) -> __acc + __t)")


def ks_column(baseline: str, current: str) -> Column:
    """ks_statistic over two array<number> SQL expressions of bin
    counts: one fold carrying both running ECDF sums and the largest
    gap so far."""

    def quotients(counts):  # c / total; a zero total divides by 1.0
        counts = f"CAST({counts} AS ARRAY<DOUBLE>)"
        total = _total_sql(counts)
        denom = f"CASE WHEN {total} = 0 THEN {double_literal(1.0)} ELSE {total} END"
        return f"transform({counts}, __c -> __c / {denom})"

    cb = "__acc.cb + __x.b"
    cc = "__acc.cc + __x.c"
    step = (
        f"(__acc, __x) -> named_struct('cb', {cb}, 'cc', {cc}, "
        f"'gap', greatest(__acc.gap, abs(({cc}) - ({cb}))))"
    )
    pairs = (
        f"zip_with({quotients(baseline)}, {quotients(current)}, "
        "(__b, __c) -> named_struct('b', __b, 'c', __c))"
    )
    zero = f"named_struct('cb', {_ZERO}, 'cc', {_ZERO}, 'gap', {_ZERO})"
    return F.expr(f"aggregate({pairs}, {zero}, {step}, __acc -> __acc.gap)")


def check_bins(lo: float, hi: float, bins: int) -> None:
    """Reject a fixed-bin histogram with a non-finite bound, no bin or
    an empty range: the one declaration check of profile's HistSpec
    and the compiler's Drift."""
    if not (math.isfinite(lo) and math.isfinite(hi)):
        raise ValueError(f"histogram needs finite lo and hi, got [{lo}, {hi})")
    if bins < 1 or hi <= lo:
        raise ValueError(
            f"histogram needs bins >= 1 and lo < hi, got bins={bins} "
            f"over [{lo}, {hi})"
        )


def histogram_bucket(e: str, lo: float, hi: float, bins: int) -> str:
    """The profile / Drift bucket of the numeric SQL expression `e`, as
    SQL text: -1 for v < lo (underflow), `bins` for v >= hi (overflow),
    NULL for NULL, and floor((v - lo) / width) in range, UNCLAMPED.

    width = (hi - lo) / bins is inexact in doubles, so a value just
    under hi whose floor rounds to `bins` lands in overflow. `profile`
    and the compiler's Drift both bin through here, so a Drift baseline
    taken from a profile bins every value as the check does, and
    PSI/KS measure the data, not the binning. `e` appears three times:
    callers pass a projected column."""
    check_bins(lo, hi, bins)
    width = (hi - lo) / bins
    e = f"({e})"
    lo_, hi_ = double_literal(lo), double_literal(hi)
    return (
        f"CASE WHEN {e} < {lo_} THEN -1 WHEN {e} >= {hi_} THEN {bins} "
        f"ELSE CAST(floor(({e} - {lo_}) / {double_literal(width)}) AS INT) END"
    )


def histogram_counts(bucket: str, bins: int) -> Column:
    """The histogram of a projected histogram_bucket column `bucket` as
    one array<bigint> aggregate: [underflow, b0..b(bins-1), overflow],
    array(count(bucket = j) for j in -1..bins). A row whose bucket is
    NULL counts nowhere; an empty input gives 0s, not NULLs. `bucket`
    is repeated once per bin, so callers pass a column they projected,
    not the expression that computes it."""
    counts = ", ".join(
        f"count(CASE WHEN {bucket} = {j} THEN 1 END)" for j in range(-1, bins + 1)
    )
    return F.expr(f"array({counts})")

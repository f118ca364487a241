"""Distribution-drift statistics over merged histogram bins.

The per-bin counts come from one fused Spark aggregation (the
compiler's whole-table aggregation, profile's, streaming.windowed_drift's
and two_sample_drift's), each counted by count_array. histogram_counts
is the one bucketing of a profile histogram and a Drift check;
two_sample_drift and windowed_drift (bin_index) clamp in-range values
instead. PSI and KS over the counts are Column expressions
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
# counts (callers check the length; zip_with pads with NULL). Every sum
# folds from 0.0 in bin order like Python's sum(), so the doubles are
# the references' up to an ulp of log; the tree is O(bins).


def _total(counts: Column) -> Column:
    return F.aggregate(counts, F.lit(0.0), lambda acc, c: acc + c)


def _proportions_column(counts: Column, eps: float) -> Column:
    """_proportions: c / total floored at eps; a zero total is all-eps."""
    counts = counts.cast("array<double>")
    total = _total(counts)
    return F.when(
        total > 0,
        F.transform(counts, lambda c: F.greatest(c / total, F.lit(eps))),
    ).otherwise(F.transform(counts, lambda c: F.lit(eps)))


def psi_column(baseline: Column, current: Column, eps: float = 1e-6) -> Column:
    """psi_statistic over two array columns of bin counts."""
    terms = F.zip_with(
        _proportions_column(current, eps),
        _proportions_column(baseline, eps),
        lambda p, q: (p - q) * F.log(p / q),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def ks_column(baseline: Column, current: Column) -> Column:
    """ks_statistic over two array columns of bin counts: one fold
    carrying both running ECDF sums and the largest gap so far."""

    def quotients(counts):  # c / total; a zero total divides by 1.0
        counts = counts.cast("array<double>")
        total = _total(counts)
        denom = F.when(total == 0, F.lit(1.0)).otherwise(total)
        return F.transform(counts, lambda c: c / denom)

    def step(acc, x):
        cb = acc["cb"] + x["b"]
        cc = acc["cc"] + x["c"]
        return F.struct(
            cb.alias("cb"),
            cc.alias("cc"),
            F.greatest(acc["gap"], F.abs(cc - cb)).alias("gap"),
        )

    pairs = F.zip_with(
        quotients(baseline),
        quotients(current),
        lambda b, c: F.struct(b.alias("b"), c.alias("c")),
    )
    zero = F.struct(*[F.lit(0.0).alias(f) for f in ("cb", "cc", "gap")])
    return F.aggregate(pairs, zero, step, lambda acc: acc["gap"])


def check_bins(lo: float, hi: float, bins: int) -> None:
    """Reject a fixed-bin histogram with no bin or an empty range: the
    one declaration check of profile's HistSpec, the compiler's Drift
    and two_sample_drift."""
    if bins < 1 or hi <= lo:
        raise ValueError(
            f"histogram needs bins >= 1 and lo < hi, got bins={bins} "
            f"over [{lo}, {hi})"
        )


def count_array(bucket: Column, ids: Sequence[int]) -> Column:
    """One array<bigint> aggregate of per-bucket row counts,
    array(count(bucket == j) for j in ids). A row whose bucket is NULL
    counts nowhere, so callers exclude rows by nulling their bucket; an
    empty input gives 0s, not NULLs."""
    return F.array(*[F.count(F.when(bucket == F.lit(j), 1)) for j in ids])


def histogram_counts(e: Column, lo: float, hi: float, bins: int) -> Column:
    """The profile / Drift histogram of numeric Column `e` as one
    array<bigint> aggregate: [underflow, b0..b(bins-1), overflow].

    NULL gets no bin, v < lo is underflow, v >= hi is overflow, and an
    in-range v goes to floor((v - lo) / width), UNCLAMPED. width =
    (hi - lo) / bins is inexact in doubles, so a value just under hi
    whose floor rounds to `bins` lands in overflow. `profile` and the
    compiler's Drift both bin through here, so a Drift baseline taken
    from a profile bins every value as the check does, and PSI/KS
    measure the data, not the binning."""
    check_bins(lo, hi, bins)
    width = (hi - lo) / bins
    bucket = (
        F.when(e < F.lit(lo), F.lit(-1))
        .when(e >= F.lit(hi), F.lit(bins))
        .otherwise(F.floor((e - F.lit(lo)) / F.lit(width)).cast("int"))
    )
    return count_array(bucket, range(-1, bins + 1))


def bin_index(col, lo: float, width: float, nbins: int):
    """Fixed-bin histogram index as a Spark Column:
    clamp(floor((col - lo) / width), 0, nbins - 1). This is
    streaming.windowed_drift's bucketing, a clamped contract unlike
    histogram_counts': there is no underflow or overflow bucket, values
    out of range fold into the end bins. The clamp runs on floor's
    bigint before the cast to int, so a value whose bin lies beyond the
    int range folds too instead of failing an ANSI cast. A NULL col
    gets index 0 (greatest/least skip NULLs), so callers exclude NULLs
    themselves."""
    return F.least(
        F.greatest(
            F.floor((col - F.lit(float(lo))) / F.lit(float(width))),
            F.lit(0),
        ),
        F.lit(nbins - 1),
    ).cast("int")


def two_sample_drift(
    df_a,
    df_b,
    expression: str,
    lo: float,
    hi: float,
    bins: int = 64,
    eps: float = 1e-6,
):
    """Two-sample PSI + KS between the distributions of `expression` in
    df_a (baseline side, e.g. the training corpus) and df_b (current
    side, e.g. this week's ingest) over shared fixed equi-width bins
    with underflow/overflow buckets — the train-vs-prod counterpart of
    the stored-baseline Drift constraint.

    Plan: tag-union the two (bucket) projections and run ONE global
    hash aggregation with 2*(bins+2) conditional counts (map-side
    partials; the shuffle carries one row of ints per map partition) —
    a single pass over both inputs, no groupBy key, no collect. The
    one-row result holds the two count arrays; psi_column / ks_column
    turn them into the two statistics, exactly psi_statistic /
    ks_statistic's arithmetic, so an ANSI-SQL oracle reproduces the
    doubles. In-range values are floor-binned with a clamp to bins-1:
    width = (hi-lo)/bins is inexact in doubles, and an unclamped floor
    can emit `bins` for a value just under hi. This clamp is a different
    contract from histogram_counts', which files that value as overflow,
    so a profile histogram is not this function's bin counts."""
    check_bins(lo, hi, bins)
    width = (hi - lo) / bins

    def _bucket(df, tag):
        proj = df.select(
            F.expr(expression).cast("double").alias("_v")
        ).where(F.col("_v").isNotNull())
        v = F.col("_v")
        b = (
            F.when(v < F.lit(float(lo)), F.lit(-1))
            .when(v >= F.lit(float(hi)), F.lit(bins))
            .otherwise(
                F.least(
                    F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("int"),
                    F.lit(bins - 1),
                )
            )
        )
        return proj.select(b.alias("_b"), F.lit(tag).alias("_t"))

    u = _bucket(df_a, 0).unionByName(_bucket(df_b, 1))

    ids = range(-1, bins + 1)  # underflow + bins + overflow
    row = u.agg(
        count_array(F.when(F.col("_t") == 0, F.col("_b")), ids).alias("_ca"),
        count_array(F.when(F.col("_t") == 1, F.col("_b")), ids).alias("_cb"),
    )
    ca, cb = F.col("_ca"), F.col("_cb")
    structs = F.array(
        F.struct(F.lit("psi").alias("stat"), psi_column(ca, cb, eps).alias("value")),
        F.struct(F.lit("ks").alias("stat"), ks_column(ca, cb).alias("value")),
    )
    return row.select(F.explode(structs).alias("_s")).select("_s.*")

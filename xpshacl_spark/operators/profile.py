"""Column profiler (north-rule requirement).

`profile` is one fused `df.agg()` that carries, per profiled column,
row count, null count, min, max, a HyperLogLog sketch of the distinct
values (hll_sketch_agg) with its estimate, and optional fixed-bin
histogram counts: a single job, single scan, map-side partial
aggregation, no Python in the hot path (SURVEY.md §4 custom item 1).
The reference has no profiler; this feeds the Drift checks and the
baseline_profile fixture (FIXTURES.md §3).

Every part of a profile merges: counts and histogram bins add, min and
max fold, and the sketch bytes union with Spark's `hll_union` /
`hll_union_agg` into the sketch of the combined input.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xpshacl_spark.operators.drift import histogram_bucket, histogram_counts
from xpshacl_spark.sqltext import quote_ident

# log2 of the sketch's bucket count: 4096 buckets, ~1.6% standard
# error, at most ~4 KB per sketch. Sketches union only at equal lgConfigK.
HLL_LG_K = 12


@dataclass(frozen=True)
class HistSpec:
    """Fixed equi-width bins [lo, hi) with an underflow and an overflow
    bucket; bins are fixed up front so profiling stays single-pass and
    drift statistics are deterministic. Binned by
    operators.drift.histogram_bucket, as the Drift check is, so a
    profile histogram is a Drift baseline: width = (hi - lo) / bins is
    inexact in doubles, and a value just under hi can land in overflow
    in both. bins < 1 or hi <= lo raises ValueError."""

    lo: float
    hi: float
    bins: int = 64


@dataclass(frozen=True)
class ProfileSpec:
    name: str
    expression: Optional[str] = None  # SQL expr; defaults to the column itself
    hist: Optional[HistSpec] = None

    def expr_sql(self) -> str:
        return self.expression or quote_ident(self.name)


def _sketch_input(e: str, dtype: T.DataType) -> str:
    """The SQL expression hll_sketch_agg reads for column `e`: it takes
    INT, BIGINT, STRING and BINARY only, so TINYINT and SMALLINT widen
    to INT and every other type is sketched as its STRING form."""
    if isinstance(dtype, (T.IntegerType, T.LongType, T.StringType, T.BinaryType)):
        return e
    if isinstance(dtype, (T.ByteType, T.ShortType)):
        return f"CAST({e} AS INT)"
    return f"CAST({e} AS STRING)"


def profile(df: DataFrame, specs: Sequence[ProfileSpec]) -> dict:
    """Profile columns in ONE aggregation pass.

    Returns {name: {count, non_null, nulls, min, max, approx_distinct,
    hll_sketch, hist: [underflow, b0..b(n-1), overflow] or None,
    hist_spec}}. `hll_sketch` is the hll_sketch_agg bytes (lgConfigK
    HLL_LG_K) whose estimate is `approx_distinct`.
    """
    # each expression, bucket and sketch input is projected once, so a
    # row computes it once however many aggregates read it
    cols = df.selectExpr(*(f"{s.expr_sql()} AS _e{i}" for i, s in enumerate(specs)))
    derived = [
        f"{_sketch_input(f'_e{i}', f.dataType)} AS _k{i}"
        for i, f in enumerate(cols.schema.fields)
    ]
    derived += [
        f"{histogram_bucket(f'_e{i}', s.hist.lo, s.hist.hi, s.hist.bins)} AS _b{i}"
        for i, s in enumerate(specs)
        if s.hist
    ]
    cols = cols.selectExpr("*", *derived)
    aggs = [F.count(F.lit(1)).alias("_total")]
    for i, s in enumerate(specs):
        e = F.col(f"_e{i}")
        sketch = f"hll_sketch_agg(_k{i}, {HLL_LG_K})"
        aggs.append(F.count(e).alias(f"_c{i}"))
        aggs.append(F.min(e).cast("string").alias(f"_min{i}"))
        aggs.append(F.max(e).cast("string").alias(f"_max{i}"))
        # the aggregate plans one sketch buffer for both
        aggs.append(F.expr(sketch).alias(f"_s{i}"))
        aggs.append(F.expr(f"hll_sketch_estimate({sketch})").alias(f"_d{i}"))
        if s.hist:
            aggs.append(histogram_counts(f"_b{i}", s.hist.bins).alias(f"_h{i}"))
    row = cols.agg(*aggs).collect()[0].asDict()

    out = {}
    total = row["_total"]
    for i, s in enumerate(specs):
        non_null = row[f"_c{i}"]
        rec = {
            "count": total,
            "non_null": non_null,
            "nulls": total - non_null,
            "min": row[f"_min{i}"],
            "max": row[f"_max{i}"],
            "approx_distinct": row[f"_d{i}"],
            "hll_sketch": bytes(row[f"_s{i}"]),
            "hist": None,
            "hist_spec": None,
        }
        if s.hist:
            rec["hist"] = row[f"_h{i}"]
            rec["hist_spec"] = {
                "lo": s.hist.lo,
                "hi": s.hist.hi,
                "bins": s.hist.bins,
            }
        out[s.name] = rec
    return out

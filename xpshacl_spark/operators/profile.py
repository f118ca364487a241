"""Column profilers (north-rule requirement).

`profile` is the fused single-pass form: one `df.agg()` carries, per
profiled column, row count, null count, min, max, HyperLogLog distinct
(approx_count_distinct) and optional fixed-bin histogram counts — a
single job, single scan, map-side partial aggregation, no Python in the
hot path (SURVEY.md §4 custom item 1). The reference has no profiler;
this feeds the Drift checks and the baseline_profile fixture
(FIXTURES.md §3).

The relation-valued profilers below are NOT all single-pass:
`profile_relation` scans its input once per profiled column plus once
(see its docstring), inside one action.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xpshacl_spark.operators.drift import histogram_bucket, histogram_counts
from xpshacl_spark.session import local_relation
from xpshacl_spark.sqltext import quote_ident


@dataclass(frozen=True)
class HistSpec:
    """Fixed equi-width bins [lo, hi) with an underflow and an overflow
    bucket; bins are fixed up front so profiling stays single-pass and
    drift statistics are deterministic. Binned by
    operators.drift.histogram_bucket, as the Drift check is: width =
    (hi - lo) / bins is inexact in doubles, so a value just under hi
    can land in overflow (two_sample_drift clamps such a value into the
    last bin instead). bins < 1 or hi <= lo raises ValueError."""

    lo: float
    hi: float
    bins: int = 64


@dataclass(frozen=True)
class ProfileSpec:
    name: str
    expression: Optional[str] = None  # SQL expr; defaults to the column itself
    hist: Optional[HistSpec] = None
    rsd: float = 0.05  # HLL relative standard deviation

    def expr_sql(self) -> str:
        return self.expression or quote_ident(self.name)


def profile(df: DataFrame, specs: Sequence[ProfileSpec]) -> dict:
    """Profile columns in ONE aggregation pass.

    Returns {name: {count, nulls, min, max, approx_distinct,
    hist: [underflow, b0..b(n-1), overflow] or None, hist_spec}}.
    """
    # each expression and each bucket is projected once, so a row
    # computes it once however many aggregates read it
    cols = df.selectExpr(*(f"{s.expr_sql()} AS _e{i}" for i, s in enumerate(specs)))
    buckets = [
        f"{histogram_bucket(f'_e{i}', s.hist.lo, s.hist.hi, s.hist.bins)} AS _b{i}"
        for i, s in enumerate(specs)
        if s.hist
    ]
    if buckets:
        cols = cols.selectExpr("*", *buckets)
    aggs = [F.count(F.lit(1)).alias("_total")]
    for i, s in enumerate(specs):
        e = F.col(f"_e{i}")
        aggs.append(F.count(e).alias(f"_c{i}"))
        aggs.append(F.min(e).cast("string").alias(f"_min{i}"))
        aggs.append(F.max(e).cast("string").alias(f"_max{i}"))
        aggs.append(F.approx_count_distinct(e, rsd=s.rsd).alias(f"_d{i}"))
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


def _explode_cells(row: DataFrame, structs: Sequence[Column]) -> DataFrame:
    """Pivot a one-row fused-agg result into a relation: one output row
    per struct, keeping everything a DataFrame plan (shared by every
    *_relation profiler below)."""
    return row.select(F.explode(F.array(*structs)).alias("_p")).select("_p.*")


def profile_relation(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Per-column stats as a RELATION (one row per column), for numeric
    columns: (column, n_rows, n_nulls, min_value, max_value, n_distinct).

    Fused-agg design as `profile`, reshaped via an array-of-structs
    explode so the result stays a DataFrame plan. Distinct counts are
    EXACT here (count_distinct) so a SQL oracle can reproduce them; the
    dict-returning `profile` uses HLL (approx_count_distinct) for the
    100 TB path — swap deliberately.

    The count/min/max stats share ONE fused agg, but each exact
    count_distinct runs as its OWN single-distinct aggregation attached
    by a 1-row cross-join (the scalar-attach idiom): multiple distinct
    aggregates fused into one agg plan an Expand that replicates every
    input row (len(columns)+1)x before aggregating, while a
    single-distinct agg plans as a plain two-level aggregation with no
    row replication — and the independent subtrees' stages run
    concurrently inside the one action. Values are identical either way.

    Cost and caveats of that choice:

    * the input is scanned len(columns)+1 times (one fused agg plus one
      scan per exact distinct), so the cost grows linearly with the
      number of profiled columns. The rewrite was measured as a win
      only at 3 columns of a 16-column table (lineitem); a many-column
      profile of a narrow table may be slower than the single-scan
      Expand form;
    * each scan re-reads `df`, so one output row is a single snapshot
      only when `df` is deterministic. For a non-deterministic input
      (sampling, rand-derived columns, a source table that changes
      underneath) cache or checkpoint `df` first, or e.g. n_distinct can
      exceed n_rows.
    """
    aggs = [F.count(F.lit(1)).alias("_total")]
    for i, c in enumerate(columns):
        e = F.col(c)
        aggs.append(F.count(e).alias(f"_c{i}"))
        aggs.append(F.min(e).cast("double").alias(f"_min{i}"))
        aggs.append(F.max(e).cast("double").alias(f"_max{i}"))
    row = df.agg(*aggs)
    for i, c in enumerate(columns):
        row = row.crossJoin(
            df.agg(F.count_distinct(F.col(c)).alias(f"_d{i}"))
        )
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_total").alias("n_rows"),
            (F.col("_total") - F.col(f"_c{i}")).alias("n_nulls"),
            F.col(f"_min{i}").alias("min_value"),
            F.col(f"_max{i}").alias("max_value"),
            F.col(f"_d{i}").alias("n_distinct"),
        )
        for i, c in enumerate(columns)
    ]
    return _explode_cells(row, structs)


def top_values(df: DataFrame, columns: Sequence[str], k: int = 10) -> DataFrame:
    """Heavy hitters per column: (column, value, n, rank) for the k most
    frequent non-null values, ties broken by value ascending.

    Plan: one grouped count per column (map-side partial agg absorbs hot
    keys, so skew is bounded by the distinct-value count per partition),
    then a per-column distributed top-k (orderBy+limit ->
    TakeOrderedAndProject: per-task k-row heaps merged on the driver)
    BEFORE the union. A high-cardinality column therefore never funnels
    its full distinct-value relation through one window task — the rank
    window runs over the unioned k*|columns|-row result only. Guarded in
    tests/test_plans_salt.py. For low-cardinality columns this is the
    exact complement of the HLL sketches in `profile`."""
    per_col = []
    for c in columns:
        per_col.append(
            df.where(F.col(c).isNotNull())
            .groupBy(F.col(c).cast("string").alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("value").asc())
            .limit(k)
            .select(F.lit(c).alias("column"), "value", "n")
        )
    counts = reduce(DataFrame.unionByName, per_col)
    w = Window.partitionBy("column").orderBy(F.col("n").desc(), F.col("value").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("column", "value", "n", "rank")
    )


def _percentile_from_sorted(values, cum, q: float):
    """Value of the exact interpolated percentile given the SORTED
    distinct values of a column and their cumulative counts —
    a faithful replica of Spark's Percentile.getPercentile so the
    two paths produce bit-identical doubles: position = q * (N - 1)
    (0-based), lower/higher = floor/ceil, value lookup = first index
    whose cumulative count reaches position+1, and the interpolation
    (higher - p) * v_lo + (p - lower) * v_hi evaluated in that exact
    double-op order (with Spark's two early returns: no fraction, and
    equal bounding values)."""
    import math

    import numpy as np

    n = int(cum[-1])
    p = q * (n - 1)
    lower = math.floor(p)
    higher = math.ceil(p)
    v_lo = float(values[np.searchsorted(cum, lower + 1, side="left")])
    if higher == lower:
        return v_lo
    v_hi = float(values[np.searchsorted(cum, higher + 1, side="left")])
    if v_hi == v_lo:
        return v_lo
    return (higher - p) * v_lo + (p - lower) * v_hi


def _rank_targets(n: int, qs_grid: Sequence[float]) -> set[int]:
    """The 1-based cumulative-count ranks _percentile_from_sorted
    would look up for each q over an n-value column: floor(p)+1 and
    ceil(p)+1 with p = q * (n - 1)."""
    import math

    ranks: set[int] = set()
    for q in qs_grid:
        p = q * (n - 1)
        ranks.add(math.floor(p) + 1)
        ranks.add(math.ceil(p) + 1)
    return ranks


def _exact_quantile_state(
    df: DataFrame,
    columns: Sequence[str],
    qs_grid: Sequence[float],
    bucket_count: int = 8192,
    candidate_limit: int = 1 << 18,
    max_depth: int = 4,
    extra_aggs: Sequence[Column] = (),
):
    """Distributed exact value-at-rank selection (optimization guide
    §2.5 — parallel selection instead of a per-column straggler task):
    returns ({column: non-null count N}, {(column, rank): value at
    that 1-based rank of the ascending sorted multiset}) for exactly
    the ranks `_percentile_from_sorted` would probe for qs_grid.

    The pre-r06.2 plan shipped every (column, value, count) cell of a
    column into ONE applyInPandas task — a 4-6M-distinct column at
    sf1.0 made a single task pay the whole shuffle read + Arrow
    transfer + sort (measured 6.6-11.3 s); a range-sort variant pays
    a full sort + checkpoint of the cells (6.5 s). This path never
    sorts and never shuffles more than histogram rows:

    1. one fused min/max/count agg over the raw columns (bounds and N);
    2. one equi-width histogram agg per refinement level — bucket id
       is a monotone function of the value, so per-bucket ROW counts
       give the exact cumulative row offset below every bucket, which
       locates each target rank's bucket; buckets holding more rows
       than `candidate_limit` are re-histogrammed within their value
       interval (same formula, narrowed bounds) — each level divides
       the candidate set by `bucket_count`, so depth is effectively
       <= 2 on real data (8192^2 buckets over the double range);
    3. one selection agg collects the distinct (value, count) cells of
       ONLY the target buckets (~rows/bucket_count values per rank),
       and the driver finishes with the same
       np.searchsorted(cum, rank, side='left') lookup over that
       bucket's sorted values, offset by the bucket's exact row base.

    All shuffles are histogram/candidate sized; the scans are plain
    codegen'd column scans of the input. Values and ranks are
    identical to the single-task stage's by monotonicity of the
    bucket assignment (IEEE subtraction/division by a positive width
    and floor are order-preserving; NaN is binned past the last
    bucket exactly where both engines sort it).

    `extra_aggs` ride along in the pass-1 fused agg (one scan pays for
    both — e.g. the error-bound sketch) and come back as the third
    element of the result tuple (a Row, or None when unused)."""
    import math

    import numpy as np

    uniq = list(dict.fromkeys(columns))
    d_cols = {c: F.col(c).cast("double") for c in uniq}
    # pass 1: bounds + N per column, one fused agg (count(expr) skips
    # nulls but keeps NaN, matching the cells filter it replaces)
    bounds_aggs = []
    for i, c in enumerate(uniq):
        d = d_cols[c]
        bounds_aggs += [
            F.min(d).alias(f"_lo{i}"),
            F.max(d).alias(f"_hi{i}"),
            F.count(d).alias(f"_n{i}"),
        ]
    brow = df.agg(*bounds_aggs, *extra_aggs).collect()[0]
    n_by_ci = {i: int(brow[f"_n{i}"]) for i in range(len(uniq))}
    ranks_by_ci = {
        ci: sorted(_rank_targets(n, qs_grid))
        for ci, n in n_by_ci.items()
        if n > 0
    }

    def _bucket_expr(ci: int, lo: float, width: float) -> Column:
        v = d_cols[uniq[ci]]
        if width <= 0.0 or not math.isfinite(width):
            raw = F.lit(0)
        else:
            raw = F.floor((v - F.lit(lo)) / F.lit(width))
        b = F.least(
            F.greatest(raw.cast("long"), F.lit(0)),
            F.lit(bucket_count - 1),
        )
        # NaN sorts after every number in both engines: own last bucket
        return F.when(F.isnan(v), F.lit(bucket_count)).otherwise(b)

    # refinement state: (ci, interval_lo, width, base_rank, ranks,
    # membership predicate); lo==hi / all-NaN / infinite-range columns
    # degenerate to width 0 = a single bucket, resolved by the
    # selection pass directly
    jobs = []
    for ci, ranks in ranks_by_ci.items():
        lo, hi = brow[f"_lo{ci}"], brow[f"_hi{ci}"]
        lo_f = float(lo) if lo is not None else 0.0
        hi_f = float(hi) if hi is not None else 0.0
        width = (hi_f - lo_f) / bucket_count
        if not math.isfinite(width) or width <= 0.0:
            width = 0.0
        jobs.append((ci, lo_f, width, 0, tuple(ranks), None))

    val_at: dict[tuple[str, int], float] = {}
    depth = 0
    while jobs:
        # one histogram agg for every open subproblem at this level.
        # An approx_count_distinct rider steers the refinement choice:
        # the selection collect is DISTINCT-value bounded, so a bucket
        # with millions of rows of a handful of values (a discrete
        # column's point mass) must be collected, never refined — a
        # sub-histogram cannot split a single repeated value and would
        # loop to max_depth re-scanning the input (measured 13.6 s on
        # one 11-distinct-value column at the x10 scale). The sketch
        # only steers job shape; collected values stay exact.
        hist_structs = []
        for j, (ci, lo, width, base, ranks, pred) in enumerate(jobs):
            v = d_cols[uniq[ci]]
            member = v.isNotNull() if pred is None else pred
            hist_structs.append(
                F.struct(
                    F.lit(j).alias("jid"),
                    F.when(member, _bucket_expr(ci, lo, width))
                    .otherwise(F.lit(None))
                    .alias("b"),
                    F.when(member, v).otherwise(F.lit(None)).alias("v"),
                )
            )
        hist = (
            df.select(F.inline(F.array(*hist_structs)))
            .where(F.col("b").isNotNull())
            .groupBy("jid", "b")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.approx_count_distinct("v").alias("ad"),
            )
            .collect()
        )
        per_job: dict[int, list] = {}
        approx_d: dict[tuple, int] = {}
        for r in hist:
            per_job.setdefault(r["jid"], []).append((r["b"], r["c"]))
            approx_d[(r["jid"], r["b"])] = r["ad"]
        # per refinement job: which buckets hold target ranks; ONE
        # selection struct per JOB (bucket-set membership), never one
        # per bucket — a 9-point grid over 3 columns would otherwise
        # inline ~54 structs per input row
        collect_jobs = []  # (job_idx, {bucket: (base, ranks)})
        next_jobs = []
        for j, (ci, lo, width, base, ranks, pred) in enumerate(jobs):
            buckets = sorted(per_job.get(j, []))
            cum = base
            bucket_base = {}
            for b, c in buckets:
                bucket_base[b] = cum
                cum += c
            counts = dict(buckets)
            # group target ranks by the bucket containing them
            by_bucket: dict[int, list[int]] = {}
            for rank in ranks:
                # first bucket whose cumulative end >= rank
                for b, c in buckets:
                    if bucket_base[b] < rank <= bucket_base[b] + c:
                        by_bucket.setdefault(b, []).append(rank)
                        break
            sel_buckets: dict[int, tuple] = {}
            for b, rks in by_bucket.items():
                if (
                    counts[b] > candidate_limit
                    and approx_d.get((j, b), 0) > candidate_limit // 2
                    and depth + 1 < max_depth
                    and width > 0.0
                ):
                    v = d_cols[uniq[ci]]
                    bpred = _bucket_expr(ci, lo, width) == b
                    member = (
                        v.isNotNull() & bpred
                        if pred is None
                        else pred & bpred
                    )
                    sub_lo = lo + b * width
                    sub_w = width / bucket_count
                    if math.isfinite(sub_w) and sub_w > 0.0:
                        next_jobs.append(
                            (ci, sub_lo, sub_w, bucket_base[b],
                             tuple(rks), member)
                        )
                        continue
                sel_buckets[b] = (bucket_base[b], tuple(rks))
            if sel_buckets:
                collect_jobs.append((j, sel_buckets))
        if collect_jobs:
            sel_structs = []
            for k, (j, sel_buckets) in enumerate(collect_jobs):
                ci, lo, width, base, ranks, pred = jobs[j]
                v = d_cols[uniq[ci]]
                bexpr = _bucket_expr(ci, lo, width)
                member = bexpr.isin(*sel_buckets.keys())
                member = (
                    v.isNotNull() & member
                    if pred is None
                    else pred & member
                )
                sel_structs.append(
                    F.struct(
                        F.lit(k).alias("jid"),
                        F.when(member, bexpr)
                        .otherwise(F.lit(None))
                        .cast("long")
                        .alias("b"),
                        F.when(member, v).otherwise(F.lit(None)).alias("v"),
                    )
                )
            cells = (
                df.select(F.inline(F.array(*sel_structs)))
                .where(F.col("v").isNotNull() & F.col("b").isNotNull())
                .groupBy("jid", "b", "v")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
            per_sel: dict[tuple, list] = {}
            for r in cells:
                per_sel.setdefault((r["jid"], r["b"]), []).append(
                    (r["v"], r["c"])
                )
            for k, (j, sel_buckets) in enumerate(collect_jobs):
                ci = jobs[j][0]
                for b, (base, rks) in sel_buckets.items():
                    vs = per_sel.get((k, b), [])
                    v_arr = np.array([t[0] for t in vs], dtype="float64")
                    c_arr = np.array([t[1] for t in vs], dtype="int64")
                    order = np.argsort(v_arr, kind="stable")
                    v_arr = v_arr[order]
                    cum = base + np.cumsum(c_arr[order])
                    for rank in rks:
                        idx = int(np.searchsorted(cum, rank, side="left"))
                        val_at[(uniq[ci], rank)] = float(v_arr[idx])
        jobs = next_jobs
        depth += 1

    n_by_col = {uniq[ci]: n for ci, n in n_by_ci.items() if n > 0}
    return n_by_col, val_at, (brow if extra_aggs else None)


def _percentile_from_ranks(
    col: str,
    n: int,
    val_at: dict[tuple[str, int], float],
    q: float,
):
    """_percentile_from_sorted's arithmetic over the pre-selected rank
    values (same double-op order, same early returns)."""
    import math

    p = q * (n - 1)
    lower = math.floor(p)
    higher = math.ceil(p)
    v_lo = val_at[(col, lower + 1)]
    if higher == lower:
        return v_lo
    v_hi = val_at[(col, higher + 1)]
    if v_hi == v_lo:
        return v_lo
    return (higher - p) * v_lo + (p - lower) * v_hi


def quantiles_relation(
    df: DataFrame, columns: Sequence[str], qs: Sequence[float] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """Exact interpolated quantiles per column as a relation
    (column, q, quantile) — same semantics as ANSI quantile_cont /
    Spark's exact `percentile` (position q*(n-1), linear
    interpolation), computed by the distributed histogram rank
    selection of `_exact_quantile_state` — bucket-count aggs locate
    each target rank's bucket, one selection agg fetches only that
    bucket's distinct values, and the driver finishes with
    `_percentile_from_ranks` (Spark's Percentile.getPercentile
    arithmetic bit-for-bit).

    History: the original single `percentile(col, array(qs))` agg fed
    every raw row through a boxed value->count map in ONE task (sf1.0
    measured: 17.7 s for one 4.6M-distinct column); the first r06 fix
    (distinct-value counts -> one applyInPandas group per column)
    still made the widest column a single straggler task (6.6-11.3 s
    at sf1.0); the rank selection does neither — every shuffle is
    histogram-sized. Columns with no non-null values surface as NULL
    quantiles via the literal (column, q) grid left join — the same
    rows the old plans emitted."""
    spark = df.sparkSession
    q_list = [float(q) for q in qs]
    n_by_col, val_at, _ = _exact_quantile_state(df, columns, q_list)
    rows = [
        (
            c,
            q,
            _percentile_from_ranks(c, n_by_col[c], val_at, q)
            if c in n_by_col
            else None,
        )
        for c in dict.fromkeys(columns)
        for q in q_list
    ]
    computed = local_relation(
        spark, rows, "column string, q double, quantile double"
    )
    grid = local_relation(
        spark, [(c, q) for c in columns for q in q_list], "column string, q double"
    )
    return grid.join(computed, ["column", "q"], "left")


def approx_quantiles_relation(
    df: DataFrame,
    columns: Sequence[str],
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """The 100 TB quantile path: same (column, q, quantile) relation as
    :func:`quantiles_relation` but computed with `approx_percentile`
    (KLL-style sketch, rank error <= 1/accuracy) — constant memory per
    column instead of the exact percentile's full value-count map, and
    the same single fused-agg plan shape. Returned quantiles are actual
    data values (no interpolation)."""
    q_arr = F.array(*[F.lit(float(q)) for q in qs])
    aggs = [
        F.approx_percentile(
            F.col(c).cast("double"), q_arr, F.lit(accuracy)
        ).alias(f"_q{i}")
        for i, c in enumerate(columns)
    ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.lit(float(q)).alias("q"),
            F.col(f"_q{i}").getItem(j).alias("quantile"),
        )
        for i, c in enumerate(columns)
        for j, q in enumerate(qs)
    ]
    return _explode_cells(row, structs)


def quantiles_error_bound_relation(
    df: DataFrame,
    columns: Sequence[str],
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
    rank_margin: float = 0.01,
) -> DataFrame:
    """Exact + approx quantiles with the sketch's rank guarantee turned
    into a CHECKED relation: (column, q, exact_q, within_bound), where
    within_bound is `exact(q - m) <= approx(q) <= exact(q + m)` with
    m = rank_margin. approx_percentile returns a data value whose rank
    is within N/accuracy of qN, and exact quantile_cont values are
    monotone in q, so any margin m > 1/accuracy makes the predicate a
    sound consequence of the sketch guarantee (default: 100x slack).

    ONE fused aggregation computes, per column, exact percentiles over
    the [q-m, q, q+m] grid (one shared sort-based buffer) AND the
    approx sketch — a single pass, so the driver oracle can assert the
    bound holds without a second scan.

    Small-input soundness: the value-space bound follows from the rank
    guarantee only when the margin buys at least one whole row past the
    sketch's rank error AND quantile_cont's interpolation ceiling, i.e.
    (N-1)*m - N/accuracy >= 1. Below that resolution (tiny or heavily
    filtered inputs, where the sketch is exact anyway) within_bound is
    vacuously true rather than spuriously red."""
    if rank_margin <= 1.0 / accuracy:
        raise ValueError("rank_margin must exceed 1/accuracy for a sound bound")
    spark = df.sparkSession
    grid = []  # per q: (lo, q, hi), clamped
    for q in qs:
        grid.append(
            (max(0.0, float(q) - rank_margin), float(q),
             min(1.0, float(q) + rank_margin))
        )

    # exact side: the scalable exact-quantile path (see
    # quantiles_relation) — the distributed rank selection of
    # `_exact_quantile_state` over the whole [q-m, q, q+m] grid, plus
    # the non-null count N from the same totals pass. The approx
    # sketch rides the SAME pass-1 fused agg (extra_aggs), so the
    # whole relation costs one fused agg + the histogram/selection
    # passes — no separate sketch scan.
    qs_grid = sorted({b for t in grid for b in t})
    uniq = list(dict.fromkeys(columns))
    sketch_aggs = [
        F.approx_percentile(
            F.col(c).cast("double"),
            F.array(*[F.lit(float(q)) for q in qs]),
            F.lit(accuracy),
        ).alias(f"_a{i}")
        for i, c in enumerate(uniq)
    ]
    n_by_col, val_at, sk_row = _exact_quantile_state(
        df, columns, qs_grid, extra_aggs=sketch_aggs
    )
    # assembly (driver-side over the grid-sized state, same arithmetic
    # as the old in-plan expressions): per (column, q), exact grid
    # values from the rank lookups, sketch value from the fused-agg
    # row, the resolution guard, and the bound check
    q_list = [float(q) for q in qs]
    out_rows = []
    for ci, c in enumerate(uniq):
        sk_vals = sk_row[f"_a{ci}"]
        for lo_q, mid_q, hi_q in grid:
            if c in n_by_col:
                n = n_by_col[c]
                v_lo = _percentile_from_ranks(c, n, val_at, lo_q)
                v_ex = _percentile_from_ranks(c, n, val_at, mid_q)
                v_hi = _percentile_from_ranks(c, n, val_at, hi_q)
            else:
                n, v_lo, v_ex, v_hi = 0, None, None, None
            ap = (
                float(sk_vals[q_list.index(mid_q)])
                if sk_vals is not None
                else None
            )
            # resolution guard (docstring): the check binds only when
            # (N-1)*m - N/accuracy >= 1; under that it is vacuous-true
            resolvable = (
                (n - 1) * rank_margin - n / float(accuracy)
            ) >= 1
            within = (not resolvable) or (
                ap is not None
                and v_lo is not None
                and v_lo <= ap <= v_hi
            )
            out_rows.append((c, mid_q, v_ex, within))
    # duplicate listed columns re-emit their rows, as the old grid
    # left-join did
    by_col: dict[str, list] = {}
    for r in out_rows:
        by_col.setdefault(r[0], []).append(r)
    final_rows = [r for c in columns for r in by_col[c]] if (
        len(uniq) != len(list(columns))
    ) else out_rows
    return local_relation(
        spark,
        final_rows,
        "column string, q double, exact_q double, within_bound boolean",
    )


def entropy_relation(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Shannon entropy (nats) + distinctness of each column's non-null
    value distribution — the Deequ analyzer pair the fused min/max/HLL
    profiler can't express (entropy needs per-VALUE counts).

    Plan: ONE stacked scan (explode of a per-row column->value map, so
    N columns still read the input once) -> ONE (column, value) hash
    aggregation (map-side combined — a hot value pre-reduces per
    partition) -> a per-column rollup over the DISTINCT-value relation,
    which is cardinality-sized, not row-count-sized. No window, no
    sort, no Python. entropy = ln(n) - sum(c*ln c)/n, rounded to 6
    decimals because the sum over distinct values is
    floating-point-order-dependent (same canonicalization as
    text.unigram_logprob); distinctness = n_distinct/n divides exact
    longs. Columns with zero non-null values emit no row."""
    kv = []
    for c in columns:
        kv.append(F.lit(c))
        kv.append(F.col(c).cast("string"))
    stacked = df.select(
        F.explode(F.create_map(*kv)).alias("col_name", "value")
    ).where(F.col("value").isNotNull())
    vc = stacked.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    cd = F.col("c").cast("double")
    per = vc.groupBy("col_name").agg(
        F.sum("c").alias("n_values"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(cd * F.log(cd)).alias("_s"),
    )
    n_d = F.col("n_values").cast("double")
    return per.select(
        "col_name",
        "n_values",
        "n_distinct",
        (F.col("n_distinct").cast("double") / n_d).alias("distinctness"),
        F.round(F.log(n_d) - F.col("_s") / n_d, 6).alias("entropy"),
    )


def correlation_relation(
    df: DataFrame, pairs: Sequence[tuple]
) -> DataFrame:
    """Pearson correlation per (x, y) numeric column pair — Deequ's
    Correlation analyzer. ONE fused aggregation carries five sums per
    pair (n, Σx, Σy, Σxy, Σx², Σy²) over rows where BOTH sides are
    non-null (pairwise deletion), and r is assembled from the sums with
    the textbook formula — NOT the engine's built-in corr(), whose
    accumulation scheme differs between engines — then rounded to 6
    decimals (FP-order-dependent sums; unigram_logprob precedent). NULL
    when either side is constant (zero variance) or fewer than 2 pairs.
    Scale shape: one scan, map-side combined partial sums, a 1-row
    result — the same job regardless of row count."""
    aggs = []
    for i, (x, y) in enumerate(pairs):
        both = F.col(x).isNotNull() & F.col(y).isNotNull()
        xd = F.when(both, F.col(x).cast("double"))
        yd = F.when(both, F.col(y).cast("double"))
        aggs += [
            F.count(F.when(both, 1)).alias(f"_n{i}"),
            F.sum(xd).alias(f"_sx{i}"),
            F.sum(yd).alias(f"_sy{i}"),
            F.sum(xd * yd).alias(f"_sxy{i}"),
            F.sum(xd * xd).alias(f"_sxx{i}"),
            F.sum(yd * yd).alias(f"_syy{i}"),
        ]
    row = df.agg(*aggs)
    structs = []
    for i, (x, y) in enumerate(pairs):
        n = F.col(f"_n{i}").cast("double")
        sx, sy = F.col(f"_sx{i}"), F.col(f"_sy{i}")
        sxy, sxx, syy = F.col(f"_sxy{i}"), F.col(f"_sxx{i}"), F.col(f"_syy{i}")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when(
            (n >= 2) & (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), 6),
        )
        structs.append(
            F.struct(
                F.lit(x).alias("x"),
                F.lit(y).alias("y"),
                F.col(f"_n{i}").alias("n_pairs"),
                r.alias("corr"),
            )
        )
    return _explode_cells(row, structs)


def mutual_information_relation(
    df: DataFrame, x: str, y: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    Deequ's MutualInformation analyzer. MI = Σ_xy p_xy·ln(n·c_xy /
    (c_x·c_y)); rows with a NULL on either side are excluded.

    Plan: ONE (x, y) hash aggregation over the fact table (the only
    row-count-sized shuffle, map-side combined), then BOTH marginals
    derived from the pair relation itself — c_x = Σ_y c_xy — so the
    fact table is scanned once and everything downstream is
    pair-cardinality-sized: two tiny aggs broadcast-joined back, one
    term sum. Result rounded to 6 decimals (FP-order-dependent term
    sum; unigram_logprob precedent). Returns 1 row (x, y, n_pairs,
    mi); mi is NULL when no co-occurring rows exist. MI >= 0 up to
    rounding; equals 0 iff independent."""
    both = F.col(x).isNotNull() & F.col(y).isNotNull()
    pairs = (
        df.where(both)
        .groupBy(F.col(x).alias("_x"), F.col(y).alias("_y"))
        .agg(F.count(F.lit(1)).alias("_cxy"))
    )
    mx = pairs.groupBy("_x").agg(F.sum("_cxy").alias("_cx"))
    my = pairs.groupBy("_y").agg(F.sum("_cxy").alias("_cy"))
    tot = pairs.agg(F.sum("_cxy").alias("_n"))
    joined = (
        pairs.join(F.broadcast(mx), "_x")
        .join(F.broadcast(my), "_y")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("_n").cast("double")
    terms = joined.select(
        F.col("_cxy"),
        (
            (F.col("_cxy").cast("double") / n)
            * F.log(
                n
                * F.col("_cxy").cast("double")
                / (F.col("_cx").cast("double") * F.col("_cy").cast("double"))
            )
        ).alias("_t"),
    )
    out = terms.agg(
        F.sum("_cxy").alias("n_pairs"), F.round(F.sum("_t"), 6).alias("mi")
    )
    return out.select(
        F.lit(x).alias("x"), F.lit(y).alias("y"), "n_pairs", "mi"
    )

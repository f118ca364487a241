"""Constraint suggestion: profile a relation, propose Shapes.

Closes the authoring loop the reference leaves manual: xpSHACL's user
writes the shapes graph by hand (README worked example,
/root/reference/README.md:176-210) — here a trusted (training) slice
is profiled and the evidence becomes candidate constraints, which
`suggested_shapes` turns into engine `Shape` objects ready for
`ValidationEngine.validate` against production data. The same
profile→constraint→validate loop public validation engines expose
(e.g. AWS Deequ's ConstraintSuggestionRunner), re-expressed over this
engine's shape model and oracled like every other operator.

Suggestion rules (all evidence-based, deterministic):

* zero nulls            -> ``NotNull``  (MinCountConstraintComponent)
* distinct == non-null  -> ``Unique``   (UniquenessConstraintComponent)
* numeric column        -> ``MinInclusive(min)`` + ``MaxInclusive(max)``
* string column         -> ``MinLength(min_len)`` + ``MaxLength(max_len)``
* string column with distinct <= ``inset_max`` -> ``InSet(sorted values)``
* some nulls but completeness >= ``completeness_floor`` ->
  ``DatasetMetric("completeness", min_value=observed floored to 2dp)``
  (Deequ's hasCompleteness-at-observed-level suggestion: a column that
  is ALMOST always present gets a dataset-level floor instead of an
  unassertable row-level NotNull)

Plan shape: pass 1 is ONE global hash aggregate computing every
per-column statistic in a single scan (count/nulls/min/max/lengths and
exact ``count(DISTINCT)`` — the Expand the multi-distinct agg plans is
one job and one shuffle; at 100 TB run suggestion on a deterministic
hash sample — ``sample.hash_sample`` — exactly as Deequ recommends, or
pass ``exact=False`` to swap in ``approx_count_distinct``, which keeps
the scan Expand-free but disables the Unique rule: a sketch cannot
witness exact uniqueness). Pass 2 runs only when some string column's
distinct count passed the ``inset_max`` gate: one stacked
distinct-values scan over just the candidate columns, bounded at
``n_candidates * inset_max`` result rows. The only driver-side
materialization is the 1-row statistics collect and the capped value
sets — suggestion output is metadata-sized by construction.
"""

from __future__ import annotations

import json
import math
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import local_relation
from .shapes import (
    Constraint,
    DatasetMetric,
    InSet,
    MaxInclusive,
    MaxLength,
    MinInclusive,
    MinLength,
    NotNull,
    Shape,
    Unique,
)

_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")

SUGGESTION_SCHEMA = T.StructType(
    [
        T.StructField("col_name", T.StringType(), False),
        T.StructField("constraint_component", T.StringType(), False),
        T.StructField("param_num", T.DoubleType(), True),
        T.StructField("param_str", T.StringType(), True),
    ]
)


@dataclass(frozen=True)
class Suggestion:
    """One proposed constraint with its evidence-derived parameter."""

    col_name: str
    constraint_component: str
    param_num: float | None = None
    param_str: str | None = None

    def to_constraint(self) -> Constraint:
        c, comp = self.col_name, self.constraint_component
        if comp == "MinCountConstraintComponent":
            return NotNull(c)
        if comp == "UniquenessConstraintComponent":
            return Unique((c,))
        if comp == "MinInclusiveConstraintComponent":
            return MinInclusive(c, self.param_num)
        if comp == "MaxInclusiveConstraintComponent":
            return MaxInclusive(c, self.param_num)
        if comp == "MinLengthConstraintComponent":
            return MinLength(c, int(self.param_num))
        if comp == "MaxLengthConstraintComponent":
            return MaxLength(c, int(self.param_num))
        if comp == "InConstraintComponent":
            # JSON, not a comma join: a value containing a comma would
            # otherwise round-trip into a corrupted constraint that
            # flags the trusted slice itself
            return InSet(c, tuple(json.loads(self.param_str)))
        if comp == "DatasetMetricConstraintComponent":
            return DatasetMetric(
                self.param_str, c, min_value=self.param_num
            )
        raise ValueError(f"no constraint mapping for {comp!r}")


def _column_stats(
    df: DataFrame, cols: Sequence[str], exact: bool
) -> dict[str, dict]:
    """Every statistic for every column; returns
    {col: {n, nonnull, distinct, mn, mx}}.

    approx path: ONE fused aggregate (approx_count_distinct sketches
    fuse fine). exact path (r06): exact multi-distinct in one agg
    plans an Expand that replicates the input once per distinct column
    (6x the rows for 5 columns — measured 3.6 s on 1.5M orders), so
    instead each column's exact count_distinct runs as its OWN
    two-level agg, all submitted concurrently from a small thread pool
    (optimization guide §2.6 — the scheduler back-fills the cluster
    with the independent jobs; measured 1.05 s for the same stats).
    Results are exact either way; only the job shape differs."""
    from concurrent.futures import ThreadPoolExecutor

    dtypes = dict(df.dtypes)
    aggs: list = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        if not exact:
            aggs.append(F.approx_count_distinct(c).alias(f"d_{c}"))
        if dtypes[c] in _NUMERIC or dtypes[c].startswith("decimal"):
            aggs.append(F.min(c).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"mx_{c}"))
        elif dtypes[c] == "string":
            aggs.append(F.min(F.length(c)).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(F.length(c)).cast("double").alias(f"mx_{c}"))

    if exact and cols:
        def _distinct(c: str) -> int:
            return df.agg(
                F.count_distinct(F.col(c)).alias("d")
            ).collect()[0]["d"]

        with ThreadPoolExecutor(min(len(cols) + 1, 8)) as pool:
            futures = {c: pool.submit(_distinct, c) for c in cols}
            row = pool.submit(
                lambda: df.agg(*aggs).collect()[0].asDict()
            ).result()
            distincts = {c: f.result() for c, f in futures.items()}
    else:
        row = df.agg(*aggs).collect()[0].asDict()  # 1 row — bounded
        distincts = {c: row[f"d_{c}"] for c in cols}
    out: dict[str, dict] = {"_rows": row["_rows"]}
    for c in cols:
        out[c] = {
            "nonnull": row[f"nn_{c}"],
            "distinct": distincts[c],
            "mn": row.get(f"mn_{c}"),
            "mx": row.get(f"mx_{c}"),
        }
    return out


def _inset_values(
    df: DataFrame, candidates: Sequence[str], inset_max: int
) -> dict[str, list[str]]:
    """Distinct value sets for the low-cardinality candidates: one
    stacked (col, value) distinct scan, <= len(candidates)*inset_max
    result rows by the pass-1 gate (re-capped here defensively)."""
    if not candidates:
        return {}
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"), F.col(c).cast("string").alias("v")
                    )
                    for c in candidates
                ]
            )
        ).alias("cv")
    ).select("cv.c", "cv.v")
    rows = (
        stacked.where(F.col("v").isNotNull())
        .distinct()
        .groupBy("c")
        .agg(F.sort_array(F.collect_set("v")).alias("vals"))
        .collect()
    )
    return {r.c: list(r.vals) for r in rows if len(r.vals) <= inset_max}


def suggest_constraints(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    inset_max: int = 10,
    exact: bool = True,
    completeness_floor: float = 0.9,
) -> list[Suggestion]:
    """Profile ``df`` and return deterministic, evidence-backed
    constraint suggestions, ordered (col order given, component name).

    ``exact=False`` swaps exact multi-distinct (Expand plan) for
    ``approx_count_distinct`` — the 100 TB path when not sampling —
    and disables the Unique rule (a sketch can't witness uniqueness);
    the InSet gate then over/under-triggers within sketch error, which
    pass 2's re-cap makes harmless."""
    dtypes = dict(df.dtypes)
    if cols is None:
        cols = [
            c
            for c, t in df.dtypes
            if t in _NUMERIC or t.startswith("decimal") or t == "string"
        ]
    unknown = [c for c in cols if c not in dtypes]
    if unknown:
        raise ValueError(f"columns not in relation: {unknown}")
    stats = _column_stats(df, cols, exact)
    n_rows = stats["_rows"]
    candidates = [
        c
        for c in cols
        if dtypes[c] == "string"
        and 0 < stats[c]["distinct"] <= inset_max
    ]
    insets = _inset_values(df, candidates, inset_max)

    out: list[Suggestion] = []
    for c in cols:
        s = stats[c]
        if n_rows > 0 and s["nonnull"] == n_rows:
            out.append(Suggestion(c, "MinCountConstraintComponent"))
        elif (
            n_rows > 0
            and s["nonnull"] / n_rows >= completeness_floor
        ):
            # floor to 2dp so the suggested bound is deterministic and
            # the trusted slice itself conforms (observed >= bound)
            bound = math.floor(s["nonnull"] / n_rows * 100) / 100.0
            out.append(
                Suggestion(
                    c,
                    "DatasetMetricConstraintComponent",
                    bound,
                    "completeness",
                )
            )
        if exact and s["nonnull"] > 0 and s["distinct"] == s["nonnull"]:
            out.append(Suggestion(c, "UniquenessConstraintComponent"))
        is_num = dtypes[c] in _NUMERIC or dtypes[c].startswith("decimal")
        if is_num and s["mn"] is not None:
            out.append(
                Suggestion(c, "MinInclusiveConstraintComponent", s["mn"])
            )
            out.append(
                Suggestion(c, "MaxInclusiveConstraintComponent", s["mx"])
            )
        if dtypes[c] == "string" and s["mn"] is not None:
            out.append(
                Suggestion(c, "MinLengthConstraintComponent", s["mn"])
            )
            out.append(
                Suggestion(c, "MaxLengthConstraintComponent", s["mx"])
            )
        if c in insets:
            out.append(
                Suggestion(
                    c,
                    "InConstraintComponent",
                    None,
                    # ensure_ascii=False: DuckDB's to_json emits raw
                    # UTF-8, so \uXXXX escaping would break byte parity
                    # for non-ASCII categorical values
                    json.dumps(
                        insets[c], separators=(",", ":"), ensure_ascii=False
                    ),
                )
            )
    return out


def suggestions_relation(
    spark: SparkSession, suggestions: Sequence[Suggestion]
) -> DataFrame:
    """The suggestions as a relation (col_name, constraint_component,
    param_num, param_str) — metadata-sized, like schema_check's."""
    return local_relation(
        spark,
        [
            (s.col_name, s.constraint_component, s.param_num, s.param_str)
            for s in suggestions
        ],
        SUGGESTION_SCHEMA,
    )


def suggested_shapes(
    suggestions: Sequence[Suggestion], shape_prefix: str = "suggested"
) -> list[Shape]:
    """One Shape per profiled column carrying all its suggested
    constraints — directly consumable by ``ValidationEngine.validate``:
    suggest on the trusted slice, validate production."""
    by_col: dict[str, list[Constraint]] = {}
    for s in suggestions:
        by_col.setdefault(s.col_name, []).append(s.to_constraint())
    return [
        Shape(f"{shape_prefix}_{c}", tuple(cs)) for c, cs in by_col.items()
    ]

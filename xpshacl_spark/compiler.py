"""Shape compiler: declarative shapes -> violation-row DataFrame plans.

Replaces the reference's validate-then-reparse pipeline
(/root/reference/src/extended_shacl_validator.py:161-318) with plans in
which violations are *born* structured. Scale design (SURVEY.md §7):

* ALL row-level constraints across ALL shapes are fused into ONE scan:
  each (shape, constraint) contributes a `when(violated, struct(...))`
  element of an array that is filtered and exploded. One pass over the
  input, whole-stage codegen, column pruning to the union of referenced
  columns, zero shuffles.
* Group constraints sharing a group-by key share ONE hash aggregation
  (map-side partial aggregation collapses a hot key's rows before the
  shuffle, so counts need no salting).
* Ordering constraints sharing (partition, order) share ONE window
  (one shuffle + sort).
* Referential constraints compile to broadcast LEFT ANTI joins.
* Whole-table constraints (dataset metrics, distribution drift) share
  ONE global aggregation; KS/PSI are expressions over its bin-count
  arrays, so drift runs inside the plan like every other check.

The resulting plan has at most: 1 row-check scan + 1 shuffle per
distinct group key + 1 shuffle per distinct window spec + anti-joins
(broadcast, no shuffle) + 1 profiling scan — independent of the number
of shapes.
"""

from __future__ import annotations

import math
import time
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xpshacl_spark.model import VIOLATION_COLUMNS, ViolationType, merge_summary
from xpshacl_spark.operators.drift import (
    check_bins,
    histogram_bucket,
    histogram_counts,
    ks_column,
    psi_column,
)
from xpshacl_spark.session import local_relation
from xpshacl_spark.shapes import (
    DatasetMetric,
    DenseIndex,
    Drift,
    ForeignKey,
    FunctionalDependency,
    GroupMaxCount,
    GroupMinCount,
    MaxGap,
    Monotonic,
    RowConstraint,
    SetDisjoint,
    SetEquals,
    Shape,
    SqlCheck,
    Transition,
    Unique,
)
from xpshacl_spark.sqltext import double_literal, quote_string, string_literal

_CTX_TYPE = "map<string,string>"


def _violation_struct(
    shape: Shape,
    constraint,
    value: Column,
    context: Optional[Column] = None,
    message: Optional[str] = None,
) -> Column:
    """The canonical violation payload struct (SURVEY.md §1.3): one
    parsed named_struct of the literal fields, then `value` and
    `context` set in place by withField."""
    fields = {
        "shape_id": shape.shape_id,
        "constraint_component": constraint.component(),
        "violation_type": constraint.violation_type(),
        "property_path": constraint.property_path(),
        "value": None,
        "message": message or shape.default_message(constraint),
        "severity": shape.severity,
    }
    sql = ", ".join(f"'{k}', {string_literal(v)}" for k, v in fields.items())
    struct = F.expr(f"named_struct({sql}, 'context', CAST(NULL AS {_CTX_TYPE}))")
    struct = struct.withField("value", value.cast("string"))
    return struct if context is None else struct.withField("context", context)


def _target_col(shape: Shape) -> Column:
    if shape.target:
        return F.coalesce(F.expr(shape.target), F.lit(False))
    return F.lit(True)


def _ctx_map(cols: dict[str, Column]) -> Optional[Column]:
    if not cols:
        return None
    kv = []
    for k, v in cols.items():
        kv.append(F.lit(k))
        kv.append(v.cast("string"))
    return F.create_map(*kv)


class ValidationReport:
    """Result of a validation run.

    `violations` is a lazy DataFrame with schema
    (key cols..., focus_node string, *VIOLATION_COLUMNS).
    `conforms` mirrors the reference's is_valid
    (extended_shacl_validator.py:161-181) and short-circuits the
    explanation stages (main.py:128-136).
    """

    def __init__(
        self,
        violations: DataFrame,
        key_cols: Sequence[str],
        metrics=None,
        summary: Optional[list[dict]] = None,
    ):
        self.violations = violations
        self.key_cols = list(key_cols)
        self.metrics = metrics or {}
        #: what a checkpoint's write observed of `violations`: one entry
        #: per model.SUMMARY_KEY with its n_violations and representative
        #: violation, keys without rows left out. None when nothing
        #: recorded it; the methods below then read the violations.
        self.summary = summary

    @property
    def conforms(self) -> bool:
        return self.violations.isEmpty()

    def ordered(self) -> DataFrame:
        """Deterministic output ordering (Spark gives none implicitly)."""
        return self.violations.orderBy(
            "shape_id", "constraint_component", *self.key_cols
        )

    def counts(self) -> DataFrame:
        """Violations per (shape_id, constraint_component,
        violation_type), in (shape_id, constraint_component) order; no
        row for a key without violations. From a summary it is a local
        relation, and collecting it runs no job."""
        if self.summary is not None:
            key = ("shape_id", "constraint_component", "violation_type")
            rows = sorted(
                tuple(e[f] for f in (*key, "n_violations"))
                for e in merge_summary(self.summary, key)
            )
            return local_relation(
                self.violations.sparkSession,
                rows,
                "shape_id string, constraint_component string, "
                "violation_type string, n_violations bigint not null",
            )
        return (
            self.violations.groupBy(
                "shape_id", "constraint_component", "violation_type"
            )
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .orderBy("shape_id", "constraint_component")
        )

    def conformance_by_group(
        self, universe: DataFrame, group_cols: Sequence[str]
    ) -> DataFrame:
        """Per-group pass/fail rollup — the north rule's 'per-partition
        pass/fail' as a relation: one row per distinct `group_cols` key
        in `universe` (the fact table, or any relation carrying the
        keys) with n_violations, n_components (distinct constraint
        components violated) and a conforms flag. Groups with zero
        violations appear with conforms=true (the universe join is what
        proves a CLEAN conversation clean — the violations relation
        alone cannot).

        Violation rows whose group keys are NULL (dataset-, drift- or
        coarser-scope rows) belong to no group and are excluded — roll
        those up with counts() instead. Scale shape: the violations
        side is the FAILURE set (orders of magnitude below the fact
        table); the universe side reduces to a distinct over the group
        columns only (map-side combined), so the join is
        failure-set-sized on one side and key-universe-sized on the
        other, never row-count-sized."""
        group_cols = list(group_cols)
        v = self.violations
        cond = reduce(
            lambda a, b: a & b, [F.col(k).isNotNull() for k in group_cols]
        )
        agg = (
            v.where(cond)
            .groupBy(*group_cols)
            .agg(
                F.count(F.lit(1)).alias("n_violations"),
                F.countDistinct("constraint_component").alias("n_components"),
            )
        )
        uni = universe.select(*group_cols).dropDuplicates()
        out = uni.join(agg, on=group_cols, how="left")
        n = F.coalesce(F.col("n_violations"), F.lit(0).cast("long"))
        return out.select(
            *group_cols,
            n.alias("n_violations"),
            F.coalesce(F.col("n_components"), F.lit(0))
            .cast("int")
            .alias("n_components"),
            (n == 0).alias("conforms"),
        )

    def message_counts(self) -> DataFrame:
        """Per-message violation counts — the reference shark-harness
        CSV output shape (/root/reference/data/shark_tests.py:116-141:
        one row per distinct result message with its fail count).
        Write with .write.csv(...) for byte-level parity of intent."""
        return (
            self.violations.groupBy("message")
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .orderBy("message")
        )


class ValidationEngine:
    """Compiles shapes and evaluates them against a DataFrame.

    dims: named dimension tables for ForeignKey / GroupMinCount.universe
    (the reference's rdf:type membership lookups, SURVEY.md §2A #4).
    """

    def __init__(self, spark: SparkSession, dims: Optional[dict] = None):
        self.spark = spark
        self.dims: dict[str, DataFrame] = dict(dims or {})
        # per-engine memo of small-dim FK membership probes: dim
        # metadata (bounded by FK_INLINE_MAX), never query results;
        # invalidated whenever the dim is re-registered
        self._fk_probe_cache: dict[tuple, Optional[list]] = {}

    def register_dim(self, name: str, df: DataFrame) -> None:
        self.dims[name] = df
        self._fk_probe_cache = {
            k: v for k, v in self._fk_probe_cache.items() if k[0] != name
        }

    def _fk_inline_values(self, c) -> Optional[list]:
        """Collected distinct non-null ref values for a single-column
        FK whose dim holds <= FK_INLINE_MAX rows (probed with a limit
        collect — bounded by the threshold, not the dim), or None when
        the constraint must take the broadcast anti-join path. Memoized
        per engine: the probe re-runs only when the dim is
        re-registered."""
        if len(c.columns) != 1:
            return None
        key = (c.ref_table, c.ref_columns[0])
        if key not in self._fk_probe_cache:
            head = (
                self._dim(c.ref_table)
                .select(F.col(c.ref_columns[0]).alias("_v"))
                .dropDuplicates()
                .limit(self.FK_INLINE_MAX + 1)
                .collect()
            )
            self._fk_probe_cache[key] = (
                [r["_v"] for r in head if r["_v"] is not None]
                if len(head) <= self.FK_INLINE_MAX
                else None
            )
        return self._fk_probe_cache[key]

    def _dim(self, name: str) -> DataFrame:
        if name not in self.dims:
            raise KeyError(
                f"dimension table '{name}' is not registered; known dims: "
                f"{sorted(self.dims) or '(none)'} — pass dims= to "
                "ValidationEngine or call register_dim()"
            )
        return self.dims[name]

    # ------------------------------------------------------------------
    # public entry point
    # ------------------------------------------------------------------

    def validate(
        self,
        df: DataFrame,
        shapes: Sequence[Shape],
        key_cols: Sequence[str],
    ) -> ValidationReport:
        """Evaluate all shapes; return the violations relation.

        Only the plan is built here: the checks run when the violations
        are read. The one job this can start is a referential check's
        first membership probe of a dimension, which the engine
        memoises.
        """
        key_cols = list(key_cols)
        t0 = time.monotonic()
        # first, so a bad whole-table declaration raises before any
        # probe job runs
        dataset_parts = self._compile_dataset_checks(df, shapes, key_cols)
        parts: list[DataFrame] = []

        row_df = self._compile_row_checks(df, shapes, key_cols)
        if row_df is not None:
            parts.append(row_df)
        parts.extend(self._compile_group_checks(df, shapes, key_cols))
        # a Unique whose columns are exactly a window-family spec's
        # (group key + order col) AND the validation key rides that
        # family's existing exchange+sort instead of its own groupBy
        # shuffle (r06, guide §2.4) — see _compile_monotonic_checks
        window_specs = {
            (tuple(c.group_by), c.order_by)
            for s in shapes
            for c in s.group_constraints()
            if isinstance(c, (Monotonic, DenseIndex, Transition, MaxGap))
        }
        fused_uniques: set = set()
        for s in shapes:
            for c in s.group_constraints():
                if (
                    isinstance(c, Unique)
                    and sorted(c.columns) == sorted(key_cols)
                ):
                    for gkey, ob in window_specs:
                        if (
                            set(c.columns) == set(gkey) | {ob}
                            and len(c.columns) == len(gkey) + 1
                        ):
                            fused_uniques.add((s.shape_id, c))
                            break
        parts.extend(
            self._compile_unique_checks(
                df, shapes, key_cols, skip=fused_uniques
            )
        )
        parts.extend(
            self._compile_monotonic_checks(
                df, shapes, key_cols, fused_uniques=fused_uniques
            )
        )
        parts.extend(self._compile_fk_checks(df, shapes, key_cols))
        parts.extend(self._compile_fd_checks(df, shapes, key_cols))
        parts.extend(dataset_parts)
        parts.extend(self._compile_path_checks(df, shapes, key_cols))
        parts.extend(self._compile_set_pair_checks(df, shapes, key_cols))
        parts.extend(self._compile_sql_checks(df, shapes, key_cols))

        if parts:
            # every part is (key_cols..., VIOLATION_COLUMNS...) in that
            # order, so a positional union skips unionByName's per-part
            # name resolution
            violations = reduce(DataFrame.union, parts)
        else:
            violations = self._empty_violations(df, key_cols)

        violations = self._with_focus_node(violations, key_cols)
        metrics = {
            "n_shapes": len(shapes),
            "n_plan_parts": len(parts),
            "compile_sec": time.monotonic() - t0,
        }
        return ValidationReport(violations, key_cols, metrics)

    # ------------------------------------------------------------------
    # row-level: ONE fused scan for every row constraint of every shape
    # ------------------------------------------------------------------

    def _compile_row_checks(
        self, df: DataFrame, shapes: Sequence[Shape], key_cols: list[str]
    ) -> Optional[DataFrame]:
        structs: list[Column] = []
        any_violated: Optional[Column] = None
        for shape in shapes:
            target = _target_col(shape)
            for c in shape.row_constraints():
                raw = c.violated(df)
                violated = target & F.coalesce(raw, F.lit(False))
                # pre-filter WITHOUT the coalesce wrapper: where() treats
                # NULL as false anyway, and the bare predicate (e.g.
                # `isnotnull(q) AND q > 30`) translates to parquet
                # PushedFilters for row-group skipping — coalesce() does not
                pre_pred = target & raw
                any_violated = (
                    pre_pred if any_violated is None else (any_violated | pre_pred)
                )
                structs.append(
                    F.when(
                        violated,
                        _violation_struct(
                            shape, c, c.value_col(df), _ctx_map(c.context_cols(df))
                        ),
                    )
                )
            # small-dim single-column FKs ride the SAME fused scan as a
            # literal membership test (r06, guide §2.4): one pass for
            # the row constraints AND these — _compile_fk_checks skips
            # them. NULL fks pass (an equi join never matches NULL);
            # the struct is byte-identical to the anti-join path's.
            for c in shape.join_constraints():
                vals = self._fk_inline_values(c)
                if vals is None:
                    continue
                fk = F.col(c.columns[0])
                miss = ~fk.isin(vals) if vals else F.lit(True)
                violated = target & fk.isNotNull() & miss
                any_violated = (
                    violated
                    if any_violated is None
                    else (any_violated | violated)
                )
                ctx = F.create_map(
                    F.lit("refTable"), F.lit(c.ref_table),
                    F.lit("refColumns"), F.lit(",".join(c.ref_columns)),
                )
                structs.append(
                    F.when(
                        violated,
                        _violation_struct(shape, c, fk.cast("string"), ctx),
                    )
                )
        if not structs:
            return None
        # Two-phase scan: a cheap all-predicate OR filter first, so the
        # allocation-heavy violation-struct array + explode only runs on
        # the (rare) violating rows. On healthy 100 TB inputs the fast
        # path is a pure codegen'd predicate scan that emits ~nothing.
        pre = df.where(any_violated)
        arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
        # inline drops rows with empty arrays -> conforming rows vanish
        # before any downstream operator sees them.
        return pre.select(*key_cols, F.inline(arr))

    # ------------------------------------------------------------------
    # group-level cardinality: shared aggregation per group key
    # ------------------------------------------------------------------

    def _compile_group_checks(
        self,
        df: DataFrame,
        shapes: Sequence[Shape],
        key_cols: list[str],
    ) -> list[DataFrame]:
        # bucket (shape, constraint) pairs by group key tuple
        by_key: dict[tuple, list] = {}
        for shape in shapes:
            for c in shape.group_constraints():
                if isinstance(c, (GroupMinCount, GroupMaxCount)):
                    by_key.setdefault(tuple(c.group_by), []).append((shape, c))
        outs = []
        for gkey, pairs in by_key.items():
            outs.append(self._group_count_plan(df, list(gkey), pairs, key_cols))
        return outs

    def _group_count_plan(
        self,
        df: DataFrame,
        gkey: list[str],
        pairs: list,
        key_cols: list[str],
    ) -> DataFrame:
        aggs = []
        for i, (shape, c) in enumerate(pairs):
            cond = _target_col(shape)
            if c.where:
                cond = cond & F.coalesce(F.expr(c.where), F.lit(False))
            aggs.append((f"_n{i}", cond))

        counts = df.groupBy(*gkey).agg(
            *[F.count(F.when(cond, 1)).alias(name) for name, cond in aggs]
        )

        # key-universe join for min-count: a group with ZERO matching rows
        # may be entirely absent from `counts` (or absent from df); join
        # against the declared universe so empty groups are still flagged
        # (SURVEY.md §7.3 hard part 3).
        universes = {c.universe for _, c in pairs if isinstance(c, GroupMinCount) and c.universe}
        if universes:
            uni_name = sorted(universes)[0]
            uni = self._dim(uni_name).select(*gkey).dropDuplicates()
            counts = uni.join(counts, on=gkey, how="left").select(
                *gkey,
                *[F.coalesce(F.col(name), F.lit(0)).alias(name) for name, _ in aggs],
            )

        structs = []
        for i, (shape, c) in enumerate(pairs):
            n = F.col(f"_n{i}")
            if isinstance(c, GroupMinCount):
                violated = n < F.lit(c.min_count)
                ctx = F.create_map(
                    F.lit("minCount"),
                    F.lit(str(c.min_count)),
                    F.lit("actualCount"),
                    n.cast("string"),
                )
            else:
                violated = n > F.lit(c.max_count)
                ctx = F.create_map(
                    F.lit("maxCount"),
                    F.lit(str(c.max_count)),
                    F.lit("actualCount"),
                    n.cast("string"),
                )
            structs.append(
                F.when(violated, _violation_struct(shape, c, n, ctx))
            )
        arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
        out = counts.select(*gkey, F.inline(arr))
        return self._align_keys(out, df, key_cols, present=gkey)

    # ------------------------------------------------------------------
    # uniqueness: agg per unique-column tuple, one violation per dup key
    # ------------------------------------------------------------------

    def _compile_unique_checks(
        self,
        df: DataFrame,
        shapes: Sequence[Shape],
        key_cols: list[str],
        skip: "set | frozenset" = frozenset(),
    ) -> list[DataFrame]:
        outs = []
        for shape in shapes:
            for c in shape.group_constraints():
                if not isinstance(c, Unique):
                    continue
                if (shape.shape_id, c) in skip:
                    continue
                cols = list(c.columns)
                target = _target_col(shape)
                counts = (
                    df.where(target)
                    .groupBy(*cols)
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .where(F.col("_n") > 1)
                )
                ctx = F.create_map(
                    F.lit("actualCount"), F.col("_n").cast("string")
                )
                value = F.concat_ws(
                    "|", *[F.col(x).cast("string") for x in cols]
                )
                out = counts.select(
                    *cols,
                    _violation_struct(shape, c, value, ctx).alias("_v"),
                ).select(*cols, "_v.*")
                outs.append(self._align_keys(out, df, key_cols, present=cols))
        return outs

    # ------------------------------------------------------------------
    # ordering: shared window per (partition, order) spec
    # ------------------------------------------------------------------

    def _compile_monotonic_checks(
        self,
        df: DataFrame,
        shapes: Sequence[Shape],
        key_cols: list[str],
        fused_uniques: "set | frozenset" = frozenset(),
    ) -> list[DataFrame]:
        by_spec: dict[tuple, list] = {}
        for shape in shapes:
            for c in shape.group_constraints():
                if isinstance(c, (Monotonic, DenseIndex, Transition, MaxGap)):
                    by_spec.setdefault((tuple(c.group_by), c.order_by), []).append(
                        (shape, c)
                    )
        fused_by_spec: dict[tuple, list] = {}
        if fused_uniques:
            shape_by_id = {s.shape_id: s for s in shapes}
            for gkey, ob in by_spec:
                for sid, c in fused_uniques:
                    if set(c.columns) == set(gkey) | {ob} and len(
                        c.columns
                    ) == len(gkey) + 1:
                        fused_by_spec.setdefault((gkey, ob), []).append(
                            (shape_by_id[sid], c)
                        )
        claimed: set = set()
        outs = []
        for (gkey, order_by), pairs in by_spec.items():
            w = Window.partitionBy(*gkey).orderBy(order_by)
            structs = []
            lag_cols = {}
            # "first row of the group" must be row_number()==1, NOT
            # lag(value) IS NULL: a mid-sequence row whose PREDECESSOR
            # holds a NULL value is not a group opener, and conflating
            # the two made Transition's `initial` check fire mid-stream
            # (and let DenseIndex pass a repeat that happened to equal
            # `start` after a NULL index). Shares the same window sort.
            # Every window column is added by ONE withColumns below.
            win_cols = {"_seq_rn1": F.row_number().over(w) == 1}
            is_first = F.col("_seq_rn1")
            for i, (shape, c) in enumerate(pairs):
                lag_name = f"_prev{i}"
                win_cols[lag_name] = F.lag(c.column).over(w)
                lag_cols[i] = lag_name
            for i, (shape, c) in enumerate(pairs):
                prev = F.col(lag_cols[i])
                cur = F.col(c.column)
                if isinstance(c, DenseIndex):
                    # gaps, repeats, NULLs, wrong first value all violate;
                    # a NULL index is always a violation (density is a
                    # presence claim, unlike value tests), and the row
                    # AFTER a NULL index has a NULL expectation, so it
                    # violates too (the sequence is broken there) —
                    # including when its value coincidentally equals
                    # `start`, which the old prev-IS-NULL form passed.
                    expected = F.when(is_first, F.lit(c.start)).otherwise(
                        prev + F.lit(c.step)
                    )
                    violated = _target_col(shape) & (
                        cur.isNull() | ~cur.eqNullSafe(expected)
                    )
                    ctx = F.create_map(
                        F.lit("previous"),
                        prev.cast("string"),
                        F.lit("expected"),
                        expected.cast("string"),
                        F.lit("orderBy"),
                        F.lit(order_by),
                    )
                elif isinstance(c, Transition):
                    bad_pair = F.lit(False)
                    for cur_val, prevs in c.allowed_prev:
                        bad_pair = bad_pair | (
                            (cur == F.lit(cur_val)) & ~prev.isin(*prevs)
                        )
                    violated = F.coalesce(
                        prev.isNotNull() & bad_pair, F.lit(False)
                    )
                    if c.initial is not None:
                        # opener = FIRST ROW of the group, not "previous
                        # value is NULL"; a NULL opener value still
                        # passes vacuously (documented NULL semantics)
                        violated = violated | (
                            is_first
                            & F.coalesce(~cur.isin(*c.initial), F.lit(False))
                        )
                    violated = _target_col(shape) & violated
                    ctx = F.create_map(
                        F.lit("previous"),
                        prev.cast("string"),
                        F.lit("orderBy"),
                        F.lit(order_by),
                    )
                elif isinstance(c, MaxGap):
                    # delta in the column's natural numeric space; for a
                    # timestamp column (TIMESTAMP or TIMESTAMP_NTZ — the
                    # latter cannot cast to double) the delta is the exact
                    # microsecond difference divided once by 1e6, which is
                    # bit-identical to (epoch_us(a)-epoch_us(b))/1000000.0
                    # on any engine: one exact long subtraction, one IEEE
                    # division — no per-endpoint rounding.
                    ctype = df.schema[c.column].dataType.typeName()
                    if ctype in ("timestamp", "timestamp_ntz"):
                        delta = F.expr(
                            f"timestampdiff(MICROSECOND, {lag_cols[i]}, "
                            f"{c.column})"
                        ) / F.lit(1000000.0)
                    else:
                        delta = cur.cast("double") - prev.cast("double")
                    violated = (
                        _target_col(shape)
                        & prev.isNotNull()
                        & cur.isNotNull()
                        & (delta > F.lit(float(c.max_delta)))
                    )
                    ctx = F.create_map(
                        F.lit("previous"),
                        prev.cast("string"),
                        F.lit("delta"),
                        delta.cast("string"),
                        F.lit("maxDelta"),
                        F.lit(str(c.max_delta)),
                        F.lit("orderBy"),
                        F.lit(order_by),
                    )
                else:  # Monotonic
                    if c.strict:
                        bad = prev >= cur
                    else:
                        bad = prev > cur
                    violated = (
                        _target_col(shape)
                        & prev.isNotNull()
                        & cur.isNotNull()
                        & bad
                    )
                    ctx = F.create_map(
                        F.lit("previous"),
                        prev.cast("string"),
                        F.lit("orderBy"),
                        F.lit(order_by),
                    )
                structs.append(
                    F.when(violated, _violation_struct(shape, c, cur, ctx))
                )
            # fused Unique (r06): key = (gkey..., order_by). The count
            # window's partition columns are a superset of the branch
            # window's, so hashpartitioning(gkey) already satisfies its
            # clustering and the (gkey, order) sort already satisfies
            # its ordering — no second exchange, no second sort (plan
            # pin: test_unique_rides_window_exchange). One row per
            # duplicated key is emitted at the key's FIRST row in sort
            # order (group opener or order-value change — deterministic
            # in values); the count is target-conditional, exactly the
            # where(target).groupBy().count() of the standalone form.
            for ushape, uc in fused_by_spec.get((gkey, order_by), ()):
                if (ushape.shape_id, uc) in claimed:
                    continue
                claimed.add((ushape.shape_id, uc))
                w_key = Window.partitionBy(*gkey, order_by)
                i = len(claimed)
                win_cols[f"_uqn_{i}"] = F.count(
                    F.when(_target_col(ushape), F.lit(1))
                ).over(w_key)
                win_cols[f"_uqp_{i}"] = F.lag(order_by).over(w)
                ucnt = F.col(f"_uqn_{i}")
                first_of_key = is_first | ~F.col(f"_uqp_{i}").eqNullSafe(
                    F.col(order_by)
                )
                violated = first_of_key & (ucnt > 1)
                value = F.concat_ws(
                    "|", *[F.col(x).cast("string") for x in uc.columns]
                )
                uctx = F.create_map(
                    F.lit("actualCount"), ucnt.cast("string")
                )
                structs.append(
                    F.when(
                        violated,
                        _violation_struct(ushape, uc, value, uctx),
                    )
                )
            arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
            outs.append(df.withColumns(win_cols).select(*key_cols, F.inline(arr)))
        return outs

    # ------------------------------------------------------------------
    # referential integrity: broadcast LEFT ANTI joins
    # ------------------------------------------------------------------

    #: single-column FK dims at or under this row count are inlined as
    #: literal membership sets into ONE fused filter scan (probed with
    #: a limit collect, so the probe is bounded by the threshold, not
    #: the dim)
    FK_INLINE_MAX = 1024

    def _compile_fk_checks(
        self, df: DataFrame, shapes: Sequence[Shape], key_cols: list[str]
    ) -> list[DataFrame]:
        """ForeignKey checks via broadcast LEFT ANTI join — the
        at-scale shape for real dims. Small single-column dims (r06,
        guide §2.4) are NOT compiled here: `_compile_row_checks`
        inlines them into the fused row scan as literal membership
        tests (a transcript suite with two 4-20-row dims was paying
        two full input scans plus two joins for what is an isin); the
        `_fk_inline_values` probe decides, memoized per engine."""
        outs = []
        for shape in shapes:
            for c in shape.join_constraints():
                if self._fk_inline_values(c) is not None:
                    continue
                dim = self._dim(c.ref_table)
                # rename dim cols to fk names so the anti join is an equi
                # join on the fk columns themselves
                sel = [
                    F.col(rc).alias(fk)
                    for fk, rc in zip(c.columns, c.ref_columns)
                ]
                dim_keys = dim.select(*sel).dropDuplicates()
                cond = _target_col(shape)
                for fk in c.columns:
                    cond = cond & F.col(fk).isNotNull()
                viol_rows = df.where(cond).join(
                    F.broadcast(dim_keys), on=list(c.columns), how="left_anti"
                )
                value = F.concat_ws(
                    "|", *[F.col(x).cast("string") for x in c.columns]
                )
                ctx = F.create_map(
                    F.lit("refTable"), F.lit(c.ref_table),
                    F.lit("refColumns"), F.lit(",".join(c.ref_columns)),
                )
                out = viol_rows.select(
                    *key_cols, _violation_struct(shape, c, value, ctx).alias("_v")
                ).select(*key_cols, "_v.*")
                outs.append(out)
        return outs

    # ------------------------------------------------------------------
    # functional dependencies: determinant -> single dependent value
    # ------------------------------------------------------------------

    def _compile_fd_checks(
        self, df: DataFrame, shapes: Sequence[Shape], key_cols: list[str]
    ) -> list[DataFrame]:
        """FunctionalDependency — one aggregation per distinct
        determinant tuple, all FDs sharing a determinant fused into it.
        The distinct aggregation's shuffle carries only the DISTINCT
        (determinant, dependent) pairs (Catalyst's two-phase distinct
        expansion), so hot determinant keys stay bounded by their
        distinct dependent values, not their row counts."""
        by_det: dict[tuple, list] = {}
        for shape in shapes:
            for c in shape.fd_constraints():
                by_det.setdefault(tuple(c.determinant), []).append((shape, c))
        outs = []
        for det, pairs in by_det.items():
            gkey = list(det)
            aggs = []
            for i, (shape, c) in enumerate(pairs):
                cond = _target_col(shape)
                dep = F.when(cond, F.col(c.dependent))
                aggs.append(F.countDistinct(dep).alias(f"_nd{i}"))
            counts = df.groupBy(*gkey).agg(*aggs)
            structs = []
            for i, (shape, c) in enumerate(pairs):
                n = F.col(f"_nd{i}")
                violated = n > 1
                # carry the violating determinant VALUES in context:
                # when the determinant is not part of key_cols,
                # _align_keys NULLs the keys and distinct violating
                # groups would otherwise collapse into
                # indistinguishable rows (untriageable, and any
                # cross-run comparison keyed on the violation
                # identity would treat them as one violation)
                det_entries = []
                for d in det:
                    det_entries.append(F.lit(f"det:{d}"))
                    det_entries.append(F.col(d).cast("string"))
                ctx = F.create_map(
                    F.lit("dependent"),
                    F.lit(c.dependent),
                    F.lit("nDistinct"),
                    n.cast("string"),
                    *det_entries,
                )
                structs.append(
                    F.when(violated, _violation_struct(shape, c, n, ctx))
                )
            arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
            out = counts.select(*gkey, F.inline(arr))
            outs.append(self._align_keys(out, df, key_cols, present=gkey))
        return outs

    # ------------------------------------------------------------------
    # whole-table checks (metrics, drift): ONE fused aggregation, lazy
    # ------------------------------------------------------------------

    def _compile_dataset_checks(
        self, df: DataFrame, shapes: Sequence[Shape], key_cols: list[str]
    ) -> list[DataFrame]:
        """DatasetMetric and Drift — every metric across every shape
        becomes a pair of conditional aggregates, and every drift check
        an array of bins+2 counts, in ONE global aggregation (a metric
        shape's target folds into its aggregate's filter; a histogram
        covers every row). The 1-row result explodes into violation
        structs like the group plan: fully lazy, the single row unions
        into the violations. Drift bins are
        operators.drift.histogram_bucket, the profile's histogram; the
        statistic is psi_column / ks_column against the baseline, and
        a Drift without a baseline checks nothing."""
        pairs = []
        drifts = []
        for shape in shapes:
            for c in shape.dataset_constraints():
                if c.min_value is None and c.max_value is None:
                    raise ValueError(
                        f"DatasetMetric({c.metric!r}) needs min_value and/or "
                        "max_value — an unbounded metric asserts nothing"
                    )
                if c.metric not in DatasetMetric.METRICS:
                    raise ValueError(
                        f"unknown dataset metric {c.metric!r} "
                        f"(one of {DatasetMetric.METRICS})"
                    )
                if c.metric != "row_count" and not c.column:
                    raise ValueError(
                        f"DatasetMetric({c.metric!r}) requires a column"
                    )
                pairs.append((shape, c))
            for c in shape.drift_constraints():
                if c.stat not in ("psi", "ks"):
                    raise ValueError(f"Drift stat {c.stat!r} is not 'psi' or 'ks'")
                check_bins(c.lo, c.hi, c.bins)
                if c.baseline and len(c.baseline) != c.bins + 2:
                    raise ValueError("Drift baseline: bin count mismatch (need bins + 2)")
                if not all(math.isfinite(x) for x in c.baseline):
                    raise ValueError("Drift baseline: every count must be finite")
                if c.baseline:
                    drifts.append((shape, c))
        if not pairs and not drifts:
            return []

        aggs = []
        metrics = []  # per pair: Column over the 1-row agg output
        for i, (shape, c) in enumerate(pairs):
            cond = _target_col(shape)
            if c.where:
                cond = cond & F.coalesce(F.expr(c.where), F.lit(False))
            col = F.col(c.column) if c.column else None
            if c.metric == "completeness":
                # exact long / exact long -> one IEEE division, engine-
                # and partitioning-independent
                aggs.append(F.count(F.when(cond & col.isNotNull(), 1)).alias(f"_a{i}"))
                aggs.append(F.count(F.when(cond, 1)).alias(f"_b{i}"))
                metrics.append(F.col(f"_a{i}") / F.col(f"_b{i}"))
            elif c.metric == "distinctness":
                aggs.append(F.countDistinct(F.when(cond, col)).alias(f"_a{i}"))
                aggs.append(F.count(F.when(cond & col.isNotNull(), 1)).alias(f"_b{i}"))
                metrics.append(F.col(f"_a{i}") / F.col(f"_b{i}"))
            elif c.metric == "row_count":
                aggs.append(F.count(F.when(cond, 1)).alias(f"_a{i}"))
                metrics.append(F.col(f"_a{i}").cast("double"))
            elif c.metric == "mean":
                aggs.append(F.avg(F.when(cond, col)).alias(f"_a{i}"))
                metrics.append(F.col(f"_a{i}").cast("double"))
            elif c.metric == "sum":
                aggs.append(F.sum(F.when(cond, col)).alias(f"_a{i}"))
                metrics.append(F.col(f"_a{i}").cast("double"))
            elif c.metric == "min":
                aggs.append(F.min(F.when(cond, col)).alias(f"_a{i}"))
                metrics.append(F.col(f"_a{i}").cast("double"))
            else:  # max
                aggs.append(F.max(F.when(cond, col)).alias(f"_a{i}"))
                metrics.append(F.col(f"_a{i}").cast("double"))

        # each Drift's value and bucket are projected once per row and
        # its statistic once over the one-row aggregate: the counts read
        # the bucket column, the value and the verdict the statistic
        values, buckets, stats = [], [], []
        for i, (shape, c) in enumerate(drifts):
            values.append(f"{c.expression} AS _drift_v{i}")
            bucket = histogram_bucket(f"_drift_v{i}", c.lo, c.hi, c.bins)
            buckets.append(f"{bucket} AS _drift_b{i}")
            aggs.append(histogram_counts(f"_drift_b{i}", c.bins).alias(f"_h{i}"))
            baseline = f"array({', '.join(double_literal(x) for x in c.baseline)})"
            stat = (ks_column if c.stat == "ks" else psi_column)(baseline, f"_h{i}")
            stats.append(stat.alias(f"_s{i}"))
        if drifts:
            binned = df.selectExpr("*", *values).selectExpr("*", *buckets)
            row = binned.agg(*aggs).select("*", *stats)
        else:
            row = df.agg(*aggs)
        structs = []
        for i, (shape, c) in enumerate(pairs):
            m = metrics[i]
            violated = m.isNull()  # empty population can't witness a bound
            if c.min_value is not None:
                violated = violated | (m < F.lit(float(c.min_value)))
            if c.max_value is not None:
                violated = violated | (m > F.lit(float(c.max_value)))
            ctx = F.create_map(
                F.lit("metric"),
                F.lit(c.metric),
                F.lit("observed"),
                m.cast("string"),
                F.lit("minValue"),
                F.lit(None if c.min_value is None else str(c.min_value)),
                F.lit("maxValue"),
                F.lit(None if c.max_value is None else str(c.max_value)),
            )
            structs.append(F.when(violated, _violation_struct(shape, c, m, ctx)))
        for i, (shape, c) in enumerate(drifts):
            counts = f"_h{i}"
            stat = F.col(f"_s{i}")
            ctx = F.expr(
                f"map('stat', {quote_string(c.stat)}, "
                f"'threshold', {quote_string(str(c.threshold))}, 'n', "
                f"CAST(aggregate({counts}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                " AS STRING))"
            )
            value = F.format_string("%.6f", stat)
            violated = stat > F.lit(float(c.threshold))
            structs.append(F.when(violated, _violation_struct(shape, c, value, ctx)))
        arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
        out = row.select(F.inline(arr))
        return [self._align_keys(out, df, key_cols, present=[])]

    # ------------------------------------------------------------------
    # sequence paths: FK -> dim attribute value constraints
    # ------------------------------------------------------------------

    def _compile_path_checks(
        self, df: DataFrame, shapes: Sequence[Shape], key_cols: list[str]
    ) -> list[DataFrame]:
        """PathValue — sh:path (fk attr): broadcast-join the dim's
        (keys, attr) projection onto target rows with non-NULL FKs
        (inner join: no match = no value node = vacuous pass), then
        evaluate the inner RowConstraint on the joined attribute."""
        outs = []
        for shape in shapes:
            for c in shape.path_constraints():
                dim = self._dim(c.ref_table)
                attr = c.inner.column
                clash = set(key_cols) | set(c.columns)
                if attr in clash:
                    raise ValueError(
                        f"PathValue dim attribute {attr!r} collides with a "
                        "key/FK column of the focus table; alias the dim "
                        "column first"
                    )
                sel = [
                    F.col(rc).alias(fk)
                    for fk, rc in zip(c.columns, c.ref_columns)
                ]
                # NO key-dedup: if the dim repeats a key, each row is a
                # distinct value node on the path and EVERY one must
                # conform (SHACL) — a dropDuplicates would both miss
                # violations and pick an arbitrary survivor
                # (nondeterministic across partitionings). Distinct
                # (key, attr) pairs only, so an exactly-duplicated dim
                # row doesn't double-report.
                dim_proj = dim.select(*sel, F.col(attr)).dropDuplicates()
                cond = _target_col(shape)
                for fk in c.columns:
                    cond = cond & F.col(fk).isNotNull()
                # dedupe the projection: an FK that is itself a key col
                # (e.g. a dim-keyed fact) must appear once, or the join
                # on c.columns hits an ambiguous-reference error
                proj = list(key_cols) + [
                    fk for fk in c.columns if fk not in key_cols
                ]
                joined = (
                    df.where(cond)
                    .select(*proj)
                    .join(F.broadcast(dim_proj), on=list(c.columns), how="inner")
                )
                viol = joined.where(
                    F.coalesce(c.inner.violated(joined), F.lit(False))
                )
                ctx = F.create_map(
                    F.lit("path"), F.lit(c.property_path()),
                    F.lit("refTable"), F.lit(c.ref_table),
                )
                out = viol.select(
                    *key_cols,
                    _violation_struct(
                        shape, c, F.col(attr).cast("string"), ctx
                    ).alias("_v"),
                ).select(*key_cols, "_v.*")
                outs.append(out)
        return outs

    # ------------------------------------------------------------------
    # cross-row property pairs: set-level equals/disjoint per group
    # (SURVEY.md §2A #13-#14 self-join variants)
    # ------------------------------------------------------------------

    def _compile_set_pair_checks(
        self, df: DataFrame, shapes: Sequence[Shape], key_cols: list[str]
    ) -> list[DataFrame]:
        """Per (shape, group key): ONE collect_set aggregation carries
        every set-pair constraint of that shape — the distinct value
        SETS of both columns ride one map-side-combined hash agg, and
        the set algebra (one-sided counts for SetEquals, intersection
        size for SetDisjoint) is per-row array arithmetic on the
        aggregated rows. The pre-r06 form planned, per constraint, two
        dropDuplicates shuffles plus a (full-outer or inner) join plus
        a count agg — 2 scans and 4 shuffles each, 8 for the usual
        equals+disjoint pairing; this plans 1 scan and 1 shuffle per
        (shape, group key) total. collect_set drops NULLs and
        duplicates exactly like the old isNotNull + dropDuplicates
        sides, and a group whose sets are both empty aggregates to two
        empty arrays -> no violation, matching the old join's absent
        row."""
        outs = []
        for shape in shapes:
            by_gkey: dict[tuple, list] = {}
            for c in shape.set_pair_constraints():
                by_gkey.setdefault(tuple(c.group_by), []).append(c)
            for gkey_t, cs in by_gkey.items():
                gkey = list(gkey_t)
                base = df.where(_target_col(shape))
                col_pairs = list(
                    dict.fromkeys((c.column, c.other) for c in cs)
                )
                sets_needed = list(
                    dict.fromkeys(col for p in col_pairs for col in p)
                )
                agg_row = base.groupBy(*gkey).agg(
                    *[
                        F.collect_set(F.col(col)).alias(f"_s{i}")
                        for i, col in enumerate(sets_needed)
                    ]
                )
                sref = {
                    col: F.col(f"_s{i}") for i, col in enumerate(sets_needed)
                }
                for c in cs:
                    sa, sb = sref[c.column], sref[c.other]
                    if isinstance(c, SetEquals):
                        ao = F.size(F.array_except(sa, sb))
                        bo = F.size(F.array_except(sb, sa))
                        bad = agg_row.select(
                            *gkey,
                            ao.alias("_ao"),
                            bo.alias("_bo"),
                        ).where(F.col("_ao") + F.col("_bo") > 0)
                        value = (F.col("_ao") + F.col("_bo")).cast("string")
                        ctx = F.create_map(
                            F.lit("aOnly"), F.col("_ao").cast("string"),
                            F.lit("bOnly"), F.col("_bo").cast("string"),
                        )
                    else:  # SetDisjoint: shared values are the violation
                        ns = F.size(F.array_intersect(sa, sb))
                        bad = agg_row.select(
                            *gkey, ns.alias("_ns")
                        ).where(F.col("_ns") > 0)
                        value = F.col("_ns").cast("string")
                        ctx = F.create_map(
                            F.lit("sharedCount"), F.col("_ns").cast("string")
                        )
                    out = bad.select(
                        *gkey,
                        _violation_struct(shape, c, value, ctx).alias("_v2"),
                    ).select(*gkey, "_v2.*")
                    outs.append(
                        self._align_keys(out, df, key_cols, present=gkey)
                    )
        return outs

    # ------------------------------------------------------------------
    # SQL escape hatch (sh:sparql analog)
    # ------------------------------------------------------------------

    def _compile_sql_checks(
        self, df: DataFrame, shapes: Sequence[Shape], key_cols: list[str]
    ) -> list[DataFrame]:
        outs = []
        has_sql = any(shape.sql_constraints() for shape in shapes)
        if not has_sql:
            return outs
        df.createOrReplaceTempView("this")
        for name, dim in self.dims.items():
            dim.createOrReplaceTempView(name)
        for shape in shapes:
            for c in shape.sql_constraints():
                res = self.spark.sql(c.sql)
                value = (
                    F.col("value").cast("string")
                    if "value" in res.columns
                    else F.lit(None).cast("string")
                )
                present = [k for k in key_cols if k in res.columns]
                out = res.select(
                    *present,
                    _violation_struct(shape, c, value).alias("_v"),
                ).select(*present, "_v.*")
                outs.append(self._align_keys(out, df, key_cols, present=present))
        return outs

    # ------------------------------------------------------------------
    # helpers
    # ------------------------------------------------------------------

    def _align_keys(
        self,
        part: DataFrame,
        df: DataFrame,
        key_cols: list[str],
        present: list[str],
    ) -> DataFrame:
        """Pad a plan fragment addressed at coarser granularity (e.g. a
        conv-level violation) with NULLs for the missing key columns, and
        drop non-key grouping columns."""
        src_types = dict(df.dtypes)
        cols = []
        for k in key_cols:
            if k in present:
                cols.append(F.col(k).cast(src_types[k]).alias(k))
            else:
                cols.append(F.lit(None).cast(src_types.get(k, "string")).alias(k))
        return part.select(*cols, *VIOLATION_COLUMNS)

    def _with_focus_node(self, v: DataFrame, key_cols: list[str]) -> DataFrame:
        """Human-readable focus identifier: 'k1=v1;k2=v2' of non-null keys
        (replaces the reference's focus-node IRI, SURVEY.md §1.1)."""
        parts = [
            F.when(
                F.col(k).isNotNull(),
                F.concat(F.lit(f"{k}="), F.col(k).cast("string")),
            )
            for k in key_cols
        ]
        fn = F.concat_ws(";", *parts)
        return v.select(*key_cols, fn.alias("focus_node"), *VIOLATION_COLUMNS)

    def _empty_violations(self, df: DataFrame, key_cols: list[str]) -> DataFrame:
        src_types = dict(df.dtypes)
        fields = ", ".join(f"`{k}` {src_types[k]}" for k in key_cols)
        schema = (
            f"{fields}, shape_id string, constraint_component string, "
            "violation_type string, property_path string, value string, "
            "message string, severity string, context map<string,string>"
        )
        return local_relation(self.spark, [], schema)

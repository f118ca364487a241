"""Physical-schema validation: expected columns/types vs a DataFrame.

The north-rule engine is a "schema + constraint validation engine"; the
row/group constraints (shapes.py, compiler.py) validate VALUES, this
module validates the TABLE SHAPE itself — the first gate a 100 TB
ingestion run should pass before any data is scanned. The reference has
no direct analog (its schema IS the shapes graph over schemaless RDF;
closest is sh:closed, extended_shacl_validator.py's closed-shape
handling, which this engine implements per-row in shapes.py Closed);
a tabular projection adds the physical layer the reference never sees.

Design: the check is METADATA-ONLY — it compares `df.schema` (parquet
footers / catalog info, no data scan, constant cost at any table size)
against a declared spec and returns the result AS A DATAFRAME so it
composes with the rest of the violation tooling. Three issue kinds:

- ``missing_column``    a required spec column is absent
- ``type_mismatch``     present, but the Spark simpleString type differs
- ``unexpected_column`` present in the table but not in the spec
  (suppressed with ``allow_extra=True`` — the open-shape default of
  SHACL; the strict default mirrors ``sh:closed true``)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xpshacl_spark.session import local_relation


@dataclass(frozen=True)
class ColumnSpec:
    """One expected column: name + Spark ``simpleString`` type (e.g.
    ``bigint``, ``string``, ``double``, ``array<float>``,
    ``timestamp``). ``required=False`` makes the column optional (no
    missing_column issue when absent; the type is still checked when
    present)."""

    name: str
    dtype: str
    required: bool = True


_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType(), False),
        T.StructField("issue", T.StringType(), False),
        T.StructField("expected_type", T.StringType(), True),
        T.StructField("actual_type", T.StringType(), True),
    ]
)


def schema_issue_rows(
    spark: SparkSession,
    df: DataFrame,
    specs: Sequence[ColumnSpec],
    allow_extra: bool = False,
) -> list:
    """The deviation rows as plain driver-side tuples
    (column_name, issue, expected_type, actual_type) — pure metadata,
    NO Spark job (for fail-fast gates like the runner's
    --expect-schema); :func:`schema_violations` wraps these in a
    DataFrame for relational composition."""
    # honor the session's resolution rules: case-insensitive matching
    # under the spark.sql.caseSensitive=false default, exact otherwise
    case_sensitive = (
        spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"
    )

    def _key(name: str) -> str:
        return name if case_sensitive else name.lower()

    # keep EVERY actual field (duplicate names are legal post-join and
    # each one must be checked, not silently overwritten)
    fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    rows = []
    spec_keys = set()
    matched_idx = set()
    for s in specs:
        k = _key(s.name)
        if k in spec_keys:
            raise ValueError(f"duplicate ColumnSpec for {s.name!r}")
        spec_keys.add(k)
        hits = [
            (i, fn, ft)
            for i, (fn, ft) in enumerate(fields)
            if _key(fn) == k
        ]
        if not hits:
            if s.required:
                rows.append((s.name, "missing_column", s.dtype, None))
            continue
        for i, _fn, ft in hits:
            matched_idx.add(i)
            if ft != s.dtype:
                rows.append((s.name, "type_mismatch", s.dtype, ft))
    if not allow_extra:
        for i, (fn, ft) in enumerate(fields):
            if i not in matched_idx:
                rows.append((fn, "unexpected_column", None, ft))
    rows.sort(key=lambda r: (r[0], r[1], r[3] or ""))
    return rows


def schema_violations(
    spark: SparkSession,
    df: DataFrame,
    specs: Sequence[ColumnSpec],
    allow_extra: bool = False,
) -> DataFrame:
    """(column_name, issue, expected_type, actual_type) — one row per
    schema deviation, empty when the table conforms. Deterministic
    order-independent content (the relation is tiny — bounded by the
    column count — and built driver-side from metadata alone)."""
    rows = schema_issue_rows(spark, df, specs, allow_extra=allow_extra)
    return local_relation(spark, rows, _RESULT_SCHEMA)


def schema_violation_report(
    spark: SparkSession,
    df: DataFrame,
    specs: Sequence[ColumnSpec],
    shape_id: str = "schema_shape",
    allow_extra: bool = False,
) -> DataFrame:
    """The same check reshaped into the engine's violation nomenclature
    (focus_node = the column; SchemaConstraintComponent classified as
    ViolationType.SCHEMA via model.COMPONENT_VIOLATION_TYPE; the issue
    kind and expected/actual types ride in the context map), matching
    model.VIOLATION_COLUMNS so schema deviations flow through the same
    report/summary/explanation sinks as value violations."""
    from xpshacl_spark.model import classify

    v = schema_violations(spark, df, specs, allow_extra=allow_extra)
    return v.select(
        F.col("column_name").alias("focus_node"),
        F.lit(shape_id).alias("shape_id"),
        F.lit("SchemaConstraintComponent").alias("constraint_component"),
        F.lit(classify("SchemaConstraintComponent")).alias("violation_type"),
        F.col("column_name").alias("property_path"),
        F.coalesce(F.col("actual_type"), F.lit("<absent>")).alias("value"),
        F.concat(
            F.lit("Schema check failed: "),
            F.col("issue"),
            F.lit(" (expected "),
            F.coalesce(F.col("expected_type"), F.lit("<unspecified>")),
            F.lit(", actual "),
            F.coalesce(F.col("actual_type"), F.lit("<absent>")),
            F.lit(")"),
        ).alias("message"),
        F.lit("Violation").alias("severity"),
        F.create_map(
            F.lit("issue"), F.col("issue"),
            F.lit("expectedType"),
            F.coalesce(F.col("expected_type"), F.lit("<unspecified>")),
            F.lit("actualType"),
            F.coalesce(F.col("actual_type"), F.lit("<absent>")),
        ).alias("context"),
    )

"""Declarative constraint shapes.

The reference stores shapes as an RDF shapes graph and pre-indexes them
into dict caches (/root/reference/src/extended_shacl_validator.py:44-120).
Here a shape is a plain Python dataclass tree that the compiler turns
into DataFrame plans — the shapes *are not data*, they are program.

Constraint classes map 1:1 onto the reference's recognized constraint
predicate set (extended_shacl_validator.py:88-107) plus the north-rule
additions (uniqueness, referential integrity, distribution drift).
Every row-level constraint compiles to a pure `pyspark.sql.Column`
predicate (JVM-side, whole-stage-codegen friendly); nothing row-at-a-time
in Python.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xpshacl_spark.model import ViolationType, classify


# --------------------------------------------------------------------------
# base
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Constraint:
    """Base class; concrete subclasses define component()/params()."""

    def component(self) -> str:
        raise NotImplementedError

    def violation_type(self) -> str:
        return classify(self.component())

    def property_path(self) -> Optional[str]:
        return getattr(self, "column", None)

    def params(self) -> dict:
        return {}

    def describe(self) -> str:
        p = self.params()
        return f"{self.component()}({json.dumps(p, sort_keys=True, default=str)})"


class RowConstraint(Constraint):
    """A constraint evaluated independently per focus row.

    ok(df) returns a Column that is True where the row CONFORMS.
    NULL handling follows SHACL property-shape semantics: an absent
    (NULL) value yields no value node, so value-testing constraints
    pass vacuously on NULL — only NotNull/GroupMinCount flag absence.
    """

    def ok(self, df: DataFrame) -> Column:
        raise NotImplementedError

    def violated(self, df: DataFrame) -> Column:
        return ~self.ok(df)

    def value_col(self, df: DataFrame) -> Column:
        col = self.property_path()
        if col is None:
            return F.lit(None).cast("string")
        return F.col(col).cast("string")

    def context_cols(self, df: DataFrame) -> dict[str, Column]:
        return {}


class ValueConstraint(RowConstraint):
    """A value-testing constraint that applies to EVERY value node of
    its path (SHACL property-shape semantics). Subclasses implement
    `ok_value(v)` — the predicate over ONE value.

    On a scalar column the path has at most one value node: NULL is
    absence (vacuous pass), otherwise ok_value decides. On an array
    column (a multi-valued path) the predicate must hold for every
    element — compiled to the JVM higher-order `forall`, zero extra
    scans; NULL elements are absent value nodes and pass vacuously,
    mirroring the scalar rule. This is what makes `sh:minLength` et al
    correct over repeated RDF predicates ingested as arrays
    (rdf_data.rdf_table) without a separate array constraint class.
    """

    def ok_value(self, v: Column) -> Column:
        raise NotImplementedError

    def ok(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        dt = dict(df.dtypes).get(self.column, "")
        if dt.startswith("array"):
            return c.isNull() | F.forall(
                c, lambda v: v.isNull() | self.ok_value(v)
            )
        return c.isNull() | self.ok_value(c)


# --------------------------------------------------------------------------
# row-level value constraints  (SURVEY.md §2A #3, #5-#12)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Datatype(RowConstraint):
    """sh:datatype analog: value parseability/castability check
    (reference: extended_shacl_validator.py:91, example_shapes.ttl:13).

    For typed columns, a NULL where the source column is non-null can't
    happen, so the practical check is: value must be castable to
    ``datatype`` (applied to string columns) and, when ``required``,
    non-null (used for injected ts-null defects, FIXTURES.md r_datatype_ts).
    """

    column: str
    datatype: str  # spark cast target: 'int','bigint','double','date','timestamp','string'
    required: bool = True

    def component(self) -> str:
        return "DatatypeConstraintComponent"

    def params(self) -> dict:
        return {"datatype": self.datatype}

    def ok(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        dt = dict(df.dtypes).get(self.column)
        if dt == "string" and self.datatype != "string":
            # try_cast, not cast: under ANSI mode (Spark 4 default) a
            # plain cast THROWS on malformed input instead of yielding
            # NULL — the whole point here is to detect malformed values
            castable = c.try_cast(self.datatype).isNotNull()
            cond = c.isNull() | castable
        else:
            cond = F.lit(True) if not self.required else c.isNotNull()
            return cond
        if self.required:
            return c.isNotNull() & cond
        return cond


@dataclass(frozen=True)
class NotNull(RowConstraint):
    """Row-scoped sh:minCount 1 — on a flat table a property with
    minCount>=1 per focus row means the column must be non-null
    (reference cardinality semantics, extended_shacl_validator.py:89)."""

    column: str

    def component(self) -> str:
        return "MinCountConstraintComponent"

    def params(self) -> dict:
        return {"minCount": 1}

    def ok(self, df: DataFrame) -> Column:
        return F.col(self.column).isNotNull()

    def context_cols(self, df: DataFrame) -> dict[str, Column]:
        return {
            "minCount": F.lit("1"),
            "actualCount": F.when(F.col(self.column).isNull(), F.lit("0")).otherwise(
                F.lit("1")
            ),
        }


@dataclass(frozen=True)
class MinInclusive(ValueConstraint):
    """sh:minInclusive (extended_shacl_validator.py:94; README worked
    example README.md:176-210)."""

    column: str
    bound: object

    def component(self) -> str:
        return "MinInclusiveConstraintComponent"

    def params(self) -> dict:
        return {"minInclusive": self.bound}

    def ok_value(self, v: Column) -> Column:
        return v >= F.lit(self.bound)


@dataclass(frozen=True)
class MaxInclusive(ValueConstraint):
    """sh:maxInclusive (extended_shacl_validator.py:96)."""

    column: str
    bound: object

    def component(self) -> str:
        return "MaxInclusiveConstraintComponent"

    def params(self) -> dict:
        return {"maxInclusive": self.bound}

    def ok_value(self, v: Column) -> Column:
        return v <= F.lit(self.bound)


@dataclass(frozen=True)
class MinExclusive(ValueConstraint):
    """sh:minExclusive (extended_shacl_validator.py:93)."""

    column: str
    bound: object

    def component(self) -> str:
        return "MinExclusiveConstraintComponent"

    def params(self) -> dict:
        return {"minExclusive": self.bound}

    def ok_value(self, v: Column) -> Column:
        return v > F.lit(self.bound)


@dataclass(frozen=True)
class MaxExclusive(ValueConstraint):
    """sh:maxExclusive (extended_shacl_validator.py:95)."""

    column: str
    bound: object

    def component(self) -> str:
        return "MaxExclusiveConstraintComponent"

    def params(self) -> dict:
        return {"maxExclusive": self.bound}

    def ok_value(self, v: Column) -> Column:
        return v < F.lit(self.bound)


@dataclass(frozen=True)
class Pattern(ValueConstraint):
    """sh:pattern + sh:flags (extended_shacl_validator.py:97-98).

    Flags are folded into the Java regex as an inline group, e.g.
    flags='i' -> '(?i)pattern' — keep patterns in the common
    Java/PCRE/ANSI subset so DuckDB oracles agree.
    """

    column: str
    pattern: str
    flags: Optional[str] = None

    def component(self) -> str:
        return "PatternConstraintComponent"

    def params(self) -> dict:
        p = {"pattern": self.pattern}
        if self.flags:
            p["flags"] = self.flags
        return p

    def _full_pattern(self) -> str:
        if self.flags:
            return f"(?{self.flags}){self.pattern}"
        return self.pattern

    def ok_value(self, v: Column) -> Column:
        return v.rlike(self._full_pattern())


@dataclass(frozen=True)
class MinLength(ValueConstraint):
    """sh:minLength (exercised by the reference data generator,
    data/synthetic_data_generator.py:83)."""

    column: str
    length: int

    def component(self) -> str:
        return "MinLengthConstraintComponent"

    def params(self) -> dict:
        return {"minLength": self.length}

    def ok_value(self, v: Column) -> Column:
        return F.length(v) >= F.lit(self.length)


@dataclass(frozen=True)
class MaxLength(ValueConstraint):
    """sh:maxLength (data/synthetic_data_generator.py:84, overlong-string
    injection :46-53)."""

    column: str
    length: int

    def component(self) -> str:
        return "MaxLengthConstraintComponent"

    def params(self) -> dict:
        return {"maxLength": self.length}

    def ok_value(self, v: Column) -> Column:
        # a string never has more characters than bytes, so the cheap
        # byte count settles every row of at most `length` bytes and
        # characters are counted only for the longer ones
        return (F.octet_length(v) <= F.lit(self.length)) | (
            F.length(v) <= F.lit(self.length)
        )


@dataclass(frozen=True)
class InSet(ValueConstraint):
    """sh:in / sh:languageIn analog: membership in a small literal set
    (data/synthetic_data_generator.py:97). For membership against a
    *table*, use ForeignKey instead."""

    column: str
    values: tuple
    language_in: bool = False

    def component(self) -> str:
        return (
            "LanguageInConstraintComponent" if self.language_in else "InConstraintComponent"
        )

    def params(self) -> dict:
        return {"in": list(self.values)}

    def ok_value(self, v: Column) -> Column:
        return v.isin(*self.values)


@dataclass(frozen=True)
class HasValue(RowConstraint):
    """sh:hasValue: the focus node must have `value` among its values.

    Unlike the value-testing components, hasValue asserts PRESENCE, so
    an absent (NULL) value IS a violation (SHACL core semantics — the
    reference delegates evaluation to pyshacl,
    extended_shacl_validator.py:161-181; hasValue is outside its
    recognized predicate set :88-107 and classifies as OTHER :158-159).
    On an array (multi-valued path) column the check is membership.
    """

    column: str
    value: object

    def component(self) -> str:
        return "HasValueConstraintComponent"

    def params(self) -> dict:
        return {"hasValue": self.value}

    def ok(self, df: DataFrame) -> Column:
        dt = dict(df.dtypes).get(self.column, "")
        if dt.startswith("array"):
            return F.coalesce(
                F.array_contains(F.col(self.column), F.lit(self.value)),
                F.lit(False),
            )
        return F.col(self.column).eqNullSafe(F.lit(self.value))


@dataclass(frozen=True)
class NodeKind(ValueConstraint):
    """sh:nodeKind analog: for flat columns, 'value is a well-formed
    id/reference vs free text' via a regex (SURVEY.md §2A #5)."""

    column: str
    kind: str = "IRI"
    id_pattern: str = r"^[A-Za-z][A-Za-z0-9_.:\-]*$"

    def component(self) -> str:
        return "NodeKindConstraintComponent"

    def params(self) -> dict:
        return {"nodeKind": self.kind}

    def ok_value(self, v: Column) -> Column:
        return v.rlike(self.id_pattern)


@dataclass(frozen=True)
class Closed(RowConstraint):
    """sh:closed + sh:ignoredProperties: the focus node carries no
    properties beyond the declared set. Tabular analog: every column of
    the table outside declared+ignored must be NULL; the violation value
    names the offending non-null columns. Evaluated inside the same
    fused row scan as every other row constraint (zero extra passes).
    SHACL core (pyshacl-evaluated in the reference); outside the
    reference's recognized predicate set -> OTHER.
    """

    declared: tuple
    ignored: tuple = ()
    column: Optional[str] = None

    def component(self) -> str:
        return "ClosedConstraintComponent"

    def params(self) -> dict:
        return {
            "closed": True,
            "declared": sorted(self.declared),
            "ignoredProperties": sorted(self.ignored),
        }

    def _extra(self, df: DataFrame) -> list[str]:
        keep = set(self.declared) | set(self.ignored)
        return [c for c in df.columns if c not in keep]

    def ok(self, df: DataFrame) -> Column:
        cond = F.lit(True)
        for c in self._extra(df):
            cond = cond & F.col(c).isNull()
        return cond

    def value_col(self, df: DataFrame) -> Column:
        extra = self._extra(df)
        if not extra:
            return F.lit(None).cast("string")
        tags = F.array(
            *[F.when(F.col(c).isNotNull(), F.lit(c)) for c in extra]
        )
        return F.array_join(F.filter(tags, lambda x: x.isNotNull()), ",")


@dataclass(frozen=True)
class NodeRef(RowConstraint):
    """sh:node: the value must conform to another (named) node shape.
    In the flat-table model the referenced shape's row constraints are
    inlined as a conjunction evaluated in the same fused scan — the
    shape reference costs nothing at runtime. The referenced shape's
    target (if any) is NOT applied: sh:node conformance is checked on
    the value node itself, targets only select focus nodes.
    SHACL core (pyshacl-evaluated in the reference).
    """

    shape: "Shape"
    column: Optional[str] = None

    def component(self) -> str:
        return "NodeConstraintComponent"

    def params(self) -> dict:
        return {"node": self.shape.shape_id}

    def property_path(self) -> Optional[str]:
        return self.column

    def ok(self, df: DataFrame) -> Column:
        cond = F.lit(True)
        for c in self.shape.row_constraints():
            cond = cond & c.ok(df)
        return cond


# --------------------------------------------------------------------------
# multi-valued (array-column) property paths
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ArrayMinCount(RowConstraint):
    """sh:minCount over a multi-valued property stored as an array
    column: the row's array must carry >= min_count elements. A NULL
    array is zero values (cardinality components see absence, unlike
    the vacuous-pass value components)."""

    column: str
    min_count: int = 1

    def component(self) -> str:
        return "MinCountConstraintComponent"

    def params(self) -> dict:
        return {"minCount": self.min_count, "scope": "array"}

    def _n(self) -> Column:
        # size(NULL) is -1 under the legacy flag and NULL otherwise;
        # normalize both to 0 values
        n = F.size(F.col(self.column))
        return F.when(n.isNull() | (n < 0), F.lit(0)).otherwise(n)

    def ok(self, df: DataFrame) -> Column:
        return self._n() >= F.lit(self.min_count)

    def context_cols(self, df: DataFrame) -> dict[str, Column]:
        return {
            "minCount": F.lit(str(self.min_count)),
            "actualCount": self._n().cast("string"),
        }


@dataclass(frozen=True)
class ArrayMaxCount(RowConstraint):
    """sh:maxCount over an array column (see ArrayMinCount)."""

    column: str
    max_count: int = 1

    def component(self) -> str:
        return "MaxCountConstraintComponent"

    def params(self) -> dict:
        return {"maxCount": self.max_count, "scope": "array"}

    def _n(self) -> Column:
        n = F.size(F.col(self.column))
        return F.when(n.isNull() | (n < 0), F.lit(0)).otherwise(n)

    def ok(self, df: DataFrame) -> Column:
        return self._n() <= F.lit(self.max_count)

    def context_cols(self, df: DataFrame) -> dict[str, Column]:
        return {
            "maxCount": F.lit(str(self.max_count)),
            "actualCount": self._n().cast("string"),
        }


@dataclass(frozen=True)
class ArrayUnique(RowConstraint):
    """Per-row element uniqueness for a multi-valued path (the
    sh:uniqueLang analog when the values live in one array cell):
    the array must contain no duplicate elements. NULL array passes
    vacuously."""

    column: str

    def component(self) -> str:
        return "UniquenessConstraintComponent"

    def params(self) -> dict:
        return {"unique": self.column, "scope": "array"}

    def ok(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        return c.isNull() | (
            F.size(F.array_distinct(c)) == F.size(c)
        )


@dataclass(frozen=True)
class ArrayAll(RowConstraint):
    """Every element of an array column satisfies a SQL predicate over
    the bound variable `x` (the sh:qualifiedValueShape-on-every-value /
    per-element value-constraint analog for multi-valued paths).
    Compiled to the JVM higher-order function `forall` — no UDF, no
    explode, zero shuffles. NULL array passes vacuously; a NULL
    predicate result (e.g. NULL element) counts as failing."""

    column: str
    predicate: str  # SQL boolean expr over `x`, e.g. "length(x) <= 6"

    def component(self) -> str:
        return "ExprConstraintComponent"

    def params(self) -> dict:
        return {"forall": self.predicate}

    def ok(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        every = F.expr(
            f"forall({self.column}, x -> coalesce(({self.predicate}), false))"
        )
        return c.isNull() | every


@dataclass(frozen=True)
class Expr(RowConstraint):
    """Arbitrary row predicate given as a SQL expression string that is
    True where the row CONFORMS. Building block for logical composition
    and the declarative escape hatch for one-off row rules."""

    expression: str
    column: Optional[str] = None
    component_name: str = "ExprConstraintComponent"

    def component(self) -> str:
        return self.component_name

    def params(self) -> dict:
        return {"expr": self.expression}

    def ok(self, df: DataFrame) -> Column:
        return F.expr(self.expression)


# --------------------------------------------------------------------------
# property-pair constraints (same-row flavor; SURVEY.md §2A #13-#16)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Equals(RowConstraint):
    """sh:equals (extended_shacl_validator.py:99)."""

    column: str
    other: str

    def component(self) -> str:
        return "EqualsConstraintComponent"

    def params(self) -> dict:
        return {"equals": self.other}

    def ok(self, df: DataFrame) -> Column:
        a, b = F.col(self.column), F.col(self.other)
        return (a.isNull() & b.isNull()) | a.eqNullSafe(b)


@dataclass(frozen=True)
class Disjoint(RowConstraint):
    """sh:disjoint (extended_shacl_validator.py:100)."""

    column: str
    other: str

    def component(self) -> str:
        return "DisjointConstraintComponent"

    def params(self) -> dict:
        return {"disjoint": self.other}

    def ok(self, df: DataFrame) -> Column:
        return ~F.col(self.column).eqNullSafe(F.col(self.other))


@dataclass(frozen=True)
class LessThan(RowConstraint):
    """sh:lessThan (extended_shacl_validator.py:101)."""

    column: str
    other: str

    def component(self) -> str:
        return "LessThanConstraintComponent"

    def params(self) -> dict:
        return {"lessThan": self.other}

    def ok(self, df: DataFrame) -> Column:
        a, b = F.col(self.column), F.col(self.other)
        return a.isNull() | b.isNull() | (a < b)


@dataclass(frozen=True)
class LessThanOrEquals(RowConstraint):
    """sh:lessThanOrEquals (extended_shacl_validator.py:102)."""

    column: str
    other: str

    def component(self) -> str:
        return "LessThanOrEqualsConstraintComponent"

    def params(self) -> dict:
        return {"lessThanOrEquals": self.other}

    def ok(self, df: DataFrame) -> Column:
        a, b = F.col(self.column), F.col(self.other)
        return a.isNull() | b.isNull() | (a <= b)


# --------------------------------------------------------------------------
# logical constraints (SURVEY.md §2A #17-#20)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Not(RowConstraint):
    """sh:not: node must NOT conform to the inner constraint
    (extended_shacl_validator.py:103)."""

    inner: RowConstraint
    column: Optional[str] = None
    #: SHACL property-shape parity: with NO value nodes (NULL column)
    #: sh:not is satisfied vacuously — the inner shape's vacuous pass
    #: must not invert into a violation. Off by default (the engine's
    #: native semantics treat Not as a plain row predicate flip, which
    #: the existing oracled queries pin); the TTL importer turns it on.
    vacuous_on_null: bool = False

    def component(self) -> str:
        return "NotConstraintComponent"

    def params(self) -> dict:
        return {"not": self.inner.describe()}

    def property_path(self) -> Optional[str]:
        return self.column or self.inner.property_path()

    def ok(self, df: DataFrame) -> Column:
        base = ~self.inner.ok(df)
        if self.vacuous_on_null and self.column:
            return F.col(self.column).isNull() | base
        return base


@dataclass(frozen=True)
class And(RowConstraint):
    """sh:and: conform to ALL children (extended_shacl_validator.py:104)."""

    children: tuple
    column: Optional[str] = None

    def component(self) -> str:
        return "AndConstraintComponent"

    def params(self) -> dict:
        return {"and": [c.describe() for c in self.children]}

    def property_path(self) -> Optional[str]:
        return self.column

    def ok(self, df: DataFrame) -> Column:
        cond = F.lit(True)
        for c in self.children:
            cond = cond & c.ok(df)
        return cond


@dataclass(frozen=True)
class Or(RowConstraint):
    """sh:or: conform to at least one child
    (extended_shacl_validator.py:105; data/synthetic_data_generator.py:124-129)."""

    children: tuple
    column: Optional[str] = None

    def component(self) -> str:
        return "OrConstraintComponent"

    def params(self) -> dict:
        return {"or": [c.describe() for c in self.children]}

    def property_path(self) -> Optional[str]:
        return self.column

    def ok(self, df: DataFrame) -> Column:
        cond = F.lit(False)
        for c in self.children:
            cond = cond | c.ok(df)
        return cond


@dataclass(frozen=True)
class Xone(RowConstraint):
    """sh:xone: conform to EXACTLY one child
    (extended_shacl_validator.py:106; data/synthetic_data_generator.py:137-142)."""

    children: tuple
    column: Optional[str] = None
    #: see Not.vacuous_on_null — on a NULL path every child passes
    #: vacuously, making the conforming count len(children) != 1; SHACL
    #: property-shape semantics say zero value nodes conform. The TTL
    #: importer sets this; native shapes keep the plain count.
    vacuous_on_null: bool = False

    def component(self) -> str:
        return "XoneConstraintComponent"

    def params(self) -> dict:
        return {"xone": [c.describe() for c in self.children]}

    def property_path(self) -> Optional[str]:
        return self.column

    def ok(self, df: DataFrame) -> Column:
        total = None
        for c in self.children:
            t = c.ok(df).cast("int")
            total = t if total is None else total + t
        base = total == F.lit(1)
        if self.vacuous_on_null and self.column:
            return F.col(self.column).isNull() | base
        return base


# --------------------------------------------------------------------------
# group-level constraints (one shuffle, shared across constraints)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class GroupMinCount(Constraint):
    """sh:minCount at group scope: each group (e.g. conv_id) must have
    >= min_count rows matching `where` (SQL expr; None = all rows).

    Compiled to a single shared groupBy over the group key with
    map-side partial aggregation (skew-safe for counts); groups absent
    from the data entirely are caught by joining against a key universe
    when `universe` is set (the anti-join-vs-agg trap, SURVEY.md §7.3).
    Reference: extended_shacl_validator.py:89, justification
    justification_tree_builder.py:125-154.
    """

    group_by: tuple
    min_count: int = 1
    where: Optional[str] = None
    column: Optional[str] = None  # property_path label for reports
    universe: Optional[str] = None  # name of a registered dim providing all keys

    def component(self) -> str:
        return "MinCountConstraintComponent"

    def params(self) -> dict:
        p = {"minCount": self.min_count}
        if self.where:
            p["where"] = self.where
        return p

    def property_path(self) -> Optional[str]:
        return self.column or (self.where or None)


@dataclass(frozen=True)
class GroupMaxCount(Constraint):
    """sh:maxCount at group scope (extended_shacl_validator.py:90;
    actualCount context mirrors :312-318)."""

    group_by: tuple
    max_count: int
    where: Optional[str] = None
    column: Optional[str] = None

    def component(self) -> str:
        return "MaxCountConstraintComponent"

    def params(self) -> dict:
        p = {"maxCount": self.max_count}
        if self.where:
            p["where"] = self.where
        return p

    def property_path(self) -> Optional[str]:
        return self.column or (self.where or None)


@dataclass(frozen=True)
class QualifiedMinCount(GroupMinCount):
    """sh:qualifiedValueShape + sh:qualifiedMinCount: each group must
    have >= min_count rows conforming to the qualifying predicate
    (`where`, the flat-table rendering of the qualified value shape).
    Shares the ONE hash aggregation per group key with every other
    group-count constraint — the qualification is just another
    count(when(...)) aggregate expression in the same pass. Classifies
    as cardinality, matching the reference's regex classifier
    (`(MinCount|MaxCount)Constraint`, extended_shacl_validator.py:262-268,
    which 'QualifiedMinCountConstraintComponent' also matches)."""

    def component(self) -> str:
        return "QualifiedMinCountConstraintComponent"

    def params(self) -> dict:
        return {
            "qualifiedMinCount": self.min_count,
            "qualifiedValueShape": self.where,
        }


@dataclass(frozen=True)
class QualifiedMaxCount(GroupMaxCount):
    """sh:qualifiedValueShape + sh:qualifiedMaxCount (see
    QualifiedMinCount)."""

    def component(self) -> str:
        return "QualifiedMaxCountConstraintComponent"

    def params(self) -> dict:
        return {
            "qualifiedMaxCount": self.max_count,
            "qualifiedValueShape": self.where,
        }


@dataclass(frozen=True)
class Unique(Constraint):
    """North-rule uniqueness (template: sh:uniqueLang,
    data/shark_shapes.ttl:37,45): the column tuple must identify at most
    one row. Emits one violation per duplicated key with actualCount.

    NULL keys: rows are grouped as GROUP BY groups them, so NULL equals
    NULL — two rows keyed (NULL, 1) are a duplicate. This is stricter
    than SQL UNIQUE, which lets any number of rows with a NULL key
    column through (see the certain-key discussion in "Entity
    Integrity, Referential Integrity, and Query Optimization with
    Embedded Uniqueness Constraints", ICDE 2019)."""

    columns: tuple

    def component(self) -> str:
        return "UniquenessConstraintComponent"

    def params(self) -> dict:
        return {"unique": list(self.columns)}

    def property_path(self) -> Optional[str]:
        return ",".join(self.columns)


@dataclass(frozen=True)
class Monotonic(Constraint):
    """North-rule ordering check (sh:lessThanOrEquals analog across
    consecutive rows): `column` must be non-decreasing in `order_by`
    within each `group_by` group. Compiled to a lag() window
    (SURVEY.md §2A #16).

    NULLs: each row is compared with its immediate predecessor in
    `order_by` order; a row whose value or whose predecessor's value is
    NULL is skipped (the comparison is unknown), and a NULL `group_by`
    key forms one group, as in GROUP BY."""

    group_by: tuple
    order_by: str
    column: str
    strict: bool = False  # True -> strictly increasing

    def component(self) -> str:
        return "LessThanOrEqualsConstraintComponent"

    def params(self) -> dict:
        return {
            "monotonic": self.column,
            "orderBy": self.order_by,
            "strict": self.strict,
        }

    def property_path(self) -> Optional[str]:
        return self.column


@dataclass(frozen=True)
class DenseIndex(Constraint):
    """Sequence check for transcript turn indexing (no reference
    counterpart — the north rule's transcript data model makes
    `turn_idx` a dense per-conversation enumeration, and the reference's
    SHACL vocabulary cannot state that): `column` must enumerate each
    `group_by` group as start, start+step, ... in `order_by` order.
    Gaps, repeats, NULLs, and a wrong first value all violate; the
    context map carries the expected value. Compiled into the SAME
    shared lag() window as Monotonic/Transition — adding this check to
    a shape that already orders by the same (group, order) spec costs
    zero extra shuffles."""

    group_by: tuple
    order_by: str
    column: str
    start: int = 0
    step: int = 1

    def component(self) -> str:
        return "DenseIndexConstraintComponent"

    def params(self) -> dict:
        return {
            "denseIndex": self.column,
            "orderBy": self.order_by,
            "start": self.start,
            "step": self.step,
        }

    def property_path(self) -> Optional[str]:
        return self.column


@dataclass(frozen=True)
class Transition(Constraint):
    """Sequence-grammar check (role-alternation analog for multi-turn
    transcripts; no SHACL counterpart): for each row whose `column`
    value is named in `allowed_prev`, the PREVIOUS row's value within
    the `group_by` group (ordered by `order_by`) must be one of its
    allowed predecessors. `allowed_prev` is a tuple of
    (value, (allowed_prev_values...)) pairs — e.g.
    (("assistant", ("user", "tool")),) reads "an assistant turn may
    only follow a user or tool turn". Values not named are
    unconstrained (open-world). `initial`, if given, additionally
    constrains the FIRST value of every group (e.g. a conversation must
    open with a user or system turn). NULL values pass vacuously
    (SHACL null semantics; pair with NotNull to flag absence).
    Compiled into the shared lag() window."""

    group_by: tuple
    order_by: str
    column: str
    allowed_prev: tuple = ()
    initial: Optional[tuple] = None

    def component(self) -> str:
        return "TransitionConstraintComponent"

    def params(self) -> dict:
        return {
            "transition": self.column,
            "orderBy": self.order_by,
            "allowedPrev": {k: list(v) for k, v in self.allowed_prev},
            "initial": list(self.initial) if self.initial is not None else None,
        }

    def property_path(self) -> Optional[str]:
        return self.column


@dataclass(frozen=True)
class MaxGap(Constraint):
    """Sequence check for response latency (transcript domain; no SHACL
    counterpart): within each `group_by` group ordered by `order_by`,
    the numeric delta between consecutive values of `column` must not
    exceed `max_delta`. For a timestamp column (TIMESTAMP or
    TIMESTAMP_NTZ) the delta is in fractional seconds, computed as the
    exact microsecond difference divided once by 1e6 — engine-portable
    bit for bit. First rows and NULL endpoints pass
    vacuously (no predecessor / no value node — SHACL null semantics;
    pair with NotNull/DenseIndex to forbid absence). Compiled into the
    SAME shared lag() window as Monotonic/DenseIndex/Transition —
    adding a latency bound to a shape that already orders by the same
    (group, order) spec costs zero extra shuffles."""

    group_by: tuple
    order_by: str
    column: str
    max_delta: float

    def component(self) -> str:
        return "MaxGapConstraintComponent"

    def params(self) -> dict:
        return {
            "maxGap": self.column,
            "orderBy": self.order_by,
            "maxDelta": self.max_delta,
        }

    def property_path(self) -> Optional[str]:
        return self.column


@dataclass(frozen=True)
class FunctionalDependency(Constraint):
    """Functional-dependency check (data-quality canon — Deequ's
    uniqueness family generalized; no reference counterpart): the
    `determinant` column tuple must determine `dependent` — every
    determinant group must carry at most ONE distinct non-null
    dependent value. NULL dependents are absent values and never
    conflict (SHACL null semantics). Emits one violation per violating
    determinant group with the conflicting-value count in context.

    Compiled to groupBy(determinant).agg(count(DISTINCT dependent)):
    Catalyst expands distinct aggregation into a two-phase plan whose
    shuffle carries only the DISTINCT (determinant, dependent) pairs —
    bounded by the true dependency violations, not the row count, so a
    hot determinant key with millions of rows but two distinct
    dependent values moves two rows. Multiple FDs sharing a
    determinant tuple fuse into ONE aggregation."""

    determinant: tuple
    dependent: str

    def component(self) -> str:
        return "FunctionalDependencyConstraintComponent"

    def params(self) -> dict:
        return {
            "determinant": list(self.determinant),
            "dependent": self.dependent,
        }

    def property_path(self) -> Optional[str]:
        return f"{','.join(self.determinant)}->{self.dependent}"


@dataclass(frozen=True)
class DatasetMetric(Constraint):
    """Dataset-scope metric assertion (Deequ's check model — a
    constraint on an AGGREGATE of the target population, not on any
    single row; no SHACL counterpart): compute `metric` over the
    shape's target rows and assert min_value <= metric <= max_value.
    Emits ONE violation row (all focus keys NULL, like Drift) when the
    assertion fails; the observed value rides both `value` and
    context["observed"].

    Metrics (ratio metrics divide exact long counts, so the observed
    double is bit-identical across engines and partitionings):
      completeness  — non-null fraction of `column` among target rows
      distinctness  — distinct non-null values / non-null rows
      row_count     — number of target rows (`column` unused)
      mean          — avg(column) (exact for integral columns)
      sum           — sum(column)
      min / max     — extrema of column

    An optional `where` SQL predicate refines the population below the
    shape target (e.g. completeness of `tool` among role='tool' rows).
    A NULL metric (empty population / all-null column) fails any
    bounded assertion — an absent population cannot witness a bound.
    ALL dataset metrics across ALL shapes fuse into ONE single-pass
    aggregation job (conditional aggregates keyed by each shape's
    target), and the plan stays lazy — no driver-side collect."""

    metric: str
    column: Optional[str] = None
    min_value: Optional[float] = None
    max_value: Optional[float] = None
    where: Optional[str] = None

    METRICS = ("completeness", "distinctness", "row_count", "mean", "sum", "min", "max")

    def component(self) -> str:
        return "DatasetMetricConstraintComponent"

    def params(self) -> dict:
        return {
            "metric": self.metric,
            "column": self.column,
            "minValue": self.min_value,
            "maxValue": self.max_value,
            "where": self.where,
        }

    def property_path(self) -> Optional[str]:
        return self.column or self.metric


@dataclass(frozen=True)
class SetEquals(Constraint):
    """Cross-row sh:equals (SURVEY.md §2A #13 set-level variant): within
    each group, the DISTINCT non-null value set of `column` must equal
    that of `other`. Compiled to a full-outer self-join of the two
    deduplicated (group, value) relations; one violation per group with
    any one-sided value, carrying aOnly/bOnly counts."""

    group_by: tuple
    column: str
    other: str

    def component(self) -> str:
        return "EqualsConstraintComponent"

    def params(self) -> dict:
        return {"equals": self.other, "scope": "set"}

    def property_path(self) -> Optional[str]:
        return f"{self.column},{self.other}"


@dataclass(frozen=True)
class SetDisjoint(Constraint):
    """Cross-row sh:disjoint (SURVEY.md §2A #14 set-level variant):
    within each group, `column` and `other` must share NO values.
    Compiled to an inner self-join on (group, value); one violation per
    group with shared values, value = shared count."""

    group_by: tuple
    column: str
    other: str

    def component(self) -> str:
        return "DisjointConstraintComponent"

    def params(self) -> dict:
        return {"disjoint": self.other, "scope": "set"}

    def property_path(self) -> Optional[str]:
        return f"{self.column},{self.other}"


@dataclass(frozen=True)
class ForeignKey(Constraint):
    """Referential integrity (generalizes sh:class membership,
    extended_shacl_validator.py:92 / shark_shapes.ttl:182,193): the
    column tuple must exist in dimension table `ref_table` columns
    `ref_columns`. Compiled to a broadcast LEFT ANTI join; NULL FKs are
    absent values and pass (use NotNull to forbid): a row whose FK tuple
    has a NULL in ANY column passes, as under SQL's MATCH SIMPLE, and a
    NULL in the dimension matches nothing."""

    columns: tuple
    ref_table: str
    ref_columns: tuple

    def component(self) -> str:
        return "ClassConstraintComponent"

    def params(self) -> dict:
        return {
            "columns": list(self.columns),
            "refTable": self.ref_table,
            "refColumns": list(self.ref_columns),
        }

    def property_path(self) -> Optional[str]:
        return ",".join(self.columns)


@dataclass(frozen=True)
class PathValue(Constraint):
    """SHACL SEQUENCE-PATH analog — ``sh:path (ex:fk ex:attr)``: follow
    the foreign key into dimension `ref_table` and apply `inner` (any
    RowConstraint, its ``column`` naming the DIM attribute) to the
    joined value. Extends the reference's recognized simple-path subset
    (extended_shacl_validator.py handles only direct properties); on a
    star schema this is how "every order's customer must have a
    non-negative balance" is a declarative shape instead of a manual
    join.

    Semantics: a NULL FK or an FK with no dim match produces NO value
    node on the sequence path, so value-testing constraints pass
    vacuously (SHACL; referential existence stays ForeignKey's job).
    Compiled to a broadcast join of the (ref_keys, attr) projection —
    the dim is an enumeration, the fact side never shuffles."""

    columns: tuple
    ref_table: str
    ref_columns: tuple
    inner: RowConstraint

    def component(self) -> str:
        return self.inner.component()

    def params(self) -> dict:
        return {
            "path": self.property_path(),
            "refTable": self.ref_table,
            **self.inner.params(),
        }

    def property_path(self) -> Optional[str]:
        return f"{','.join(self.columns)}/{self.inner.column}"


@dataclass(frozen=True)
class Drift(Constraint):
    """North-rule distribution-drift check: KS / PSI of `expression`
    (SQL expr over the row) vs a stored baseline histogram with fixed
    equi-width bins. The per-bin counts are part of the compiler's one
    whole-table aggregation, and the statistic is an expression over
    them (operators.drift.psi_column / ks_column), so validate() runs
    nothing for it (SURVEY.md §4 item 2). Checked at compile time:
    stat is 'psi' or 'ks', bins >= 1, lo < hi, and the baseline (if
    any) holds bins + 2 counts (underflow, bins, overflow)."""

    expression: str  # numeric SQL expr, e.g. "length(text)"
    lo: float
    hi: float
    bins: int = 64
    stat: str = "psi"  # 'psi' | 'ks'
    threshold: float = 0.2
    baseline: Optional[tuple] = None  # per-bin baseline counts (len bins+2)
    column: Optional[str] = None

    def component(self) -> str:
        return "DistributionConstraintComponent"

    def params(self) -> dict:
        return {
            "expr": self.expression,
            "lo": self.lo,
            "hi": self.hi,
            "bins": self.bins,
            "stat": self.stat,
            "threshold": self.threshold,
        }

    def property_path(self) -> Optional[str]:
        return self.column or self.expression


@dataclass(frozen=True)
class SqlCheck(Constraint):
    """sh:sparql analog — the declarative escape hatch
    (data/synthetic_data_generator.py:145-177, shark_shapes.ttl:48-149):
    arbitrary SQL whose result set IS the violating focus rows. The
    focus table is registered as view `this`; dimension tables under
    their registered names. Must project the focus key columns and may
    project a `value` column."""

    sql: str
    column: Optional[str] = None

    def component(self) -> str:
        return "SPARQLConstraintComponent"

    def params(self) -> dict:
        return {"sql": self.sql}

    def property_path(self) -> Optional[str]:
        return self.column


# --------------------------------------------------------------------------
# Shape
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Shape:
    """A named set of constraints over a target row population.

    target: SQL boolean expr selecting focus rows (sh:targetClass /
    targetNode analog, SURVEY.md §2A #22); None = whole table.
    severity/message: sh:severity / sh:message metadata carried onto
    every emitted violation row (extended_shacl_validator.py:232-233,
    307-309).
    name/description: sh:name / rdfs:comment used by the context
    retriever (context_retriever.py:58-66).
    """

    shape_id: str
    constraints: tuple
    target: Optional[str] = None
    severity: str = "Violation"
    message: Optional[str] = None
    name: Optional[str] = None
    description: Optional[str] = None

    def row_constraints(self) -> list[RowConstraint]:
        return [c for c in self.constraints if isinstance(c, RowConstraint)]

    def group_constraints(self) -> list[Constraint]:
        return [
            c
            for c in self.constraints
            if isinstance(
                c,
                (
                    GroupMinCount,
                    GroupMaxCount,
                    Unique,
                    Monotonic,
                    DenseIndex,
                    Transition,
                    MaxGap,
                ),
            )
        ]

    def fd_constraints(self) -> list["FunctionalDependency"]:
        return [c for c in self.constraints if isinstance(c, FunctionalDependency)]

    def dataset_constraints(self) -> list["DatasetMetric"]:
        return [c for c in self.constraints if isinstance(c, DatasetMetric)]

    def join_constraints(self) -> list[ForeignKey]:
        return [c for c in self.constraints if isinstance(c, ForeignKey)]

    def path_constraints(self) -> list["PathValue"]:
        return [c for c in self.constraints if isinstance(c, PathValue)]

    def set_pair_constraints(self) -> list[Constraint]:
        return [
            c for c in self.constraints if isinstance(c, (SetEquals, SetDisjoint))
        ]

    def drift_constraints(self) -> list[Drift]:
        return [c for c in self.constraints if isinstance(c, Drift)]

    def sql_constraints(self) -> list[SqlCheck]:
        return [c for c in self.constraints if isinstance(c, SqlCheck)]

    def default_message(self, c: Constraint) -> str:
        if self.message:
            return self.message
        return f"Value does not conform to {c.component()}"


def non_streamable_constraints(shapes) -> list[tuple[str, str]]:
    """(shape_id, constraint type) pairs for every constraint that is
    neither row-level nor referential — exactly the set that cannot
    stream (needs retractions / whole-group visibility) and cannot
    delta-validate (a group may span old and new files). ONE definition
    shared by streaming.validate_stream and
    checkpoint.run_incremental, so the two gates cannot drift when a
    new constraint class is added."""
    return [
        (s.shape_id, type(c).__name__)
        for s in shapes
        for c in s.constraints
        if not isinstance(c, (RowConstraint, ForeignKey))
    ]

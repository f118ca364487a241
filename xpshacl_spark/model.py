"""Core data model: violation types and the violations-table contract.

Mirrors the reference record schema (ConstraintViolation dataclass,
/root/reference/src/xpshacl_architecture.py:32-80) re-expressed as a
fixed DataFrame schema: violations are *born* structured instead of
being re-parsed out of a SHACL report graph
(/root/reference/src/extended_shacl_validator.py:183-318).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import types as T


class ViolationType:
    """Violation-type vocabulary.

    First seven values verbatim from the reference enum
    (/root/reference/src/xpshacl_architecture.py:14-23); the last three
    are the north-rule additions (uniqueness, referential integrity,
    distribution drift).
    """

    CARDINALITY = "cardinality"
    VALUE_TYPE = "value_type"
    VALUE_RANGE = "value_range"
    PATTERN = "pattern"
    PROPERTY_PAIR = "property_pair"
    LOGICAL = "logical"
    OTHER = "other"
    # north-rule extensions
    UNIQUENESS = "uniqueness"
    REFERENTIAL = "referential"
    DISTRIBUTION = "distribution"
    SCHEMA = "schema"
    SEQUENCE = "sequence"
    DEPENDENCY = "dependency"
    DATASET = "dataset"

    ALL = (
        CARDINALITY,
        VALUE_TYPE,
        VALUE_RANGE,
        PATTERN,
        PROPERTY_PAIR,
        LOGICAL,
        OTHER,
        UNIQUENESS,
        REFERENTIAL,
        DISTRIBUTION,
        SCHEMA,
        SEQUENCE,
        DEPENDENCY,
        DATASET,
    )

    #: reference-parity mapping used when reproducing the md5 signature
    #: string, which stringifies the Python enum (str(ViolationType.X) ->
    #: "ViolationType.X"); see /root/reference/src/violation_kg.py:96.
    ENUM_REPR = {
        CARDINALITY: "ViolationType.CARDINALITY",
        VALUE_TYPE: "ViolationType.VALUE_TYPE",
        VALUE_RANGE: "ViolationType.VALUE_RANGE",
        PATTERN: "ViolationType.PATTERN",
        PROPERTY_PAIR: "ViolationType.PROPERTY_PAIR",
        LOGICAL: "ViolationType.LOGICAL",
        OTHER: "ViolationType.OTHER",
        UNIQUENESS: "ViolationType.UNIQUENESS",
        REFERENTIAL: "ViolationType.REFERENTIAL",
        DISTRIBUTION: "ViolationType.DISTRIBUTION",
        SCHEMA: "ViolationType.SCHEMA",
        SEQUENCE: "ViolationType.SEQUENCE",
        DEPENDENCY: "ViolationType.DEPENDENCY",
        DATASET: "ViolationType.DATASET",
    }


#: component -> violation type classifier. Plain dict applied at shape
#: *compile* time (no runtime cost), replacing the reference's two
#: runtime classifiers (_get_constraint_type at
#: extended_shacl_validator.py:122-159 and the regex-based
#: _determine_violation_type at :260-285).
COMPONENT_VIOLATION_TYPE = {
    "MinCountConstraintComponent": ViolationType.CARDINALITY,
    "MaxCountConstraintComponent": ViolationType.CARDINALITY,
    "DatatypeConstraintComponent": ViolationType.VALUE_TYPE,
    "ClassConstraintComponent": ViolationType.VALUE_TYPE,
    "NodeKindConstraintComponent": ViolationType.VALUE_TYPE,
    "MinExclusiveConstraintComponent": ViolationType.VALUE_RANGE,
    "MinInclusiveConstraintComponent": ViolationType.VALUE_RANGE,
    "MaxExclusiveConstraintComponent": ViolationType.VALUE_RANGE,
    "MaxInclusiveConstraintComponent": ViolationType.VALUE_RANGE,
    "PatternConstraintComponent": ViolationType.PATTERN,
    "MinLengthConstraintComponent": ViolationType.OTHER,
    "MaxLengthConstraintComponent": ViolationType.OTHER,
    "LanguageInConstraintComponent": ViolationType.OTHER,
    "InConstraintComponent": ViolationType.OTHER,
    "EqualsConstraintComponent": ViolationType.PROPERTY_PAIR,
    "DisjointConstraintComponent": ViolationType.PROPERTY_PAIR,
    "LessThanConstraintComponent": ViolationType.PROPERTY_PAIR,
    "LessThanOrEqualsConstraintComponent": ViolationType.PROPERTY_PAIR,
    "NotConstraintComponent": ViolationType.LOGICAL,
    "AndConstraintComponent": ViolationType.LOGICAL,
    "OrConstraintComponent": ViolationType.LOGICAL,
    "XoneConstraintComponent": ViolationType.LOGICAL,
    "SPARQLConstraintComponent": ViolationType.OTHER,
    # SHACL-core components outside the reference's recognized predicate
    # set (extended_shacl_validator.py:88-107): its regex classifier
    # (:260-285) maps Qualified{Min,Max}Count to cardinality (the
    # `(MinCount|MaxCount)Constraint` pattern matches inside the longer
    # name) and everything else to OTHER — mirrored here.
    "QualifiedMinCountConstraintComponent": ViolationType.CARDINALITY,
    "QualifiedMaxCountConstraintComponent": ViolationType.CARDINALITY,
    "HasValueConstraintComponent": ViolationType.OTHER,
    "ClosedConstraintComponent": ViolationType.OTHER,
    "NodeConstraintComponent": ViolationType.OTHER,
    # north-rule components
    "UniquenessConstraintComponent": ViolationType.UNIQUENESS,
    "ReferentialConstraintComponent": ViolationType.REFERENTIAL,
    "DistributionConstraintComponent": ViolationType.DISTRIBUTION,
    "SchemaConstraintComponent": ViolationType.SCHEMA,
    "DenseIndexConstraintComponent": ViolationType.SEQUENCE,
    "TransitionConstraintComponent": ViolationType.SEQUENCE,
    "MaxGapConstraintComponent": ViolationType.SEQUENCE,
    "FunctionalDependencyConstraintComponent": ViolationType.DEPENDENCY,
    "DatasetMetricConstraintComponent": ViolationType.DATASET,
}


#: Canonical violation columns appended after the focus-key columns.
#: Matches SURVEY.md §1.3.
VIOLATION_COLUMNS = [
    "shape_id",
    "constraint_component",
    "violation_type",
    "property_path",
    "value",
    "message",
    "severity",
    "context",
]


def violation_struct_fields() -> list[T.StructField]:
    """Schema of the non-key violation columns."""
    return [
        T.StructField("shape_id", T.StringType(), False),
        T.StructField("constraint_component", T.StringType(), False),
        T.StructField("violation_type", T.StringType(), False),
        T.StructField("property_path", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("severity", T.StringType(), True),
        T.StructField(
            "context", T.MapType(T.StringType(), T.StringType()), True
        ),
    ]


#: The fields a violation summary keeps of one representative violation,
#: and the struct that picks it: the least (focus_node, shape_id, value,
#: message) under Spark's struct ordering, so rows that share a focus
#: node still give one answer on every run.
REPRESENTATIVE_FIELDS = ("shape_id", "focus_node", "value", "message", "severity", "context")
REPRESENTATIVE_ORDER = ("focus_node", "shape_id", "value", "message")

#: The key of a summary entry. `compiler._violation_struct` fills all
#: four from the shape and constraint, so a suite's keys are known
#: before it runs.
SUMMARY_KEY = ("shape_id", "constraint_component", "violation_type", "property_path")


def _representative_order(rep: dict) -> tuple:
    """Sort key of a representative under REPRESENTATIVE_ORDER, as Spark
    orders the struct: NULL first, strings by code point."""
    return tuple((rep[f] is not None, rep[f] or "") for f in REPRESENTATIVE_ORDER)


def merge_summary(entries, key: Sequence[str] = SUMMARY_KEY) -> list[dict]:
    """Fold summary entries that agree on the `key` fields into one: the
    counts are added and the least representative is kept. Each entry
    is a dict of the SUMMARY_KEY fields, `n_violations` and
    `representative`; the result keeps the first entry's other fields,
    in first-seen order."""
    out: dict[tuple, dict] = {}
    for e in entries:
        k = tuple(e[f] for f in key)
        have = out.get(k)
        if have is None:
            out[k] = dict(e)
            continue
        have["n_violations"] += e["n_violations"]
        if _representative_order(e["representative"]) < _representative_order(
            have["representative"]
        ):
            have["representative"] = e["representative"]
    return list(out.values())


def classify(component: str) -> str:
    """component name -> ViolationType value (OTHER fallback,
    mirroring extended_shacl_validator.py:158-159, 284-285)."""
    return COMPONENT_VIOLATION_TYPE.get(component, ViolationType.OTHER)

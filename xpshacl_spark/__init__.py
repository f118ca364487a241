"""xpshacl_spark — a PySpark-native constraint-validation engine.

A brand-new, Spark-first re-expression of the capabilities of the
reference explainable-SHACL system (gcpdev/xpshacl): declarative
constraint shapes compiled to vectorized DataFrame plans that emit a
violations table, a signature-deduplicated explanation pipeline with a
persistent cache, a single-pass column profiler with KS/PSI drift
checks, and checkpoint/resume for large batch runs.

Nothing here is a port: the reference is a single-threaded
rdflib/pyshacl pipeline (see /root/reference/src/main.py); this engine
declares logical plans with the DataFrame API and lets Catalyst pick
physical strategies.
"""

from xpshacl_spark.model import (
    ViolationType,
    VIOLATION_COLUMNS,
    violation_struct_fields,
)
from xpshacl_spark.shapes import (
    Shape,
    HasValue,
    Closed,
    NodeRef,
    QualifiedMinCount,
    QualifiedMaxCount,
    ArrayMinCount,
    ArrayMaxCount,
    ArrayUnique,
    ArrayAll,
    Datatype,
    MinInclusive,
    MaxInclusive,
    MinExclusive,
    MaxExclusive,
    Pattern,
    MinLength,
    MaxLength,
    InSet,
    NodeKind,
    NotNull,
    Equals,
    Disjoint,
    LessThan,
    LessThanOrEquals,
    Not,
    And,
    Or,
    Xone,
    GroupMinCount,
    GroupMaxCount,
    Unique,
    Monotonic,
    DenseIndex,
    Transition,
    ForeignKey,
    SetEquals,
    SetDisjoint,
    Drift,
    SqlCheck,
)
from xpshacl_spark.compiler import ValidationEngine, ValidationReport
from xpshacl_spark.session import get_spark
from xpshacl_spark.streaming import streaming_dedup, validate_stream

__all__ = [
    "ViolationType",
    "HasValue",
    "Closed",
    "NodeRef",
    "QualifiedMinCount",
    "QualifiedMaxCount",
    "ArrayMinCount",
    "ArrayMaxCount",
    "ArrayUnique",
    "ArrayAll",
    "VIOLATION_COLUMNS",
    "violation_struct_fields",
    "Shape",
    "Datatype",
    "MinInclusive",
    "MaxInclusive",
    "MinExclusive",
    "MaxExclusive",
    "Pattern",
    "MinLength",
    "MaxLength",
    "InSet",
    "NodeKind",
    "NotNull",
    "Equals",
    "Disjoint",
    "LessThan",
    "LessThanOrEquals",
    "Not",
    "And",
    "Or",
    "Xone",
    "GroupMinCount",
    "GroupMaxCount",
    "Unique",
    "Monotonic",
    "DenseIndex",
    "Transition",
    "ForeignKey",
    "SetEquals",
    "SetDisjoint",
    "Drift",
    "SqlCheck",
    "ValidationEngine",
    "ValidationReport",
    "get_spark",
    "validate_stream",
    "streaming_dedup",
]

__version__ = "0.1.0"

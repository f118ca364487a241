"""Standard SHACL validation-report (Turtle) ingestion.

The reference's ``--input_report`` mode skips validation and replays an
EXISTING report graph — e.g. produced by pyshacl or any conformant
validator — through the explanation pipeline
(/root/reference/src/main.py:75-114; result extraction
extended_shacl_validator.py:183-282). This module is that on-ramp for
the engine: parse ``sh:ValidationResult`` nodes from a report Turtle
file into the engine's violations relation (focus_node +
VIOLATION_COLUMNS), so justification trees / context / cached
explanations run over third-party reports, not only our own outputs.

Mirrors the reference's extraction semantics:

* results are found by ``a sh:ValidationResult`` — standalone subjects
  (IRI or labeled bnode), blank-node report subjects (``[] a
  sh:ValidationReport ; sh:result [...]``), and results nested inline
  under ``sh:result`` all work (blank-subject support lives in the
  shared shapes_ttl parser). A standalone typed result referenced from
  ``sh:result`` by LABEL is counted once: nested label references are
  strings, not inline nodes;
* a result without focusNode / sourceShape / sourceConstraintComponent
  is SKIPPED with a recorded reason (the reference logs-and-drops,
  :204-221);
* an INLINE-blank ``sh:sourceShape`` (how pyshacl serializes property
  shapes) maps to a stable readable id — ``PropertyShape/<path local
  name>`` — instead of a Python repr; blank focusNode/value reduce to
  ``_:anon``;
* violation_type is classified from the component name via the same
  mapping the engine compiles with (model.COMPONENT_VIOLATION_TYPE —
  the reference's regex classifier :260-285 agrees on the shared set).
"""

from __future__ import annotations

import os
from typing import Optional

from xpshacl_spark.model import (
    VIOLATION_COLUMNS,
    COMPONENT_VIOLATION_TYPE,
    ViolationType,
)
from xpshacl_spark.shapes_ttl import (
    Blank,
    Literal,
    _Parser,
    _tokenize,
    local_name,
)

SH = "http://www.w3.org/ns/shacl#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _sval(node, pred: str = "") -> Optional[str]:
    if node is None:
        return None
    if isinstance(node, Literal):
        return node.value
    if isinstance(node, Blank):
        # inline blank nodes: pyshacl serializes property shapes this
        # way for sh:sourceShape — derive a stable readable id from the
        # shape's path; other blank values reduce to _:anon (never the
        # Python dataclass repr)
        path = node.first(SH + "path")
        if isinstance(path, str):
            return f"PropertyShape/{local_name(path)}"
        return "_:anon"
    return str(node)


def _result_row(res: Blank, skipped: list) -> Optional[dict]:
    focus = _sval(res.first(SH + "focusNode"))
    shape = _sval(res.first(SH + "sourceShape"))
    comp = _sval(res.first(SH + "sourceConstraintComponent"))
    # required triple per the reference (:204-221): log-and-drop
    for name, v in (("focusNode", focus), ("sourceShape", shape),
                    ("sourceConstraintComponent", comp)):
        if v is None:
            skipped.append((f"sh:{name}", "missing on validation result"))
            return None
    comp_local = local_name(comp)
    severity = res.first(SH + "resultSeverity")
    return {
        "focus_node": focus,
        "shape_id": shape,
        "constraint_component": comp_local,
        "violation_type": COMPONENT_VIOLATION_TYPE.get(
            comp_local, ViolationType.OTHER
        ),
        "property_path": _sval(res.first(SH + "resultPath")),
        "value": _sval(res.first(SH + "value")),
        "message": _sval(res.first(SH + "resultMessage")),
        "severity": local_name(_sval(severity)) if severity else "Violation",
        "context": {},
    }


def violations_from_report_ttl(text: str) -> tuple[list[dict], list]:
    """Parse SHACL report Turtle TEXT into violation dicts (focus_node
    + VIOLATION_COLUMNS) + a skip report. For a file on disk use
    :func:`read_report_violations` / :func:`report_violations_df`."""
    statements = _Parser(_tokenize(text)).parse()
    skipped: list = []
    rows: list[dict] = []

    def _consume(res: Blank):
        row = _result_row(res, skipped)
        if row is not None:
            rows.append(row)

    # Each result node is visited exactly once: a top-level typed
    # statement gets its own fresh wrapper, and an inline blank under
    # sh:result appears in exactly one object position (label
    # references to standalone results parse as strings and are
    # filtered by the isinstance check) — so no cross-visit dedup is
    # needed, and none is attempted (an identity-based one would
    # false-positive on reused addresses of transient wrappers).
    for subj, props in statements:
        blank = Blank(props)
        types = [str(t) for t in blank.objects(RDF_TYPE)]
        if SH + "ValidationResult" in types:
            _consume(blank)
        for obj in blank.objects(SH + "result"):
            if isinstance(obj, Blank):
                _consume(obj)
    return rows, skipped


def read_report_violations(path: str) -> tuple[list[dict], list]:
    """File variant of :func:`violations_from_report_ttl` — explicit
    path semantics (a missing file raises, never silently parses the
    path string as Turtle)."""
    with open(path, encoding="utf-8") as f:
        return violations_from_report_ttl(f.read())


def report_violations_df(spark, source: str):
    """The parsed report as a violations DataFrame in the engine's
    column order (focus_node first, context as an empty map — report
    graphs don't carry the engine's context key/values). `source` is a
    path if such a file exists, else Turtle text (text always contains
    whitespace; a whitespace-free non-existent path raises)."""
    from pyspark.sql import types as T

    from xpshacl_spark.session import local_relation

    if os.path.exists(source):
        rows, _ = read_report_violations(source)
    elif "\n" in source or " " in source:
        rows, _ = violations_from_report_ttl(source)
    else:
        raise FileNotFoundError(source)
    schema = T.StructType(
        [T.StructField("focus_node", T.StringType(), True)]
        + [
            T.StructField(c, T.StringType(), True)
            for c in VIOLATION_COLUMNS
            if c != "context"
        ]
        + [
            T.StructField(
                "context", T.MapType(T.StringType(), T.StringType()), True
            )
        ]
    )
    ordered = [
        (
            r["focus_node"],
            *(r[c] for c in VIOLATION_COLUMNS if c != "context"),
            r["context"],
        )
        for r in rows
    ]
    return local_relation(spark, ordered, schema)

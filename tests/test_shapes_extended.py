"""SHACL-core components beyond the reference's recognized predicate
subset (extended_shacl_validator.py:88-107): sh:hasValue, sh:closed,
sh:node, qualified value shapes, and multi-valued (array-column)
property paths. The reference evaluates these through its pyshacl
delegate (extended_shacl_validator.py:161-181), so a reference user's
shapes graph may legitimately contain them."""

import os
import sys

import pytest

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

from pyspark.sql import functions as F

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.shapes import (
    ArrayAll,
    ArrayMaxCount,
    ArrayMinCount,
    ArrayUnique,
    Closed,
    HasValue,
    InSet,
    MinInclusive,
    MinLength,
    NodeRef,
    QualifiedMaxCount,
    QualifiedMinCount,
    Shape,
)
from xpshacl_spark.shapes_io import shapes_from_json, shapes_to_json


def _violations(spark, df, shape, keys, dims=None):
    rep = ValidationEngine(spark, dims=dims or {}).validate(df, [shape], key_cols=keys)
    return rep


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma", "en", "web", None),
        (2, None, "en", "web", None),  # absent text
        (3, "alpha alpha", "fr", "crawl", "junk"),  # dup words + open prop
        (4, "one", "xx", "web", None),
    ]
    return spark.createDataFrame(
        rows, "doc_id int, text string, lang string, source string, extra string"
    ).withColumn("words", F.split(F.trim(F.col("text")), r"\s+"))


# ---------------------------------------------------------------------------
# sh:hasValue
# ---------------------------------------------------------------------------


def test_hasvalue_null_is_violation(spark, docs):
    """hasValue asserts PRESENCE: NULL (absent value) violates, unlike
    the vacuous-pass value-testing components."""
    shape = Shape("s", (HasValue("text", "alpha beta gamma"),))
    v = _violations(spark, docs, shape, ["doc_id"]).violations
    ids = {r.doc_id for r in v.collect()}
    assert ids == {2, 3, 4}  # doc 2's NULL text violates too


def test_hasvalue_array_membership(spark, docs):
    shape = Shape("s", (HasValue("words", "alpha"),))
    v = _violations(spark, docs, shape, ["doc_id"]).violations
    ids = {r.doc_id for r in v.collect()}
    assert ids == {2, 4}  # docs 1 and 3 contain 'alpha'; NULL array violates


# ---------------------------------------------------------------------------
# sh:closed
# ---------------------------------------------------------------------------


def test_closed_names_offending_columns(spark, docs):
    shape = Shape(
        "s",
        (Closed(declared=("doc_id", "text", "lang"), ignored=("words", "source")),),
    )
    v = _violations(spark, docs, shape, ["doc_id"]).violations.collect()
    assert {r.doc_id for r in v} == {3}
    assert v[0].value == "extra"
    assert v[0].constraint_component == "ClosedConstraintComponent"


def test_closed_all_declared_conforms(spark, docs):
    shape = Shape(
        "s", (Closed(declared=tuple(docs.columns)),)
    )
    assert _violations(spark, docs, shape, ["doc_id"]).conforms


def test_closed_multiple_offenders_comma_joined(spark):
    df = spark.createDataFrame(
        [(1, "a", "b"), (2, None, "c"), (3, None, None)], "id int, p string, q string"
    )
    shape = Shape("s", (Closed(declared=("id",)),))
    s = spark
    v = {r.id: r.value for r in _violations(s, df, shape, ["id"]).violations.collect()}
    assert v == {1: "p,q", 2: "q"}  # row 3 conforms (all extras NULL)


# ---------------------------------------------------------------------------
# sh:node
# ---------------------------------------------------------------------------


def test_noderef_inlines_referenced_shape(spark, docs):
    good = Shape("good", (MinLength("text", 5), InSet("lang", ("en", "fr"))))
    shape = Shape("s", (NodeRef(good, column="text"),))
    v = _violations(spark, docs, shape, ["doc_id"]).violations.collect()
    # doc 2: NULL text passes MinLength vacuously, lang en passes;
    # doc 4: text 'one' fails MinLength AND lang xx fails InSet -> ONE row
    assert {r.doc_id for r in v} == {4}
    assert v[0].constraint_component == "NodeConstraintComponent"
    assert v[0].violation_type == "other"


def test_noderef_ignores_referenced_target(spark, docs):
    """sh:node checks the value node against the shape's constraints;
    the referenced shape's own target selects nothing here."""
    good = Shape("good", (MinLength("text", 5),), target="lang = 'zz'")
    shape = Shape("s", (NodeRef(good),))
    v = _violations(spark, docs, shape, ["doc_id"]).violations
    assert {r.doc_id for r in v.collect()} == {4}


# ---------------------------------------------------------------------------
# qualified value shapes
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def orders(spark):
    rows = [
        (1, 10, "F"), (2, 10, "F"), (3, 10, "O"),
        (4, 20, "F"), (5, 20, "F"), (6, 20, "F"),
        (7, 30, "O"), (8, 30, "O"), (9, 30, "O"),
    ]
    return spark.createDataFrame(rows, "okey int, cust int, status string")


def test_qualified_min_and_max_share_one_agg(spark, orders):
    cust = spark.createDataFrame([(10,), (20,), (30,), (40,)], "cust int")
    shape = Shape(
        "s",
        (
            QualifiedMinCount(("cust",), 2, where="status = 'F'", universe="cust"),
            QualifiedMaxCount(("cust",), 2, where="status = 'O'"),
        ),
    )
    rep = _violations(spark, orders, shape, ["okey", "cust"], dims={"cust": cust})
    # one fused group plan for both constraints (plus nothing else)
    assert rep.metrics["n_plan_parts"] == 1
    got = {
        (r.cust, r.constraint_component): int(r.context["actualCount"])
        for r in rep.violations.collect()
    }
    assert got == {
        (30, "QualifiedMinCountConstraintComponent"): 0,
        (40, "QualifiedMinCountConstraintComponent"): 0,  # universe catches no-order cust
        (30, "QualifiedMaxCountConstraintComponent"): 3,
    }


def test_qualified_classifies_as_cardinality(spark):
    assert QualifiedMinCount(("k",), 1).violation_type() == "cardinality"
    assert QualifiedMaxCount(("k",), 1).violation_type() == "cardinality"


# ---------------------------------------------------------------------------
# array-column (multi-valued) paths
# ---------------------------------------------------------------------------


def test_array_cardinality_null_is_zero(spark, docs):
    shape = Shape("s", (ArrayMinCount("words", 2),))
    v = _violations(spark, docs, shape, ["doc_id"]).violations.collect()
    got = {r.doc_id: r.context["actualCount"] for r in v}
    assert got == {2: "0", 4: "1"}  # NULL array counts 0 values


def test_array_maxcount(spark, docs):
    shape = Shape("s", (ArrayMaxCount("words", 2),))
    v = _violations(spark, docs, shape, ["doc_id"]).violations.collect()
    assert {r.doc_id for r in v} == {1}


def test_array_unique_and_forall(spark, docs):
    shape = Shape(
        "s",
        (ArrayUnique("words"), ArrayAll("words", "length(x) <= 5")),
    )
    v = _violations(spark, docs, shape, ["doc_id"]).violations.collect()
    got = {(r.doc_id, r.constraint_component) for r in v}
    # doc 3 repeats 'alpha'; docs with any word > 5 chars are none here
    assert got == {(3, "UniquenessConstraintComponent")}
    # NULL array (doc 2) passes both vacuously


def test_array_forall_null_element_fails(spark):
    df = spark.createDataFrame([(1, ["a", None])], "id int, xs array<string>")
    shape = Shape("s", (ArrayAll("xs", "length(x) <= 5"),))
    v = _violations(spark, df, shape, ["id"]).violations
    assert v.count() == 1  # NULL predicate result counts as failing


# ---------------------------------------------------------------------------
# JSON round-trip of every new constraint kind (incl. nested Shape)
# ---------------------------------------------------------------------------


def test_new_kinds_json_roundtrip():
    good = Shape("good", (MinInclusive("n", 0), InSet("lang", ("en",))))
    shapes = [
        Shape(
            "all_new",
            (
                HasValue("source", "web"),
                Closed(declared=("a", "b"), ignored=("c",)),
                NodeRef(good, column="n"),
                QualifiedMinCount(("k",), 2, where="x = 1"),
                QualifiedMaxCount(("k",), 4, where="x = 2"),
                ArrayMinCount("xs", 1),
                ArrayMaxCount("xs", 9),
                ArrayUnique("xs"),
                ArrayAll("xs", "x > 0"),
            ),
        )
    ]
    assert shapes_from_json(shapes_to_json(shapes)) == shapes


# ---------------------------------------------------------------------------
# explanation pipeline handles the new components end-to-end
# ---------------------------------------------------------------------------


def test_new_components_explain_end_to_end(spark, docs):
    import json

    from xpshacl_spark.explain.pipeline import Explainer

    shapes = [
        Shape("src_shape", (HasValue("source", "web"),)),  # doc 3 is 'crawl'
        Shape(
            "closed_shape",
            (Closed(declared=("doc_id", "text", "lang", "source", "words")),),
        ),
        Shape(
            "qual_shape",
            (QualifiedMinCount(("lang",), 2, where="source = 'web'"),),
        ),
    ]
    rep = ValidationEngine(spark).validate(docs, shapes, key_cols=["doc_id"])
    ex = Explainer(spark)
    expl = ex.explain(rep, shapes, df=docs, languages=["en"]).collect()
    comps = {r["constraint_component"] for r in expl}
    assert "HasValueConstraintComponent" in comps
    assert "ClosedConstraintComponent" in comps
    assert "QualifiedMinCountConstraintComponent" in comps
    for r in expl:
        assert r["natural_language_explanation"]
        tree = json.loads(r["justification_tree"])
        assert tree["justification"]["children"], r["constraint_component"]
    # the qualified tree reuses the cardinality grammar (substring match
    # on MinCountConstraintComponent, as in the reference classifier)
    qual = [
        r for r in expl
        if r["constraint_component"] == "QualifiedMinCountConstraintComponent"
    ][0]
    assert "values for property" in json.dumps(json.loads(qual["justification_tree"]))


def test_value_constraints_lift_over_array_columns(spark):
    """SHACL: a value constraint applies to EVERY value node — on a
    multi-valued (array) path the same MinLength/Pattern/InSet classes
    check each element (forall), no separate array class needed."""
    df = spark.createDataFrame(
        [
            (1, ["abc", "def"]),
            (2, ["abc", "x"]),      # one too-short element
            (3, None),               # no value nodes: vacuous pass
            (4, ["ok", None]),       # NULL element = absent node: passes len>=2
            (5, []),                 # zero value nodes: vacuous pass
        ],
        "id int, xs array<string>",
    )
    shape = Shape("s", (MinLength("xs", 2),))
    v = _violations(spark, df, shape, ["id"]).violations
    assert {r.id for r in v.collect()} == {2}

    shape2 = Shape(
        "s2",
        (
            # every element lowercase alpha; every element in the set
            InSet("xs", ("abc", "def", "ok")),
        ),
    )
    v2 = _violations(spark, df, shape2, ["id"]).violations
    assert {r.id for r in v2.collect()} == {2}  # 'x' not in set


def test_path_value_sequence_path(spark):
    """PathValue — sh:path (fk attr): inner constraint evaluated on the
    dim attribute; NULL FKs and dangling FKs pass vacuously."""
    import pytest

    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes import MinInclusive, PathValue, Shape

    fact = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 99)],  # 99: dangling FK
        "row_id long, cust_id long",
    )
    dim = spark.createDataFrame(
        [(10, -5.0), (20, 3.0)], "id long, bal double"
    )
    shape = Shape(
        "cust_bal_shape",
        (PathValue(("cust_id",), "cust", ("id",), MinInclusive("bal", 0.0)),),
    )
    eng = ValidationEngine(spark, dims={"cust": dim})
    rep = eng.validate(fact, [shape], key_cols=["row_id"])
    rows = rep.violations.collect()
    assert [r.row_id for r in rows] == [1]  # only the negative-balance cust
    assert rows[0].constraint_component == "MinInclusiveConstraintComponent"
    assert rows[0].property_path == "cust_id/bal"
    assert rows[0].value == "-5.0"

    # attr name colliding with a fact key column must raise, not shadow
    bad = Shape(
        "clash",
        (PathValue(("cust_id",), "cust2", ("id",), MinInclusive("row_id", 0.0)),),
    )
    eng2 = ValidationEngine(
        spark, dims={"cust2": dim.withColumnRenamed("bal", "row_id")}
    )
    with pytest.raises(ValueError, match="collides"):
        eng2.validate(fact, [bad], key_cols=["row_id"])


def test_path_value_every_value_node(spark):
    """A dim key mapped to several attribute values: EVERY value node
    on the path must conform — one violation per nonconforming value,
    deterministically (no arbitrary-survivor dedup)."""
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes import MinInclusive, PathValue, Shape

    fact = spark.createDataFrame([(1, 10)], "row_id long, cust_id long")
    dim = spark.createDataFrame(
        [(10, -5.0), (10, -7.0), (10, 1.0), (10, 1.0)], "id long, bal double"
    )
    shape = Shape(
        "multi_value_path",
        (PathValue(("cust_id",), "cust", ("id",), MinInclusive("bal", 0.0)),),
    )
    rep = ValidationEngine(spark, dims={"cust": dim}).validate(
        fact, [shape], key_cols=["row_id"]
    )
    vals = sorted(r.value for r in rep.violations.collect())
    assert vals == ["-5.0", "-7.0"]  # both bad value nodes, exactly once


def test_path_value_fk_is_also_key_col(spark):
    """A PathValue FK that is itself one of key_cols (dim-keyed fact)
    must work — the projection dedupes the column instead of hitting an
    ambiguous-reference error at join time."""
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes import MinInclusive, PathValue, Shape

    fact = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c")], "cust_id long, payload string"
    )
    dim = spark.createDataFrame(
        [(10, -5.0), (20, 3.0)], "id long, bal double"
    )
    shape = Shape(
        "keyed_path",
        (PathValue(("cust_id",), "cust", ("id",), MinInclusive("bal", 0.0)),),
    )
    rep = ValidationEngine(spark, dims={"cust": dim}).validate(
        fact, [shape], key_cols=["cust_id"]
    )
    rows = rep.violations.collect()
    assert [r.cust_id for r in rows] == [10]
    assert rows[0].value == "-5.0"


def test_max_length_counts_characters_not_bytes(spark):
    """MaxLength screens on the byte length first, but the bound is on
    characters: four 2-byte or 4-byte characters conform at n = 4 and
    five violate, on a string column and element-wise on an array
    column; NULL values and NULL elements pass."""
    from xpshacl_spark.shapes import MaxLength

    e4, e5, s4, s5 = "é" * 4, "é" * 5, "😀" * 4, "😀" * 5
    df = spark.createDataFrame(
        [
            (1, e4, [e4, s4]),
            (2, e5, [s4, None]),
            (3, s4, [s5]),
            (4, s5, None),
            (5, None, [e4, e5]),
            (6, "abcd", []),
        ],
        "k int, s string, a array<string>",
    )
    shape = Shape("len", (MaxLength("s", 4), MaxLength("a", 4)))
    rows = _violations(spark, df, shape, ["k"]).violations.collect()
    got = sorted((r["k"], r["property_path"]) for r in rows)
    assert got == [(2, "s"), (3, "a"), (4, "s"), (5, "a")]

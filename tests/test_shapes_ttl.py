"""Turtle shapes importer: the reference's shapes-graph on-ramp.

The embedded fixture mirrors /root/reference/data/example_shapes.ttl
(the reference README's worked example, README.md:174-216: resource1's
hasAge=-20 violates sh:minInclusive 0); the data fixture is the flat
tabular projection of data/example_data.ttl. When the reference files
are present on disk, the same assertions run against them directly;
otherwise the file-level tests read tests/fixtures/, built from the
same worked example.
"""

import os

import pytest

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.shapes import (
    Datatype,
    MaxInclusive,
    MinInclusive,
    NotNull,
    Pattern,
)
from xpshacl_spark.shapes_io import load_shapes
from xpshacl_spark.shapes_ttl import import_ttl, shapes_from_ttl

REF_TTL = "/root/reference/data/example_shapes.ttl"
FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")


def example_file(name):
    """The reference's data/<name> when it is on disk, else the in-repo
    fixture built from the same README worked example."""
    ref = os.path.join(os.path.dirname(REF_TTL), name)
    return ref if os.path.exists(ref) else os.path.join(FIXTURE_DIR, name)


EXAMPLE_SHAPES_TTL = """\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:PersonShape a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [
        sh:path ex:hasName ;
        sh:minCount 1 ;
    ] ;
    sh:property [
        sh:path ex:hasAge ;
        sh:datatype xsd:integer ;
        sh:minInclusive 0 ;
        sh:maxInclusive 150 ;
    ] .

ex:OrganizationShape a sh:NodeShape ;
    sh:targetClass ex:Organization ;
    sh:property [
        sh:path ex:hasName ;
        sh:minCount 1 ;
    ] ;
    sh:property [
        sh:path ex:foundedOn ;
        sh:minCount 1 ;
    ] .
"""


def _example_rows(spark):
    """Flat projection of data/example_data.ttl: one row per resource."""
    return spark.createDataFrame(
        [
            ("resource1", "Person", None, -20, None),
            ("resource2", "Person", None, None, None),
            ("resource3", "Organization", "Example Org", None, None),
        ],
        "id string, rdf_type string, hasName string, hasAge int, foundedOn string",
    )


def test_example_shapes_semantics():
    shapes = shapes_from_ttl(EXAMPLE_SHAPES_TTL)
    by_id = {s.shape_id: s for s in shapes}
    person = by_id["http://example.org/PersonShape"]
    org = by_id["http://example.org/OrganizationShape"]
    assert person.target == "rdf_type = 'Person'"
    assert set(person.constraints) == {
        NotNull("hasName"),
        Datatype("hasAge", "int", required=False),
        MinInclusive("hasAge", 0),
        MaxInclusive("hasAge", 150),
    }
    assert set(org.constraints) == {NotNull("hasName"), NotNull("foundedOn")}


def test_example_data_violation_counts(spark):
    """The README worked example (README.md:174-216): resource1's
    hasAge=-20 fires MinInclusive; plus the minCount misses — exact
    per-resource counts pinned."""
    shapes = shapes_from_ttl(EXAMPLE_SHAPES_TTL)
    rep = ValidationEngine(spark).validate(
        _example_rows(spark), shapes, key_cols=["id"]
    )
    rows = rep.violations.collect()
    by_focus = {}
    for r in rows:
        by_focus.setdefault(r["id"], []).append(r["constraint_component"])
    assert sorted(by_focus["resource1"]) == [
        "MinCountConstraintComponent",  # hasName missing
        "MinInclusiveConstraintComponent",  # hasAge = -20
    ]
    assert by_focus["resource2"] == ["MinCountConstraintComponent"]
    assert by_focus["resource3"] == ["MinCountConstraintComponent"]
    mininc = [r for r in rows if r["constraint_component"] ==
              "MinInclusiveConstraintComponent"][0]
    assert mininc["property_path"] == "hasAge" and mininc["value"] == "-20"
    # every violating resource is reported exactly as often as it fails
    assert len(rows) == 4


def test_target_and_column_overrides():
    shapes = shapes_from_ttl(
        EXAMPLE_SHAPES_TTL,
        target_map={"http://example.org/Person": "kind = 'person'"},
        column_map={"http://example.org/hasAge": "age_years"},
    )
    person = [s for s in shapes if s.shape_id.endswith("PersonShape")][0]
    assert person.target == "kind = 'person'"
    assert MinInclusive("age_years", 0) in person.constraints


def test_load_shapes_dispatches_on_ttl(tmp_path):
    p = str(tmp_path / "shapes.ttl")
    with open(p, "w") as f:
        f.write(EXAMPLE_SHAPES_TTL)
    shapes = load_shapes(p)
    assert {s.name for s in shapes} == {"PersonShape", "OrganizationShape"}


@pytest.mark.skipif(not os.path.exists(REF_TTL), reason="reference absent")
def test_reference_example_shapes_file():
    with open(REF_TTL) as f:
        imp = import_ttl(f.read())
    assert not imp.skipped
    assert {s.shape_id for s in imp.shapes} == {
        "http://example.org/PersonShape",
        "http://example.org/OrganizationShape",
    }
    person = [s for s in imp.shapes if s.shape_id.endswith("PersonShape")][0]
    assert MinInclusive("hasAge", 0) in person.constraints
    assert MaxInclusive("hasAge", 150) in person.constraints


@pytest.mark.skipif(
    not os.path.exists("/root/reference/data/shark_shapes.ttl"),
    reason="reference absent",
)
def test_shark_shapes_parse_with_skip_report():
    """The messier real-world file: triple-quoted SPARQL bodies,
    sh:declare blocks, dataType spelling, uniqueLang — parses, imports
    the flat-column subset, and reports what it skipped."""
    with open("/root/reference/data/shark_shapes.ttl") as f:
        imp = import_ttl(f.read())
    by_id = {s.shape_id: s for s in imp.shapes}
    cls = by_id["http://dbpedia.org/gdl-shape#ClassShape"]
    assert NotNull("label") in cls.constraints
    assert NotNull("comment") in cls.constraints
    reasons = {r for _, _, r in imp.skipped}
    assert "SPARQL constraint not imported" in reasons
    assert "uniqueLang vacuous on flat column" in reasons


def test_ttl_parser_literals_and_flags():
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:severity sh:Warning ;
  sh:message "check failed" ;
  sh:property [
    sh:path ex:code ;
    sh:pattern "^[a-z]+$" ;
    sh:flags "i" ;
    sh:minLength 2 ;
    sh:maxLength 10 ;
    sh:in ("alpha" "beta") ;
  ] .
"""
    (s,) = shapes_from_ttl(ttl)
    assert s.severity == "Warning" and s.message == "check failed"
    kinds = {type(c).__name__ for c in s.constraints}
    assert kinds == {"Pattern", "MinLength", "MaxLength", "InSet"}
    pat = [c for c in s.constraints if isinstance(c, Pattern)][0]
    assert pat.pattern == "^[a-z]+$" and pat.flags == "i"


def test_ttl_hasvalue():
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:property [
    sh:path ex:status ;
    sh:hasValue "active" ;
  ] .
"""
    (s,) = shapes_from_ttl(ttl)
    from xpshacl_spark.shapes import HasValue

    assert s.constraints == (HasValue("status", "active"),)


def test_ttl_targetnode_skips_without_mapping():
    """A targetNode shape with no row mapping must be SKIPPED, not
    silently validated against every row."""
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:targetNode ex:alice ;
  sh:property [ sh:path ex:age ; sh:minCount 1 ] .
"""
    imp = import_ttl(ttl)
    assert imp.shapes == []
    assert any("target kind not mapped" in r for _, _, r in imp.skipped)
    # with a mapping, the shape imports scoped to the mapped predicate
    imp2 = import_ttl(ttl, target_map={"alice": "name = 'alice'"})
    (s,) = imp2.shapes
    assert s.target == "name = 'alice'"


def test_ttl_iri_values_project_to_local_names():
    """sh:hasValue / sh:in with IRI objects must compare against the
    tabular (local-name) form, matching the path/targetClass convention."""
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:property [ sh:path ex:gender ; sh:hasValue ex:Male ] ;
  sh:property [ sh:path ex:status ; sh:in (ex:Active ex:Closed) ] .
"""
    (s,) = shapes_from_ttl(ttl)
    from xpshacl_spark.shapes import HasValue, InSet

    hv = [c for c in s.constraints if isinstance(c, HasValue)][0]
    assert hv.value == "Male"
    ins = [c for c in s.constraints if isinstance(c, InSet)][0]
    assert ins.values == ("Active", "Closed")


def test_ttl_escaped_backslash_in_pattern():
    r"""Turtle 'a\\nb' is backslash+n (a regex newline CLASS, not a
    literal newline) — single-pass unescaping must preserve it."""
    ttl = r"""
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:property [ sh:path ex:code ; sh:pattern "a\\nb" ; sh:minLength 1 ] .
"""
    (s,) = shapes_from_ttl(ttl)
    pat = [c for c in s.constraints if isinstance(c, Pattern)][0]
    assert pat.pattern == "a\\nb"  # backslash + n survives


def test_rdf_data_table_from_reference_file(spark):
    """File-to-file parity with the reference CLI: its own
    example_data.ttl + example_shapes.ttl through our engine reproduce
    the README worked example (README.md:174-216) — 4 violations."""
    from xpshacl_spark.rdf_data import align_to_shapes, read_rdf_table

    df = read_rdf_table(spark, example_file("example_data.ttl"))
    assert dict(df.dtypes) == {
        "id": "string", "rdf_type": "string", "hasAge": "bigint",
        "hasName": "string",
    }
    rows = {r.id: r.asDict() for r in df.collect()}
    assert rows["resource1"]["hasAge"] == -20
    assert rows["resource3"]["hasName"] == "Example Org"

    shapes = load_shapes(example_file("example_shapes.ttl"))
    # the graph has no foundedOn triple at all; alignment adds the
    # absent-everywhere column so SHACL absence semantics apply
    df = align_to_shapes(df, shapes)
    rep = ValidationEngine(spark).validate(df, shapes, key_cols=["id"])
    got = sorted(
        (r["id"], r["constraint_component"]) for r in rep.violations.collect()
    )
    assert got == [
        ("resource1", "MinCountConstraintComponent"),
        ("resource1", "MinInclusiveConstraintComponent"),
        ("resource2", "MinCountConstraintComponent"),
        ("resource3", "MinCountConstraintComponent"),
    ]


def test_rdf_data_multivalued_predicate_becomes_array(spark):
    from xpshacl_spark.rdf_data import rdf_table

    ttl = """
@prefix ex: <http://example.org/> .
ex:d1 a ex:Doc ; ex:tag "a" ; ex:tag "b" ; ex:n 3 .
ex:d2 a ex:Doc ; ex:tag "c" ; ex:n 4 .
"""
    df = rdf_table(spark, ttl)
    assert dict(df.dtypes)["tag"] == "array<string>"
    rows = {r.id: r.asDict() for r in df.collect()}
    assert rows["d1"]["tag"] == ["a", "b"] and rows["d2"]["tag"] == ["c"]
    assert rows["d1"]["n"] == 3


def test_ttl_logical_constraints():
    """Standard SHACL logical forms: sh:or/sh:xone lists of blank
    shapes (each over its own path or the enclosing one) and sh:not."""
    from xpshacl_spark.shapes import And, MaxLength, MinLength, Not, Or, Xone

    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:property [
    sh:path ex:code ;
    sh:or ( [ sh:minLength 2 ] [ sh:maxLength 0 ] ) ;
    sh:not [ sh:minLength 9 ; sh:maxLength 10 ] ;
  ] ;
  sh:property [
    sh:path ex:kind ;
    sh:xone ( [ sh:minLength 3 ] [ sh:path ex:alt ; sh:minLength 1 ] ) ;
  ] .
"""
    (s,) = shapes_from_ttl(ttl)
    by_type = {type(c): c for c in s.constraints}
    assert by_type[Or].children == (MinLength("code", 2), MaxLength("code", 0))
    assert by_type[Not].inner == And(
        (MinLength("code", 9), MaxLength("code", 10)), column="code"
    )
    xone = by_type[Xone]
    assert xone.children == (MinLength("kind", 3), MinLength("alt", 1))


def test_ttl_deactivated_shape_skipped():
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:Off a sh:NodeShape ;
  sh:deactivated true ;
  sh:property [ sh:path ex:x ; sh:minCount 1 ] .
ex:On a sh:NodeShape ;
  sh:property [ sh:path ex:y ; sh:minCount 1 ] .
"""
    imp = import_ttl(ttl)
    assert [s.shape_id for s in imp.shapes] == ["http://example.org/On"]
    assert any("deactivated" in r for _, _, r in imp.skipped)


def test_load_shapes_rejects_ttl_kwargs_for_json(tmp_path):
    from xpshacl_spark.shapes import MinInclusive, Shape
    from xpshacl_spark.shapes_io import save_shapes

    p = str(tmp_path / "s.json")
    save_shapes(p, [Shape("s", (MinInclusive("x", 0),))])
    with pytest.raises(TypeError, match="Turtle"):
        load_shapes(p, target_map={"a": "b"})


def test_align_to_shapes_recurses_into_nested_shapes(spark):
    from xpshacl_spark.rdf_data import align_to_shapes
    from xpshacl_spark.shapes import (
        ForeignKey,
        MinLength,
        NodeRef,
        Not,
        Shape,
    )

    df = spark.createDataFrame([(1,)], "id int")
    shapes = [
        Shape(
            "s",
            (
                Not(MinLength("a", 1)),
                NodeRef(Shape("inner", (MinLength("b", 1),))),
                ForeignKey(("c",), "dim", ("k",)),
            ),
        )
    ]
    out = align_to_shapes(df, shapes)
    assert set(out.columns) == {"id", "a", "b", "c"}


def test_rdf_data_multitype_subject_raises_or_explodes(spark):
    from xpshacl_spark.rdf_data import rdf_table

    ttl = """
@prefix ex: <http://example.org/> .
ex:r1 a ex:Person, ex:Employee ; ex:hasAge 5 .
ex:r2 a ex:Person .
"""
    with pytest.raises(ValueError, match="multiple rdf:type"):
        rdf_table(spark, ttl)
    df = rdf_table(spark, ttl, explode_types=True)
    rows = {(r.id, r.rdf_type) for r in df.collect()}
    assert rows == {("r1", "Person"), ("r1", "Employee"), ("r2", "Person")}
    assert dict(df.dtypes)["rdf_type"] == "string"


def test_rdf_data_local_name_collision_keeps_full_iris(spark):
    from xpshacl_spark.rdf_data import rdf_table

    ttl = """
@prefix a: <http://a.org/> .
@prefix b: <http://b.org/> .
a:item1 a:p 1 .
b:item1 a:p 2 .
"""
    df = rdf_table(spark, ttl)
    ids = sorted(r.id for r in df.collect())
    assert ids == ["http://a.org/item1", "http://b.org/item1"]
    assert dict(df.dtypes)["p"] == "bigint"  # no phantom merge into array


def test_ttl_not_xone_vacuous_on_absent_property(spark):
    """SHACL parity: zero value nodes satisfy sh:not and sh:xone —
    rows missing the property must NOT be flagged by imported shapes."""
    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:property [
    sh:path ex:code ;
    sh:not [ sh:minLength 9 ] ;
    sh:xone ( [ sh:minLength 3 ] [ sh:maxLength 1 ] ) ;
  ] .
"""
    shapes = shapes_from_ttl(ttl)
    df = spark.createDataFrame(
        [(1, None), (2, "abcdefghij"), (3, "ab")],
        "id int, code string",
    )
    rep = ValidationEngine(spark).validate(df, shapes, key_cols=["id"])
    got = {(r.id, r.constraint_component) for r in rep.violations.collect()}
    # row 1 (absent property) is clean; row 2 breaks sh:not; row 3
    # matches NEITHER xone branch (len 2): exactly-one fails
    assert got == {
        (2, "NotConstraintComponent"),
        (3, "XoneConstraintComponent"),
    }


def test_ttl_deactivated_property_shape_skipped():
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:property [ sh:deactivated true ; sh:path ex:x ; sh:minCount 1 ] ;
  sh:property [ sh:path ex:y ; sh:minCount 1 ] .
"""
    imp = import_ttl(ttl)
    (s,) = imp.shapes
    from xpshacl_spark.shapes import NotNull

    assert s.constraints == (NotNull("y"),)
    assert any("property shape deactivated" in r for _, _, r in imp.skipped)


def test_sequence_path_imports_as_path_value(spark):
    """sh:path (ex:fk ex:attr) + path_dims -> PathValue; without the
    mapping it is skip-reported, never silently mis-imported."""
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes import PathValue
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:OrderCustomerShape a sh:NodeShape ;
        sh:property [
            sh:path (ex:cust_id ex:bal) ;
            sh:minInclusive 0.0 ;
        ] .
    """
    imp = import_ttl(ttl, path_dims={"cust_id": ("cust", "id")})
    assert len(imp.shapes) == 1
    (c,) = imp.shapes[0].constraints
    assert isinstance(c, PathValue)
    assert c.ref_table == "cust" and c.columns == ("cust_id",)
    assert c.inner.column == "bal"

    # end to end through the engine
    fact = spark.createDataFrame([(1, 10), (2, 20)], "row_id long, cust_id long")
    dim = spark.createDataFrame([(10, -1.0), (20, 5.0)], "id long, bal double")
    rep = ValidationEngine(spark, dims={"cust": dim}).validate(
        fact, imp.shapes, key_cols=["row_id"]
    )
    assert [r.row_id for r in rep.violations.collect()] == [1]

    # unmapped: skip-reported
    imp2 = import_ttl(ttl)
    assert not imp2.shapes
    assert any("path_dims" in reason for _, _, reason in imp2.skipped)


def test_sequence_path_skips_unwrappable_constraints():
    """minCount (would invert missing-value-node semantics) and pair
    predicates (reference focus-row columns absent from the join) on a
    sequence path are skip-reported, never silently mis-imported."""
    from xpshacl_spark.shapes import PathValue
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:S a sh:NodeShape ;
        sh:property [
            sh:path (ex:cust_id ex:bal) ;
            sh:minCount 1 ;
            sh:equals ex:other_col ;
            sh:minInclusive 0.0 ;
        ] .
    """
    imp = import_ttl(ttl, path_dims={"cust_id": ("cust", "id")})
    assert len(imp.shapes) == 1
    (c,) = imp.shapes[0].constraints  # only the value test survives
    assert isinstance(c, PathValue)
    assert c.inner.component() == "MinInclusiveConstraintComponent"
    reasons = [r for _, p, r in imp.skipped if "sequence path cannot wrap" in r]
    assert any("NotNull" in r for r in reasons)
    assert any("Equals" in r for r in reasons)


REPORT_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
[] a sh:ValidationReport ;
    sh:conforms false ;
    sh:result [
        a sh:ValidationResult ;
        sh:focusNode ex:node1 ;
        sh:resultPath ex:hasAge ;
        sh:value "-5"^^xsd:integer ;
        sh:resultMessage "Value is not >= 0" ;
        sh:resultSeverity sh:Violation ;
        sh:sourceConstraintComponent sh:MinInclusiveConstraintComponent ;
        sh:sourceShape ex:AgeShape ;
    ] ,
    [
        a sh:ValidationResult ;
        sh:focusNode ex:node2 ;
        sh:resultSeverity sh:Warning ;
        sh:sourceConstraintComponent sh:MinCountConstraintComponent ;
        sh:sourceShape ex:CardShape ;
    ] ,
    [
        a sh:ValidationResult ;
        sh:focusNode ex:node3 ;
        sh:sourceConstraintComponent sh:PatternConstraintComponent ;
    ] .
"""


def test_report_ttl_extraction():
    """sh:ValidationResult extraction mirrors the reference
    (extended_shacl_validator.py:183-282): required fields enforced
    with log-and-drop, component -> violation_type classification,
    severity local names, blank-node report subject supported."""
    from xpshacl_spark.report_ttl import violations_from_report_ttl

    rows, skipped = violations_from_report_ttl(REPORT_TTL)
    assert len(rows) == 2  # node3 lacks sourceShape -> dropped
    by = {r["focus_node"]: r for r in rows}
    r1 = by["http://example.org/node1"]
    assert r1["constraint_component"] == "MinInclusiveConstraintComponent"
    assert r1["violation_type"] == "value_range"
    assert r1["value"] == "-5"
    assert r1["property_path"] == "http://example.org/hasAge"
    assert r1["message"] == "Value is not >= 0"
    assert r1["severity"] == "Violation"
    r2 = by["http://example.org/node2"]
    assert r2["violation_type"] == "cardinality"
    assert r2["severity"] == "Warning"
    assert any("sourceShape" in p for p, _ in skipped)


def test_report_ttl_to_dataframe_and_explanations(spark):
    """Report -> violations DataFrame -> the signature/justification
    machinery runs over a THIRD-PARTY report end to end."""
    from xpshacl_spark.explain.signature import signature_id_col
    from xpshacl_spark.explain.tree import build_justification_tree
    from xpshacl_spark.report_ttl import report_violations_df

    df = report_violations_df(spark, REPORT_TTL)
    assert df.count() == 2
    sigs = df.select(signature_id_col().alias("sig")).distinct().collect()
    assert len(sigs) == 2
    row = df.where(df.focus_node.endswith("node1")).first().asDict()
    tree = build_justification_tree(row)
    assert tree["justification"]["type"] == "conclusion"


def test_rdfs_inference_expands_target_class(spark):
    """inference='rdfs': sh:targetClass also targets subclass instances
    (the reference's --inference pyshacl option, scoped to the
    entailment rule that affects tabular target selection)."""
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    @prefix ex: <http://example.org/> .
    ex:Dog rdfs:subClassOf ex:Animal .
    ex:Puppy rdfs:subClassOf ex:Dog .
    ex:AnimalShape a sh:NodeShape ;
        sh:targetClass ex:Animal ;
        sh:property [ sh:path ex:legs ; sh:minInclusive 0 ] .
    """
    plain = import_ttl(ttl).shapes[0]
    assert plain.target == "rdf_type = 'Animal'"
    inferred = import_ttl(ttl, inference="rdfs").shapes[0]
    assert inferred.target == "rdf_type IN ('Animal', 'Dog', 'Puppy')"

    df = spark.createDataFrame(
        [(1, "Animal", -1), (2, "Dog", -2), (3, "Puppy", 4), (4, "Rock", -9)],
        "id long, rdf_type string, legs int",
    )
    eng = ValidationEngine(spark)
    got_plain = {r.id for r in eng.validate(df, [plain], ["id"]).violations.collect()}
    got_inf = {r.id for r in eng.validate(df, [inferred], ["id"]).violations.collect()}
    assert got_plain == {1}
    assert got_inf == {1, 2}  # Dog included, Rock still excluded

    with pytest.raises(ValueError, match="unsupported inference"):
        import_ttl(ttl, inference="owlrl2")


def test_owlrl_inference_subproperty_targeting(spark):
    """inference='owlrl': sh:targetSubjectsOf P also targets the mapped
    row sets of P's rdfs:subPropertyOf descendants (rdfs5/7 / OWL-RL
    prp-spo1 — a Q-triple with Q <= P entails a P-triple), OR-unioned
    with P's own filter. rdfs-only inference keeps the old behavior."""
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    @prefix ex: <http://example.org/> .
    ex:callsTool rdfs:subPropertyOf ex:usesResource .
    ex:ResourceShape a sh:NodeShape ;
        sh:targetSubjectsOf ex:usesResource ;
        sh:property [ sh:path ex:latency ; sh:maxInclusive 100 ] .
    """
    tmap = {
        "usesResource": "resource IS NOT NULL",
        "callsTool": "tool IS NOT NULL",
    }
    cmap = {"latency": "latency"}
    plain = import_ttl(ttl, target_map=tmap, column_map=cmap).shapes[0]
    assert plain.target == "resource IS NOT NULL"
    inf = import_ttl(
        ttl, target_map=tmap, column_map=cmap, inference="owlrl"
    ).shapes[0]
    assert inf.target == "(resource IS NOT NULL) OR (tool IS NOT NULL)"

    df = spark.createDataFrame(
        [(1, "r", None, 500), (2, None, "t", 500), (3, None, None, 500)],
        "id long, resource string, tool string, latency int",
    )
    eng = ValidationEngine(spark)
    got_plain = {r.id for r in eng.validate(df, [plain], ["id"]).violations.collect()}
    got_inf = {r.id for r in eng.validate(df, [inf], ["id"]).violations.collect()}
    assert got_plain == {1}
    assert got_inf == {1, 2}  # subproperty rows targeted; untargeted row 3 out

    # the PARENT property must itself be mapped: OR-ing only a mapped
    # subproperty would silently validate a subset of the entailed
    # target — shape skipped instead, same as rdfs/none mode
    imp_sub_only = import_ttl(
        ttl,
        target_map={"callsTool": "tool IS NOT NULL"},
        column_map=cmap,
        inference="owlrl",
    )
    assert imp_sub_only.shapes == []
    assert any("target kind not mapped" in r for _, _, r in imp_sub_only.skipped)


def test_owlrl_inference_domain_derived_typing(spark):
    """inference='owlrl': rdfs:domain-derived typing (rdfs2/prp-dom) —
    a non-NULL column mapped from a predicate whose domain is the
    target class (or one of its subclasses) types the row, so
    sh:targetClass also reaches rows whose rdf_type column is NULL."""
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    @prefix ex: <http://example.org/> .
    ex:Dog rdfs:subClassOf ex:Animal .
    ex:barks rdfs:domain ex:Dog .
    ex:breathes rdfs:domain ex:Animal .
    ex:AnimalShape a sh:NodeShape ;
        sh:targetClass ex:Animal ;
        sh:property [ sh:path ex:legs ; sh:minInclusive 0 ] .
    """
    cmap = {"barks": "barks", "breathes": "breathes"}
    inf = import_ttl(ttl, column_map=cmap, inference="owlrl").shapes[0]
    assert inf.target == (
        "((rdf_type IN ('Animal', 'Dog')) OR (barks IS NOT NULL)) "
        "OR (breathes IS NOT NULL)"
    )
    # a domain predicate that is NOT a materialized column must be
    # skip-reported, never OR-ed in (it would crash validate())
    imp_nomap = import_ttl(ttl, inference="owlrl")
    assert imp_nomap.shapes[0].target == "rdf_type IN ('Animal', 'Dog')"
    assert sum(
        "not a materialized column" in r for _, _, r in imp_nomap.skipped
    ) == 2
    df = spark.createDataFrame(
        [
            (1, "Animal", None, None, -1),  # typed directly
            (2, None, "yes", None, -2),     # typed via barks (Dog <= Animal)
            (3, None, None, "yes", -3),     # typed via breathes
            (4, None, None, None, -4),      # untyped: not targeted
            (5, "Rock", None, None, -5),    # wrong type: not targeted
        ],
        "id long, rdf_type string, barks string, breathes string, legs int",
    )
    got = {
        r.id
        for r in ValidationEngine(spark)
        .validate(df, [inf], ["id"])
        .violations.collect()
    }
    assert got == {1, 2, 3}


def test_report_ttl_many_labeled_results_no_loss():
    """Regression: standalone labeled-bnode results interleaved with
    other statements must ALL be extracted (an identity-keyed dedup on
    transient wrappers dropped reused-address results)."""
    from xpshacl_spark.report_ttl import violations_from_report_ttl

    n = 300
    parts = ["@prefix sh: <http://www.w3.org/ns/shacl#> .",
             "@prefix ex: <http://example.org/> ."]
    for i in range(n):
        parts.append(
            f"_:r{i} a sh:ValidationResult ; sh:focusNode ex:n{i} ; "
            f"sh:sourceConstraintComponent sh:PatternConstraintComponent ; "
            f"sh:sourceShape ex:S ."
        )
        parts.append(f"ex:noise{i} ex:p ex:o{i} .")
    rows, skipped = violations_from_report_ttl("\n".join(parts))
    assert len(rows) == n
    assert len({r["focus_node"] for r in rows}) == n


def test_report_ttl_blank_source_shape_and_missing_file(tmp_path):
    """Inline-blank sh:sourceShape (pyshacl property-shape style) maps
    to a readable stable id, and a missing report path raises."""
    import pytest

    from xpshacl_spark.report_ttl import (
        report_violations_df,
        violations_from_report_ttl,
    )

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    [] a sh:ValidationReport ; sh:result [
        a sh:ValidationResult ;
        sh:focusNode ex:n1 ;
        sh:sourceConstraintComponent sh:MinCountConstraintComponent ;
        sh:sourceShape [ sh:path ex:age ; sh:minCount 1 ] ;
    ] .
    """
    rows, _ = violations_from_report_ttl(ttl)
    assert rows[0]["shape_id"] == "PropertyShape/age"
    with pytest.raises(FileNotFoundError):
        report_violations_df(None, str(tmp_path / "nope.ttl"))


def test_runner_inference_reads_data_graph_subclasses(tmp_path, spark, capsys):
    """--inference rdfs: subclass triples in the DATA graph (their
    normal home) expand shape targets — not only shapes-file triples."""
    import json

    from xpshacl_spark import runner

    data = """
    @prefix ex: <http://example.org/> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    ex:Dog rdfs:subClassOf ex:Animal .
    ex:d1 a ex:Dog ; ex:legs -1 .
    """
    shapes = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    ex:AnimalShape a sh:NodeShape ;
        sh:targetClass ex:Animal ;
        sh:property [ sh:path ex:legs ; sh:minInclusive 0 ] .
    """
    dp, sp = tmp_path / "data.ttl", tmp_path / "shapes.ttl"
    dp.write_text(data); sp.write_text(shapes)
    out = str(tmp_path / "o1")
    rc = runner.main(["--input", str(dp), "--shapes", str(sp),
                      "--output", out, "--inference", "rdfs"])
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 3 and s["n_violations"] == 1  # Dog row caught via Animal
    out2 = str(tmp_path / "o2")
    rc2 = runner.main(["--input", str(dp), "--shapes", str(sp), "--output", out2])
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 0 and s2["n_violations"] == 0  # no inference: no targets


def test_owlrl_domain_through_subproperty_and_mapped_class(spark):
    """Two owlrl composition rules: (1) prp-spo1 + prp-dom — a
    predicate whose SUPERproperty carries the rdfs:domain types its
    subject too; (2) an explicit target_map entry for the class states
    where rdf:type lives but does NOT retract domain entailment — the
    derived columns still OR in."""
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    @prefix ex: <http://example.org/> .
    ex:barks rdfs:subPropertyOf ex:makesSound .
    ex:makesSound rdfs:domain ex:Animal .
    ex:AnimalShape a sh:NodeShape ;
        sh:targetClass ex:Animal ;
        sh:property [ sh:path ex:legs ; sh:minInclusive 0 ] .
    """
    # only barks is a materialized column; makesSound (no column_map
    # entry, not an sh:path) must be skip-reported, not OR-ed in
    cmap = {"barks": "barks"}
    inf = import_ttl(ttl, column_map=cmap, inference="owlrl")
    # barks inherits makesSound's domain through the subproperty chain
    assert inf.shapes[0].target == (
        "(rdf_type = 'Animal') OR (barks IS NOT NULL)"
    )
    assert any("not a materialized column" in r for _, _, r in inf.skipped)
    mapped = import_ttl(
        ttl,
        target_map={"Animal": "kind = 'beast'"},
        column_map=cmap,
        inference="owlrl",
    ).shapes[0]
    assert mapped.target == "(kind = 'beast') OR (barks IS NOT NULL)"

    df = spark.createDataFrame(
        [
            (1, "beast", None, -1),  # typed via the mapped filter
            (2, None, "yes", -2),    # typed via barks -> makesSound domain
            (3, None, None, -3),     # untyped
        ],
        "id long, kind string, barks string, legs int",
    )
    got = {
        r.id
        for r in ValidationEngine(spark)
        .validate(df, [mapped], ["id"])
        .violations.collect()
    }
    assert got == {1, 2}


def test_owlrl_unmapped_subproperty_is_skip_reported(spark):
    """Parent mapped, one subproperty unmapped: the shape compiles on
    the parent's filter but the coverage loss is recorded."""
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
    @prefix ex: <http://example.org/> .
    ex:callsTool rdfs:subPropertyOf ex:usesResource .
    ex:ResourceShape a sh:NodeShape ;
        sh:targetSubjectsOf ex:usesResource ;
        sh:property [ sh:path ex:latency ; sh:maxInclusive 100 ] .
    """
    imp = import_ttl(
        ttl,
        target_map={"usesResource": "resource IS NOT NULL"},
        column_map={"latency": "latency"},
        inference="owlrl",
    )
    assert imp.shapes[0].target == "resource IS NOT NULL"
    assert any(
        "subproperty not target-mapped" in r for _, _, r in imp.skipped
    )


def test_target_union_across_kinds():
    """SHACL focus nodes are the UNION of all target declarations:
    sh:targetClass + sh:targetNode on one shape OR together; an
    unmappable ADDITIONAL kind is skip-reported instead of silently
    dropped (silent drop = under-validation reported as conformance)."""
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:targetClass ex:Person ;
  sh:targetNode ex:bob ;
  sh:property [ sh:path ex:age ; sh:minCount 1 ] .
"""
    imp = import_ttl(ttl, target_map={"bob": "name = 'bob'"})
    (s,) = imp.shapes
    assert "rdf_type = 'Person'" in s.target and "name = 'bob'" in s.target
    assert " OR " in s.target

    # unmappable additional target: shape still imports on the class
    # target, and the drop is REPORTED
    imp2 = import_ttl(ttl)
    (s2,) = imp2.shapes
    assert s2.target == "rdf_type = 'Person'"
    assert any(
        "additional target kind not mapped" in r for _, _, r in imp2.skipped
    )


def test_mincount_ge2_weakening_is_reported():
    """sh:minCount 2 on a flat column imports the satisfiable presence
    part (NotNull) AND reports the weakening — never silently."""
    from xpshacl_spark.shapes_ttl import import_ttl

    ttl = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:targetClass ex:Person ;
  sh:property [ sh:path ex:phone ; sh:minCount 2 ] .
"""
    imp = import_ttl(ttl)
    (s,) = imp.shapes
    comps = [type(c).__name__ for c in s.constraints]
    assert "NotNull" in comps
    assert any("unsatisfiable on a flat" in r for _, _, r in imp.skipped)

"""Explanation-layer tests ported from the reference unit suites:
signature/cache identity (tests/test_violation_kg.py), justification
tree phrasings (tests/test_justification_tree_builder.py), context
retrieval incl. the similar-cases anti-join
(tests/test_context_retriever.py)."""

import json
import os

import pytest

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.explain.cache import ExplanationCache
from xpshacl_spark.explain.context import DomainRule, domain_rules, similar_cases
from xpshacl_spark.explain.pipeline import Explainer
from xpshacl_spark.explain.signature import (
    ViolationSignature,
    signature_id_col,
    signature_to_uri,
    XSH,
)
from xpshacl_spark.explain.tree import build_justification_tree
from xpshacl_spark.shapes import MinInclusive, Shape


# ---------------------------------------------------------------------------
# signature parity (reference: violation_kg.py:88-102)
# ---------------------------------------------------------------------------


def test_signature_md5_byte_parity():
    sig = ViolationSignature(
        constraint_id="test_constraint",
        property_path="test_property",
        violation_type="test_type",
        constraint_params={"key": "value"},
    )
    # digest precomputed with the reference algorithm
    assert signature_to_uri(sig) == f"{XSH}sig_e923851e4cac406a5fe9ce4c0a740429"


def test_signature_distinct_uris_with_prefix():
    """reference tests/test_violation_kg.py:106-125."""
    s1 = ViolationSignature("test_constraint", "test_property", "test_type", {"key": "value"})
    s2 = ViolationSignature("different_constraint", "different_property", "different_type", {"different": "params"})
    u1, u2 = signature_to_uri(s1), signature_to_uri(s2)
    assert u1 != u2
    assert u1.startswith(XSH) and u2.startswith(XSH)


def test_spark_signature_col_matches_python(spark):
    """Driver-side md5 and the Spark Column expression must agree."""
    df = spark.createDataFrame(
        [("MinInclusiveConstraintComponent", "turn_idx", "value_range")],
        "constraint_component string, property_path string, violation_type string",
    )
    got = df.select(signature_id_col().alias("h")).collect()[0]["h"]
    assert got == "c79830f5a41da87fdfbd86e10aecbff4"
    sig = ViolationSignature(
        "MinInclusiveConstraintComponent", "turn_idx", "ViolationType.VALUE_RANGE"
    )
    assert signature_to_uri(sig) == f"{XSH}sig_{got}"


def test_spark_signature_null_path(spark):
    df = spark.createDataFrame(
        [("C", None, "other")],
        "constraint_component string, property_path string, violation_type string",
    )
    got = df.select(signature_id_col().alias("h")).collect()[0]["h"]
    sig = ViolationSignature("C", None, "ViolationType.OTHER")
    assert signature_to_uri(sig).endswith(got)


# ---------------------------------------------------------------------------
# cache semantics (reference: tests/test_violation_kg.py)
# ---------------------------------------------------------------------------


@pytest.fixture
def sig():
    return ViolationSignature(
        constraint_id="test_constraint",
        property_path="test_property",
        violation_type="test_type",
        constraint_params={"key": "value"},
    )


def test_cache_size_empty():
    c = ExplanationCache()
    c.clear()
    assert c.size() == 0


def test_add_violation_nine_facts(sig):
    """reference tests/test_violation_kg.py:44-62: a full add yields
    exactly 9 facts."""
    c = ExplanationCache()
    c.add_violation(
        sig,
        {
            "natural_language_explanation": "Test explanation",
            "correction_suggestions": ["Suggestion1", "Suggestion2"],
        },
    )
    assert c.size() == 9


def test_has_and_get_roundtrip(sig):
    """reference tests/test_violation_kg.py:64-104."""
    c = ExplanationCache()
    assert not c.has_violation(sig)
    c.add_violation(
        sig,
        {
            "natural_language_explanation": "Test explanation",
            "correction_suggestions": "Suggestion",
        },
    )
    assert c.has_violation(sig)
    got = c.get_explanation(sig)
    assert got["natural_language_explanation"] == "Test explanation"
    assert got["correction_suggestions"] == ["Suggestion"]


def test_cache_language_isolation(sig):
    c = ExplanationCache()
    c.add_violation(sig, {"natural_language_explanation": "en text"}, "en")
    assert c.has_violation(sig, "en")
    assert not c.has_violation(sig, "de")
    c.add_violation(sig, {"natural_language_explanation": "de text"}, "de")
    assert c.get_explanation(sig, "de")["natural_language_explanation"] == "de text"


def test_cache_persistence_roundtrip(sig, tmp_path):
    p = str(tmp_path / "cache.parquet")
    c = ExplanationCache(p)
    c.add_violation(
        sig,
        {
            "natural_language_explanation": "Persisted",
            "correction_suggestions": ["A", "B"],
        },
    )
    c.save()
    c2 = ExplanationCache(p)
    assert c2.has_violation(sig)
    assert c2.get_explanation(sig)["correction_suggestions"] == ["A", "B"]
    assert c2.size() == 9


def test_cache_kill_mid_save_keeps_previous(sig, tmp_path, monkeypatch):
    """A save that dies halfway through writing leaves the previous
    cache file loadable and no temporary file behind."""
    import os

    import pandas as pd

    p = str(tmp_path / "cache.parquet")
    c = ExplanationCache(p)
    c.add_violation(sig, {"natural_language_explanation": "old"}, "en")
    c.save()

    def torn_write(self, path, **kw):
        with open(path, "wb") as f:
            f.write(b"PAR1 torn")
        raise KeyboardInterrupt("killed mid-save")

    c.add_violation(sig, {"natural_language_explanation": "new"}, "de")
    monkeypatch.setattr(pd.DataFrame, "to_parquet", torn_write)
    with pytest.raises(KeyboardInterrupt):
        c.save()
    monkeypatch.undo()

    back = ExplanationCache(p)
    assert back.get_explanation(sig, "en")["natural_language_explanation"] == "old"
    assert not back.has_violation(sig, "de")
    assert os.listdir(tmp_path) == ["cache.parquet"]


def test_cache_save_merges_with_other_writers(sig, tmp_path):
    """Two caches opened on one path each add a different signature and
    save: the second save merges the first's rows instead of dropping
    them. On a shared (signature, language) the saving cache's row wins,
    and clear() still leaves an empty cache."""
    p = str(tmp_path / "cache.parquet")
    other = ViolationSignature("other_constraint", "other_property", "other_type")
    a, b, c = ExplanationCache(p), ExplanationCache(p), ExplanationCache(p)
    a.add_violation(sig, {"natural_language_explanation": "from a"})
    b.add_violation(other, {"natural_language_explanation": "from b"})
    a.save()
    b.save()

    back = ExplanationCache(p)
    assert back.get_explanation(sig)["natural_language_explanation"] == "from a"
    assert back.get_explanation(other)["natural_language_explanation"] == "from b"
    single = ExplanationCache()
    single.add_violation(sig, {"natural_language_explanation": "from a"})
    single.add_violation(other, {"natural_language_explanation": "from b"})
    assert back.size() == single.size()

    c.add_violation(sig, {"natural_language_explanation": "from c"})
    c.save()
    back = ExplanationCache(p)
    assert back.get_explanation(sig)["natural_language_explanation"] == "from c"
    assert back.has_violation(other)
    assert back.size() == single.size()

    back.clear()
    assert ExplanationCache(p).size() == 0


def _pause_first_read(monkeypatch):
    """Patch pd.read_parquet so the first reader, after its read, waits
    up to 1 s for `other` to be set: a cache writer that does not hold
    the path's lock across read and rename lets `other` run inside that
    window. Returns (first_read, other) events."""
    import threading

    import pandas as pd

    real = pd.read_parquet
    first_read, other = threading.Event(), threading.Event()

    def read(*args, **kw):
        out = real(*args, **kw)
        if not first_read.is_set():
            first_read.set()
            other.wait(1.0)
        return out

    monkeypatch.setattr(pd, "read_parquet", read)
    return first_read, other


def test_cache_overlapping_saves_keep_both_writers(sig, tmp_path, monkeypatch):
    """Two caches on one path save in two threads, the second starting
    while the first sits between its read and its rename: both writers'
    rows survive, and clear() likewise waits for a save in flight."""
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "cache.parquet")
    seed = ViolationSignature("seed_constraint", "seed_property", "seed_type")
    other = ViolationSignature("other_constraint", "other_property", "other_type")
    s = ExplanationCache(p)
    s.add_violation(seed, {"natural_language_explanation": "seed"})
    s.save()
    a, b = ExplanationCache(p), ExplanationCache(p)
    a.add_violation(sig, {"natural_language_explanation": "from a"})
    b.add_violation(other, {"natural_language_explanation": "from b"})

    first_read, other_done = _pause_first_read(monkeypatch)
    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(a.save)
        assert first_read.wait(5)
        fb = pool.submit(lambda: (b.save(), other_done.set()))
        fa.result()
        fb.result()
    back = ExplanationCache(p)
    assert back.get_explanation(sig)["natural_language_explanation"] == "from a"
    assert back.get_explanation(other)["natural_language_explanation"] == "from b"
    assert back.has_violation(seed)

    # a clear() issued while a save sits in its window lands after it:
    # the save's merged rows cannot overwrite the cleared file
    monkeypatch.undo()
    c = ExplanationCache(p)
    first_read, other_done = _pause_first_read(monkeypatch)
    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(a.save)
        assert first_read.wait(5)
        fc = pool.submit(lambda: (c.clear(), other_done.set()))
        fa.result()
        fc.result()
    assert ExplanationCache(p).size() == 0
    assert sorted(os.listdir(tmp_path)) == ["cache.parquet"]

    # stress: more concurrent writers than cores, each row survives
    import sys

    monkeypatch.undo()
    caches = []
    for i in range(16):
        w = ExplanationCache(p)
        w.add_violation(
            ViolationSignature(f"c{i}", "p", "t"), {"natural_language_explanation": str(i)}
        )
        caches.append(w)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            for f in [pool.submit(w.save) for w in caches]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    back = ExplanationCache(p)
    for i in range(16):
        assert back.has_violation(ViolationSignature(f"c{i}", "p", "t")), i


# ---------------------------------------------------------------------------
# justification trees (reference: tests/test_justification_tree_builder.py)
# ---------------------------------------------------------------------------


def _tree_text(tree):
    out = []

    def walk(n):
        out.append(n["statement"])
        if n.get("evidence"):
            out.append(n["evidence"])
        for ch in n.get("children", []):
            walk(ch)

    walk(tree["justification"])
    return "\n".join(out)


def test_cardinality_tree_phrasing():
    """reference :83-88 — observation 'has 1 values', inference
    '1 < at least 2'."""
    tree = build_justification_tree(
        {
            "focus_node": "ex:node1",
            "shape_id": "ex:shape1",
            "constraint_component": "MinCountConstraintComponent",
            "violation_type": "cardinality",
            "property_path": "ex:prop",
            "value": None,
            "context": {"minCount": "2", "actualCount": "1"},
        }
    )
    text = _tree_text(tree)
    assert "has 1 values" in text
    assert "1 < at least 2" in text
    assert tree["justification"]["type"] == "conclusion"
    assert "fails to conform to" in tree["justification"]["statement"]


def test_class_tree_phrasing():
    """reference :103-109 — 'is not an instance'."""
    tree = build_justification_tree(
        {
            "focus_node": "ex:node1",
            "shape_id": "ex:shape1",
            "constraint_component": "ClassConstraintComponent",
            "violation_type": "value_type",
            "property_path": "ex:prop",
            "value": None,
        }
    )
    assert "is not an instance" in _tree_text(tree)


def test_range_tree_phrasing():
    """reference :124-129 — the bound value appears in the inference."""
    tree = build_justification_tree(
        {
            "focus_node": "ex:node1",
            "shape_id": "ex:shape1",
            "constraint_component": "MinInclusiveConstraintComponent",
            "violation_type": "value_range",
            "property_path": "turn_idx",
            "value": "-3",
            "params": {"minInclusive": 0},
        }
    )
    text = _tree_text(tree)
    assert "has value -3" in text
    assert "minimum value restriction 0" in text


def test_pattern_tree_phrasing():
    """reference :147-156 — pattern and flags appear."""
    tree = build_justification_tree(
        {
            "focus_node": "ex:node1",
            "shape_id": "ex:shape1",
            "constraint_component": "PatternConstraintComponent",
            "violation_type": "pattern",
            "property_path": "role",
            "value": "USER",
            "params": {"pattern": "^[a-z]+$", "flags": "i"},
        }
    )
    text = _tree_text(tree)
    assert "does not comply with the pattern ^[a-z]+$." in text
    assert "The pattern uses flags i." in text


def test_logical_not_tree_phrasing():
    """reference :173-179 — negated shape appears."""
    tree = build_justification_tree(
        {
            "focus_node": "ex:node1",
            "shape_id": "ex:shape1",
            "constraint_component": "NotConstraintComponent",
            "violation_type": "logical",
            "property_path": None,
            "value": None,
            "params": {"not": "ex:forbiddenShape"},
        }
    )
    text = _tree_text(tree)
    assert "includes a negation of the shape ex:forbiddenShape" in text
    assert "cannot comply with the rules" in text


def test_generic_tree_phrasing():
    tree = build_justification_tree(
        {
            "focus_node": "ex:n",
            "shape_id": "ex:s",
            "constraint_component": "WeirdComponent",
            "violation_type": "other",
            "message": "strange things",
        }
    )
    assert "Generic justification for violation: strange things" in _tree_text(tree)


# ---------------------------------------------------------------------------
# context (reference: tests/test_context_retriever.py)
# ---------------------------------------------------------------------------


def test_similar_cases_anti_join(spark):
    """reference :85-102: node2 (lacks prop) in, node3 (has prop) out,
    focus excluded."""
    df = spark.createDataFrame(
        [("n1", None), ("n2", None), ("n3", "x")],
        "id string, prop string",
    )
    sims = similar_cases(
        df, "prop", ["id"], exclude={"id": "n1"}, limit=10
    )
    nodes = {s["node"] for s in sims}
    assert nodes == {"id=n2"}


def test_similar_cases_batch_one_action(spark, monkeypatch):
    """N signatures' similar-cases retrieval must be ONE Spark action
    (VERDICT r01 item 4: the per-signature collect loop fired one job
    per signature). Counted at the DataFrame.collect seam: explain()
    performs exactly 2 collects — the signature dedup and the batched
    similar-cases union — regardless of how many signatures exist. The
    batch results must also equal the per-signature anti-joins."""
    from xpshacl_spark.explain.context import similar_cases_batch
    from xpshacl_spark.shapes import NotNull, Pattern

    df = spark.createDataFrame(
        [("c1", 0, None, "ok"), ("c1", 1, 5, None), ("c2", 0, None, None),
         ("c2", 1, -1, "bad"), ("c3", 0, 2, "x")],
        "conv_id string, turn_idx int, score int, note string",
    )
    # three distinct signatures -> three retrieval specs
    shapes = [
        Shape("ex:A", (MinInclusive("score", 0),)),
        Shape("ex:B", (NotNull("note"),)),
        Shape("ex:C", (Pattern("note", "^ok$"),)),  # 'bad'/'x' violate
    ]
    rep = ValidationEngine(spark).validate(
        df, shapes, key_cols=["conv_id", "turn_idx"]
    )
    assert rep.violations.select("constraint_component").distinct().count() == 3

    # parity: batch == per-signature results
    specs = [{"property_path": "score", "target": None},
             {"property_path": "note", "target": None},
             {"property_path": "absent_col", "target": None}]
    batch = similar_cases_batch(df, specs, ["conv_id", "turn_idx"], limit=5)
    for spec, got in zip(specs, batch):
        assert got == similar_cases(
            df, spec["property_path"], ["conv_id", "turn_idx"], limit=5
        )

    # patch the CONCRETE DataFrame class (pyspark 4 routes the public
    # pyspark.sql.DataFrame through a classic/connect subclass)
    cls = type(df)
    calls = {"n": 0}
    orig = cls.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    expl = Explainer(spark).explain(rep, shapes, df=df, languages=["en"])
    n_during_explain = calls["n"]
    rows = expl.collect()
    assert len(rows) == 3
    # 1 signature-dedup collect + 1 batched similar-cases collect
    assert n_during_explain == 2
    for r in rows:
        ctx = json.loads(r["retrieved_context"])
        if r["property_path"] in ("score", "note"):
            assert ctx["similar_cases"], r["property_path"]


def test_batch_llm_generator_executor_side(spark):
    """The SURVEY §2C distributed-LLM seam: BatchExplanationGenerator
    runs llm_fn executor-side via mapInPandas and must produce exactly
    the rows the driver-side llm_fn path produces (same two-prompt
    request shape), leaving the deterministic-template default — and
    q_explanations — untouched."""
    from xpshacl_spark.explain.generator import (
        BatchExplanationGenerator,
        ExplanationGenerator,
    )

    def _mock_llm(prompt: str) -> str:
        # a closure: cloudpickle ships it BY VALUE to executors (a
        # test-module top-level function would need the module on the
        # worker's import path)
        kind = "EXPLAIN" if "natural language explanation" in prompt else "SUGGEST"
        lang = (
            prompt.split(" of why", 1)[0].rsplit(" ", 1)[-1]
            if kind == "EXPLAIN"
            else ""
        )
        return f"[{kind}:{lang}] len={len(prompt)}"

    df = spark.createDataFrame(
        [("c1", 0, -5), ("c1", 1, 3), ("c2", 0, None)],
        "conv_id string, turn_idx int, score int",
    )
    shapes = [
        Shape("ex:S", (MinInclusive("score", 0),)),
    ]
    rep = ValidationEngine(spark).validate(
        df, shapes, key_cols=["conv_id", "turn_idx"]
    )

    driver_gen = ExplanationGenerator(llm_fn=_mock_llm, model_name="mock-1")
    batch_gen = BatchExplanationGenerator(llm_fn=_mock_llm, model_name="mock-1")
    a = Explainer(spark, cache=ExplanationCache(), generator=driver_gen).explain(
        rep, shapes, df=df, languages=["en", "de"]
    )
    b = Explainer(spark, cache=ExplanationCache(), generator=batch_gen).explain(
        rep, shapes, df=df, languages=["en", "de"]
    )
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) == 2
    # llm output actually flowed through (not the template fallback)
    assert all("[EXPLAIN:" in r[8] for r in rows_a)
    assert all(r[10] == "mock-1" for r in rows_b)

    # batch generator without llm_fn degrades to the deterministic
    # template — the correctness default stays intact
    t = Explainer(
        spark, cache=ExplanationCache(), generator=BatchExplanationGenerator()
    ).explain(rep, shapes, df=df, languages=["en"])
    assert all(
        r["provided_by_model"] == "template-deterministic-v1" for r in t.collect()
    )


def test_domain_rule_formatting():
    """reference :105-119: 'Rule <uri> (label): comment'."""
    rules = [
        DomainRule("http://x.org/r1", "age", label="AgeRule", comment="ages are positive"),
        DomainRule("http://x.org/r2", "other_prop"),
    ]
    got = domain_rules(rules, "age")
    assert got == ["Rule <http://x.org/r1> (AgeRule): ages are positive"]
    assert domain_rules(rules, None) == []
    bare = domain_rules([DomainRule("http://x.org/r3", "age")], "age")
    assert bare == ["Rule <http://x.org/r3>: Applies to this property."]


# ---------------------------------------------------------------------------
# full pipeline: dedup -> template explain -> cache -> fan-out join
# ---------------------------------------------------------------------------


def test_explainer_end_to_end(spark, tmp_path):
    df = spark.createDataFrame(
        [("c1", 0, -5), ("c1", 1, 3), ("c2", 0, -2), ("c2", 1, -9)],
        "conv_id string, turn_idx int, score int",
    )
    shapes = [
        Shape(
            "ex:ScoreShape",
            (MinInclusive("score", 0),),
            name="ScoreShape",
            description="score must be non-negative",
        )
    ]
    engine = ValidationEngine(spark)
    rep = engine.validate(df, shapes, key_cols=["conv_id", "turn_idx"])
    cache = ExplanationCache(str(tmp_path / "kg.parquet"))
    ex = Explainer(spark, cache=cache)

    expl = ex.explain(rep, shapes, df=df, languages=["en", "de"])
    rows = expl.collect()
    # ONE signature, two languages
    assert len(rows) == 2
    assert {r["language"] for r in rows} == {"en", "de"}
    r = [x for x in rows if x["language"] == "en"][0]
    assert r["constraint_component"] == "MinInclusiveConstraintComponent"
    tree = json.loads(r["justification_tree"])
    assert "minimum value restriction 0" in json.dumps(tree)
    ctx = json.loads(r["retrieved_context"])
    assert "Shape Name: ScoreShape" in ctx["shape_documentation"]

    # fan-out: every violation instance gets its signature's explanation
    full = ex.explain_full(rep, shapes, df=df, languages=["en"])
    frows = full.collect()
    assert len(frows) == 3  # 3 violating rows x 1 language
    assert all(x["natural_language_explanation"] for x in frows)

    # warm cache: second run hits the cache, no new entries
    cache2 = ExplanationCache(str(tmp_path / "kg.parquet"))
    before = cache2.size()
    ex2 = Explainer(spark, cache=cache2)
    expl2 = ex2.explain(rep, shapes, df=df, languages=["en", "de"])
    assert expl2.count() == 2
    assert cache2.size() == before
    # cached text identical to the originally generated one
    en1 = [x for x in rows if x["language"] == "en"][0]["natural_language_explanation"]
    en2 = [
        x
        for x in expl2.collect()
        if x["language"] == "en"
    ][0]["natural_language_explanation"]
    assert en1 == en2


def test_similar_cases_batch_null_key_ordering(spark):
    """Batch path must mirror Spark's NULLS FIRST ascending order."""
    from xpshacl_spark.explain.context import similar_cases, similar_cases_batch

    df = spark.createDataFrame(
        [(None, 1, None), (2, 2, None), (1, 3, None)],
        "conv_id int, turn_idx int, tool string",
    )
    spec = {"property_path": "tool", "target": None}
    one = similar_cases(df, "tool", ["conv_id", "turn_idx"], limit=3)
    batch = similar_cases_batch(df, [spec], ["conv_id", "turn_idx"], limit=3)[0]
    assert batch == one
    assert one[0]["node"].startswith("conv_id=None")  # NULLS FIRST


# ---------------------------------------------------------------------------
# Violation-KG Turtle export/import (kg_ttl.py)
# ---------------------------------------------------------------------------


def _full_cache(sig):
    from xpshacl_spark.explain.cache import ExplanationCache

    c = ExplanationCache()
    c.add_violation(
        sig,
        {
            "natural_language_explanation": 'Text with "quotes",\nnewline \\ backslash',
            "correction_suggestions": ["Fix A", "Fix B"],
            "provided_by_model": "template",
            "violation": {"focus_node": "row-1", "value": "bad"},
            "justification_tree": {"justification": {"statement": "s"}},
            "retrieved_context": {"ontology_fragments": ["f1"]},
        },
        "en",
    )
    c.add_violation(
        sig,
        {
            "natural_language_explanation": "Deutscher Text",
            "correction_suggestions": ["Korrektur"],
            "provided_by_model": "template",
        },
        "de",
    )
    return c


def test_kg_ttl_roundtrip_semantics(sig, tmp_path):
    """cache -> .ttl -> cache preserves has/get semantics per language
    and the reference triple layout (violation_kg.py:219-284)."""
    from xpshacl_spark.explain.kg_ttl import kg_from_turtle, save_kg_turtle

    c = _full_cache(sig)
    p = str(tmp_path / "validation_kg.ttl")
    save_kg_turtle(c, p)
    text = open(p).read()
    assert "a xsh:ViolationSignature" in text
    assert "a xsh:Explanation" in text
    assert "xsh:hasExplanation" in text
    assert '@en' in text and '@de' in text

    c2 = kg_from_turtle(p)
    for lang, nlt in (("en", 'Text with "quotes",\nnewline \\ backslash'),
                      ("de", "Deutscher Text")):
        assert c2.has_violation(sig, lang)
        got = c2.get_explanation(sig, lang)
        assert got["natural_language_explanation"] == nlt
        # expl-node-level facts shared across languages (reference
        # violation_kg.py:160-199)
        assert got["provided_by_model"] == "template"
        assert got["violation"] == {"focus_node": "row-1", "value": "bad"}
    assert c2.get_explanation(sig, "en")["correction_suggestions"] == ["Fix A", "Fix B"]
    assert c2.get_explanation(sig, "de")["correction_suggestions"] == ["Korrektur"]


def test_kg_ttl_roundtrip_idempotent(sig, tmp_path):
    """ttl -> cache -> ttl is byte-stable and the fact count is
    preserved across repeated round trips."""
    from xpshacl_spark.explain.kg_ttl import kg_from_turtle, kg_to_turtle

    c = _full_cache(sig)
    t1 = kg_to_turtle(c)
    c2 = kg_from_turtle(t1)
    t2 = kg_to_turtle(c2)
    assert t1 == t2
    c3 = kg_from_turtle(t2)
    assert c3.size() == c2.size()
    pd1 = c2._df.fillna("~"); pd2 = c3._df.fillna("~")
    assert pd1.equals(pd2)


def test_kg_ttl_nine_facts_preserved(sig):
    """The reference's 9-triples-per-full-add invariant survives the
    round trip (tests/test_violation_kg.py:44-62 analog)."""
    from xpshacl_spark.explain.cache import ExplanationCache
    from xpshacl_spark.explain.kg_ttl import kg_from_turtle, kg_to_turtle

    c = ExplanationCache()
    c.add_violation(
        sig,
        {
            "natural_language_explanation": "Test explanation",
            "correction_suggestions": ["Suggestion1", "Suggestion2"],
        },
    )
    assert c.size() == 9
    back = kg_from_turtle(kg_to_turtle(c))
    assert back.size() == 9


def test_kg_ttl_reads_reference_style_file(tmp_path):
    """A hand-written rdflib-style file (full IRIs, different statement
    order) parses into the same cache."""
    from xpshacl_spark.explain.kg_ttl import kg_from_turtle
    from xpshacl_spark.explain.signature import ViolationSignature, signature_to_uri

    s = ViolationSignature("c1", "p1", "t1", {})
    uri = signature_to_uri(s)
    text = f"""@prefix xsh: <http://xpshacl.org/#> .
<{uri}_explanation> a xsh:Explanation ;
    xsh:naturalLanguageText "hello"@en .
<{uri}> xsh:constraintComponent "c1" ;
    a xsh:ViolationSignature ;
    xsh:propertyPath "p1" ;
    xsh:violationType "t1" ;
    xsh:hasExplanation <{uri}_explanation> .
"""
    c = kg_from_turtle(text)
    assert c.has_violation(s, "en")
    assert c.get_explanation(s, "en")["natural_language_explanation"] == "hello"


# ---------------------------------------------------------------------------
# HTTP LLM clients (llm_clients.py) against a local mock server
# ---------------------------------------------------------------------------


@pytest.fixture()
def mock_llm_server():
    import http.server
    import json as _json
    import threading

    requests_seen = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = _json.loads(self.rfile.read(n))
            requests_seen.append((self.path, dict(self.headers), body))
            if self.path == "/api/chat":  # ollama shape
                out = {"message": {"role": "assistant",
                                   "content": f"OLLAMA::{body['messages'][0]['content'][:20]}"}}
            else:  # openai chat-completions shape
                out = {"choices": [{"message": {
                    "role": "assistant",
                    "content": f"LLM[{body['model']}]::{body['messages'][0]['content'][:20]}"}}]}
            data = _json.dumps(out).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", requests_seen
    srv.shutdown()


def test_llm_route_resolution():
    from xpshacl_spark.explain.llm_clients import resolve_route

    assert resolve_route("gpt-4o-mini")[1] == "OPENAI_API_KEY"
    assert resolve_route("gemini-1.5-flash")[1] == "GEMINI_API_KEY"
    assert resolve_route("claude-x")[1] == "ANTHROPIC_API_KEY"
    url, env = resolve_route("gemma:2b")  # unknown -> ollama local
    assert env is None and "11434" in url


def test_llm_missing_key_raises(monkeypatch):
    from xpshacl_spark.explain.llm_clients import http_llm_fn

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    with pytest.raises(ValueError, match="OPENAI_API_KEY"):
        http_llm_fn("gpt-4o-mini")


def test_llm_openai_style_against_mock(mock_llm_server):
    from xpshacl_spark.explain.llm_clients import http_llm_fn

    base, seen = mock_llm_server
    fn = http_llm_fn("gpt-4o-mini", base_url=base + "/v1", api_key="k-test")
    out = fn("Explain the violation")
    assert out == "LLM[gpt-4o-mini]::Explain the violation"[:len(out)]
    path, headers, body = seen[-1]
    assert path == "/v1/chat/completions"
    assert headers.get("Authorization") == "Bearer k-test"
    assert body["messages"][0]["role"] == "user"


def test_llm_ollama_style_against_mock(mock_llm_server):
    from xpshacl_spark.explain.llm_clients import http_llm_fn

    base, seen = mock_llm_server
    fn = http_llm_fn("gemma:2b", base_url=base)
    out = fn("Explain this")
    assert out.startswith("OLLAMA::")
    assert seen[-1][0] == "/api/chat"
    assert seen[-1][2]["stream"] is False


def test_llm_error_returns_string_not_raises():
    from xpshacl_spark.explain.llm_clients import http_llm_fn

    # port 9 (discard) refuses: reference-style error-string semantics
    fn = http_llm_fn("gpt-4o-mini", base_url="http://127.0.0.1:9/v1",
                     api_key="k", timeout=0.5)
    assert fn("x").startswith("Error generating explanation:")


def test_llm_fn_plugs_into_generator(mock_llm_server):
    from xpshacl_spark.explain.generator import ExplanationGenerator
    from xpshacl_spark.explain.llm_clients import http_llm_fn

    base, _ = mock_llm_server
    gen = ExplanationGenerator(
        llm_fn=http_llm_fn("gpt-4o-mini", base_url=base + "/v1", api_key="k"),
        model_name="gpt-4o-mini",
    )
    v = {"shape_id": "s", "constraint_component": "MinCountConstraintComponent",
         "violation_type": "cardinality", "message": "missing role",
         "focus_node": "conv-1", "property_path": "role", "value": None,
         "severity": "Violation", "context": {}}
    out = gen.generate(v, tree={"justification": {"statement": "s"}},
                       context={}, language="en")
    assert out["natural_language_explanation"].startswith("LLM[gpt-4o-mini]::")
    assert out["provided_by_model"] == "gpt-4o-mini"


def test_kg_ttl_missing_path_raises(tmp_path):
    from xpshacl_spark.explain.kg_ttl import kg_from_turtle

    with pytest.raises(FileNotFoundError):
        kg_from_turtle(str(tmp_path / "nope.ttl"))


def test_llm_malformed_200_returns_error_string(monkeypatch):
    """HTTP 200 with an empty choices list or null content must return
    the error string (never raise into a mapInPandas stage)."""
    from xpshacl_spark.explain import llm_clients

    responses = [
        {"choices": []},
        {"choices": [{"message": {"content": None}}]},
        {"unexpected": "shape"},
    ]
    it = iter(responses)
    monkeypatch.setattr(
        llm_clients, "_post_json", lambda *a, **k: next(it)
    )
    fn = llm_clients.http_llm_fn("gpt-4o-mini", base_url="http://x/v1", api_key="k")
    for _ in responses:
        assert fn("p").startswith("Error generating explanation:")


def test_llm_bare_host_gateway_stays_openai_style(mock_llm_server):
    """A routed OpenAI model pointed at a bare-host base_url (vLLM /
    LiteLLM gateway without /v1) must keep the OpenAI wire protocol —
    the old URL-substring heuristic silently sent this to Ollama's
    /api/chat and 404'd."""
    from xpshacl_spark.explain.llm_clients import http_llm_fn

    base, seen = mock_llm_server
    fn = http_llm_fn("gpt-4o-mini", base_url=base, api_key="k")
    out = fn("Explain")
    assert out.startswith("LLM[gpt-4o-mini]::")
    assert seen[-1][0] == "/chat/completions"


def test_llm_api_style_explicit_override_and_validation(mock_llm_server):
    from xpshacl_spark.explain.llm_clients import http_llm_fn

    base, seen = mock_llm_server
    # force an unknown-route (ollama-default) model through OpenAI style
    fn = http_llm_fn("gemma:2b", base_url=base, api_style="openai")
    assert fn("p").startswith("LLM[gemma:2b]::")
    assert seen[-1][0] == "/chat/completions"
    with pytest.raises(ValueError, match="api_style"):
        http_llm_fn("gemma:2b", base_url=base, api_style="grpc")


def test_kg_ttl_path_with_space_is_read_as_file(sig, tmp_path):
    """An existing file path containing a space must be READ, not
    parsed as Turtle text into a silently-empty cache."""
    from xpshacl_spark.explain.kg_ttl import kg_from_turtle, save_kg_turtle

    cache = _full_cache(sig)
    p = str(tmp_path / "dir with space" / "kg out.ttl")
    save_kg_turtle(cache, p)
    back = kg_from_turtle(p)
    assert back.has_violation(sig, "en")


def test_simhash_pairs_with_fingerprints_handle(spark):
    """The cache-handle variant returns the persisted fingerprint df;
    unpersisting it must leave no storage entries behind."""
    from xpshacl_spark.operators.dedup import simhash_pairs_with_fingerprints

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + ("x" if i % 2 else "y"))
         for i in range(8)],
        "doc_id long, text string",
    )
    pairs, fp = simhash_pairs_with_fingerprints(df, "doc_id", "text", bits=16)
    n = pairs.count()
    assert n >= 1
    assert fp.storageLevel.useMemory
    fp.unpersist(blocking=True)
    assert not fp.storageLevel.useMemory


def test_llm_unrouted_model_v1_gateway_stays_openai_style(mock_llm_server):
    """An unrouted model name (no gpt/gemini/claude substring) behind a
    /v1 base_url (vLLM / LiteLLM) must default to OpenAI style — the
    route-based default falls back to the /v1 URL convention rather
    than assuming Ollama."""
    from xpshacl_spark.explain.llm_clients import http_llm_fn

    base, seen = mock_llm_server
    fn = http_llm_fn("llama-3-70b", base_url=base + "/v1")
    assert fn("p").startswith("LLM[llama-3-70b]::")
    assert seen[-1][0] == "/v1/chat/completions"


def test_llm_azure_bare_host_openai_style(mock_llm_server):
    """An unrouted deployment name behind an 'openai' host (Azure
    OpenAI pattern) keeps OpenAI style under the fallback heuristic."""
    from xpshacl_spark.explain import llm_clients

    base, seen = mock_llm_server
    calls = []
    orig = llm_clients._post_json

    def spy(url, payload, headers, timeout):
        calls.append(url)
        return orig(url.replace("http://openai-host", base), payload, headers, timeout)

    llm_clients._post_json, saved = spy, orig
    try:
        fn = llm_clients.http_llm_fn("my-deployment", base_url="http://openai-host")
        assert fn("p").startswith("LLM[my-deployment]::")
        assert calls[-1].endswith("/chat/completions")
    finally:
        llm_clients._post_json = saved


def test_kg_ttl_missing_spacey_path_raises(tmp_path):
    """A NON-existent path containing a space must raise, not silently
    parse as Turtle into an empty cache: any single-line string is
    treated as a path."""
    from xpshacl_spark.explain.kg_ttl import kg_from_turtle

    with pytest.raises(FileNotFoundError):
        kg_from_turtle(str(tmp_path / "kg out.tll"))


def test_llm_ollama_default_address_beats_model_route(mock_llm_server):
    """A routed-substring model name served from an explicit Ollama
    address (the :11434 default) must speak /api/chat — the server
    address wins over the model-name route."""
    from xpshacl_spark.explain import llm_clients

    calls = []
    orig = llm_clients._post_json
    base, _ = mock_llm_server

    def spy(url, payload, headers, timeout):
        calls.append(url)
        return orig(
            url.replace("http://localhost:11434", base), payload, headers, timeout
        )

    llm_clients._post_json = spy
    try:
        fn = llm_clients.http_llm_fn(
            "gpt-oss:20b", base_url="http://localhost:11434", api_key="k"
        )
        assert fn("p").startswith("OLLAMA::")
        assert calls[-1].endswith("/api/chat")
    finally:
        llm_clients._post_json = orig


# ---------------------------------------------------------------------------
# signature rows from a checkpoint summary, and the fan-out without a join
# ---------------------------------------------------------------------------


def _tied_report(spark, tmp_path):
    """A checkpointed report where one signature spans two shapes and
    rows that share a focus node: keyed by conv_id alone, both shapes
    flag the same two turns of c1 and one of c2."""
    from xpshacl_spark.checkpoint import CheckpointedRunner

    df = spark.createDataFrame(
        [("c1", 0, -5), ("c1", 1, -3), ("c2", 0, -2), ("c2", 1, 4)],
        "conv_id string, turn_idx int, score int",
    )
    shapes = [
        Shape("ex:B", (MinInclusive("score", 0),)),
        Shape("ex:A", (MinInclusive("score", 0),)),
    ]
    rep = CheckpointedRunner(ValidationEngine(spark), str(tmp_path / "ckpt")).run(
        df, shapes, ["conv_id"]
    )
    return df, shapes, rep


def _by_sig(rows):
    return sorted(rows, key=lambda r: r["signature_id"])


def test_signature_rows_from_summary_equal_the_groupby(spark, tmp_path):
    """The summary path merges the shapes' entries into the rows the
    groupBy gives: counts added, and the representative is the least
    (focus_node, shape_id, value, message) on both paths, so ties on
    the focus node no longer depend on the run."""
    from xpshacl_spark.compiler import ValidationReport

    _, _, rep = _tied_report(spark, tmp_path)
    assert rep.summary is not None
    ex = Explainer(spark)
    from_summary = ex.signature_rows(rep)
    fallback = ex.signature_rows(ValidationReport(rep.violations, rep.key_cols))
    assert _by_sig(from_summary) == _by_sig(fallback)
    (row,) = from_summary
    assert row["n_instances"] == 6
    assert (row["shape_id"], row["focus_node"], row["value"]) == ("ex:A", "conv_id=c1", "-3")


def _broadcast_fanout(report, expl):
    """The fan-out as a broadcast left join of the explanations."""
    from pyspark.sql import functions as F

    v = report.violations.withColumn(
        "signature_id", F.concat(F.lit(f"{XSH}sig_"), signature_id_col())
    )
    cols = [
        "signature_id",
        "language",
        "justification_tree",
        "retrieved_context",
        "natural_language_explanation",
        "correction_suggestions",
        "provided_by_model",
    ]
    return v.join(F.broadcast(expl.select(*cols)), on="signature_id", how="left")


def _sorted_rows(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


class _SkipComponent(Explainer):
    """Leaves one component's signature without explanation rows."""

    skip = "MinCountConstraintComponent"

    def _explanation_rows(self, *a, **kw):
        return [r for r in super()._explanation_rows(*a, **kw) if r[2] != self.skip]


def test_explain_full_equals_the_broadcast_join(spark, tmp_path):
    """explain_full's columns, types and rows are those of the broadcast
    left join it replaces: for a checkpointed report, for a violation
    whose signature has no explanation row (kept, with NULLs), and for
    an all-conforming report (no rows, same schema)."""
    from xpshacl_spark.session import local_relation
    from xpshacl_spark.explain.pipeline import _EXPL_SCHEMA
    from xpshacl_spark.shapes import NotNull

    df, shapes, rep = _tied_report(spark, tmp_path)
    langs = ["en", "de"]
    ex = Explainer(spark)
    full = ex.explain_full(rep, shapes, df=df, languages=langs)
    want = _broadcast_fanout(rep, ex.explain(rep, shapes, df=df, languages=langs))
    assert full.schema == want.schema
    assert _sorted_rows(full) == _sorted_rows(want)
    assert full.count() == 6 * len(langs)

    shapes = [Shape("ex:S", (MinInclusive("score", 0), NotNull("turn_idx")))]
    missing = spark.createDataFrame(
        [("c1", None, -5), ("c2", 0, 1)], "conv_id string, turn_idx int, score int"
    )
    rep = ValidationEngine(spark).validate(missing, shapes, ["conv_id"])
    skip = _SkipComponent(spark)
    full = skip.explain_full(rep, shapes, df=missing, languages=["en"])
    rows = skip._explanation_rows(rep, shapes, missing, ["en"], True)
    want = _broadcast_fanout(rep, local_relation(spark, rows, _EXPL_SCHEMA))
    assert full.schema == want.schema
    assert _sorted_rows(full) == _sorted_rows(want)
    unexplained = full.where("language IS NULL").collect()
    assert [r["constraint_component"] for r in unexplained] == [skip.skip]

    clean = spark.createDataFrame([("c1", 0, 1)], "conv_id string, turn_idx int, score int")
    rep = ValidationEngine(spark).validate(clean, shapes, ["conv_id"])
    full = ex.explain_full(rep, shapes, df=clean, languages=langs)
    want = _broadcast_fanout(rep, ex.explain(rep, shapes, df=clean, languages=langs))
    assert full.schema == want.schema
    assert full.collect() == []


def test_fanout_write_runs_one_job(spark, tmp_path):
    """The explanations ride in the plan, so writing the fan-out is the
    write's one job: no broadcast collects them first."""
    df, shapes, rep = _tied_report(spark, tmp_path)
    full = Explainer(spark).explain_full(rep, shapes, df=df, languages=["en", "de"])
    sc = spark.sparkContext
    group = f"fanout-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        full.write.parquet(str(tmp_path / "explained"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

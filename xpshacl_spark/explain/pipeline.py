"""Explanation pipeline orchestration.

Reproduces the reference main-loop dataflow (/root/reference/src/main.py:139-248)
Spark-first:

1. signature dedup: one row per (constraint_component, property_path,
   violation_type) with its count and a representative violation —
   "perform expensive operations ONCE per signature" (main.py:159-172),
   the reference's single most important dataflow idea
   (README.md:280-291 quantifies 65.8s -> 20.9s). A checkpointed report
   carries them from its write's summary; otherwise one groupBy job;
2. per-signature justification tree + context + explanation text,
   rendered on the DRIVER (the signature set is tiny by construction)
   with cache probe/write (main.py:179-216);
3. fan-out: the explanations go back onto every violation instance
   (main.py:218-248) by a lookup in a literal map from signature id to
   the per-language explanations, inside the violations plan, so the
   fan-out adds no job and no join.
"""

from __future__ import annotations

import json
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xpshacl_spark.compiler import ValidationReport
from xpshacl_spark.explain.cache import (
    SUGGESTION_SEPARATOR,
    ExplanationCache,
)
from xpshacl_spark.explain.context import DomainRule, retrieve_context
from xpshacl_spark.explain.generator import ExplanationGenerator
from xpshacl_spark.explain.signature import (
    XSH,
    ViolationSignature,
    signature_id_col,
    signature_to_uri,
)
from xpshacl_spark.explain.tree import build_justification_tree
from xpshacl_spark.model import (
    REPRESENTATIVE_FIELDS,
    REPRESENTATIVE_ORDER,
    ViolationType,
    merge_summary,
)
from xpshacl_spark.session import local_relation
from xpshacl_spark.sqltext import quote_string, string_literal

_EXPL_SCHEMA = T.StructType(
    [
        T.StructField("signature_id", T.StringType()),
        T.StructField("shape_id", T.StringType()),
        T.StructField("constraint_component", T.StringType()),
        T.StructField("property_path", T.StringType()),
        T.StructField("violation_type", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("justification_tree", T.StringType()),
        T.StructField("retrieved_context", T.StringType()),
        T.StructField("natural_language_explanation", T.StringType()),
        T.StructField("correction_suggestions", T.StringType()),
        T.StructField("provided_by_model", T.StringType()),
    ]
)


# the explanation columns explain_full appends to each violation: the
# _EXPL_SCHEMA fields from `language` on
_FANOUT_START = _EXPL_SCHEMA.fieldNames().index("language")
_FANOUT_FIELDS = _EXPL_SCHEMA.fieldNames()[_FANOUT_START:]
_FANOUT_TYPE = (
    "map<string, array<struct<"
    + ", ".join(f"{f}: string" for f in _FANOUT_FIELDS)
    + ">>>"
)


def _signature(rec: dict) -> ViolationSignature:
    return ViolationSignature(
        constraint_id=rec["constraint_component"],
        property_path=rec["property_path"],
        # runtime parity: the reference hashes str(ViolationType.X)
        violation_type=ViolationType.ENUM_REPR.get(
            rec["violation_type"], rec["violation_type"]
        ),
        constraint_params={},
    )


def _shape_constraint_params(shapes, shape_id: str, component: str, path):
    """Look up the matching constraint's params + headline value from
    the shape spec (compile-time metadata; replaces the reference's
    shapes-graph triple lookups in the tree builder)."""
    for s in shapes:
        if s.shape_id != shape_id:
            continue
        for c in s.constraints:
            if c.component() == component and c.property_path() == path:
                params = c.params()
                cv = next(iter(params.values()), None) if params else None
                return s, params, cv
        for c in s.constraints:
            if c.component() == component:
                params = c.params()
                cv = next(iter(params.values()), None) if params else None
                return s, params, cv
    return None, {}, None


class Explainer:
    """Signature-deduplicated explanation generation with caching."""

    def __init__(
        self,
        spark: SparkSession,
        cache: Optional[ExplanationCache] = None,
        generator: Optional[ExplanationGenerator] = None,
        rules: Sequence[DomainRule] = (),
        similar_limit: int = 5,
    ):
        self.spark = spark
        self.cache = cache if cache is not None else ExplanationCache()
        self.generator = generator or ExplanationGenerator()
        self.rules = list(rules)
        self.similar_limit = similar_limit

    # ------------------------------------------------------------------

    def signatures(self, violations: DataFrame) -> DataFrame:
        """Distinct violation signatures, each with its violation count
        and one representative violation: the least under
        model.REPRESENTATIVE_ORDER, so the choice is the same on every
        run."""
        rep = F.min_by(
            F.struct(*REPRESENTATIVE_FIELDS), F.struct(*REPRESENTATIVE_ORDER)
        ).alias("_rep")
        return (
            violations.groupBy(
                "constraint_component", "property_path", "violation_type"
            )
            .agg(rep, F.count(F.lit(1)).alias("n_instances"))
            .select(
                F.concat(
                    F.lit(f"{XSH}sig_"), signature_id_col()
                ).alias("signature_id"),
                "constraint_component",
                "property_path",
                "violation_type",
                *(F.col(f"_rep.{f}").alias(f) for f in REPRESENTATIVE_FIELDS),
                "n_instances",
            )
        )

    def signature_rows(self, report: ValidationReport) -> list[dict]:
        """The rows of `signatures(report.violations)` as dicts. A report
        that carries a checkpoint summary gives them without a job: its
        entries are merged by signature, adding the counts and keeping
        the least representative."""
        if report.summary is None:
            return [r.asDict() for r in self.signatures(report.violations).collect()]
        sig_key = ("constraint_component", "property_path", "violation_type")
        return [
            {
                "signature_id": signature_to_uri(_signature(e)),
                **{f: e[f] for f in sig_key},
                **e["representative"],
                "n_instances": e["n_violations"],
            }
            for e in merge_summary(report.summary, sig_key)
        ]

    def explain(
        self,
        report: ValidationReport,
        shapes: Sequence = (),
        df: Optional[DataFrame] = None,
        languages: Sequence[str] = ("en",),
        with_context: bool = True,
    ) -> DataFrame:
        """Produce the explanations relation (§1.3 schema): one row per
        distinct signature x language."""
        rows = self._explanation_rows(report, shapes, df, languages, with_context)
        return local_relation(self.spark, rows, _EXPL_SCHEMA)

    def _explanation_rows(
        self,
        report: ValidationReport,
        shapes: Sequence,
        df: Optional[DataFrame],
        languages: Sequence[str],
        with_context: bool,
    ) -> list[tuple]:
        """`explain`'s rows as tuples in _EXPL_SCHEMA's field order."""
        prepared = []
        for rec in self.signature_rows(report):
            sig = _signature(rec)
            shape, params, cv = _shape_constraint_params(
                shapes, rec["shape_id"], rec["constraint_component"], rec["property_path"]
            )
            vrec = dict(rec)
            vrec["params"] = params
            vrec["constraint_value"] = cv
            vrec["context"] = dict(rec["context"] or {})
            prepared.append((rec, vrec, sig, shape))

        # ALL signatures' similar-cases in ONE Spark action (a
        # per-signature collect loop would fire N jobs): distinct
        # (property_path, target) retrievals, batched
        sim_by_key: dict = {}
        if with_context and df is not None and prepared:
            from xpshacl_spark.explain.context import similar_cases_batch

            spec_keys = []
            for _, vrec, _, shape in prepared:
                key = (vrec.get("property_path"), getattr(shape, "target", None))
                if key not in sim_by_key:
                    sim_by_key[key] = []
                    spec_keys.append(key)
            results = similar_cases_batch(
                df,
                [{"property_path": k[0], "target": k[1]} for k in spec_keys],
                report.key_cols,
                self.similar_limit,
            )
            sim_by_key = dict(zip(spec_keys, results))

        # assemble per-(signature, language) jobs, probing the cache; a
        # batch generator then runs ALL uncached generations in one
        # executor-side Arrow pass instead of a driver loop
        jobs = []
        for rec, vrec, sig, shape in prepared:
            tree = build_justification_tree(vrec)
            ctx = retrieve_context(
                vrec,
                shape,
                None,
                report.key_cols,
                rules=self.rules,
                similar_limit=self.similar_limit,
                similar=(
                    sim_by_key.get(
                        (vrec.get("property_path"), getattr(shape, "target", None))
                    )
                    if with_context and df is not None
                    else None
                ),
            )
            for lang in languages:
                cached = self.cache.get_explanation(sig, lang)
                jobs.append((rec, vrec, sig, tree, ctx, lang, cached))
        pending = [j for j in jobs if j[6] is None]
        if pending and getattr(self.generator, "batch", False):
            generated = self.generator.generate_batch(
                self.spark, [(j[1], j[3], j[4], j[5]) for j in pending]
            )
        else:
            generated = [
                self.generator.generate(j[1], j[3], j[4], j[5]) for j in pending
            ]
        gen_iter = iter(generated)

        out_rows = []
        new_cache_entries = 0
        for rec, vrec, sig, tree, ctx, lang, cached in jobs:
            vtype = rec["violation_type"]
            if cached is not None:
                expl = cached
            else:
                expl = next(gen_iter)
                self.cache.add_violation(
                    sig,
                    {
                        **expl,
                        "violation": tree["violation"],
                        "justification_tree": tree,
                        "retrieved_context": ctx,
                    },
                    lang,
                )
                new_cache_entries += 1
            suggestions = expl.get("correction_suggestions") or []
            if isinstance(suggestions, (list, tuple)):
                suggestions = SUGGESTION_SEPARATOR.join(suggestions)
            out_rows.append(
                (
                    signature_to_uri(sig),
                    rec["shape_id"],
                    rec["constraint_component"],
                    rec["property_path"],
                    vtype,
                    lang,
                    json.dumps(tree, default=str),
                    json.dumps(ctx, default=str),
                    expl["natural_language_explanation"],
                    suggestions,
                    expl.get("provided_by_model"),
                )
            )
        if new_cache_entries and self.cache.path:
            # one save per run (main.py:213-216)
            self.cache.save()
        return out_rows

    def explain_full(
        self,
        report: ValidationReport,
        shapes: Sequence = (),
        df: Optional[DataFrame] = None,
        languages: Sequence[str] = ("en",),
        with_context: bool = True,
    ) -> DataFrame:
        """Fan explanations back out to every violation instance
        (main.py:218-248): `signature_id`, the violation columns, then
        one row per explanation language of the violation's signature,
        as a left join on `signature_id` would give. The explanations
        ride in the plan as a literal map from signature id to an array
        of per-language structs, and `inline_outer` of the lookup keeps
        a violation whose signature has no explanation, with NULLs. A
        broadcast join would collect its small side through a job."""
        rows = self._explanation_rows(report, shapes, df, languages, with_context)
        by_sig: dict[str, list[str]] = {}
        for r in rows:
            fields = zip(_FANOUT_FIELDS, r[_FANOUT_START:])
            by_sig.setdefault(r[0], []).append(
                "named_struct("
                + ", ".join(f"'{f}', {string_literal(v)}" for f, v in fields)
                + ")"
            )
        entries = ", ".join(
            f"{quote_string(sid)}, array({', '.join(structs)})"
            for sid, structs in by_sig.items()
        )
        lookup = F.expr(
            f"inline_outer(try_element_at(CAST(map({entries}) AS "
            f"{_FANOUT_TYPE}), signature_id))"
        )
        v = report.violations.withColumn(
            "signature_id", F.concat(F.lit(f"{XSH}sig_"), signature_id_col())
        )
        return v.select("signature_id", *report.violations.columns, lookup)

    def to_json_report(self, full: DataFrame) -> DataFrame:
        """One JSON document per violation instance
        (main.py:234-264 / README.md:174-216 output shape)."""
        return full.select(
            F.to_json(
                F.struct(
                    F.col("focus_node"),
                    F.struct(
                        F.col("language"),
                        F.col("natural_language_explanation"),
                        F.col("correction_suggestions"),
                        F.col("justification_tree"),
                        F.col("retrieved_context"),
                        F.col("provided_by_model"),
                    ).alias("explanation"),
                )
            ).alias("json")
        )

"""Explanation text generation.

The reference calls an LLM per (signature, language) — two HTTPS calls:
one for the explanation, one for correction suggestions
(/root/reference/src/explanation_generator.py:49-163). That is
non-deterministic and network-bound, so it sits OUTSIDE our correctness
path: the default generator is a pure deterministic template (same
inputs -> same text), and an LLM client can be plugged in behind the
same interface for production use (never required by pytest parity).

The reference prompt templates are preserved verbatim as constants so a
plugged-in LLM client reproduces the reference's request shape
(explanation_generator.py:32-46).
"""

from __future__ import annotations

import json
from typing import Callable, Optional

#: Reference prompt shapes (explanation_generator.py:32-46), kept for
#: LLM-client parity. {violation}, {tree}, {context}, {language} slots.
EXPLANATION_PROMPT_TEMPLATE = (
    "You are an expert in SHACL validation. Given the following constraint "
    "violation, justification tree, and context, provide a clear natural "
    "language explanation in {language} of why the violation occurred.\n"
    "Violation: {violation}\nJustification: {tree}\nContext: {context}"
)
SUGGESTION_PROMPT_TEMPLATE = (
    "You are an expert in SHACL validation. Given the following constraint "
    "violation, justification tree, and context, provide correction "
    "suggestions in {language}.\n"
    "Violation: {violation}\nJustification: {tree}\nContext: {context}"
)

DEFAULT_MODEL = "template-deterministic-v1"

_SUGGESTIONS = {
    "cardinality": [
        "Add the missing values for property '{path}' so the count satisfies the constraint.",
        "If the data is correct, relax the cardinality bound on the shape.",
    ],
    "value_type": [
        "Convert the value of '{path}' to the required datatype.",
        "If the value is a reference, make sure the referenced entity exists.",
    ],
    "value_range": [
        "Clamp or correct the value of '{path}' to fall within the declared range.",
        "If out-of-range values are legitimate, widen the shape's bounds.",
    ],
    "pattern": [
        "Normalize the value of '{path}' so it matches the declared pattern.",
        "Check for stray whitespace, casing, or encoding issues.",
    ],
    "property_pair": [
        "Reorder or correct the values so the declared pair relation holds.",
        "Verify the upstream process that writes '{path}'.",
    ],
    "logical": [
        "Adjust the row so it satisfies the logical combination of shapes.",
        "Review the component shapes for conflicting requirements.",
    ],
    "uniqueness": [
        "Deduplicate rows sharing the key '{path}'.",
        "Add a surrogate key or fix the upstream writer emitting duplicates.",
    ],
    "referential": [
        "Insert the missing entity into the referenced table, or fix the dangling key.",
        "Filter out rows whose '{path}' has no referent before loading.",
    ],
    "distribution": [
        "Investigate the pipeline change that shifted the distribution of '{path}'.",
        "If the shift is expected, refresh the stored baseline histogram.",
    ],
    "schema": [
        "Align the table's physical schema for '{path}' with the expected spec.",
        "If the schema change is intentional, update the expected-schema spec.",
    ],
    "sequence": [
        "Repair the ordering, numbering, or timing of '{path}' within its group.",
        "Check the upstream writer for dropped, reordered, or delayed rows.",
    ],
    "dependency": [
        "Reconcile the conflicting values of '{path}' so the determinant maps to one value.",
        "If multiple values are legitimate, drop the functional-dependency constraint.",
    ],
    "dataset": [
        "Investigate the batch that moved the dataset-level metric on '{path}' out of bounds.",
        "If the new level is expected, adjust the metric's bounds on the shape.",
    ],
    "other": [
        "Inspect the value of '{path}' against the shape definition.",
        "Update either the data or the shape so they agree.",
    ],
}


def template_explanation(violation: dict, language: str = "en") -> dict:
    """Pure function of the violation signature fields -> explanation
    dict with natural_language_explanation + correction_suggestions
    (list) + provided_by_model."""
    vtype = violation.get("violation_type") or "other"
    path = violation.get("property_path") or "the value"
    comp = violation.get("constraint_component")
    msg = violation.get("message") or ""
    lang_tag = "" if language == "en" else f" [{language}]"
    text = (
        f"Constraint {comp} on property '{path}' was violated "
        f"({vtype}). {msg}".strip()
        + lang_tag
    )
    suggestions = [
        s.format(path=path) for s in _SUGGESTIONS.get(vtype, _SUGGESTIONS["other"])
    ]
    if language != "en":
        suggestions = [f"{s} [{language}]" for s in suggestions]
    return {
        "natural_language_explanation": text,
        "correction_suggestions": suggestions,
        "provided_by_model": DEFAULT_MODEL,
    }


def build_prompts(
    violation: dict, tree: dict, context: dict, language: str
) -> tuple[str, str]:
    """The two reference-shaped prompts for one (signature, language)."""
    v = json.dumps(violation, default=str)
    t = json.dumps(tree, default=str)
    c = json.dumps(context, default=str)
    return (
        EXPLANATION_PROMPT_TEMPLATE.format(
            violation=v, tree=t, context=c, language=language
        ),
        SUGGESTION_PROMPT_TEMPLATE.format(
            violation=v, tree=t, context=c, language=language
        ),
    )


class ExplanationGenerator:
    """Pluggable generator. Default = deterministic templates; pass
    llm_fn(prompt: str) -> str to route through a model (the two-call
    shape mirrors explanation_generator.py:70-134)."""

    def __init__(
        self,
        llm_fn: Optional[Callable[[str], str]] = None,
        model_name: str = DEFAULT_MODEL,
    ):
        self.llm_fn = llm_fn
        self.model_name = model_name

    def generate(
        self, violation: dict, tree: dict, context: dict, language: str = "en"
    ) -> dict:
        if self.llm_fn is None:
            return template_explanation(violation, language)
        expl_prompt, sugg_prompt = build_prompts(violation, tree, context, language)
        try:
            explanation = self.llm_fn(expl_prompt).strip()
            suggestions = self.llm_fn(sugg_prompt).strip()
        except Exception as e:  # error text, no raise (explanation_generator.py:129-159)
            return {
                "natural_language_explanation": (
                    f"Error generating explanation in {language}: {e}"
                ),
                "correction_suggestions": [],
                "provided_by_model": self.model_name,
            }
        return {
            "natural_language_explanation": explanation,
            "correction_suggestions": [suggestions] if suggestions else [],
            "provided_by_model": self.model_name,
        }


class BatchExplanationGenerator(ExplanationGenerator):
    """Executor-side batch LLM client (the SURVEY §2C seam): the
    uncached (signature, language) prompt pairs ship to executors in
    Arrow batches via mapInPandas and `llm_fn` runs THERE — at scale a
    real HTTP client fans out across the cluster instead of serializing
    HTTPS round-trips on the driver. Same two-prompt request shape and
    per-row error semantics as the driver-side path; `llm_fn` must be
    picklable (a top-level function or functools.partial).

    Correctness note: the deterministic template generator remains the
    default — this class only changes WHERE generation runs, never what
    the correctness gate verifies."""

    batch = True

    def generate_batch(self, spark, items: list[tuple]) -> list[dict]:
        """items: [(violation, tree, context, language)] -> list of
        explanation dicts, in order, generated executor-side."""
        if self.llm_fn is None:
            return [
                template_explanation(v, lang) for v, _, _, lang in items
            ]
        from xpshacl_spark.session import local_relation

        rows = []
        for i, (v, t, c, lang) in enumerate(items):
            ep, sp = build_prompts(v, t, c, lang)
            rows.append((i, ep, sp, lang))
        df = local_relation(
            spark,
            rows,
            "idx long, expl_prompt string, sugg_prompt string, language string",
        )
        llm_fn, model = self.llm_fn, self.model_name

        def run(batches):
            import pandas as pd

            for pdf in batches:
                out = {"idx": [], "explanation": [], "suggestions": []}
                for idx, ep, sp, lang in zip(
                    pdf["idx"], pdf["expl_prompt"], pdf["sugg_prompt"], pdf["language"]
                ):
                    try:
                        e = llm_fn(ep).strip()
                        s = llm_fn(sp).strip()
                    except Exception as exc:
                        e = f"Error generating explanation in {lang}: {exc}"
                        s = ""
                    out["idx"].append(idx)
                    out["explanation"].append(e)
                    out["suggestions"].append(s)
                yield pd.DataFrame(out)

        got = {
            r["idx"]: r
            for r in df.repartition(max(1, min(len(rows), 32)))
            .mapInPandas(run, "idx long, explanation string, suggestions string")
            .collect()
        }
        out = []
        for i, (v, t, c, lang) in enumerate(items):
            r = got[i]
            out.append(
                {
                    "natural_language_explanation": r["explanation"],
                    "correction_suggestions": (
                        [r["suggestions"]] if r["suggestions"] else []
                    ),
                    "provided_by_model": model,
                }
            )
        return out

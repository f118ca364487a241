"""spark-submit entry point.

Usage (cluster: `spark-submit --py-files xpshacl_spark.zip runner.py ...`;
locally: `python -m xpshacl_spark.runner ...`):

  --input PATH           transcript parquet (or any table)
  --shapes PATH          shapes JSON (shapes_io format); default = the
                         canonical transcript suite
  --key-cols a,b         focus row key columns (default conv_id,turn_idx)
  --output DIR           checkpointed output dir (manifest + violations)
  --expect-schema F.json physical-schema gate run BEFORE shapes
                         (metadata-only): JSON list of {name, dtype,
                         required?} or {columns: [...], allow_extra};
                         deviations -> schema_issues summary, exit 4
  --explain              also produce the explanations relation
  --cache PATH           explanation cache parquet
  --languages en,de      explanation languages
  --replay DIR           skip validation; run explanation stages over an
                         existing checkpointed --output (reference report-
                         replay mode, /root/reference/src/main.py:75-114)
  --input-report F.ttl   skip validation; replay a STANDARD SHACL
                         validation-report Turtle file (pyshacl/rdflib
                         output) through the summary + explanation
                         stages (reference --input_report mode)
  --inference MODE       none (default), rdfs, or owlrl: rdfs makes
                         sh:targetClass also target rdfs:subClassOf
                         descendants; owlrl additionally targets
                         rdfs:subPropertyOf descendants under
                         targetSubjectsOf/ObjectsOf and rdfs:domain-
                         derived typing. Ontology triples are read from
                         the shapes doc, a Turtle --input data graph,
                         and --ontology when given
  --ontology F.ttl       extra ontology document supplying
                         rdfs:subClassOf / subPropertyOf / domain
                         triples for --inference rdfs/owlrl
  --incremental          append-only delta mode: validate only input
                         files not yet recorded in the checkpoint
                         manifest ([--force-incremental] to allow
                         group-scope shapes when the layout guarantees
                         group-per-file locality)
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _parse_schema_spec(ap, path):
    """Load + validate an --expect-schema JSON spec up front (before
    Spark starts), so a missing/malformed spec fails as a clean CLI
    error rather than a late traceback. Returns (specs, allow_extra)."""
    from xpshacl_spark.schema_check import ColumnSpec

    try:
        with open(path, encoding="utf-8") as f:
            spec = json.load(f)
        if isinstance(spec, dict):
            cols, allow_extra = spec["columns"], bool(spec.get("allow_extra"))
        else:
            cols, allow_extra = spec, False
        specs = []
        seen = set()
        for c in cols:
            name, dtype = c["name"], c["dtype"]
            required = c.get("required", True)
            if not isinstance(name, str) or not isinstance(dtype, str):
                raise ValueError(f"name/dtype must be strings: {c!r}")
            if not isinstance(required, bool):
                # bool("false") is True — reject rather than misparse
                raise ValueError(f"required must be JSON true/false: {c!r}")
            # duplicate detection matches the gate's default resolution
            # (spark.sql.caseSensitive=false); schema_issue_rows still
            # raises as a backstop for case-sensitive sessions
            if name.lower() in seen:
                raise ValueError(f"duplicate column spec: {name!r}")
            seen.add(name.lower())
            specs.append(ColumnSpec(name, dtype, required))
    except (OSError, ValueError, KeyError, TypeError) as exc:
        ap.error(f"--expect-schema: cannot load spec {path!r}: {exc!r}")
    if not specs:
        ap.error(f"--expect-schema: spec {path!r} declares no columns")
    return specs, allow_extra


def _apply_schema_gate(spark, df, schema_gate, t0) -> int:
    """Metadata-only physical-schema gate before any shape runs: 0 =
    absent or passed, 4 = deviations (summary printed, caller exits).
    Pure driver-side tuples — no Spark job on the fail-fast path."""
    if schema_gate is None:
        return 0
    from xpshacl_spark.schema_check import schema_issue_rows

    specs, allow_extra = schema_gate
    issues = schema_issue_rows(spark, df, specs, allow_extra=allow_extra)
    if not issues:
        return 0
    print(
        json.dumps(
            {
                "conforms": False,
                "schema_issues": [
                    {
                        "column": name,
                        "issue": issue,
                        "expected": expected,
                        "actual": actual,
                    }
                    for name, issue, expected, actual in issues
                ],
                "wall_sec": round(time.monotonic() - t0, 3),
            },
            sort_keys=True,
        )
    )
    return 4


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="xpshacl_spark validation runner")
    ap.add_argument("--input", required=False)
    ap.add_argument("--shapes")
    ap.add_argument("--key-cols", default="conv_id,turn_idx")
    ap.add_argument("--output", required=True)
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--cache")
    ap.add_argument("--languages", default="en")
    ap.add_argument("--replay")
    ap.add_argument(
        "--input-report",
        dest="input_report",
        help="standard SHACL validation-report Turtle (pyshacl/rdflib "
        "output): skip validation and replay the report's results "
        "through the explanation stages — the reference CLI's "
        "--input_report mode (main.py:75-114)",
    )
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="validate only input files not yet in the checkpoint "
        "manifest (append-only delta mode)",
    )
    ap.add_argument(
        "--force-incremental",
        action="store_true",
        help="allow group-scope shapes in --incremental (requires "
        "group-per-file layout locality)",
    )
    ap.add_argument(
        "--inference",
        default="none",
        help="none, rdfs, or owlrl (the reference CLI's --inference "
        "option, main.py:31-33, scoped to entailments that affect "
        "tabular target selection): rdfs targets rdfs:subClassOf "
        "descendants of sh:targetClass; owlrl additionally OR-unions "
        "rdfs:subPropertyOf descendants under targetSubjectsOf/"
        "ObjectsOf and rdfs:domain-derived typing into targetClass",
    )
    ap.add_argument(
        "--ontology",
        help="extra ontology .ttl supplying rdfs:subClassOf/"
        "subPropertyOf/domain triples for --inference rdfs/owlrl",
    )
    ap.add_argument(
        "--expect-schema",
        help="JSON physical-schema spec — a list of {name, dtype, "
        "required?} objects, or {columns: [...], allow_extra: bool}. "
        "Checked BEFORE any shape runs (metadata-only, zero data "
        "scanned); deviations print a schema_issues summary and exit 4",
    )
    ap.add_argument(
        "--conformance-by",
        dest="conformance_by",
        help="comma-separated group columns (e.g. conv_id): additionally "
        "write <output>/conformance — one row per distinct group key "
        "with n_violations, n_components and a conforms flag (the north "
        "rule's per-partition pass/fail as a relation; clean groups "
        "appear with conforms=true via the universe join)",
    )
    ap.add_argument("--master")
    args = ap.parse_args(argv)

    # fail fast, BEFORE the JVM starts: a bad --expect-schema spec is a
    # clean CLI error, not a 30s-later traceback
    schema_gate = None
    if args.expect_schema:
        if args.replay or args.input_report:
            ap.error(
                "--expect-schema needs a data input (not replay/report mode)"
            )
        schema_gate = _parse_schema_spec(ap, args.expect_schema)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from xpshacl_spark.checkpoint import CheckpointedRunner
    from xpshacl_spark.compiler import ValidationEngine, ValidationReport
    from xpshacl_spark.datagen import roles_dim, tools_dim
    from xpshacl_spark.explain import ExplanationCache, Explainer
    from xpshacl_spark.session import get_spark
    from xpshacl_spark.shapes_io import load_shapes
    from xpshacl_spark.suites import transcript_shapes

    spark = get_spark(app_name="xpshacl_spark_runner", master=args.master)
    key_cols = args.key_cols.split(",")
    ttl_kwargs = {}
    if args.shapes and args.shapes.endswith((".ttl", ".turtle")):
        ttl_kwargs["inference"] = args.inference
        if args.inference in ("rdfs", "owlrl"):
            # subclass triples normally live in the DATA graph or a
            # separate ontology, not the shapes file — feed both (this
            # is what pyshacl's inference entails over in the reference)
            onto_parts = []
            if args.input and args.input.endswith((".ttl", ".turtle")):
                with open(args.input, encoding="utf-8") as f:
                    onto_parts.append(f.read())
            if args.ontology:
                with open(args.ontology, encoding="utf-8") as f:
                    onto_parts.append(f.read())
            if onto_parts:
                ttl_kwargs["ontology_text"] = "\n".join(onto_parts)
    if args.inference != "none" and not ttl_kwargs:
        ap.error("--inference applies to Turtle shapes (--shapes *.ttl)")
    shapes = (
        load_shapes(args.shapes, **ttl_kwargs)
        if args.shapes
        else transcript_shapes()
    )

    t0 = time.monotonic()
    engine = ValidationEngine(
        spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
    )
    # constructed only after the schema gate passes: its __init__ makes
    # <output>/manifest, and a gate-rejected run must leave no output
    _runner = lambda: CheckpointedRunner(engine, args.output)  # noqa: E731

    if args.input_report:
        from xpshacl_spark.report_ttl import report_violations_df

        df = None
        key_cols = ["focus_node"]
        report = ValidationReport(
            report_violations_df(spark, args.input_report), key_cols
        )
    elif args.replay:
        df = None
        # the checkpoint's own reader: only shapes with a published
        # manifest, with the recorded schema (conforming shapes leave
        # empty buckets, nothing to infer a schema from)
        report = CheckpointedRunner(engine, args.replay).report(key_cols)
    elif args.incremental:
        if not args.input:
            ap.error("--input is required with --incremental")
        if args.input.endswith((".ttl", ".turtle")):
            ap.error(
                "--incremental tracks parquet file lineage; Turtle inputs "
                "are single-document graphs — run without --incremental"
            )
        df = spark.read.parquet(args.input)
        rc = _apply_schema_gate(spark, df, schema_gate, t0)
        if rc:
            return rc
        report = _runner().run_incremental(
            args.input, shapes, key_cols=key_cols, force=args.force_incremental
        )
    else:
        if not args.input:
            ap.error("--input is required unless --replay is given")
        if args.input.endswith((".ttl", ".turtle")):
            # the reference CLI's exact entry: --data D --shapes S, both
            # Turtle (main.py:54-55); driver-side parse for file-sized
            # graphs only (rdf_data docstring)
            from xpshacl_spark.rdf_data import align_to_shapes, read_rdf_table

            df = align_to_shapes(read_rdf_table(spark, args.input), shapes)
            if args.key_cols == "conv_id,turn_idx":  # default is tabular
                key_cols = ["id"]
        elif args.input.endswith(".csv"):
            df = spark.read.option("header", "true").option(
                "inferSchema", "true"
            ).csv(args.input)
        elif args.input.endswith((".json", ".jsonl", ".ndjson")):
            df = spark.read.json(args.input)
        elif args.input.endswith(".orc"):
            df = spark.read.orc(args.input)
        else:
            df = spark.read.parquet(args.input)
        rc = _apply_schema_gate(spark, df, schema_gate, t0)
        if rc:
            return rc
        report = _runner().run(df, shapes, key_cols=key_cols)

    counts = report.counts().collect()
    summary = {
        "conforms": len(counts) == 0,
        "n_violations": int(sum(r["n_violations"] for r in counts)),
        "by_shape": {
            f"{r['shape_id']}#{r['constraint_component']}": r["n_violations"]
            for r in counts
        },
        "wall_sec": round(time.monotonic() - t0, 3),
    }

    if args.conformance_by:
        group_cols = args.conformance_by.split(",")
        if df is None:
            ap.error(
                "--conformance-by needs a data input for the group-key "
                "universe (not replay/report mode)"
            )
        missing = [c for c in group_cols if c not in df.columns]
        if missing:
            ap.error(f"--conformance-by columns not in input: {missing}")
        # the failing-group count rides the write as an Observation
        # instead of a second pass over the universe distinct and join
        obs = Observation()
        conf = report.conformance_by_group(df, group_cols).observe(
            obs, F.count_if(~F.col("conforms")).alias("n_nonconforming")
        )
        conf.write.mode("overwrite").parquet(f"{args.output}/conformance")
        summary["conformance_path"] = f"{args.output}/conformance"
        summary["n_nonconforming_groups"] = int(obs.get["n_nonconforming"])

    if args.explain:
        cache = ExplanationCache(args.cache) if args.cache else ExplanationCache()
        ex = Explainer(spark, cache=cache)
        full = ex.explain_full(
            report, shapes, df=df, languages=args.languages.split(",")
        )
        full.write.mode("overwrite").parquet(f"{args.output}/explained")
        summary["explained_path"] = f"{args.output}/explained"

    print(json.dumps(summary, sort_keys=True))
    return 0 if summary["conforms"] else 3


if __name__ == "__main__":
    sys.exit(main())

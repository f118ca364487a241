"""Structured Streaming path + runner CLI end-to-end tests."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.datagen import roles_dim, tools_dim, transcripts
from xpshacl_spark.shapes import Shape, Unique
from xpshacl_spark.streaming import validate_stream
from xpshacl_spark.suites import transcript_shapes


def _stream_from_parquet(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_to_memory(sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


def test_stream_row_and_fk_checks_match_batch(spark, tmp_path):
    """The streaming violations relation must equal the batch engine's
    on the same input — same fused row-scan compilation, same
    stream-static broadcast anti-joins."""
    p = str(tmp_path / "t.parquet")
    transcripts(spark, n_convs=120).write.parquet(p)
    dims = {"roles": roles_dim(spark), "tools": tools_dim(spark)}
    shapes = [
        s for s in transcript_shapes()
        if s.row_constraints() or s.join_constraints()
    ]

    sdf = _stream_from_parquet(spark, p)
    streamed = _run_to_memory(
        validate_stream(sdf, shapes, ["conv_id", "turn_idx"], dims=dims),
        "stream_viol",
    )
    batch = ValidationEngine(spark, dims=dims).validate(
        spark.read.parquet(p), shapes, key_cols=["conv_id", "turn_idx"]
    )
    a = sorted(map(repr, streamed.collect()))
    b = sorted(map(repr, batch.violations.collect()))
    assert a == b and len(a) > 0


def test_stream_rejects_non_streamable(spark, tmp_path):
    p = str(tmp_path / "t2.parquet")
    transcripts(spark, n_convs=10).write.parquet(p)
    sdf = _stream_from_parquet(spark, p)
    with pytest.raises(ValueError, match="not streamable"):
        validate_stream(
            sdf, [Shape("u", (Unique(("conv_id", "turn_idx")),))],
            ["conv_id", "turn_idx"],
        )


def test_runner_cli_end_to_end(spark, tmp_path):
    """runner.main: validate -> checkpointed output -> JSON summary;
    then report-replay mode over the persisted violations."""
    from xpshacl_spark import runner

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    transcripts(spark, n_convs=60).write.parquet(inp)

    rc = runner.main(["--input", inp, "--output", out, "--explain"])
    assert rc == 3  # violations found
    assert os.path.isdir(f"{out}/violations") and os.path.isdir(f"{out}/manifest")
    manifests = os.listdir(f"{out}/manifest")
    from xpshacl_spark.suites import transcript_shapes

    assert len(manifests) == len(transcript_shapes())  # one per shape
    rec = json.load(open(f"{out}/manifest/{manifests[0]}"))
    assert rec["status"] == "completed" and "input_files" in rec
    assert os.path.isdir(f"{out}/explained")

    # replay: explanation stages over existing violations, no input scan
    out2 = str(tmp_path / "out2")
    rc2 = runner.main(["--replay", out, "--output", out2])
    assert rc2 == 3


def test_runner_cli_conformance_by(spark, tmp_path):
    """--conformance-by writes the per-group pass/fail relation and
    reports the nonconforming-group count; clean groups appear with
    conforms=true, and the total row count is the full conv universe."""
    from xpshacl_spark import runner

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    transcripts(spark, n_convs=60).write.parquet(inp)

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = runner.main(
            ["--input", inp, "--output", out, "--conformance-by", "conv_id"]
        )
    assert rc == 3
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    conf = spark.read.parquet(f"{out}/conformance")
    assert conf.count() == 60  # every conversation present
    n_bad = conf.where("NOT conforms").count()
    assert 0 < n_bad < 60
    assert summary["n_nonconforming_groups"] == n_bad
    # per-group violation totals (keyed rows only) reconcile with the
    # dataset-scope-free violation relation
    v = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out}/violations"
    )
    assert (
        conf.agg({"n_violations": "sum"}).first()[0]
        == v.where("conv_id IS NOT NULL").count()
    )


def test_runner_conformance_count_from_observation(spark, tmp_path):
    """The failing-group count rides the conformance write as an
    Observation. The summary and the written conformance relation equal
    what a separate recount over the published violations gives."""
    import io
    from contextlib import redirect_stdout

    from xpshacl_spark import runner
    from xpshacl_spark.checkpoint import CheckpointedRunner

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    transcripts(spark, n_convs=50, seed=3).write.parquet(inp)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = runner.main(
            ["--input", inp, "--output", out, "--conformance-by", "conv_id",
             "--explain"]
        )
    assert rc == 3
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])

    df = spark.read.parquet(inp)
    engine = ValidationEngine(
        spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
    )
    report = CheckpointedRunner(engine, out).report(["conv_id", "turn_idx"])
    counts = report.counts().collect()
    want_conf = report.conformance_by_group(df, ["conv_id"])
    assert summary == {
        "conforms": False,
        "n_violations": sum(r["n_violations"] for r in counts),
        "by_shape": {
            f"{r['shape_id']}#{r['constraint_component']}": r["n_violations"]
            for r in counts
        },
        "wall_sec": summary["wall_sec"],
        "conformance_path": f"{out}/conformance",
        "n_nonconforming_groups": want_conf.where("NOT conforms").count(),
        "explained_path": f"{out}/explained",
    }
    conf = spark.read.parquet(f"{out}/conformance")
    assert conf.dtypes == want_conf.dtypes  # parquet reads back all-nullable
    assert sorted(conf.collect()) == sorted(want_conf.collect())


def _stream_one_file_per_batch(spark, path):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_streaming_dedup_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState exact dedup: the first occurrence passes,
    repeats are dropped (or emitted with n_prior) even when they arrive
    in LATER micro-batches — per-fingerprint state carries across."""
    from xpshacl_spark.streaming import streaming_dedup

    p = str(tmp_path / "sd")
    rows1 = [(0, "The quick brown fox"), (1, "unique one")]
    rows2 = [(2, "the QUICK brown fox!!"), (3, "unique two"), (4, "unique one")]
    schema = "doc_id long, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(p)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(p)

    kept = _run_to_memory(
        streaming_dedup(_stream_one_file_per_batch(spark, p), ["doc_id"], "text"),
        "sd_kept",
    ).collect()
    # 0 and 2 share a fingerprint; 1 and 4 share a fingerprint
    assert sorted(r.doc_id for r in kept) == [0, 1, 3]
    assert all(r.n_prior == 0 for r in kept)

    dups = _run_to_memory(
        streaming_dedup(
            _stream_one_file_per_batch(spark, p), ["doc_id"], "text",
            emit_duplicates=True,
        ),
        "sd_dups",
    ).collect()
    assert sorted((r.doc_id, r.n_prior) for r in dups) == [(2, 1), (4, 1)]


def test_spark_submit_py_files_end_to_end(spark, tmp_path):
    """North-rule launch mode: the package shipped as a zip via
    `spark-submit --py-files xpshacl_spark.zip runner.py ...` in a fresh
    JVM/driver, end to end (validate -> checkpointed violations +
    manifest), exit code 3 = violations found."""
    import subprocess
    import zipfile

    import pyspark

    from xpshacl_spark.datagen import transcripts

    repo = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    pkg = os.path.join(repo, "xpshacl_spark")
    zpath = str(tmp_path / "xpshacl_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    transcripts(spark, n_convs=40).write.parquet(inp)

    submit = os.path.join(pyspark.__path__[0], "bin", "spark-submit")
    proc = subprocess.run(
        [
            submit,
            "--master", "local[2]",
            "--py-files", zpath,
            os.path.join(pkg, "runner.py"),
            "--input", inp,
            "--output", out,
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),  # away from the repo: the zip must supply the pkg
    )
    assert proc.returncode == 3, proc.stderr[-3000:]
    assert os.path.isdir(f"{out}/violations") and os.path.isdir(f"{out}/manifest")


def test_runner_cli_ttl_data_and_shapes(spark, tmp_path):
    """The reference CLI's exact entry shape — Turtle data + Turtle
    shapes — through our runner: the README worked example's violation
    counts come out of the JSON summary."""
    from test_shapes_ttl import example_file

    from xpshacl_spark import runner

    out = str(tmp_path / "ttl_out")
    rc = runner.main(
        [
            "--input", example_file("example_data.ttl"),
            "--shapes", example_file("example_shapes.ttl"),
            "--output", out,
        ]
    )
    assert rc == 3  # violations found
    v = spark.read.option("recursiveFileLookup", "true").parquet(
        f"{out}/violations"
    )
    assert v.count() == 4
    got = {
        (r["id"], r["constraint_component"]) for r in v.collect()
    }
    assert ("resource1", "MinInclusiveConstraintComponent") in got


def test_runner_cli_csv_and_jsonl_inputs(spark, tmp_path):
    """The runner accepts CSV and JSON-lines inputs (header+inferSchema
    for CSV), so shape suites run against raw exports without a
    parquet conversion step."""
    from xpshacl_spark import runner
    from xpshacl_spark.shapes import MinInclusive, Shape
    from xpshacl_spark.shapes_io import save_shapes

    shp = str(tmp_path / "s.json")
    save_shapes(shp, [Shape("score_ok", (MinInclusive("score", 0),))])

    csvp = str(tmp_path / "in.csv")
    with open(csvp, "w") as f:
        f.write("id,score\n1,5\n2,-3\n3,7\n")
    out1 = str(tmp_path / "o1")
    rc = runner.main(
        ["--input", csvp, "--shapes", shp, "--key-cols", "id", "--output", out1]
    )
    assert rc == 3
    v = spark.read.option("recursiveFileLookup", "true").parquet(f"{out1}/violations")
    assert [r.id for r in v.collect()] == [2]

    jsp = str(tmp_path / "in.jsonl")
    with open(jsp, "w") as f:
        f.write('{"id": 1, "score": 5}\n{"id": 2, "score": -9}\n')
    out2 = str(tmp_path / "o2")
    rc = runner.main(
        ["--input", jsp, "--shapes", shp, "--key-cols", "id", "--output", out2]
    )
    assert rc == 3
    v2 = spark.read.option("recursiveFileLookup", "true").parquet(f"{out2}/violations")
    assert [r.id for r in v2.collect()] == [2]


def test_runner_input_report_mode(spark, tmp_path, capsys):
    """--input-report: a third-party SHACL report TTL replays through
    the summary + explanation stages without validation (reference
    main.py --input_report mode)."""
    import json

    from xpshacl_spark import runner

    report_ttl = """
    @prefix sh: <http://www.w3.org/ns/shacl#> .
    @prefix ex: <http://example.org/> .
    [] a sh:ValidationReport ; sh:conforms false ;
        sh:result [
            a sh:ValidationResult ;
            sh:focusNode ex:n1 ;
            sh:resultPath ex:age ;
            sh:value "-3" ;
            sh:resultSeverity sh:Violation ;
            sh:sourceConstraintComponent sh:MinInclusiveConstraintComponent ;
            sh:sourceShape ex:AgeShape ;
        ] .
    """
    rp = tmp_path / "report.ttl"
    rp.write_text(report_ttl)
    out = str(tmp_path / "out")
    rc = runner.main(["--input-report", str(rp), "--output", out, "--explain"])
    assert rc == 3  # violations present
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_violations"] == 1
    assert not summary["conforms"]
    expl = spark.read.parquet(f"{out}/explained")
    row = expl.first()
    assert row.constraint_component == "MinInclusiveConstraintComponent"
    assert row.natural_language_explanation


def test_runner_orc_input(spark, tmp_path, capsys):
    """ORC inputs validate identically to parquet (built-in Spark ORC
    source; columnar pushdown applies the same way)."""
    import json

    from xpshacl_spark import runner

    inp = str(tmp_path / "in.orc")
    transcripts(spark, n_convs=30).write.orc(inp)
    out = str(tmp_path / "o")
    rc = runner.main(["--input", inp, "--output", out])
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc in (0, 3)
    assert "n_violations" in s


def test_runner_expect_schema_gate(spark, tmp_path, capsys):
    """--expect-schema: metadata-only gate BEFORE shapes — a conforming
    spec proceeds to normal validation (exit 3 on violations), a
    deviating spec prints schema_issues and exits 4 without running any
    shape."""
    from xpshacl_spark import runner

    inp = str(tmp_path / "in.parquet")
    transcripts(spark, n_convs=20).write.parquet(inp)
    actual = {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(inp).schema.fields
    }

    ok_spec = str(tmp_path / "ok.json")
    with open(ok_spec, "w") as f:
        json.dump(
            [{"name": n, "dtype": t} for n, t in actual.items()], f
        )
    out = str(tmp_path / "out_ok")
    rc = runner.main(
        ["--input", inp, "--output", out, "--expect-schema", ok_spec]
    )
    capsys.readouterr()
    assert rc == 3  # schema passed; shapes ran and found violations
    assert os.path.isdir(f"{out}/violations")

    bad_spec = str(tmp_path / "bad.json")
    with open(bad_spec, "w") as f:
        json.dump(
            {
                "columns": [
                    {"name": "conv_id", "dtype": "int"},   # actually string
                    {"name": "missing_col", "dtype": "string"},
                ],
                "allow_extra": True,
            },
            f,
        )
    out2 = str(tmp_path / "out_bad")
    rc2 = runner.main(
        ["--input", inp, "--output", out2, "--expect-schema", bad_spec]
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc2 == 4
    assert summary["conforms"] is False
    issues = {(i["column"], i["issue"]) for i in summary["schema_issues"]}
    assert issues == {
        ("conv_id", "type_mismatch"),
        ("missing_col", "missing_column"),
    }
    # gate-rejected run leaves NO output at all (not even the
    # checkpoint manifest — CheckpointedRunner is constructed lazily)
    assert not os.path.exists(out2)

    # malformed specs: clean CLI error (argparse exit 2) before the gate
    # — empty, case-insensitive duplicate, non-boolean required
    for bad in (
        {"columns": []},
        [{"name": "conv_id", "dtype": "string"},
         {"name": "CONV_ID", "dtype": "string"}],
        [{"name": "conv_id", "dtype": "string", "required": "false"}],
    ):
        bad_path = str(tmp_path / "malformed.json")
        with open(bad_path, "w") as f:
            json.dump(bad, f)
        with pytest.raises(SystemExit) as exc:
            runner.main(
                ["--input", inp, "--output", out2,
                 "--expect-schema", bad_path]
            )
        capsys.readouterr()
        assert exc.value.code == 2
        assert not os.path.exists(out2)

"""Checkpoint/resume invariants (north rule): kill after k shapes,
resume, identical final relation; manifest carries lineage + metrics.
Plus shapes JSON round-trip."""

import json
import os

import pytest

from xpshacl_spark.checkpoint import CheckpointedRunner
from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.datagen import roles_dim, tools_dim, transcripts
from xpshacl_spark.shapes_io import load_shapes, save_shapes, shapes_from_json, shapes_to_json
from xpshacl_spark.suites import transcript_shapes


@pytest.fixture(scope="module")
def tdf(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ckpt") / "t.parquet")
    transcripts(spark, n_convs=120, seed=11).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _engine(spark):
    return ValidationEngine(
        spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
    )


def _rows(report):
    return sorted(
        (tuple(str(x) for x in r) for r in report.violations.drop("context").collect()),
    )


def test_kill_and_resume_identical(spark, tdf, tmp_path):
    shapes = transcript_shapes()
    keys = ["conv_id", "turn_idx"]

    # uninterrupted reference run
    full_dir = str(tmp_path / "full")
    ref = CheckpointedRunner(_engine(spark), full_dir).run(tdf, shapes, keys)
    ref_rows = _rows(ref)
    assert len(ref_rows) > 0

    # interrupted run: fail after 2 shapes, then resume
    part_dir = str(tmp_path / "partial")
    runner = CheckpointedRunner(_engine(spark), part_dir)
    with pytest.raises(RuntimeError, match="simulated failure"):
        runner.run(tdf, shapes, keys, fail_after=2)
    assert len(runner.completed()) == 2

    resumed = CheckpointedRunner(_engine(spark), part_dir).run(tdf, shapes, keys)
    assert _rows(resumed) == ref_rows


def test_resume_skips_completed(spark, tdf, tmp_path):
    shapes = transcript_shapes()[:3]
    keys = ["conv_id", "turn_idx"]
    out = str(tmp_path / "skip")
    r1 = CheckpointedRunner(_engine(spark), out)
    r1.run(tdf, shapes, keys)
    done = r1.completed()
    stamps = {k: v["finished_unix"] for k, v in done.items()}
    # second run must not recompute anything
    r2 = CheckpointedRunner(_engine(spark), out)
    r2.run(tdf, shapes, keys)
    stamps2 = {k: v["finished_unix"] for k, v in r2.completed().items()}
    assert stamps == stamps2


def test_manifest_lineage_and_metrics(spark, tdf, tmp_path):
    shapes = transcript_shapes()[:1]
    out = str(tmp_path / "lineage")
    runner = CheckpointedRunner(_engine(spark), out)
    runner.run(tdf, shapes, ["conv_id", "turn_idx"])
    rec = list(runner.completed().values())[0]
    assert rec["status"] == "completed"
    assert rec["n_violations"] > 0
    assert rec["n_input_partitions"] > 0
    assert any(f.endswith(".parquet") or "part-" in f for f in rec["input_files"])
    assert rec["wall_sec"] > 0
    assert os.path.isdir(rec["output_path"])


def test_shapes_json_roundtrip(tmp_path):
    shapes = transcript_shapes()
    text = shapes_to_json(shapes)
    back = shapes_from_json(text)
    assert back == shapes
    p = str(tmp_path / "shapes.json")
    save_shapes(p, shapes)
    assert load_shapes(p) == shapes
    # sanity: the JSON mentions every constraint kind used
    doc = json.loads(text)
    kinds = {
        c["kind"] for s in doc["shapes"] for c in s["constraints"]
    }
    assert {"MinInclusive", "Pattern", "ForeignKey", "Unique", "Monotonic"} <= kinds


def test_incremental_delta_run(spark, tmp_path):
    """Append-only delta mode: after a full run, adding new input files
    re-validates ONLY those files, and the assembled relation equals a
    from-scratch validation of the whole table."""
    from xpshacl_spark.checkpoint import CheckpointedRunner
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.datagen import transcripts
    from xpshacl_spark.shapes import MinInclusive, NotNull, Shape

    inp = str(tmp_path / "inc.parquet")
    a = transcripts(spark, n_convs=40, seed=1)
    a.coalesce(1).write.mode("append").parquet(inp)

    shapes = [Shape("inc_row", (MinInclusive("turn_idx", 0), NotNull("text")))]
    keys = ["conv_id", "turn_idx"]
    out = str(tmp_path / "out")
    eng = ValidationEngine(spark)
    CheckpointedRunner(eng, out).run(spark.read.parquet(inp), shapes, keys)
    n_before = json.load(
        open(f"{out}/manifest/inc_row.json")
    )["n_violations"]

    # append a second batch of files (different seed => new conv block)
    transcripts(spark, n_convs=25, seed=2).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    runner2 = CheckpointedRunner(ValidationEngine(spark), out)
    rep = runner2.run_incremental(inp, shapes, keys)
    rec = json.load(open(f"{out}/manifest/inc_row.json"))
    assert rec["deltas"] and rec["deltas"][0]["n_files"] == 1  # only the new file
    assert rec["n_violations"] >= n_before

    full = ValidationEngine(spark).validate(
        spark.read.parquet(inp), shapes, key_cols=keys
    )
    assert sorted(map(repr, rep.violations.collect())) == sorted(
        map(repr, full.violations.collect())
    )

    # idempotence: nothing new -> no further deltas, same relation
    rep2 = runner2.run_incremental(inp, shapes, keys)
    assert rep2.violations.count() == rep.violations.count()
    assert len(json.load(open(f"{out}/manifest/inc_row.json"))["deltas"]) == 1


def test_incremental_orphan_delta_pruned(spark, tmp_path):
    """A delta directory written by a run killed BEFORE its manifest
    publish must not double-count its files: the next incremental run
    prunes unrecorded delta_* dirs, and the assembled relation equals a
    from-scratch validation (ADVICE r01: retry delta re-covers the
    orphan's files when more files landed in between)."""
    import shutil

    from xpshacl_spark.shapes import MinInclusive, NotNull, Shape

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    shapes = [Shape("inc_row", (MinInclusive("turn_idx", 0), NotNull("text")))]
    keys = ["conv_id", "turn_idx"]

    transcripts(spark, n_convs=30, seed=1).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    runner = CheckpointedRunner(ValidationEngine(spark), out)
    runner.run(spark.read.parquet(inp), shapes, keys)

    # batch B lands; simulate the crash: its delta is on disk but the
    # manifest never learned about it (clone a real delta to an
    # unrecorded id, as if the recorded one were the later retry)
    transcripts(spark, n_convs=20, seed=2).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    runner.run_incremental(inp, shapes, keys)
    bucket = f"{out}/violations/shape_bucket=inc_row"
    recorded = [d for d in os.listdir(bucket) if d.startswith("delta_")]
    assert len(recorded) == 1
    orphan = os.path.join(bucket, "delta_deadbeefcafe")
    shutil.copytree(os.path.join(bucket, recorded[0]), orphan)
    wall_after_first = json.load(open(f"{out}/manifest/inc_row.json"))["wall_sec"]

    # batch C lands; the next incremental run must prune the orphan
    transcripts(spark, n_convs=10, seed=3).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    rep = runner.run_incremental(inp, shapes, keys)
    assert not os.path.exists(orphan)

    full = ValidationEngine(spark).validate(
        spark.read.parquet(inp), shapes, key_cols=keys
    )
    assert sorted(map(repr, rep.violations.collect())) == sorted(
        map(repr, full.violations.collect())
    )
    # wall_sec accumulates across deltas instead of being overwritten
    rec = json.load(open(f"{out}/manifest/inc_row.json"))
    assert rec["wall_sec"] > wall_after_first
    assert len(rec["deltas"]) == 2


def test_incremental_keeps_partition_columns(spark, tmp_path):
    """Delta reads go through basePath so hive-style partition columns
    survive — a shape referencing the partition column must validate
    identically in incremental mode (ADVICE r01: leaf-file reads drop
    partition columns)."""
    from pyspark.sql import functions as F

    from xpshacl_spark.shapes import Pattern, Shape

    inp = str(tmp_path / "part.parquet")
    out = str(tmp_path / "out")
    # partition the layout by a derived column the shape will validate
    transcripts(spark, n_convs=30, seed=1).withColumn(
        "shard", F.concat(F.lit("s"), (F.crc32("conv_id") % 3).cast("string"))
    ).write.partitionBy("shard").mode("append").parquet(inp)

    shapes = [Shape("shard_fmt", (Pattern("shard", r"^s[01]$"),))]
    keys = ["conv_id", "turn_idx"]
    runner = CheckpointedRunner(ValidationEngine(spark), out)
    runner.run(spark.read.parquet(inp), shapes, keys)

    transcripts(spark, n_convs=20, seed=2).withColumn(
        "shard", F.concat(F.lit("t"), (F.crc32("conv_id") % 2).cast("string"))
    ).write.partitionBy("shard").mode("append").parquet(inp)
    rep = runner.run_incremental(inp, shapes, keys)

    full = ValidationEngine(spark).validate(
        spark.read.parquet(inp), shapes, key_cols=keys
    )
    assert full.violations.count() > 0
    assert sorted(map(repr, rep.violations.collect())) == sorted(
        map(repr, full.violations.collect())
    )


def test_incremental_rejects_group_shapes(spark, tmp_path):
    from xpshacl_spark.checkpoint import CheckpointedRunner
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.datagen import transcripts
    from xpshacl_spark.shapes import Shape, Unique

    inp = str(tmp_path / "g.parquet")
    transcripts(spark, n_convs=10).write.parquet(inp)
    r = CheckpointedRunner(ValidationEngine(spark), str(tmp_path / "o"))
    with pytest.raises(ValueError, match="delta-safe"):
        r.run_incremental(
            inp, [Shape("u", (Unique(("conv_id", "turn_idx")),))],
            ["conv_id", "turn_idx"],
        )


def test_runner_cli_incremental(spark, tmp_path):
    """runner.main --incremental end to end: second invocation after an
    append validates only the new files and exits with the same code
    semantics."""
    from xpshacl_spark import runner
    from xpshacl_spark.datagen import transcripts
    from xpshacl_spark.shapes_io import save_shapes
    from xpshacl_spark.shapes import MinInclusive, NotNull, Shape

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    shp = str(tmp_path / "shapes.json")
    save_shapes(shp, [Shape("r", (MinInclusive("turn_idx", 0), NotNull("text")))])

    transcripts(spark, n_convs=30, seed=1).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    rc = runner.main(
        ["--input", inp, "--output", out, "--shapes", shp, "--incremental"]
    )
    assert rc == 3
    transcripts(spark, n_convs=20, seed=2).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    rc2 = runner.main(
        ["--input", inp, "--output", out, "--shapes", shp, "--incremental"]
    )
    assert rc2 == 3
    rec = json.load(open(f"{out}/manifest/r.json"))
    assert len(rec["deltas"]) == 2 and rec["deltas"][-1]["n_files"] == 1


def test_token_collision_distinct_buckets():
    from xpshacl_spark.checkpoint import _token

    assert _token("a b") != _token("a/b")
    assert _token("plain_id-1.x") == "plain_id-1.x"  # safe ids unchanged


def test_run_raises_on_stale_lineage(spark, tmp_path):
    """Resuming against CHANGED input must not silently serve the old
    run's violations: same shape_id + different file lineage raises."""
    from xpshacl_spark.checkpoint import CheckpointedRunner
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes import MinInclusive, Shape

    p1, p2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    spark.createDataFrame([(1, -5)], "id long, v long").write.parquet(p1)
    spark.createDataFrame([(1, -5), (2, 3)], "id long, v long").write.parquet(p2)
    shape = Shape("s", (MinInclusive("v", 0),))
    runner = CheckpointedRunner(
        ValidationEngine(spark), str(tmp_path / "out"), run_id="r1"
    )
    runner.run(spark.read.parquet(p1), [shape], key_cols=["id"])
    import pytest as _pt

    with _pt.raises(ValueError, match="different input lineage"):
        runner.run(spark.read.parquet(p2), [shape], key_cols=["id"])
    # identical lineage still resumes (skip) cleanly
    rep = runner.run(spark.read.parquet(p1), [shape], key_cols=["id"])
    assert rep.violations.count() == 1


def test_incremental_refuses_unknown_lineage(spark, tmp_path):
    """A full run whose input had no file lineage (in-memory df) must
    not be silently re-covered by run_incremental (it would re-validate
    and double-count everything)."""
    from xpshacl_spark.checkpoint import CheckpointedRunner
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes import MinInclusive, Shape

    shape = Shape("s", (MinInclusive("v", 0),))
    runner = CheckpointedRunner(
        ValidationEngine(spark), str(tmp_path / "out2"), run_id="r1"
    )
    mem_df = spark.createDataFrame([(1, -5)], "id long, v long")
    runner.run(mem_df, [shape], key_cols=["id"])
    p = str(tmp_path / "in3")
    mem_df.write.parquet(p)
    import pytest as _pt

    with _pt.raises(ValueError, match="without input-file lineage"):
        runner.run_incremental(p, [shape], key_cols=["id"])


def test_legacy_token_checkpoint_resumes_in_place(spark, tmp_path):
    """A checkpoint written BEFORE _token gained its md5 suffix (unsafe
    shape_id stored under the plain sanitized token) must be extended in
    place on resume — not forked into a second manifest + bucket pair."""
    from xpshacl_spark.checkpoint import CheckpointedRunner, _sanitize, _token
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.shapes import MinInclusive, Shape

    sid = "range check v/1"  # needs sanitization -> md5-suffixed today
    assert _token(sid) != _sanitize(sid)
    p = str(tmp_path / "in")
    spark.createDataFrame([(1, -5), (2, 3)], "id long, v long").write.parquet(p)
    df = spark.read.parquet(p)
    shape = Shape(sid, (MinInclusive("v", 0),))
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(ValidationEngine(spark), out, run_id="r1")
    runner.run(df, [shape], key_cols=["id"])

    # rewrite the checkpoint to the legacy layout: plain-token manifest
    # + plain-token violations bucket, as the pre-suffix code wrote it
    legacy, new = _sanitize(sid), _token(sid)
    man_dir = os.path.join(out, "manifest")
    vio_dir = os.path.join(out, "violations")
    with open(os.path.join(man_dir, f"{new}.json")) as f:
        rec = json.load(f)
    rec["output_path"] = os.path.join(vio_dir, f"shape_bucket={legacy}")
    os.rename(
        os.path.join(vio_dir, f"shape_bucket={new}"), rec["output_path"]
    )
    os.remove(os.path.join(man_dir, f"{new}.json"))
    with open(os.path.join(man_dir, f"{legacy}.json"), "w") as f:
        json.dump(rec, f)

    resumed = CheckpointedRunner(ValidationEngine(spark), out, run_id="r2")
    # full-run resume skips via shape_id and reads the legacy bucket
    rep = resumed.run(df, [shape], key_cols=["id"])
    assert rep.violations.count() == 1
    # incremental delta extends the LEGACY manifest/bucket, no fork
    p2 = str(tmp_path / "in" )
    spark.createDataFrame([(9, -7)], "id long, v long").write.mode(
        "append"
    ).parquet(p2)
    rep2 = resumed.run_incremental(p2, [shape], key_cols=["id"])
    assert rep2.violations.count() == 2
    manifests = [f for f in os.listdir(man_dir) if f.endswith(".json")]
    assert manifests == [f"{legacy}.json"]
    assert not os.path.isdir(os.path.join(vio_dir, f"shape_bucket={new}"))


def test_completed_raises_on_duplicate_shape_id(spark, tmp_path):
    """Two manifests claiming one shape_id = two buckets, and report()
    would silently read only one — completed() must fail loudly."""
    from xpshacl_spark.checkpoint import CheckpointedRunner
    from xpshacl_spark.compiler import ValidationEngine

    out = str(tmp_path / "out")
    runner = CheckpointedRunner(ValidationEngine(spark), out, run_id="r1")
    for fn in ("a.json", "b.json"):
        with open(os.path.join(out, "manifest", fn), "w") as f:
            json.dump({"shape_id": "s", "output_path": "x"}, f)
    with pytest.raises(RuntimeError, match="duplicate checkpoint manifests"):
        runner.completed()


def test_hard_kill_resume_end_to_end(spark, tmp_path):
    """The north rule's resumability criterion, end to end over the
    full transcript suite with a REAL kill: a separate runner process
    is SIGKILLed mid-suite (after >= 3 of the shapes checkpoint), a
    second process resumes from the manifest, and the assembled
    violations relation is identical to an uninterrupted run's."""
    import signal
    import subprocess
    import sys
    import time as _time

    repo = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    inp = str(tmp_path / "in.parquet")
    transcripts(spark, n_convs=150, seed=23).write.parquet(inp)
    killed_out = str(tmp_path / "killed")
    clean_out = str(tmp_path / "clean")
    env = dict(os.environ, PYTHONPATH=repo)

    def _launch(out_dir):
        return subprocess.Popen(
            [
                sys.executable, "-m", "xpshacl_spark.runner",
                "--input", inp, "--output", out_dir, "--master", "local[4]",
            ],
            cwd=repo, env=env, start_new_session=True,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )

    # run 1: SIGKILL the whole process group once >= 3 shapes checkpoint
    proc = _launch(killed_out)
    man = os.path.join(killed_out, "manifest")
    deadline = _time.monotonic() + 420
    try:
        while _time.monotonic() < deadline:
            # count only PUBLISHED manifests (.json): an in-flight
            # .json.tmp would otherwise trip the kill one shape early
            n = len(
                [f for f in os.listdir(man) if f.endswith(".json")]
                if os.path.isdir(man)
                else []
            )
            if n >= 3:
                os.killpg(proc.pid, signal.SIGKILL)
                break
            if proc.poll() is not None:
                raise AssertionError(
                    "runner finished before the kill could land — "
                    "input too small for this e2e"
                )
            _time.sleep(0.2)
        else:
            raise AssertionError("runner never checkpointed 3 shapes")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    n_killed = len([f for f in os.listdir(man) if f.endswith(".json")])
    assert 3 <= n_killed < 11, n_killed  # died mid-suite, not at the end

    # run 2: resume in a fresh process; must complete cleanly
    proc2 = _launch(killed_out)
    out2, _ = proc2.communicate(timeout=600)
    # exit 3 = completed, violations found (expected on this data)
    assert proc2.returncode in (0, 3), out2
    resumed_summary = json.loads(out2.strip().splitlines()[-1])

    # reference: one uninterrupted run in another fresh process
    proc3 = _launch(clean_out)
    out3, _ = proc3.communicate(timeout=600)
    assert proc3.returncode == proc2.returncode, out3
    clean_summary = json.loads(out3.strip().splitlines()[-1])

    assert resumed_summary["by_shape"] == clean_summary["by_shape"]
    assert resumed_summary["n_violations"] == clean_summary["n_violations"]

    def _all_rows(out_dir):
        df = spark.read.option("recursiveFileLookup", "true").parquet(
            os.path.join(out_dir, "violations")
        ).drop("context")
        return sorted(tuple(str(x) for x in r) for r in df.collect())

    assert _all_rows(killed_out) == _all_rows(clean_out)


def _pending_buckets(runner, shapes):
    done = runner.completed()
    return [
        runner._bucket(runner._resolve_token(s.shape_id))
        for s in shapes
        if s.shape_id not in done
    ]


class _FailingWriteEngine(ValidationEngine):
    """Its violations relation raises inside the write's tasks when a
    row of `fail_shape` reaches it — a failure before the job commits."""

    def __init__(self, spark, fail_shape, **kw):
        super().__init__(spark, **kw)
        self.fail_shape = fail_shape

    def validate(self, df, shapes, key_cols, **kw):
        from pyspark.sql import functions as F

        rep = super().validate(df, shapes, key_cols, **kw)
        rep.violations = rep.violations.where(
            F.when(
                F.col("shape_id") == self.fail_shape,
                F.raise_error(F.lit("injected write failure")),
            ).otherwise(F.lit(True))
        )
        return rep


def test_kill_inside_fused_write_resumes_identical(spark, tdf, tmp_path):
    """Kill point (a): the fused write fails before its job commits —
    no manifest of that pass is published, and the resume equals an
    uninterrupted run."""
    shapes = transcript_shapes()
    keys = ["conv_id", "turn_idx"]
    ref_rows = _rows(
        CheckpointedRunner(_engine(spark), str(tmp_path / "full")).run(tdf, shapes, keys)
    )

    out = str(tmp_path / "partial")
    with pytest.raises(RuntimeError, match="simulated failure"):
        CheckpointedRunner(_engine(spark), out).run(tdf, shapes, keys, fail_after=2)
    failing = _FailingWriteEngine(
        spark,
        "http://xpshacl.org/spark#TurnSeqShape",  # pending, has violations
        dims={"roles": roles_dim(spark), "tools": tools_dim(spark)},
    )
    runner = CheckpointedRunner(failing, out)
    with pytest.raises(Exception, match="injected write failure"):
        runner.run(tdf, shapes, keys)
    assert len(runner.completed()) == 2

    resumed = CheckpointedRunner(_engine(spark), out).run(tdf, shapes, keys)
    assert _rows(resumed) == ref_rows
    assert len(runner.completed()) == len(shapes)


def test_kill_after_write_before_publish_resumes_identical(spark, tdf, tmp_path):
    """Kill point (b): the write committed every bucket but no manifest
    was published — all shapes re-run and their buckets are replaced."""
    shapes = transcript_shapes()
    keys = ["conv_id", "turn_idx"]
    ref_rows = _rows(
        CheckpointedRunner(_engine(spark), str(tmp_path / "full")).run(tdf, shapes, keys)
    )

    out = str(tmp_path / "partial")
    runner = CheckpointedRunner(_engine(spark), out)
    with pytest.raises(RuntimeError, match="simulated failure after 0"):
        runner.run(tdf, shapes, keys, fail_after=0)
    assert runner.completed() == {}
    assert all(os.path.isdir(b) for b in _pending_buckets(runner, shapes))

    resumed = CheckpointedRunner(_engine(spark), out).run(tdf, shapes, keys)
    assert _rows(resumed) == ref_rows


def test_stale_rows_in_pending_bucket_do_not_survive(spark, tdf, tmp_path):
    """Kill point (d): rows a killed run left in a pending shape's
    bucket — including a shape that has no violations, which the
    partitioned write gives no partition to replace — are gone after
    the resume."""
    import glob
    import shutil

    shapes = transcript_shapes()
    keys = ["conv_id", "turn_idx"]
    full = CheckpointedRunner(_engine(spark), str(tmp_path / "full"))
    ref_rows = _rows(full.run(tdf, shapes, keys))
    counts = {sid: rec["n_violations"] for sid, rec in full.completed().items()}
    assert 0 in counts.values()  # the suite has a conforming shape here

    out = str(tmp_path / "partial")
    runner = CheckpointedRunner(_engine(spark), out)
    with pytest.raises(RuntimeError, match="simulated failure"):
        runner.run(tdf, shapes, keys, fail_after=2)
    stale = glob.glob(
        os.path.join(list(runner.completed().values())[0]["output_path"], "*.parquet")
    )
    assert stale
    pending = _pending_buckets(runner, shapes)
    for bucket in pending:
        os.makedirs(bucket, exist_ok=True)
        shutil.copy(stale[0], os.path.join(bucket, "part-stale.parquet"))

    resumed = CheckpointedRunner(_engine(spark), out).run(tdf, shapes, keys)
    assert _rows(resumed) == ref_rows
    for bucket in pending:
        assert not os.path.exists(os.path.join(bucket, "part-stale.parquet"))


def test_fused_run_job_count_and_exact_counts(spark, tdf, tmp_path):
    """The whole suite checkpoints in one compile and one write: at most
    8 Spark jobs, and each manifest's n_violations (observed on the
    write, never read back) equals the rows in its bucket."""
    from pyspark.sql import types as T

    sc = spark.sparkContext
    group = f"ckpt-jobs-{tmp_path.name}"
    runner = CheckpointedRunner(_engine(spark), str(tmp_path / "out"))
    sc.setJobGroup(group, "fused checkpoint run")
    try:
        runner.run(tdf, transcript_shapes(), ["conv_id", "turn_idx"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8

    done = runner.completed()
    assert len(done) == len(transcript_shapes())
    for rec in done.values():
        schema = T.StructType.fromJson(json.loads(rec["schema"]))
        n = spark.read.schema(schema).parquet(rec["output_path"]).count()
        assert rec["n_violations"] == n


def test_all_shapes_conform(spark, tmp_path):
    """A suite where every shape conforms: the write produces no
    partition at all, yet every shape gets an empty bucket and a
    manifest, and report() / a resume / --replay read an empty relation
    with the recorded schema."""
    from xpshacl_spark import runner as cli
    from xpshacl_spark.shapes import MinInclusive, NotNull, Shape

    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(1, 5, "a"), (2, 7, "b")], "id long, v long, s string"
    ).write.parquet(inp)
    shapes = [
        Shape("pos", (MinInclusive("v", 0),)),
        Shape("present", (NotNull("s"),)),
    ]
    out = str(tmp_path / "out")
    runner = CheckpointedRunner(ValidationEngine(spark), out)
    rep = runner.run(spark.read.parquet(inp), shapes, ["id"])
    assert rep.violations.count() == 0
    compiled = ValidationEngine(spark).validate(
        spark.read.parquet(inp), shapes, ["id"]
    ).violations
    assert [(f.name, f.dataType) for f in rep.violations.schema] == [
        (f.name, f.dataType) for f in compiled.schema
    ]
    done = runner.completed()
    assert sorted(done) == ["pos", "present"]
    for rec in done.values():
        assert rec["n_violations"] == 0
        assert os.listdir(rec["output_path"]) == []

    again = CheckpointedRunner(ValidationEngine(spark), out)
    assert again.run(spark.read.parquet(inp), shapes, ["id"]).violations.count() == 0
    assert again.completed() == done

    rc = cli.main(
        ["--replay", out, "--output", str(tmp_path / "replayed"), "--key-cols", "id"]
    )
    assert rc == 0


def test_report_infers_schema_for_manifests_without_one(spark, tdf, tmp_path):
    """Manifests published before the schema was recorded still read:
    report() falls back to inferring it from the bucket files."""
    shapes = transcript_shapes()[:2]
    keys = ["conv_id", "turn_idx"]
    runner = CheckpointedRunner(_engine(spark), str(tmp_path / "out"))
    ref_rows = _rows(runner.run(tdf, shapes, keys))
    assert all(rec["n_violations"] > 0 for rec in runner.completed().values())
    for fn in os.listdir(runner.manifest_dir):
        path = os.path.join(runner.manifest_dir, fn)
        with open(path) as f:
            rec = json.load(f)
        del rec["schema"]
        with open(path, "w") as f:
            json.dump(rec, f)
    assert _rows(runner.report(keys)) == ref_rows


def test_incremental_groups_shapes_into_one_write(spark, tmp_path):
    """Shapes sharing a new-file set ride one validate and one write;
    each still lands in its own delta_<id> subdirectory (a conforming
    one as an empty directory), and the relation equals a full run's."""
    from xpshacl_spark.shapes import MaxLength, MinInclusive, NotNull, Shape

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    shapes = [
        Shape("row", (MinInclusive("turn_idx", 0), NotNull("text"))),
        Shape("len", (MaxLength("text", 10**6),)),  # conforms
    ]
    keys = ["conv_id", "turn_idx"]
    transcripts(spark, n_convs=30, seed=1).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    runner = CheckpointedRunner(ValidationEngine(spark), out)
    runner.run(spark.read.parquet(inp), shapes, keys)
    transcripts(spark, n_convs=20, seed=2).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    sc = spark.sparkContext
    group = f"ckpt-inc-{tmp_path.name}"
    sc.setJobGroup(group, "incremental checkpoint run")
    try:
        rep = runner.run_incremental(inp, shapes, keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # two footer reads of the input plus ONE write; a per-shape loop
    # would run a write and a read-back count for each shape
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    done = runner.completed()
    ids = {rec["deltas"][0]["delta_id"] for rec in done.values()}
    assert len(ids) == 1
    delta = f"delta_{ids.pop()}"
    assert os.path.isdir(os.path.join(done["row"]["output_path"], delta))
    assert os.listdir(os.path.join(done["len"]["output_path"], delta)) == []
    assert done["len"]["n_violations"] == 0
    assert not os.path.exists(os.path.join(out, "_staging"))
    full = ValidationEngine(spark).validate(
        spark.read.parquet(inp), shapes, key_cols=keys
    )
    assert sorted(map(repr, rep.violations.collect())) == sorted(
        map(repr, full.violations.collect())
    )
    assert n_jobs <= 3, n_jobs


# -- the summary a checkpoint write records --------------------------------


def _jobs(spark, group, action):
    """Run `action` in its own job group; its result and the number of
    jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _grouped_counts(report):
    """counts() as the groupBy over the violations gives it."""
    from pyspark.sql import functions as F

    return sorted(
        tuple(r)
        for r in report.violations.groupBy(
            "shape_id", "constraint_component", "violation_type"
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .collect()
    )


def _assert_counts_from_summary(spark, report, group):
    assert report.summary is not None
    rows, n_jobs = _jobs(spark, group, report.counts().collect)
    assert n_jobs == 0
    assert [tuple(r) for r in rows] == _grouped_counts(report)
    assert [(f.name, f.dataType) for f in report.counts().schema] == [
        (f.name, f.dataType)
        for f in report.violations.groupBy(
            "shape_id", "constraint_component", "violation_type"
        )
        .count()
        .withColumnRenamed("count", "n_violations")
        .schema
    ]


def test_counts_from_summary_after_run_and_resume(spark, tdf, tmp_path):
    """A checkpointed report's counts() is built from what the write
    observed: no job, the same rows as the groupBy over the
    violations, after a full run and after a resume that reads the
    manifests of two runs."""
    shapes = transcript_shapes()
    keys = ["conv_id", "turn_idx"]
    full = CheckpointedRunner(_engine(spark), str(tmp_path / "full")).run(
        tdf, shapes, keys
    )
    _assert_counts_from_summary(spark, full, f"counts-full-{tmp_path.name}")

    out = str(tmp_path / "partial")
    with pytest.raises(RuntimeError, match="simulated failure"):
        CheckpointedRunner(_engine(spark), out).run(tdf, shapes, keys, fail_after=2)
    resumed = CheckpointedRunner(_engine(spark), out).run(tdf, shapes, keys)
    _assert_counts_from_summary(spark, resumed, f"counts-resumed-{tmp_path.name}")
    assert resumed.summary == full.summary


def test_counts_from_summary_after_two_deltas(spark, tmp_path):
    """run_incremental adds each delta's counts into the manifest's
    summary and keeps the least representative."""
    from xpshacl_spark.explain.pipeline import Explainer
    from xpshacl_spark.shapes import MinInclusive, NotNull, Shape

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    shapes = [Shape("inc_row", (MinInclusive("turn_idx", 0), NotNull("text")))]
    keys = ["conv_id", "turn_idx"]
    runner = CheckpointedRunner(ValidationEngine(spark), out)
    for seed, n_convs in ((1, 30), (2, 20), (3, 10)):
        transcripts(spark, n_convs=n_convs, seed=seed).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        rep = (
            runner.run(spark.read.parquet(inp), shapes, keys)
            if seed == 1
            else runner.run_incremental(inp, shapes, keys)
        )
    assert len(runner.completed()["inc_row"]["deltas"]) == 2
    _assert_counts_from_summary(spark, rep, f"counts-deltas-{tmp_path.name}")
    ex = Explainer(spark)
    fallback = ValidationEngine(spark).validate(
        spark.read.parquet(inp), shapes, key_cols=keys
    )
    assert sorted(ex.signature_rows(rep), key=lambda r: r["signature_id"]) == sorted(
        ex.signature_rows(fallback), key=lambda r: r["signature_id"]
    )


def test_manifest_without_summary_reads_the_violations(spark, tdf, tmp_path):
    """Manifests written before the summary existed still report and
    explain: counts() and the signature rows fall back to reading the
    violations, and give the same rows. A delta on such a manifest
    records no summary, because the earlier counts are unknown."""
    from xpshacl_spark.explain.pipeline import Explainer

    shapes = transcript_shapes()
    keys = ["conv_id", "turn_idx"]
    runner = CheckpointedRunner(_engine(spark), str(tmp_path / "out"))
    rep = runner.run(tdf, shapes, keys)
    counts = [tuple(r) for r in rep.counts().collect()]
    sigs = sorted(Explainer(spark).signature_rows(rep), key=lambda r: r["signature_id"])
    for fn in os.listdir(runner.manifest_dir):
        path = os.path.join(runner.manifest_dir, fn)
        with open(path) as f:
            rec = json.load(f)
        del rec["summary"]
        with open(path, "w") as f:
            json.dump(rec, f)

    legacy = runner.report(keys)
    assert legacy.summary is None
    assert sorted(tuple(r) for r in legacy.counts().collect()) == sorted(counts)
    assert (
        sorted(Explainer(spark).signature_rows(legacy), key=lambda r: r["signature_id"])
        == sigs
    )


class _OffKeyEngine(ValidationEngine):
    """Relabels one component's rows, as a part that emits a key no
    constraint declares would."""

    def validate(self, df, shapes, key_cols, **kw):
        from pyspark.sql import functions as F

        rep = super().validate(df, shapes, key_cols, **kw)
        comp = F.col("constraint_component")
        rep.violations = rep.violations.withColumn(
            "constraint_component",
            F.when(comp == "MaxLengthConstraintComponent", F.lit("Undeclared"))
            .otherwise(comp),
        )
        return rep


def test_summary_not_recorded_when_keys_miss_rows(spark, tdf, tmp_path):
    """When the rows of the declared keys do not add up to all rows
    written, no manifest records a summary, and counts() reads the
    violations, so it still counts the undeclared key."""
    shapes = transcript_shapes()
    keys = ["conv_id", "turn_idx"]
    runner = CheckpointedRunner(
        _OffKeyEngine(spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}),
        str(tmp_path / "out"),
    )
    rep = runner.run(tdf, shapes, keys)
    assert all("summary" not in rec for rec in runner.completed().values())
    assert rep.summary is None
    counts = sorted(tuple(r) for r in rep.counts().collect())
    assert counts == _grouped_counts(rep)
    assert "Undeclared" in {r[1] for r in counts}

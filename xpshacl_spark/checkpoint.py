"""Checkpoint/resume for large validation runs (north-rule requirement).

The reference's report-replay mode (/root/reference/src/main.py:75-114)
is its only resume seam; the north rule asks for real checkpointing:
per-shape completion records with lineage + metrics, and resume that
skips completed work and reproduces the same violations relation.

Design: the unit of checkpointing is the SHAPE, the unit of work is ONE
fused write. A run compiles every pending (not yet checkpointed) shape
into one plan with one `validate`, and writes it once, partitioned by a
`shape_bucket` column, to `<out>/violations/shape_bucket=<token>/`.
Per-shape violation counts come from an Observation on that write, so
nothing is read back. Only after the write commits is each shape's
manifest entry `<out>/manifest/<token>.json` published, one atomic
rename at a time. A kill at any point leaves every shape either without
an entry (it is pending: the next run deletes its bucket and writes it
again) or with a complete entry (it is skipped). Per-entry metrics
record input lineage (source files), partition count, violation count,
the violations schema and `wall_sec`, the wall time of the shared
compile-and-write the shape rode in.

The same Observation also gives each entry a `summary`: for every
(shape_id, constraint_component, violation_type, property_path) of the
shape with rows, their count and one representative violation (see
model.REPRESENTATIVE_ORDER). `report()` hands the summaries to the
report, so its `counts()` and the explainer's signatures need no job.
The keys come from the constraints; when their rows do not add up to
all rows written, no entry records a summary. Deltas add their counts
into it. Entries without one (written before it existed, or after such
a write) make `report()` read the violations instead.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid
from itertools import chain
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xpshacl_spark.compiler import ValidationEngine, ValidationReport
from xpshacl_spark.model import (
    REPRESENTATIVE_FIELDS,
    REPRESENTATIVE_ORDER,
    SUMMARY_KEY,
    merge_summary,
)
from xpshacl_spark.shapes import Shape
from xpshacl_spark.sqltext import quote_ident, string_literal


def _sanitize(shape_id: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.\-]+", "_", shape_id)


def _token(shape_id: str) -> str:
    """Filesystem-safe token, COLLISION-FREE across distinct shape_ids:
    when sanitization had to rewrite anything, an md5 suffix of the raw
    id disambiguates ('a b' and 'a/b' must not share one manifest file
    and clobber each other's violations bucket). Ids that are already
    safe keep their plain token (existing checkpoints stay valid).

    Checkpoints written BEFORE the md5 suffix existed used the plain
    sanitized token for unsafe ids too; `CheckpointedRunner._resolve_token`
    detects such a legacy manifest for the same shape_id and keeps using
    its token, so a resume extends the original manifest + violations
    bucket instead of forking a second pair under the new token."""
    safe = _sanitize(shape_id)
    if safe != shape_id:
        safe = f"{safe}_{hashlib.md5(shape_id.encode()).hexdigest()[:8]}"
    return safe


# the columns _write_buckets projects once per row for the summary
# aggregates, and drops again before the write
_KEY, _REP, _ORD = "__summary_key", "__summary_rep", "__summary_order"


def _summary_terms(keys: Sequence[tuple]) -> tuple[list, list]:
    """The columns and observed aggregates of a summary of `keys`
    (values of model.SUMMARY_KEY). The columns give each row the index
    of its key (NULL for none), its REPRESENTATIVE_FIELDS struct and its
    REPRESENTATIVE_ORDER struct, so a row's key is matched once, not in
    every aggregate. Per key j, `k<j>` counts its rows and `r<j>` is its
    least representative. Built as SQL text, one parse each."""

    def struct(fields):
        return "named_struct(" + ", ".join(f"'{f}', {quote_ident(f)}" for f in fields) + ")"

    hits = (
        " AND ".join(f"{quote_ident(f)} <=> {string_literal(v)}" for f, v in zip(SUMMARY_KEY, key))
        for key in keys
    )
    index = " ".join(f"WHEN {hit} THEN {j}" for j, hit in enumerate(hits))
    columns = [
        F.expr(f"CASE {index} END" if keys else "CAST(NULL AS INT)").alias(_KEY),
        F.expr(struct(REPRESENTATIVE_FIELDS)).alias(_REP),
        F.expr(struct(REPRESENTATIVE_ORDER)).alias(_ORD),
    ]
    terms = []
    for j in range(len(keys)):
        terms.append(F.expr(f"count_if({_KEY} = {j})").alias(f"k{j}"))
        terms.append(
            F.expr(f"min_by({_REP}, CASE WHEN {_KEY} = {j} THEN {_ORD} END)").alias(f"r{j}")
        )
    return columns, terms


class CheckpointedRunner:
    """Run a shape suite with per-shape checkpointing and resume."""

    def __init__(
        self,
        engine: ValidationEngine,
        output_dir: str,
        run_id: str = "run",
    ):
        self.engine = engine
        self.spark = engine.spark
        self.output_dir = output_dir
        self.run_id = run_id
        self.manifest_dir = os.path.join(output_dir, "manifest")
        self.violations_dir = os.path.join(output_dir, "violations")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------

    def completed(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        owner: dict[str, str] = {}
        for fn in sorted(os.listdir(self.manifest_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.manifest_dir, fn)) as f:
                    rec = json.load(f)
                sid = rec["shape_id"]
                if sid in out:
                    # one shape_id owning two manifests means two
                    # violations buckets exist and report() would read
                    # only one of them — fail loudly instead of letting
                    # listdir order pick a winner
                    raise RuntimeError(
                        f"duplicate checkpoint manifests for shape_id "
                        f"{sid!r}: {owner[sid]} and {fn}; delete the "
                        "stale one (and its violations bucket) or use a "
                        "fresh output_dir"
                    )
                out[sid] = rec
                owner[sid] = fn
        return out

    def _resolve_token(self, shape_id: str) -> str:
        """Canonical token for this shape_id, honoring a pre-existing
        legacy-token checkpoint (written before _token gained the md5
        suffix): if `<sanitized>.json` exists and records THIS shape_id,
        keep using that token so resume extends the original manifest +
        bucket instead of creating a duplicate pair under the new token."""
        token = _token(shape_id)
        legacy = _sanitize(shape_id)
        if legacy != token:
            legacy_manifest = os.path.join(self.manifest_dir, f"{legacy}.json")
            if os.path.exists(legacy_manifest):
                with open(legacy_manifest) as f:
                    rec = json.load(f)
                if rec.get("shape_id") == shape_id:
                    return legacy
        return token

    def _bucket(self, token: str) -> str:
        return os.path.join(self.violations_dir, f"shape_bucket={token}")

    def _prune_orphan_deltas(self, token: str, recorded: set[str]) -> None:
        """Delete delta_* subdirs of a shape bucket that the manifest
        does not record — leftovers of a run killed between the delta
        write and its manifest publish. Their files will be re-covered
        by the next delta; leaving them would double-count violations in
        report() (which reads the bucket recursively)."""
        bucket = self._bucket(token)
        if not os.path.isdir(bucket):
            return
        for fn in os.listdir(bucket):
            path = os.path.join(bucket, fn)
            if (
                fn.startswith("delta_")
                and os.path.isdir(path)
                and fn[len("delta_"):] not in recorded
            ):
                shutil.rmtree(path)

    def _write_manifest(self, rec: dict, token: Optional[str] = None) -> None:
        token = token if token is not None else self._resolve_token(rec["shape_id"])
        path = os.path.join(self.manifest_dir, f"{token}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=2, sort_keys=True)
        os.replace(tmp, path)  # atomic publish

    # -- the one write path ----------------------------------------------

    def _write_buckets(
        self,
        violations: DataFrame,
        shapes: Sequence[Shape],
        tokens: dict[str, str],
        dest: str,
        cluster: bool,
    ) -> tuple[dict[str, int], Optional[dict[str, list[dict]]]]:
        """Write `violations` once, partitioned as
        `<dest>/shape_bucket=<tokens[shape_id]>/`, and return what an
        Observation on that write saw (no read-back job): the row count
        of each shape, and each shape's summary entries (see
        `_summary_terms`), or None for the summaries when the rows of the
        shapes' keys do not add up to all rows written. `cluster` gathers
        each bucket's rows into as few files as their size allows, at
        the cost of one more job.

        Dynamic partition overwrite replaces only the buckets this write
        produces and stages its files under a per-job `.spark-staging-*`
        directory until the job commits, so a killed write never leaves
        task files inside a bucket. A shape without rows gets no
        partition from the writer; its bucket is created empty here so
        every shape has one."""
        sids = list(tokens)
        keys = list(
            dict.fromkeys(
                (s.shape_id, c.component(), c.violation_type(), c.property_path())
                for s in shapes
                for c in s.constraints
            )
        )
        obs = Observation(f"checkpoint_{uuid.uuid4().hex}")
        bucket = F.create_map(*(F.lit(x) for x in chain(*tokens.items())))[
            F.col("shape_id")
        ]
        out = violations.withColumn("shape_bucket", bucket)
        if cluster:
            # one shuffle, split and coalesced by AQE, instead of one
            # file per (scan task, bucket); repartition would put a huge
            # shape's rows in one task. The observation sits above it:
            # below, AQE drops an empty shuffle's metrics with the stage
            out = out.hint("rebalance", "shape_bucket")
        columns, terms = _summary_terms(keys)
        (
            out.select("*", *columns)
            .observe(
                obs,
                *(
                    F.count_if(F.col("shape_id") == sid).alias(f"n{i}")
                    for i, sid in enumerate(sids)
                ),
                *terms,
                F.count(F.lit(1)).alias("n"),
            )
            .drop(_KEY, _REP, _ORD)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shape_bucket")
            .parquet(dest)
        )
        observed = obs.get
        for token in tokens.values():
            os.makedirs(os.path.join(dest, f"shape_bucket={token}"), exist_ok=True)
        counts = {sid: int(observed[f"n{i}"]) for i, sid in enumerate(sids)}
        n_keyed = [int(observed[f"k{j}"]) for j in range(len(keys))]
        if sum(n_keyed) != observed["n"]:
            # a part emitted a key no constraint declares: counts from
            # the declared keys would be short, so record none
            return counts, None
        summaries: dict[str, list[dict]] = {sid: [] for sid in sids}
        for j, (key, n) in enumerate(zip(keys, n_keyed)):
            if n:
                summaries[key[0]].append(
                    {
                        **dict(zip(SUMMARY_KEY, key)),
                        "n_violations": n,
                        "representative": observed[f"r{j}"].asDict(),
                    }
                )
        return counts, summaries

    # -- run/resume --------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        shapes: Sequence[Shape],
        key_cols: Sequence[str],
        fail_after: Optional[int] = None,
    ) -> ValidationReport:
        """Evaluate every shape not yet checkpointed in one fused pass.

        Already-checkpointed shapes are skipped (after a lineage check:
        a checkpoint of a different input raises). The pending shapes are
        compiled with ONE `validate`, written with ONE partitioned write
        (see `_write_buckets`), and then each gets its manifest published
        atomically. Every pending shape's bucket is deleted before the
        write, so rows a killed run left there cannot survive into the
        relation. A manifest's `wall_sec` is the wall time of the shared
        compile-and-write the shape rode in.

        fail_after=k raises once k manifests of this run are published
        (k=0: after the write commits, before any publish) — the test
        hook for the kill/resume invariant.
        """
        done = self.completed()
        try:
            # None (JSON null), not []: "lineage unavailable" must stay
            # distinguishable from "no files" — run_incremental refuses
            # to delta against an unknown-lineage checkpoint instead of
            # treating every current file as new (double-counting)
            lineage = sorted(df.inputFiles()) or None
        except Exception:
            lineage = None

        pending: list[Shape] = []
        for shape in shapes:
            rec = done.get(shape.shape_id)
            if rec is None:
                pending.append(shape)
                continue
            recorded = rec.get("input_files")
            if recorded and lineage and sorted(recorded) != lineage:
                # skipping here would serve the OLD run's violations
                # as if they covered the new input
                raise ValueError(
                    f"shape {shape.shape_id!r} is checkpointed against "
                    f"different input lineage ({len(recorded)} recorded "
                    f"vs {len(lineage)} current files); use "
                    "run_incremental() for appended files, or a fresh "
                    "output_dir for a changed input"
                )
        if not pending:
            return self.report(key_cols)

        tokens = {s.shape_id: self._resolve_token(s.shape_id) for s in pending}
        for token in tokens.values():
            shutil.rmtree(self._bucket(token), ignore_errors=True)
        t0 = time.monotonic()
        rep = self.engine.validate(df, pending, key_cols=key_cols)
        # the write is the checkpoint: resume-level determinism is at
        # the RELATION level (same rows), not file bytes — asserted by
        # the kill/resume pytest invariant
        counts, summaries = self._write_buckets(
            rep.violations, pending, tokens, self.violations_dir, cluster=True
        )
        wall = round(time.monotonic() - t0, 3)
        n_input_parts = df.rdd.getNumPartitions()
        schema = rep.violations.schema.json()

        def _maybe_fail(published: int) -> None:
            if fail_after is not None and published >= fail_after:
                raise RuntimeError(f"simulated failure after {fail_after} shapes")

        _maybe_fail(0)
        for published, (sid, token) in enumerate(tokens.items(), 1):
            entry = {
                "run_id": self.run_id,
                "shape_id": sid,
                "status": "completed",
                "n_violations": counts[sid],
                "n_input_partitions": n_input_parts,
                "input_files": lineage,
                "schema": schema,
                "wall_sec": wall,
                "output_path": self._bucket(token),
                "finished_unix": time.time(),
            }
            if summaries is not None:
                entry["summary"] = summaries[sid]
            self._write_manifest(entry, token=token)
            _maybe_fail(published)

        return self.report(key_cols)

    def run_incremental(
        self,
        input_path: str,
        shapes: Sequence[Shape],
        key_cols: Sequence[str],
        force: bool = False,
    ) -> ValidationReport:
        """Validate only input files NOT yet in each shape's manifest
        lineage — the delta mode for append-only tables (a new ingest
        drops new files/partitions; old ones are immutable).

        Only row-level and referential constraints are delta-safe: a
        group/window/uniqueness check over part of a group is wrong when
        the group spans old and new files. Those shapes raise unless
        force=True (legitimate when the table layout guarantees group
        locality per file, e.g. writes bucketed by conv_id).

        Shapes are grouped by their new-file set (normally one group).
        Each group is compiled with one `validate` and written with the
        same fused write as `run()`, into `<out>/_staging`; each shape's
        bucket is then moved into its own delta subdirectory
        `shape_bucket=<token>/delta_<id>/` and the manifest entry's
        lineage/metrics are extended — so `report()` still assembles the
        complete relation.

        Crash safety: the manifest is the source of truth. A kill
        between a delta move and its manifest publish leaves an ORPHAN
        delta directory whose files the retry will re-cover (the retry's
        new-file set, and hence its delta_id, may differ if more files
        landed meanwhile) — so before writing, any delta_* subdirectory
        not recorded in the manifest's `deltas` list is deleted. That
        restores the run()-level invariant: a kill at any point leaves
        either no trace or a complete manifest entry, never a
        double-counted file.
        """
        from xpshacl_spark.shapes import non_streamable_constraints

        if not force:
            bad = non_streamable_constraints(shapes)
            if bad:
                raise ValueError(
                    "constraints not delta-safe (groups may span old and "
                    f"new files; pass force=True if layout guarantees "
                    f"group-per-file locality): {bad}"
                )

        current = sorted(self.spark.read.parquet(input_path).inputFiles())
        done = self.completed()
        groups: dict[tuple[str, ...], list[Shape]] = {}
        for shape in shapes:
            rec = done.get(shape.shape_id)
            if rec is not None and not rec.get("input_files"):
                raise ValueError(
                    f"shape {shape.shape_id!r} was checkpointed without "
                    "input-file lineage (non-file source); a delta cannot "
                    "determine which files are new and would re-validate "
                    "(and double-count) everything — rerun run() on a "
                    "file-backed input or use a fresh output_dir"
                )
            seen = set(rec.get("input_files", [])) if rec else set()
            new = tuple(f for f in current if f not in seen)
            if new:
                groups.setdefault(new, []).append(shape)

        staging = os.path.join(self.output_dir, "_staging")
        for new, group in groups.items():
            tokens = {s.shape_id: self._resolve_token(s.shape_id) for s in group}
            for sid, token in tokens.items():
                self._prune_orphan_deltas(
                    token,
                    {d["delta_id"] for d in done.get(sid, {}).get("deltas", [])},
                )
            t0 = time.monotonic()
            # basePath keeps hive-style partition columns that a plain
            # leaf-file read would drop (shapes may reference them)
            delta_df = (
                self.spark.read.option("basePath", input_path).parquet(*new)
            )
            rep = self.engine.validate(delta_df, group, key_cols=key_cols)
            delta_id = hashlib.md5("|".join(new).encode()).hexdigest()[:12]
            # a killed run may have left buckets here, and a shape with
            # no rows this time gets no partition that would replace its
            shutil.rmtree(staging, ignore_errors=True)
            # a delta is small, and its write stays one job
            counts, summaries = self._write_buckets(
                rep.violations, group, tokens, staging, cluster=False
            )
            for token in tokens.values():
                # plain subdir name (no '='): the shape bucket must not
                # look like a partitioned layout — report() reads it with
                # recursiveFileLookup, which skips partition discovery
                out_path = os.path.join(self._bucket(token), f"delta_{delta_id}")
                os.makedirs(self._bucket(token), exist_ok=True)
                os.replace(
                    os.path.join(staging, f"shape_bucket={token}"), out_path
                )
            wall = time.monotonic() - t0
            n_input_parts = delta_df.rdd.getNumPartitions()
            schema = rep.violations.schema.json()
            for sid, token in tokens.items():
                rec = done.get(sid)
                n = counts[sid]
                deltas = (rec.get("deltas", []) if rec else []) + [
                    {
                        "delta_id": delta_id,
                        "n_files": len(new),
                        "n_violations": n,
                        "wall_sec": round(wall, 3),
                    }
                ]
                entry = {
                    "run_id": self.run_id,
                    "shape_id": sid,
                    "status": "completed",
                    "n_violations": (rec["n_violations"] if rec else 0) + n,
                    "n_input_partitions": n_input_parts,
                    "input_files": sorted(
                        set(rec["input_files"] if rec else ()) | set(new)
                    ),
                    "deltas": deltas,
                    "schema": schema,
                    # cumulative across deltas (per-delta time is in
                    # the deltas list), plus the initial full run if any
                    "wall_sec": round(
                        (rec.get("wall_sec", 0.0) if rec else 0.0) + wall, 3
                    ),
                    "output_path": self._bucket(token),
                    "finished_unix": time.time(),
                }
                # an earlier part without a summary (a legacy manifest)
                # leaves the sum unknown, so the entry records none
                before = rec.get("summary") if rec else []
                if summaries is not None and before is not None:
                    entry["summary"] = merge_summary(before + summaries[sid])
                self._write_manifest(entry, token=token)
        shutil.rmtree(staging, ignore_errors=True)
        return self.report(key_cols)

    def report(self, key_cols: Sequence[str]) -> ValidationReport:
        """Assemble the full violations relation from checkpointed parts.

        The violations schema recorded in the manifests is used for the
        read, so buckets of conforming shapes (empty directories) need no
        file to infer it from and the read runs no inference job.
        Manifests written before the schema was recorded fall back to
        inference. When every entry has a summary whose counts add up to
        its n_violations, the report carries them all."""
        done = self.completed()
        if not done:
            raise RuntimeError("no completed shapes in checkpoint")
        paths = [rec["output_path"] for rec in done.values()]
        schemas = {rec.get("schema") for rec in done.values()}
        reader = self.spark.read.option("mergeSchema", "false")
        if len(schemas) == 1 and None not in schemas:
            reader = reader.schema(T.StructType.fromJson(json.loads(schemas.pop())))
        df = (
            # full-run files sit at the bucket root and incremental
            # deltas in delta_* subdirs; recursive lookup reads both and
            # disables partition discovery over the subdir names
            reader.option("recursiveFileLookup", "true").parquet(*paths)
        )
        metrics = {
            "n_shapes_completed": len(done),
            "total_violations": sum(r["n_violations"] for r in done.values()),
        }
        summary: Optional[list[dict]] = []
        for rec in done.values():
            part = rec.get("summary")
            if part is None or sum(e["n_violations"] for e in part) != rec["n_violations"]:
                summary = None
                break
            summary.extend(part)
        return ValidationReport(df, list(key_cols), metrics, summary)

"""The benchmark's workloads.

Each drives the engine through its public entry points, one client in
one process, closed loop: an operation starts when the previous one has
finished and been checked. A workload

* `generate`s its parquet input from the seed (untimed),
* computes the expected results with DuckDB in `expect` (untimed),
* builds its state in `setup` (timed, once per set-up round, after the
  session and engine exist; `untimed()` blocks inside are excluded),
* runs operation `i` in `op` (timed) and checks it in `check` (untimed),
  with `before_op` / `after_op` for untimed preparation and clean-up.

Every call into a layer of the engine sits in a tracer span named
`<layer>.<call>`; spans cost nothing unless the run is traced.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

from xpshacl_spark.checkpoint import CheckpointedRunner
from xpshacl_spark.datagen import conversations, transcripts
from xpshacl_spark.explain import ExplanationCache, Explainer
from xpshacl_spark.operators.profile import HistSpec, ProfileSpec, profile
from xpshacl_spark.shapes import Drift
from xpshacl_spark.suites import transcript_shapes

import oracle

KEY_COLS = ["conv_id", "turn_idx"]
LANGUAGES = ["en", "de"]

#: input size in turns per scale; "smoke" is for the smoke test
TURNS = {
    "full": {"table_audit": 60_000, "checkpointed_explain": 10_000},
    "smoke": {"table_audit": 400, "checkpointed_explain": 400},
}

TEXT_LEN_HIST = HistSpec(0.0, 5000.0, 50)
PROFILE_SPECS = [
    ProfileSpec("conv_id"),
    ProfileSpec("turn_idx"),
    ProfileSpec("role"),
    ProfileSpec("tool"),
    ProfileSpec("text_len", expression="length(text)", hist=TEXT_LEN_HIST),
]
DRIFT_THRESHOLD = 0.2
MAX_GAP_SECONDS = 3600


def _sized_transcripts(spark, seed: int, turns: int):
    """The seed's transcripts, cut after the first conversation that
    brings them to `turns` turns (before the generator's ~0.5% duplicate
    rows).

    About 1% of the generator's conversations are hot keys with 100x
    the turns, so a fixed conversation count would give a turn count
    that varies by ~10% from seed to seed; fixing the turns keeps the
    work of every seed the same."""
    n = int(turns / 9 * 1.5) + 1000  # ~10 turns per conversation
    rows = conversations(spark, n, seed).orderBy("conv_id").select("n_turns").collect()
    got = n_convs = 0
    while got < turns:
        got += rows[n_convs][0]
        n_convs += 1
    return transcripts(spark, n_convs=n_convs, seed=seed)


def _counts(rows) -> dict:
    return {
        (r["shape_id"].split("#")[-1], r["constraint_component"]): r["n_violations"]
        for r in rows
    }


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, fn))
            n_files += 1
    return n_bytes, n_files


class Workload:
    name = ""
    #: untimed operations before measuring: on a fresh JVM operations
    #: get faster until the JIT has compiled their code paths
    warmup_ops = 1

    def __init__(self, work_dir: str, seed: int, scale: str, tracer) -> None:
        self.work = work_dir
        self.seed = seed
        self.turns = TURNS[scale][self.name]
        self.tracer = tracer
        self.paused_s = 0.0
        self.turns_per_op = 0
        self.expected: dict = {}
        #: per-round timings of set-up calls, as per-layer metrics
        self.setup_layers: dict[str, list[float]] = {}

    @contextmanager
    def untimed(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.paused_s += time.perf_counter() - t

    def corrupt_oracle(self) -> None:
        """Make one expected count wrong, so every operation must fail."""
        key = min(self.expected)
        self.expected[key] += 1

    def before_op(self, i: int) -> None:
        pass

    def after_op(self, i: int) -> None:
        pass


class TableAudit(Workload):
    """Nightly read-only audit: profile, fused validation, counts."""

    name = "table_audit"
    # set-up profiles but does not validate: on a fresh JVM the first
    # operation is ~2.5x slower than later ones, the second ~1.2x
    warmup_ops = 2

    def generate(self, spark) -> None:
        self.table = os.path.join(self.work, "table")
        self.baseline = os.path.join(self.work, "baseline")
        _sized_transcripts(spark, self.seed, self.turns).write.parquet(self.table)
        # the drift baseline is a profile of another day's (smaller) data
        _sized_transcripts(spark, self.seed + 7919, self.turns // 5).write.parquet(self.baseline)

    def expect(self) -> None:
        files = f"{self.table}/*.parquet"
        sqls = {**oracle.SUITE_SQL, **oracle.latency_sql(MAX_GAP_SECONDS)}
        self.expected = oracle.violation_counts(files, sqls)
        h = TEXT_LEN_HIST
        base_hist = oracle.histogram(f"{self.baseline}/*.parquet", "length(text)", h.lo, h.hi, h.bins)
        self.expected_hist = oracle.histogram(files, "length(text)", h.lo, h.hi, h.bins)
        if oracle.psi(base_hist, self.expected_hist) > DRIFT_THRESHOLD:
            self.expected[("TextLenDriftShape", "DistributionConstraintComponent")] = 1
        self.expected_profile = {
            s.name: oracle.column_profile(files, s.expression or s.name)
            for s in PROFILE_SPECS
        }
        self.turns_per_op = self.expected_profile["conv_id"]["count"]

    def setup(self, spark, engine) -> None:
        self.engine = engine
        self.df = spark.read.parquet(self.table)
        base = profile(
            spark.read.parquet(self.baseline),
            [ProfileSpec("text_len", expression="length(text)", hist=TEXT_LEN_HIST)],
        )["text_len"]["hist"]
        h = TEXT_LEN_HIST
        drift = Drift(
            "length(text)", lo=h.lo, hi=h.hi, bins=h.bins,
            threshold=DRIFT_THRESHOLD, baseline=tuple(base), column="text",
        )
        self.shapes = transcript_shapes(drift=drift, max_gap_seconds=MAX_GAP_SECONDS)

    def op(self, i) -> dict:
        span = self.tracer.span
        with span("profile.profile", i):
            prof = profile(self.df, PROFILE_SPECS)
        with span("compiler.validate", i):
            rep = self.engine.validate(self.df, self.shapes, key_cols=KEY_COLS)
        with span("compiler.execute", i):
            counts = _counts(rep.counts().collect())
        return {"profile": prof, "counts": counts, "plan_parts": rep.metrics["n_plan_parts"]}

    def check(self, i, res) -> tuple[list[str], dict]:
        errors = oracle.diff_counts(self.expected, res["counts"])
        for name, exp in self.expected_profile.items():
            got = res["profile"][name]
            for key in ("count", "non_null", "min", "max"):
                if got[key] != exp[key]:
                    errors.append(f"profile {name}.{key}: expected {exp[key]!r}, got {got[key]!r}")
            # HyperLogLog at rsd 0.05: 4 sigma
            if abs(got["approx_distinct"] - exp["distinct"]) > 0.2 * exp["distinct"]:
                errors.append(
                    f"profile {name}.approx_distinct {got['approx_distinct']} "
                    f"too far from exact {exp['distinct']}"
                )
        if res["profile"]["text_len"]["hist"] != self.expected_hist:
            errors.append("profile text_len histogram differs from the oracle's")
        return errors, {
            "compiler.plan_parts": res["plan_parts"],
            "compiler.violation_rows": sum(res["counts"].values()),
        }


class CheckpointedExplain(Workload):
    """The production runner sequence with --explain and
    --conformance-by conv_id --languages en,de, fresh output per op."""

    name = "checkpointed_explain"
    # every set-up round already runs the checkpoint and explain code
    warmup_ops = 0

    def generate(self, spark) -> None:
        self.table = os.path.join(self.work, "table")
        self.cache_path = os.path.join(self.work, "cache", "explanations.parquet")
        self.setup_out = os.path.join(self.work, "setup-out")
        _sized_transcripts(spark, self.seed, self.turns).write.parquet(self.table)
        self.input_bytes = _tree_size(self.table)[0]

    def expect(self) -> None:
        files = f"{self.table}/*.parquet"
        self.expected = oracle.violation_counts(files, oracle.SUITE_SQL)
        self.n_groups = oracle.scalar(files, "SELECT count(DISTINCT conv_id) FROM t")
        self.turns_per_op = oracle.scalar(files, "SELECT count(*) FROM t")

    def setup(self, spark, engine) -> None:
        self.spark, self.engine = spark, engine
        self.df = spark.read.parquet(self.table)
        self.shapes = transcript_shapes()
        with self.untimed():
            # every round checkpoints from scratch and explains cold
            shutil.rmtree(self.setup_out, ignore_errors=True)
            shutil.rmtree(os.path.dirname(self.cache_path), ignore_errors=True)
        rep = CheckpointedRunner(engine, self.setup_out).run(self.df, self.shapes, key_cols=KEY_COLS)
        # cache warming: the first explain into an empty cache
        t = time.perf_counter()
        full = Explainer(spark, cache=ExplanationCache(self.cache_path)).explain_full(
            rep, self.shapes, df=self.df, languages=LANGUAGES
        )
        self.setup_layers.setdefault("explain.cold_s", []).append(time.perf_counter() - t)
        full.write.parquet(os.path.join(self.setup_out, "explained"))

    def _out(self, i) -> str:
        return os.path.join(self.work, f"out-{i}")

    def before_op(self, i) -> None:
        self.cache_rows = oracle.scalar(self.cache_path, "SELECT count(*) FROM t")

    def op(self, i) -> dict:
        span, out = self.tracer.span, self._out(i)
        with span("checkpoint.run", i):
            rep = CheckpointedRunner(self.engine, out).run(self.df, self.shapes, key_cols=KEY_COLS)
        with span("checkpoint.report", i):
            counts = _counts(rep.counts().collect())
        with span("compiler.conformance", i):
            rep.conformance_by_group(self.df, ["conv_id"]).write.parquet(os.path.join(out, "conformance"))
        with span("explain.cache_load", i):
            cache = ExplanationCache(self.cache_path)
        with span("explain.explain", i):
            full = Explainer(self.spark, cache=cache).explain_full(
                rep, self.shapes, df=self.df, languages=LANGUAGES
            )
        with span("explain.fanout", i):
            full.write.parquet(os.path.join(out, "explained"))
        return {"counts": counts}

    def check(self, i, res) -> tuple[list[str], dict]:
        out = self._out(i)
        errors = oracle.diff_counts(self.expected, res["counts"])
        total = sum(self.expected.values())
        n_sigs = len(self.expected)
        conf_rows, conf_viol = oracle.scalar(
            f"{out}/conformance/*.parquet",
            "SELECT [count(*), coalesce(sum(n_violations), 0)] FROM t",
        )
        if (conf_rows, conf_viol) != (self.n_groups, total):
            errors.append(
                f"conformance: expected {self.n_groups} groups / {total} violations, "
                f"got {conf_rows} / {conf_viol}"
            )
        rows, sigs, langs, missing = oracle.scalar(
            f"{out}/explained/*.parquet",
            "SELECT [count(*), count(DISTINCT signature_id), count(DISTINCT language), "
            "count(*) FILTER (WHERE natural_language_explanation IS NULL)] FROM t",
        )
        if (rows, sigs, langs, missing) != (total * len(LANGUAGES), n_sigs, len(LANGUAGES), 0):
            errors.append(
                f"explained: expected {total * len(LANGUAGES)} rows, {n_sigs} signatures, "
                f"{len(LANGUAGES)} languages, 0 unexplained; got {rows}, {sigs}, {langs}, {missing}"
            )
        cache_rows = oracle.scalar(self.cache_path, "SELECT count(*) FROM t")
        lookups = sigs * len(LANGUAGES)
        n_bytes, n_files = _tree_size(os.path.join(out, "manifest"))
        v_bytes, v_files = _tree_size(os.path.join(out, "violations"))
        return errors, {
            "compiler.violation_rows": sum(res["counts"].values()),
            "checkpoint.bytes_written": n_bytes + v_bytes,
            "checkpoint.files_written": n_files + v_files,
            "checkpoint.write_amp": (n_bytes + v_bytes) / self.input_bytes,
            "explain.signatures": sigs,
            "explain.cache_hit_ratio": (lookups - (cache_rows - self.cache_rows)) / lookups
            if lookups
            else 1.0,
        }

    def after_op(self, i) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)


WORKLOADS = {w.name: w for w in (TableAudit, CheckpointedExplain)}

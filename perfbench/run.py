"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload table_audit --seed 1 --seconds 12 --trace 0

Generates the workload's input from the seed, sets up a local Spark
session (local[<cores>], one JVM, 2g maximum heap) SETUP_ROUNDS times,
runs the workload's untimed warm-up operations, then runs operations
back to back, starting none that would end after --seconds (but at
least MIN_OPS) or after RUN_LIMIT_S from the start. Every operation is
checked against the DuckDB oracle. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}, where metrics
are the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). A readable summary goes to stderr. With
--trace 1, half the measured operations are traced and the spans are
written to .perfbench_out/. Exits 2 without a result
when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_ROUNDS = 3
MIN_OPS = 3
#: a traced run traces operations 0 and 3 of every four: with at least
#: four, both sides of the tracing overhead have two operations
MIN_TRACED_OPS = 4
DRIVER_MEMORY = "2g"
#: start no operation that would end later than this after the start,
#: whatever --seconds says, so that a run on a slow host still ends
#: within three minutes
RUN_LIMIT_S = 150.0

#: tracer span name -> per-layer metric
SPAN_METRICS = {
    "profile.profile": "profile.profile_s",
    "compiler.validate": "compiler.validate_s",
    "compiler.execute": "compiler.execute_s",
    "compiler.conformance": "compiler.conformance_s",
    "checkpoint.run": "checkpoint.run_s",
    "checkpoint.report": "checkpoint.report_s",
    "explain.cache_load": "explain.cache_load_s",
    "explain.explain": "explain.explain_s",
    "explain.fanout": "explain.fanout_s",
}


def _isolate(work: str) -> None:
    """Keep every file Spark and the JVM write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit first runs a small launcher JVM, then the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr)


def _median(values):
    return statistics.median(values) if values else 0.0


def _layer_metrics(spans, probe0, probe1, wall, cores, counters) -> dict:
    from probes import self_times

    m: dict = {}
    selfs = self_times(spans)
    for sp in spans:
        if sp["parent"] is None:
            m["trace.untraced_gap_s"] = selfs[sp["id"]]
            continue
        layer = sp["name"].split(".")[0]
        name = SPAN_METRICS[sp["name"]]
        m[name] = m.get(name, 0.0) + sp["end"] - sp["start"]
        m[f"{layer}.self_s"] = m.get(f"{layer}.self_s", 0.0) + selfs[sp["id"]]
        for k in ("jobs", "stages", "tasks"):
            m[f"{layer}.{k}"] = m.get(f"{layer}.{k}", 0) + sp[k]
    if probe0 and probe1:
        cpu = probe1["jvm_cpu"] - probe0["jvm_cpu"]
        m["jvm.cpu_s"] = cpu
        m["jvm.core_util"] = cpu / (wall * cores)
        m["jvm.gc_s"] = probe1["jvm_gc"] - probe0["jvm_gc"]
        m["driver.py_cpu_s"] = probe1["py_cpu"] - probe0["py_cpu"]
    m.update(counters)
    return m


def run(args, spec: dict, work: str) -> dict:
    from xpshacl_spark.compiler import ValidationEngine
    from xpshacl_spark.datagen import roles_dim, tools_dim
    from xpshacl_spark.session import get_spark

    from probes import ResourceProbe, Tracer
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer()
    wl = WORKLOADS[args.workload](work, args.seed, args.scale, tracer)
    spark = probe = None
    setup_s, get_spark_s = [], []
    ops: list[dict] = []
    try:
        for r in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(
                app_name="perfbench", master=f"local[{cores}]", driver_memory=DRIVER_MEMORY
            )
            get_spark_s.append(time.perf_counter() - t0)
            if r == 0:
                _log("session up")
                probe = ResourceProbe(spark)
                wl.generate(spark)
                _log("input generated")
                wl.expect()
                _log("oracle done")
                if args.corrupt_oracle:
                    wl.corrupt_oracle()
            tracer.sc = spark.sparkContext
            wl.paused_s = 0.0
            t1 = time.perf_counter()
            engine = ValidationEngine(
                spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
            )
            wl.setup(spark, engine)
            setup_s.append(get_spark_s[-1] + time.perf_counter() - t1 - wl.paused_s)
            _log(f"set-up round {r}: {setup_s[-1]:.3f}s (get_spark {get_spark_s[-1]:.3f}s)")

        def run_op(i: int, traced: bool) -> dict:
            tracer.enabled = traced
            wl.before_op(i)
            p0 = probe.snapshot() if traced else None
            t = time.perf_counter()
            p1 = None
            try:
                with tracer.span("op", i, jobs=False):
                    res = wl.op(i)
                wall = time.perf_counter() - t
                p1 = probe.snapshot() if traced else None
                errors, counters = wl.check(i, res)
            except Exception:  # an operation that raises counts as failed
                wall = time.perf_counter() - t
                errors, counters = [traceback.format_exc()], {}
            tracer.enabled = False
            wl.after_op(i)
            for e in errors:
                print(f"op {i} FAILED: {e}", file=sys.stderr)
            op = {"wall": wall, "traced": traced, "ok": not errors}
            if traced:
                op["layers"] = _layer_metrics(
                    tracer.op_spans(i), p0, p1, wall, cores, counters
                )
            return op

        # The first operations after set-up run slower while the JIT
        # compiles their code paths: they are checked and counted as
        # attempted, but not timed.
        warmup = [run_op(i, False) for i in range(wl.warmup_ops)]
        _log("warm-up ops " + " ".join(f"{o['wall']:.3f}s" for o in warmup))
        t_start = time.perf_counter()

        def fits(deadline: float, since: float) -> bool:
            # would an operation of median length end before the deadline?
            median = _median([o["wall"] for o in ops])
            return time.perf_counter() - since + median <= deadline

        min_ops = MIN_TRACED_OPS if args.trace else MIN_OPS
        while not ops or fits(RUN_LIMIT_S, T_START) and (
            len(ops) < min_ops or fits(args.seconds, t_start)
        ):
            # traced, untraced, untraced, traced, ...: while operations
            # still get faster, each group of four cancels the trend out
            # of the tracing overhead
            traced = bool(args.trace) and len(ops) % 4 in (0, 3)
            ops.append(run_op(wl.warmup_ops + len(ops), traced))
        peak_rss = {
            "jvm.peak_rss_mb": probe.jvm_peak_rss_mb(),
            "driver.py_peak_rss_mb": probe.py_peak_rss_mb(),
        }
        _log(f"{len(ops)} ops measured in {time.perf_counter() - t_start:.2f}s")
    finally:
        if args.trace:
            tracer.write(
                os.path.join(
                    ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"
                )
            )
        _shutdown(spark)
        _log("JVM stopped")

    attempted = len(warmup) + len(ops)
    failed = sum(not o["ok"] for o in warmup + ops)
    walls = [o["wall"] for o in ops]
    if args.trace:
        traced = [o for o in ops if o["traced"]]
        values = {
            name: _median([o["layers"].get(name, 0.0) for o in traced])
            for name in (m["name"] for m in spec["per_layer"])
        }
        values["session.get_spark_s"] = _median(get_spark_s)
        for name, v in wl.setup_layers.items():
            values[name] = _median(v)
        values.update(peak_rss)
        values["trace.overhead_s"] = _median([o["wall"] for o in traced]) - _median(
            [o["wall"] for o in ops if not o["traced"]]
        )
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": _median(setup_s),
            "op_s_p50": _median(walls),
            "turns_per_s": wl.turns_per_op * len(ops) / sum(walls),
        }
        wanted = spec["end_to_end"]
    print(f"{'setup rounds':>32} {' '.join(f'{x:.3f}' for x in setup_s)}", file=sys.stderr)
    print(f"{'op walls':>32} {' '.join(f'{x:.3f}' for x in walls)}", file=sys.stderr)
    for name, v in (("ops attempted", attempted), ("op_fail_ratio", failed / attempted)):
        print(f"{name:>32} {v}", file=sys.stderr)
    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{m['name']:>32} {values[m['name']]:.6g} {m['unit']}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="input size; smoke is a tiny input for the smoke test")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="make one expected count wrong (every op must then fail)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "xpshacl_spark", "__init__.py")):
        print(f"error: no xpshacl_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        _isolate(work)
        result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Fused profiler + KS/PSI drift statistics + Drift constraint e2e."""

import datetime

import pytest
from pyspark.sql import functions as F

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.operators.drift import ks_statistic, psi_statistic, two_sample_drift
from xpshacl_spark.operators.profile import HistSpec, ProfileSpec, profile
from xpshacl_spark.shapes import Drift, Shape


def test_profile_single_pass_stats(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (None, "d"), (10, "e")],
        "x int, s string",
    )
    prof = profile(
        df,
        [
            ProfileSpec("x", hist=HistSpec(0.0, 10.0, 5)),
            ProfileSpec("s"),
            ProfileSpec("xlen", expression="x * 2"),
        ],
    )
    px = prof["x"]
    assert px["count"] == 5
    assert px["non_null"] == 4
    assert px["nulls"] == 1
    assert px["min"] == "1"
    assert px["max"] == "10"
    # bins of width 2 over [0,10): 1->b0, 2->b1, 3->b1, 10->overflow
    assert px["hist"] == [0, 1, 2, 0, 0, 0, 1]
    ps = prof["s"]
    assert ps["nulls"] == 1 and ps["min"] == "a" and ps["max"] == "e"
    assert prof["xlen"]["max"] == "20"


def test_profile_distinct_hll(spark):
    df = spark.range(10000).select((F.col("id") % 100).alias("k"))
    prof = profile(df, [ProfileSpec("k", rsd=0.02)])
    assert abs(prof["k"]["approx_distinct"] - 100) <= 5


def test_ks_psi_identical_is_zero():
    h = [10, 20, 30, 20, 10]
    assert ks_statistic(h, h) == 0.0
    assert psi_statistic(h, h) == pytest.approx(0.0, abs=1e-9)


def test_ks_disjoint_is_one():
    assert ks_statistic([100, 0, 0, 0], [0, 0, 0, 100]) == pytest.approx(1.0)


def test_psi_shift_detects():
    base = [100, 100, 100, 0, 0]
    cur = [0, 0, 100, 100, 100]
    assert psi_statistic(base, cur) > 0.5
    near = [95, 105, 100, 0, 0]
    assert psi_statistic(base, near) < 0.05


def test_drift_constraint_end_to_end(spark):
    base_df = spark.range(5000).select((F.col("id") % 1000).alias("v"))
    cur_df = spark.range(5000).select((F.col("id") % 1000 + 500).alias("v"))

    # build the baseline histogram with the profiler (same binning)
    from xpshacl_spark.operators.profile import profile as prof_fn

    spec = ProfileSpec("v", hist=HistSpec(0.0, 2000.0, 32))
    base_hist = prof_fn(base_df, [spec])["v"]["hist"]

    engine = ValidationEngine(spark)
    shape_drift = Shape(
        "drift_shape",
        (
            Drift(
                "v",
                lo=0.0,
                hi=2000.0,
                bins=32,
                stat="psi",
                threshold=0.2,
                baseline=tuple(base_hist),
            ),
        ),
    )
    # shifted data violates
    rep = engine.validate(cur_df.withColumn("id2", F.col("v")), [shape_drift], ["id2"])
    rows = rep.violations.collect()
    assert len(rows) == 1
    assert rows[0]["constraint_component"] == "DistributionConstraintComponent"
    assert rows[0]["violation_type"] == "distribution"
    assert float(rows[0]["value"]) > 0.2

    # same-distribution data conforms
    rep2 = engine.validate(
        base_df.withColumn("id2", F.col("v")), [shape_drift], ["id2"]
    )
    assert rep2.conforms


def test_drift_ks_variant(spark):
    base_df = spark.range(4000).select((F.col("id") % 100).alias("v"))
    cur_df = spark.range(4000).select((F.col("id") % 100 + 50).alias("v"))
    spec = ProfileSpec("v", hist=HistSpec(0.0, 200.0, 20))
    base_hist = profile(base_df, [spec])["v"]["hist"]
    shape = Shape(
        "ks_shape",
        (
            Drift(
                "v",
                lo=0.0,
                hi=200.0,
                bins=20,
                stat="ks",
                threshold=0.1,
                baseline=tuple(base_hist),
            ),
        ),
    )
    engine = ValidationEngine(spark)
    rep = engine.validate(cur_df.withColumn("k", F.col("v")), [shape], ["k"])
    assert rep.violations.count() == 1


def test_validate_with_drift_starts_no_job(spark):
    """validate() only builds the plan: once the engine has memoised its
    FK membership probes, compiling the transcript suite with a Drift
    check starts no Spark job — the histogram and the statistic run
    when the violations are read."""
    from xpshacl_spark.datagen import roles_dim, tools_dim, transcripts
    from xpshacl_spark.suites import transcript_shapes

    engine = ValidationEngine(
        spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
    )
    df = transcripts(spark, n_convs=20)
    drift = Drift("length(text)", lo=0.0, hi=400.0, bins=8,
                  baseline=tuple(range(10)))
    shapes = transcript_shapes(drift=drift)
    keys = ["conv_id", "turn_idx"]
    engine.validate(df, shapes, keys)  # memoises the FK probes

    sc = spark.sparkContext
    group = "validate-with-drift-no-job"
    sc.setJobGroup(group, "validate with memoised probes")
    try:
        rep = engine.validate(df, shapes, keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert rep.metrics["n_shapes"] == len(shapes)


def test_positional_union_matches_union_by_name(spark, monkeypatch):
    """validate() unions its parts by position. Every part has the same
    column order, so the transcript suite with a Drift gives the same
    rows and schema as a by-name union of the same parts."""
    from pyspark.sql import DataFrame

    from xpshacl_spark.datagen import roles_dim, tools_dim, transcripts
    from xpshacl_spark.suites import transcript_shapes

    engine = ValidationEngine(
        spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
    )
    df = transcripts(spark, n_convs=40)
    drift = Drift("length(text)", lo=0.0, hi=400.0, bins=8,
                  baseline=(1, 1, 1, 1, 1, 1, 1, 1, 1, 50))
    shapes = transcript_shapes(drift=drift)
    keys = ["conv_id", "turn_idx"]
    positional = engine.validate(df, shapes, keys).violations
    with monkeypatch.context() as m:
        m.setattr(DataFrame, "union", DataFrame.unionByName)
        by_name = engine.validate(df, shapes, keys).violations
    assert positional.schema.json() == by_name.schema.json()
    rows = positional.collect()
    assert sorted(map(repr, rows)) == sorted(map(repr, by_name.collect()))
    assert len({r.shape_id for r in rows}) >= 5


def _count_py4j_commands(monkeypatch):
    """Record every py4j command this process sends to the JVM, except
    the `m` (memory) ones that Python's garbage collector triggers."""
    from py4j.clientserver import ClientServerConnection

    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return sent


def test_plan_building_round_trips_stay_few(spark, monkeypatch):
    """Building the transcript suite's plan with a 50-bin Drift, and a
    five-column profile with a 50-bin histogram, each cost a bounded
    number of py4j round trips (bounds are 1.5x the measured counts,
    1407 and 154). PySpark's call-site capture, which wraps
    every Column method in extra JVM calls, multiplies both well past
    the bounds, as does building a histogram one Column per bin."""
    from xpshacl_spark.datagen import roles_dim, tools_dim, transcripts
    from xpshacl_spark.suites import transcript_shapes

    engine = ValidationEngine(
        spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
    )
    df = transcripts(spark, n_convs=20)
    drift = Drift("length(text)", lo=0.0, hi=5000.0, bins=50,
                  baseline=tuple(range(52)), column="text")
    shapes = transcript_shapes(drift=drift, max_gap_seconds=3600)
    keys = ["conv_id", "turn_idx"]
    specs = [ProfileSpec(c) for c in ("conv_id", "turn_idx", "role", "tool")]
    specs.append(ProfileSpec("text_len", expression="length(text)",
                             hist=HistSpec(0.0, 5000.0, 50)))
    engine.validate(df, shapes, keys)  # memoises the FK probes

    sent = _count_py4j_commands(monkeypatch)
    engine.validate(df, shapes, keys)
    n_validate = len(sent)
    sent.clear()
    profile(df, specs)
    n_profile = len(sent)
    assert n_validate <= 2110, n_validate
    assert n_profile <= 231, n_profile


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"stat": "kl"}, "stat"),
        ({"bins": 0, "baseline": (1, 1)}, "bins"),
        ({"lo": 5.0, "hi": 5.0}, "lo < hi"),
        ({"baseline": (1, 2, 3)}, "bin count mismatch"),
    ],
)
def test_bad_drift_declaration_raises_at_compile(spark, kwargs, match):
    """A Drift with an unknown stat, no bins, an empty range or a
    baseline that is not bins + 2 long is rejected by validate()."""
    spec = {"lo": 0.0, "hi": 10.0, "bins": 4, "baseline": (1,) * 6, **kwargs}
    shape = Shape("bad_drift", (Drift("v", **spec),))
    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match=match):
        ValidationEngine(spark).validate(df, [shape], ["k"])


def _profile_hist(spec):
    return lambda df: profile(df, [ProfileSpec("x", hist=spec)])


@pytest.mark.parametrize(
    "call, match",
    [
        (_profile_hist(HistSpec(5.0, 5.0, 4)), "lo < hi"),
        (_profile_hist(HistSpec(0.0, 10.0, 0)), "bins >= 1"),
        (lambda df: two_sample_drift(df, df, "x", 0.0, 10.0, bins=0), "bins >= 1"),
        (lambda df: two_sample_drift(df, df, "x", 5.0, 5.0), "lo < hi"),
    ],
    ids=[
        "profile-empty-range",
        "profile-no-bins",
        "two-sample-no-bins",
        "two-sample-empty-range",
    ],
)
def test_bad_histogram_declaration_raises(spark, call, match):
    """A histogram with no bin or an empty range is
    rejected with ValueError when the plan is built, never by a silent
    count, a ZeroDivisionError or a failing query."""
    df = spark.createDataFrame(
        [(1.0, datetime.datetime(2024, 1, 1))], "x double, ts timestamp"
    )
    with pytest.raises(ValueError, match=match):
        call(df)


@pytest.mark.parametrize(
    "ddl, values, spec, expected",
    [
        # width = 0.9 / 3 = 0.30000000000000004: 0.8999999999999999 is
        # below hi yet floors to bin 3 == bins, so it lands in overflow
        (
            "double",
            [0.8999999999999999, None, -1.0, 0.0, 0.9, 1.0, 0.45],
            HistSpec(0.0, 0.9, 3),
            [1, 1, 1, 0, 3],
        ),
        (
            "int",
            [-3, 0, 2, 3, 7, 9, 10, 12, None],
            HistSpec(0.0, 10.0, 4),
            [1, 2, 1, 1, 1, 2],
        ),
    ],
    ids=["double", "int"],
)
def test_profile_and_drift_bin_alike_at_the_edges(spark, ddl, values, spec, expected):
    """A profile histogram used as a Drift baseline over the same rows
    scores exactly 0: the profile and the Drift check put every value,
    NULL, underflow, overflow and the inexact-width edge included, in
    the same bin."""
    df = spark.createDataFrame(list(enumerate(values)), f"k long, x {ddl}")
    hist = profile(df, [ProfileSpec("x", hist=spec)])["x"]["hist"]
    assert hist == expected
    engine = ValidationEngine(spark)
    for stat in ("psi", "ks"):
        drift = Drift("x", lo=spec.lo, hi=spec.hi, bins=spec.bins, stat=stat,
                      threshold=0.0, baseline=tuple(hist))
        assert engine.validate(df, [Shape(f"edge_{stat}", (drift,))], ["k"]).conforms


def test_profile_column_name_with_backtick(spark):
    """A bare ProfileSpec name is quoted as an identifier, so a column
    whose name holds a backtick profiles like any other."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("we`ird", T.DoubleType())])
    df = spark.createDataFrame([(1.0,), (3.0,), (None,)], schema)
    spec = ProfileSpec("we`ird", hist=HistSpec(0.0, 4.0, 2))
    got = profile(df, [spec])["we`ird"]
    assert (got["non_null"], got["min"], got["max"]) == (2, "1.0", "3.0")
    assert got["hist"] == [0, 1, 1, 0]


# quote, backslash, double quote, percent, non-ASCII and a SQL
# variable reference: each must survive the SQL text the engine parses
_ODD = "it's \\d+ \"50%\" ünïcødé 日本 ${spark.app.name}"


@pytest.mark.parametrize(
    "lo, hi, bins, expected",
    [
        # width 0.6 / 3 is inexact in doubles; the lengths all fall
        # outside [0.1, 0.7)
        (0.1, 0.7, 3, [2, 0, 0, 0, 4]),
        # (1 - 0.7) / 0.30000000000000004 is exactly 1.0 in doubles but
        # 0.99... in decimals: a DECIMAL lo or width puts length 1 in b0
        (0.7, 1.3, 2, [2, 0, 2, 2]),
    ],
    ids=["issue-range", "decimal-edge"],
)
def test_sql_text_keeps_strings_and_double_bins(spark, lo, hi, bins, expected):
    """Shape id, message and severity reach the violation rows exactly
    as declared, and a profile histogram and a Drift over an integer
    expression bin with DOUBLE bounds (the profile's bins are pinned, and
    the Drift scores 0 against them)."""
    from xpshacl_spark.shapes import DatasetMetric, NotNull

    df = spark.createDataFrame(
        list(enumerate([None, "", "a", "b", "abc", "abcdefgh"])),
        "k long, text string",
    )
    expr = "coalesce(length(text), 0)"
    hist = profile(df, [ProfileSpec("n", expression=expr,
                                    hist=HistSpec(lo, hi, bins))])["n"]["hist"]
    assert hist == expected

    odd = Shape(
        f"urn:{_ODD}",
        (NotNull("text"), DatasetMetric("row_count", max_value=1)),
        severity=_ODD,
        message=_ODD,
    )
    engine = ValidationEngine(spark)
    rows = engine.validate(df, [odd], ["k"]).violations.collect()
    assert len(rows) == 2
    for r in rows:
        assert (r["shape_id"], r["message"], r["severity"]) == (
            f"urn:{_ODD}", _ODD, _ODD,
        )
    for stat in ("psi", "ks"):
        drift = Drift(expr, lo=lo, hi=hi, bins=bins, stat=stat,
                      threshold=0.0, baseline=tuple(expected))
        shape = Shape(f"bins_{stat}", (drift,))
        assert engine.validate(df, [shape], ["k"]).conforms


def test_approx_quantiles_relation_shape_and_bound(spark):
    """approx_quantiles_relation matches quantiles_relation's relation
    shape, its values are actual data values within the sketch's rank
    bound, and the error-bound variant keeps the r6 shape: the exact
    side is the distributed histogram rank selection (never Spark's
    raw-row exact `percentile` buffer, and no single-task per-column
    pandas stage), while the approx sketch rides the same fused
    bounds agg."""
    from xpshacl_spark.operators.profile import (
        approx_quantiles_relation,
        quantiles_error_bound_relation,
        quantiles_relation,
    )

    df = spark.range(10_000).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2).cast("double").alias("y"),
    )
    approx = approx_quantiles_relation(df, ["x", "y"], (0.25, 0.5, 0.75))
    exact = quantiles_relation(df, ["x", "y"], (0.25, 0.5, 0.75))
    assert approx.columns == exact.columns
    a = {(r["column"], r.q): r.quantile for r in approx.collect()}
    e = {(r["column"], r.q): r.quantile for r in exact.collect()}
    for k in e:
        # rank error 1e-4 over 10k uniform rows => value error ~ O(1)
        assert abs(a[k] - e[k]) <= (4 if k[0] == "x" else 8)

    checked = quantiles_error_bound_relation(df, ["x", "y"], (0.25, 0.5, 0.75))
    rows = checked.collect()
    assert len(rows) == 6
    assert all(r.within_bound for r in rows)
    assert {(r["column"], r.q): r.exact_q for r in rows} == e
    plan = checked._jdf.queryExecution().executedPlan().toString()
    # the returned relation is assembled from the distributed rank
    # selection: no raw-row exact percentile aggregation buffer and no
    # single-task per-column pandas group anywhere in the final plan
    assert "percentile(" not in plan.replace("approx_percentile(", "")
    assert "FlatMapGroupsInPandas" not in plan

    with pytest.raises(ValueError, match="rank_margin"):
        quantiles_error_bound_relation(
            df, ["x"], (0.5,), accuracy=100, rank_margin=0.005
        )


def test_exact_quantile_state_matches_sorted_oracle(spark):
    """Randomized parity for the distributed histogram rank selection:
    for adversarial value distributions (heavy duplicates, a hot
    point mass that forces a refinement level, negatives, huge
    magnitudes), _exact_quantile_state's (N, value-at-rank) must equal
    a full driver-side sort + _percentile_from_sorted lookups, and
    quantiles_relation must equal Spark's exact percentile bit-for-bit."""
    import random

    import numpy as np

    from xpshacl_spark.operators.profile import (
        _exact_quantile_state,
        _percentile_from_sorted,
        _rank_targets,
        quantiles_relation,
    )

    rng = random.Random(60_601)
    qs = (0.1, 0.25, 0.5, 0.75, 0.9)
    for trial, pool in enumerate(
        [
            [rng.uniform(-1e9, 1e9) for _ in range(500)],
            [float(rng.randint(0, 8)) for _ in range(500)],
            # point mass: 90% identical values in one tiny bucket
            [3.25] * 450 + [rng.uniform(3.0, 3.5) for _ in range(50)],
        ]
    ):
        rng.shuffle(pool)
        df = spark.createDataFrame([(v,) for v in pool], "x double")
        n_by, val_at, _ = _exact_quantile_state(
            df, ["x"], list(qs), bucket_count=4, candidate_limit=64,
            max_depth=4,
        )
        assert n_by["x"] == len(pool)
        v = np.sort(np.array(pool, dtype="float64"))
        distinct, counts = np.unique(v, return_counts=True)
        cum = np.cumsum(counts)
        for rank in _rank_targets(len(pool), qs):
            idx = int(np.searchsorted(cum, rank, side="left"))
            assert val_at[("x", rank)] == float(distinct[idx]), (
                trial, rank,
            )
        got = {
            r.q: r.quantile
            for r in quantiles_relation(df, ["x"], qs).collect()
        }
        want = {q: _percentile_from_sorted(distinct, cum, q) for q in qs}
        assert got == want, trial


def test_error_bound_vacuous_below_resolution(spark):
    """Small-N soundness: with 2 rows the rank margin buys < 1 row of
    slack, so the sketch (which must return a data value) could sit
    outside the interpolated [q-m, q+m] band while meeting its rank
    guarantee — within_bound must be vacuously TRUE there, and the
    exact_q column still exact."""
    from xpshacl_spark.operators.profile import quantiles_error_bound_relation

    df = spark.createDataFrame([(0.0,), (100.0,)], "x double")
    rows = quantiles_error_bound_relation(df, ["x"], (0.5,)).collect()
    assert len(rows) == 1
    assert rows[0].within_bound is True
    assert rows[0].exact_q == 50.0


def test_two_sample_drift_matches_python_stats(spark):
    """two_sample_drift's in-plan PSI/KS must equal psi_statistic /
    ks_statistic over the same bin counts, and identical distributions
    must score PSI ~ 0 / KS = 0."""
    from xpshacl_spark.operators.drift import (
        ks_statistic,
        psi_statistic,
        two_sample_drift,
    )

    a = spark.createDataFrame([(float(i % 10),) for i in range(100)], "x double")
    b = spark.createDataFrame([(float(i % 5),) for i in range(80)], "x double")
    got = {r.stat: r.value for r in
           two_sample_drift(a, b, "x", 0.0, 10.0, bins=5).collect()}
    # recompute bin counts in python: bucket width 2, underflow/overflow 0
    import collections
    ca = collections.Counter(int((i % 10) // 2) for i in range(100))
    cb = collections.Counter(int((i % 5) // 2) for i in range(80))
    base = [0] + [ca.get(j, 0) for j in range(5)] + [0]
    cur = [0] + [cb.get(j, 0) for j in range(5)] + [0]
    assert abs(got["psi"] - psi_statistic(base, cur)) < 1e-12
    assert abs(got["ks"] - ks_statistic(base, cur)) < 1e-12

    same = {r.stat: r.value for r in
            two_sample_drift(a, a, "x", 0.0, 10.0, bins=5).collect()}
    assert abs(same["psi"]) < 1e-12 and same["ks"] == 0.0

    # single pass: one aggregate over the union, no join
    plan = two_sample_drift(a, b, "x", 0.0, 10.0, bins=5)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in s
    assert s.count("Union") == 1


def test_two_sample_drift_empty_and_default_bins(spark):
    """Empty inputs yield psi 0.0 / ks 0.0 (never NULL — coalesced
    counts), and the default 64-bin form executes with a bounded plan
    (the staged cell relation keeps the expression tree O(bins))."""
    from xpshacl_spark.operators.drift import two_sample_drift

    empty = spark.createDataFrame([], "x double")
    got = {r.stat: r.value for r in
           two_sample_drift(empty, empty, "x", 0.0, 10.0, bins=5).collect()}
    assert got == {"psi": 0.0, "ks": 0.0}

    a = spark.range(2000).select((F.col("id") % 97).cast("double").alias("x"))
    b = spark.range(2000).select((F.col("id") % 89).cast("double").alias("x"))
    full = {r.stat: r.value for r in
            two_sample_drift(a, b, "x", 0.0, 100.0).collect()}  # bins=64
    assert full["ks"] is not None and 0.0 <= full["ks"] <= 1.0
    assert full["psi"] is not None and full["psi"] >= 0.0


def test_two_sample_drift_clamps_inexact_width_edge(spark):
    """width=(hi-lo)/bins inexact in doubles: a value just below hi
    whose floor((v-lo)/width) rounds to `bins` must be counted in the
    LAST in-range bin, not overflow (clamp pinned by exact counts)."""
    from xpshacl_spark.operators.drift import two_sample_drift

    import math

    # width = 0.9/3 = 0.30000000000000004; v = nextafter(0.9, -inf) is
    # < 0.9 yet floor(v/width) == 3 == bins
    v = 0.8999999999999999
    assert v < 0.9 and math.floor(v / (0.9 / 3)) == 3
    a = spark.createDataFrame([(v,)], "x double")
    b = spark.createDataFrame([(0.05,)], "x double")
    got = {r.stat: r.value for r in
           two_sample_drift(a, b, "x", 0.0, 0.9, bins=3).collect()}
    # both singletons fully in-range: totals 1 and 1 -> KS gap 1.0 at
    # the first bin edge (b all in bin 0, a clamped into bin 2)
    assert got["ks"] == 1.0


def test_entropy_relation_values_and_plan(spark):
    """entropy_relation: hand-computed entropy/distinctness on a tiny
    distribution; NULLs excluded; all-null columns emit no row; and the
    plan is pure hash aggregation — no Window, no Sort, no join."""
    import math

    from xpshacl_spark.operators.profile import entropy_relation

    rows = [("a", "x", None), ("a", "y", None), ("b", "x", None), ("b", "x", None)]
    df = spark.createDataFrame(rows, "u string, v string, w string")
    out = entropy_relation(df, ["u", "v", "w"])
    got = {r["col_name"]: r for r in out.collect()}
    assert set(got) == {"u", "v"}  # w is all-null
    # u: counts (2,2) -> entropy ln2; v: (3,1) -> ln4 - (3 ln3)/4
    assert got["u"]["n_values"] == 4 and got["u"]["n_distinct"] == 2
    assert got["u"]["entropy"] == pytest.approx(math.log(2), abs=1e-6)
    assert got["u"]["distinctness"] == pytest.approx(0.5)
    assert got["v"]["entropy"] == pytest.approx(
        math.log(4) - 3 * math.log(3) / 4, abs=1e-6
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort" not in plan and "Join" not in plan


def test_correlation_relation(spark):
    """correlation_relation: exact r on a hand-checkable set, pairwise
    null deletion, NULL for constant columns, and a pure-aggregate plan
    (no window/sort/join)."""
    from xpshacl_spark.operators.profile import correlation_relation

    rows = [
        (1.0, 2.0, 5.0, 1.0),
        (2.0, 4.0, 4.0, 1.0),
        (3.0, 6.0, 3.0, 1.0),
        (4.0, None, 2.0, 1.0),  # dropped pairwise for (x,y) only
    ]
    df = spark.createDataFrame(rows, "x double, y double, z double, c double")
    out = correlation_relation(df, [("x", "y"), ("x", "z"), ("x", "c")])
    got = {(r["x"], r["y"]): r for r in out.collect()}
    assert got[("x", "y")]["n_pairs"] == 3
    assert got[("x", "y")]["corr"] == pytest.approx(1.0)
    assert got[("x", "z")]["n_pairs"] == 4
    assert got[("x", "z")]["corr"] == pytest.approx(-1.0)
    assert got[("x", "c")]["corr"] is None  # zero variance
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan


def test_mutual_information_relation(spark):
    """mutual_information_relation: MI=0 for independent columns,
    ln(2) for a deterministic 1-1 mapping of two equiprobable values,
    and the fact table is scanned once (single Scan in the plan)."""
    import math

    from xpshacl_spark.operators.profile import mutual_information_relation

    # deterministic bijection: MI = H(X) = ln 2
    rows = [("a", "p"), ("a", "p"), ("b", "q"), ("b", "q")]
    df = spark.createDataFrame(rows, "x string, y string")
    r = mutual_information_relation(df, "x", "y").collect()[0]
    assert r["n_pairs"] == 4
    assert r["mi"] == pytest.approx(math.log(2), abs=1e-6)

    # independent: every (x,y) combination equally likely -> MI 0
    rows2 = [(a, b) for a in "ab" for b in "pq"]
    df2 = spark.createDataFrame(rows2, "x string, y string")
    r2 = mutual_information_relation(df2, "x", "y").collect()[0]
    assert r2["mi"] == pytest.approx(0.0, abs=1e-6)

    out = mutual_information_relation(df, "x", "y")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # marginals + total derive from the pair relation: the pair-agg
    # exchange is computed ONCE and the three derived branches attach
    # as ReusedExchange — the fact table is scanned once
    assert plan.count("ReusedExchange") == 3
    assert "Window" not in plan


def test_non_finite_numbers_never_become_sql_identifiers(spark):
    """An infinite histogram bound or a NaN in a Drift baseline is
    rejected with ValueError, even on a frame with columns named `inf`
    and `nan`, which the printed number would otherwise bind to."""
    from xpshacl_spark.sqltext import double_literal

    inf, nan = float("inf"), float("nan")
    for x in (inf, -inf, nan):
        with pytest.raises(ValueError, match="non-finite"):
            double_literal(x)
    df = spark.createDataFrame(
        [(1, 1.0, 2.0, 3.0)], "k long, v double, inf double, nan double"
    )
    with pytest.raises(ValueError, match="finite"):
        profile(df, [ProfileSpec("v", hist=HistSpec(0.0, inf, 4))])
    with pytest.raises(ValueError, match="finite"):
        two_sample_drift(df, df, "v", -inf, 1.0, bins=4)
    engine = ValidationEngine(spark)
    bad = [
        Drift("v", lo=0.0, hi=inf, bins=4, baseline=(1,) * 6),
        Drift("v", lo=0.0, hi=4.0, bins=4, baseline=(1, 1, nan, 1, 1, 1)),
    ]
    for drift in bad:
        with pytest.raises(ValueError, match="finite"):
            engine.validate(df, [Shape("bad_drift", (drift,))], ["k"])


def test_drift_and_profile_aggregate_projected_columns(spark, monkeypatch):
    """The whole-table aggregate counts each Drift's projected bucket
    and profile() aggregates projected columns: in the optimized plans
    no aggregate function computes length(text) itself, so the
    optimizer has not inlined the projections back, and each row
    computes the length once."""
    import re

    from xpshacl_spark.datagen import roles_dim, tools_dim, transcripts
    from xpshacl_spark.suites import transcript_shapes

    engine = ValidationEngine(
        spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
    )
    df = transcripts(spark, n_convs=20)
    drift = Drift("length(text)", lo=0.0, hi=400.0, bins=8,
                  baseline=tuple(range(10)))
    rep = engine.validate(df, transcript_shapes(drift=drift), ["conv_id", "turn_idx"])

    collected = []  # the frame profile() collects
    collect = type(df).collect
    monkeypatch.setattr(
        type(df), "collect", lambda self: collected.append(self) or collect(self)
    )
    spec = ProfileSpec("n", expression="length(text)", hist=HistSpec(0.0, 400.0, 8))
    profile(df, [spec])
    monkeypatch.undo()

    def aggregate_exprs(plan):
        if plan.nodeName() == "Aggregate":
            exprs = plan.aggregateExpressions()
            yield from (exprs.apply(i).toString() for i in range(exprs.size()))
        children = plan.children()
        for i in range(children.size()):
            yield from aggregate_exprs(children.apply(i))

    length_of_text = re.compile(r"(?<!octet_)length\(text#")
    for frame in (rep.violations, *collected):
        exprs = list(aggregate_exprs(frame._jdf.queryExecution().optimizedPlan()))
        assert any("count(" in e for e in exprs)
        assert not [e for e in exprs if length_of_text.search(e)]
    assert len(collected) == 1

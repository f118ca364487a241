"""Fused profiler + KS/PSI drift statistics + Drift constraint e2e."""

import datetime

import pytest
from pyspark.sql import functions as F

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.operators.drift import ks_statistic, psi_statistic
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
    prof = profile(df, [ProfileSpec("k")])
    assert abs(prof["k"]["approx_distinct"] - 100) <= 5


def test_profile_sketches_merge_to_whole(spark):
    """Profiles of two halves of a table merge into the whole table's:
    count, non_null and the histogram bins add up, and Spark's hll_union
    of the halves' sketch bytes, and hll_union_agg of them with an empty
    input's sketch, hold the whole table's HLL registers: read through
    one more union, so that both sides use the same (composite)
    estimator, the estimates are equal. A sketch built from one stream
    is read by the HIP estimator instead, which can differ by a few
    counts on the same registers (498 against 491 for 500 values split
    into two 250-value halves). Every column type profiles, the ones
    hll_sketch_agg does not read (double, smallint, date) included, and
    each estimate is within 5% (about 3 standard errors at lgConfigK 12)
    of the exact distinct count, or 0 on an empty input. A profile runs
    the jobs of one global aggregate."""
    from test_checkpoint import _jobs

    df = spark.range(10_000).selectExpr(
        "id",
        "CAST(id % 3001 AS INT) AS i",
        "id * 7919 AS b",
        "concat('k', id % 2003) AS s",
        "CAST(id % 997 AS DOUBLE) / 4 AS d",
        "CAST(id % 500 AS SMALLINT) AS sm",
        "date_add(DATE'2020-01-01', CAST(id % 1500 AS INT)) AS dt",
        "CAST(NULL AS STRING) AS n",
    )
    names = ["i", "b", "s", "d", "sm", "dt", "n"]
    specs = [ProfileSpec(c) for c in names]
    specs.append(ProfileSpec("d_hist", expression="d", hist=HistSpec(0.0, 200.0, 8)))
    specs.append(ProfileSpec("i_hist", expression="i", hist=HistSpec(0.0, 3001.0, 5)))

    whole, n_jobs = _jobs(spark, "profile-jobs", lambda: profile(df, specs))
    _, n_agg_jobs = _jobs(spark, "agg-jobs", df.agg(F.count(F.lit(1))).collect)
    assert n_jobs == n_agg_jobs, (n_jobs, n_agg_jobs)

    exact = df.agg(*(F.count_distinct(c).alias(c) for c in names)).collect()[0]
    empty = profile(df.where("false"), specs)
    for c in names:
        assert abs(whole[c]["approx_distinct"] - exact[c]) <= 0.05 * exact[c], c
        assert empty[c]["approx_distinct"] == 0, c
        assert (empty[c]["count"], empty[c]["non_null"]) == (0, 0), c

    halves = [profile(df.where(f"id % 2 = {r}"), specs) for r in (0, 1)]
    for s in specs:
        c = s.name
        for key in ("count", "non_null"):
            assert halves[0][c][key] + halves[1][c][key] == whole[c][key], (c, key)
        if s.hist:
            merged = [x + y for x, y in zip(halves[0][c]["hist"], halves[1][c]["hist"])]
            assert merged == whole[c]["hist"], c
            assert sum(empty[c]["hist"]) == 0, c

    parts = (("a", halves[0]), ("b", halves[1]), ("empty", empty), ("whole", whole))
    sketches = spark.createDataFrame(
        [(s.name, part, p[s.name]["hll_sketch"]) for s in specs for part, p in parts],
        "name string, part string, sketch binary",
    )
    by_agg = (
        sketches.where("part != 'whole'")
        .groupBy("name")
        .agg(F.expr("hll_union_agg(sketch)").alias("m_agg"))
    )
    rows = (
        sketches.groupBy("name")
        .pivot("part", ["a", "b", "whole"])
        .agg(F.first("sketch"))
        .join(by_agg, "name")
        .selectExpr("name", "hll_union(a, b) AS m", "m_agg", "whole")
        .selectExpr(
            "name",
            "hll_sketch_estimate(m) AS est",
            "hll_sketch_estimate(hll_union(m, m)) AS m_est",
            "hll_sketch_estimate(hll_union(m_agg, m_agg)) AS agg_est",
            "hll_sketch_estimate(hll_union(whole, whole)) AS whole_est",
        )
        .collect()
    )
    assert sorted(r["name"] for r in rows) == sorted(s.name for s in specs)
    source = {s.name: s.expression or s.name for s in specs}
    for r in rows:
        n_exact = exact[source[r["name"]]]
        assert abs(r["est"] - n_exact) <= 0.05 * n_exact, r
        assert r["m_est"] == r["agg_est"] == r["whole_est"], r


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
    ],
    ids=[
        "profile-empty-range",
        "profile-no-bins",
    ],
)
def test_bad_histogram_declaration_raises(spark, call, match):
    """A profile histogram with no bin or an empty range is rejected
    with ValueError when the plan is built, never by a silent count, a
    ZeroDivisionError or a failing query."""
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

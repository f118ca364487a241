"""Metric-history anomaly detection: flag runs whose metrics deviate.

The cross-run control loop on top of the engine's checkpoint manifests
(checkpoint.py records run_id / shape_id / n_violations / finished_unix
per completed shape): a metric that jumps relative to its own trailing
history is the alert a 100 TB nightly pipeline pages on — the same role
AWS Deequ's anomaly detection + metrics repository plays, re-expressed
relationally. The reference has no cross-run memory beyond the
violation-KG cache (violation_kg.py caches explanation WORK, not
metric LEVELS); this closes that gap for the tabular engine.

Semantics: history is a long relation (metric, order, value). Per
metric, in order, the baseline is the mean of up to ``window``
IMMEDIATELY PRECEDING values (the current value never baselines
itself); a row is anomalous when ``|value - mean| > threshold * mean``
(relative deviation), OR when the baseline is exactly 0 and the value
is positive — the healthy-pipeline-then-first-failure case (history
0,0,0 then 1M violations) that a bare relative-deviation rule would
silently suppress; its deviation_ratio is NULL (no finite ratio
exists). At least ``min_history`` prior points must exist either way.
Only anomalous rows are returned — like report_diff, the EMPTY relation
is the all-clear assertion.

Determinism/oracle note: with count-valued metrics the trailing sum is
exact integer arithmetic in double (counts < 2^53), the mean is one
division, and the deviation one subtract+divide — Spark and any ANSI
engine running the same expression over the same ROWS frame produce
bit-identical doubles, so the relation is value-oracle-able with no
rounding.

Plan shape: ONE window (partitionBy metric, orderBy order, ROWS
[-window, -1]) over the history relation — which is runs x metrics
rows, metadata-sized however large the validated data is; partitioning
by metric means no global sort at any history length.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xpshacl_spark.session import local_relation


def metric_anomalies(
    history: DataFrame,
    metric_col: str = "metric",
    order_col: str = "run_order",
    value_col: str = "value",
    *,
    window: int = 7,
    threshold: float = 0.5,
    min_history: int = 3,
) -> DataFrame:
    """(metric, order, value, baseline_mean, deviation_ratio, n_history)
    for every history point deviating more than ``threshold`` relative
    to its trailing-``window`` mean; empty relation = no anomalies."""
    if window < 1 or min_history < 1 or min_history > window:
        raise ValueError(
            f"need 1 <= min_history <= window, got {min_history}/{window}"
        )
    w = (
        Window.partitionBy(metric_col)
        .orderBy(order_col)
        .rowsBetween(-window, -1)
    )
    v = F.col(value_col).cast("double")
    mean = F.avg(v).over(w)
    n_hist = F.count(v).over(w)
    dev = F.when(
        F.col("baseline_mean") > 0,
        (F.col("value") - F.col("baseline_mean")) / F.col("baseline_mean"),
    )
    return (
        history.select(
            F.col(metric_col).alias("metric"),
            F.col(order_col).alias("run_order"),
            v.alias("value"),
            mean.alias("baseline_mean"),
            n_hist.alias("n_history"),
        )
        .withColumn("deviation_ratio", dev)
        .where(
            (F.col("n_history") >= min_history)
            & (
                (
                    (F.col("baseline_mean") > 0)
                    & (
                        F.abs(F.col("value") - F.col("baseline_mean"))
                        > F.lit(threshold) * F.col("baseline_mean")
                    )
                )
                | (
                    (F.col("baseline_mean") == 0)
                    & (F.col("value") > 0)
                )
            )
        )
        .select(
            "metric",
            "run_order",
            "value",
            "baseline_mean",
            "deviation_ratio",
            "n_history",
        )
    )


def history_from_manifests(
    spark: SparkSession, output_dirs: Sequence[str]
) -> DataFrame:
    """Cross-run metric history from checkpoint manifest directories
    (one ``CheckpointedRun`` output dir per run): metric = shape_id's
    violation count, ordered by the manifest's finish time. Manifests
    are driver-side JSON by design (metadata, not data), so this reads
    len(dirs) x n_shapes small files — bounded."""
    rows = []
    for d in output_dirs:
        mdir = os.path.join(d, "manifest")
        if not os.path.isdir(mdir):
            raise FileNotFoundError(f"no manifest dir under {d}")
        for fn in sorted(os.listdir(mdir)):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(mdir, fn)) as f:
                rec = json.load(f)
            if rec.get("status") != "completed":
                continue
            rows.append(
                (
                    f"n_violations/{rec['shape_id']}",
                    float(rec["finished_unix"]),
                    float(rec["n_violations"]),
                    rec["run_id"],
                )
            )
    return local_relation(
        spark, rows, "metric string, run_order double, value double, run_id string"
    )


def rate_of_change_anomalies(
    history: DataFrame,
    metric_col: str = "metric",
    order_col: str = "run_order",
    value_col: str = "value",
    *,
    max_increase: float = 2.0,
    max_decrease: float = 0.5,
) -> DataFrame:
    """Deequ RelativeRateOfChangeStrategy: per metric in run order,
    rate = value / previous value; a row is anomalous when the rate
    exceeds ``max_increase`` or falls below ``max_decrease``. Rows with
    no prior point, or a prior value <= 0 (no meaningful ratio), are
    never flagged. One lag window per metric over the metadata-sized
    history — same plan shape as metric_anomalies. Doubles are one
    division on both engines, so the relation value-oracles exactly
    for count-valued metrics."""
    w = Window.partitionBy(metric_col).orderBy(order_col)
    v = F.col(value_col).cast("double")
    prev = F.lag(v).over(w)
    return (
        history.select(
            F.col(metric_col).alias("metric"),
            F.col(order_col).alias("run_order"),
            v.alias("value"),
            prev.alias("prev_value"),
        )
        .withColumn("rate", F.col("value") / F.col("prev_value"))
        .where(
            F.col("prev_value").isNotNull()
            & (F.col("prev_value") > 0)
            & (
                (F.col("rate") > F.lit(max_increase))
                | (F.col("rate") < F.lit(max_decrease))
            )
        )
        .select("metric", "run_order", "value", "prev_value", "rate")
    )


def zscore_anomalies(
    history: DataFrame,
    metric_col: str = "metric",
    order_col: str = "run_order",
    value_col: str = "value",
    *,
    window: int = 7,
    z: float = 3.0,
    min_history: int = 3,
) -> DataFrame:
    """Deequ OnlineNormalStrategy, batch form: per metric, trailing
    sample mean and standard deviation over up to ``window`` preceding
    points (never including the current one); a row is anomalous when
    ``|value - mean| > z * std`` with at least ``min_history`` prior
    points and a strictly positive std.

    The variance is computed EXPLICITLY as
    (sum(v^2) - sum(v)^2/n) / (n-1) — the textbook one-pass form with a
    fixed operation order — rather than the engine's stddev_samp, whose
    internal algorithm (Welford vs naive) differs across engines by an
    ulp and would break value-hash parity; for count-valued metrics
    every sum is exact in double, making the whole relation
    bit-reproducible on any ANSI engine (same convention as
    profile.correlation_relation). Plan: ONE window (partitionBy
    metric, ROWS [-window, -1]) carrying three shared frame aggregates."""
    if window < 2 or min_history < 2 or min_history > window:
        raise ValueError(
            f"need 2 <= min_history <= window, got {min_history}/{window}"
        )
    w = (
        Window.partitionBy(metric_col)
        .orderBy(order_col)
        .rowsBetween(-window, -1)
    )
    v = F.col(value_col).cast("double")
    s1 = F.sum(v).over(w)
    s2 = F.sum(v * v).over(w)
    n = F.count(v).over(w)
    staged = history.select(
        F.col(metric_col).alias("metric"),
        F.col(order_col).alias("run_order"),
        v.alias("value"),
        s1.alias("_s1"),
        s2.alias("_s2"),
        n.alias("_n"),
    )
    nn = F.col("_n").cast("double")
    mean = F.col("_s1") / nn
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / nn) / (nn - 1)
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        staged.withColumn("baseline_mean", mean)
        .withColumn("baseline_std", std)
        .where(
            (F.col("_n") >= min_history)
            & (F.col("baseline_std") > 0)
            & (
                F.abs(F.col("value") - F.col("baseline_mean"))
                > F.lit(z) * F.col("baseline_std")
            )
        )
        .select(
            "metric",
            "run_order",
            "value",
            F.round("baseline_mean", 6).alias("baseline_mean"),
            F.round("baseline_std", 6).alias("baseline_std"),
            F.col("_n").alias("n_history"),
        )
    )

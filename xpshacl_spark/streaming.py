"""Structured Streaming validation path.

The north rule is batch-with-checkpoint (SURVEY.md §2E declares
streaming out of the reference's scope), but transcript tables are
typically FED by a stream, so the engine exposes the subset of checks
whose semantics survive unbounded input:

* row-level constraints — stateless map/filter, identical plan to the
  batch fused scan (same compiler code path);
* referential checks — stream-static broadcast LEFT ANTI joins
  (supported by Structured Streaming);
* cardinality per event-time window — `windowed_min_count` /
  `windowed_max_count`: watermarked tumbling-window counts emitted in
  append mode once the watermark closes the window;
* custom stateful operators — `streaming_dedup` (exact dedup /
  duplicate detection with per-fingerprint state) and
  `streaming_monotonic` (per-key ordering check with last-seen state),
  both Arrow-batched `applyInPandasWithState` (the state itself is
  bounded: one tiny tuple per distinct key, not per row).

Whole-table constraints (global uniqueness without a key horizon,
distribution drift) need retractions; they stay batch/checkpoint
concerns — `validate_stream` raises on them rather than silently
computing something weaker.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xpshacl_spark.compiler import ValidationEngine, _violation_struct
from xpshacl_spark.shapes import (
    GroupMaxCount,
    GroupMinCount,
    Shape,
    non_streamable_constraints,
)


def validate_stream(
    stream_df: DataFrame,
    shapes: Sequence[Shape],
    key_cols: Sequence[str],
    dims: Optional[dict] = None,
) -> DataFrame:
    """Compile streaming-safe shapes against a streaming DataFrame.

    Returns a STREAMING violations DataFrame with the same schema as
    the batch engine (key cols, focus_node, §1.3 columns) — wire it to
    any sink with .writeStream. Raises ValueError when a shape carries
    a constraint whose semantics do not stream."""
    if not stream_df.isStreaming:
        raise ValueError("validate_stream expects a streaming DataFrame")
    bad = non_streamable_constraints(shapes)
    if bad:
        raise ValueError(
            f"constraints not streamable (use the batch engine or "
            f"windowed_min_count/windowed_max_count): {bad}"
        )
    key_cols = list(key_cols)
    engine = ValidationEngine(stream_df.sparkSession, dims=dims or {})
    parts: list[DataFrame] = []
    row_df = engine._compile_row_checks(stream_df, shapes, key_cols)
    if row_df is not None:
        parts.append(row_df)
    parts.extend(engine._compile_fk_checks(stream_df, shapes, key_cols))
    if not parts:
        raise ValueError("no streamable constraints in the given shapes")
    violations = reduce(lambda a, b: a.unionByName(b), parts)
    return engine._with_focus_node(violations, key_cols)


def _windowed_counts(
    stream_df: DataFrame,
    group_by: Sequence[str],
    ts_col: str,
    window_duration: str,
    watermark: str,
    where: Optional[str],
    target: Optional[str] = None,
) -> DataFrame:
    # batch parity (compiler._compile_group_checks): the counted
    # condition is shape.target AND constraint.where — dropping the
    # target here made streaming counts include out-of-target rows
    exprs = [F.expr(e) for e in (target, where) if e]
    cond = (
        F.coalesce(reduce(lambda a, b: a & b, exprs), F.lit(False))
        if exprs
        else F.lit(True)
    )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("_w"), *group_by)
        .agg(F.count(F.when(cond, 1)).alias("_n"))
    )


def _windowed_violations(
    counts: DataFrame,
    shape: Shape,
    c,
    violated: Column,
    group_by: Sequence[str],
    bound_key: str,
    bound_val: int,
) -> DataFrame:
    ctx = F.create_map(
        F.lit(bound_key), F.lit(str(bound_val)),
        F.lit("actualCount"), F.col("_n").cast("string"),
        F.lit("windowStart"), F.col("_w.start").cast("string"),
        F.lit("windowEnd"), F.col("_w.end").cast("string"),
    )
    v = _violation_struct(shape, c, F.col("_n").cast("string"), ctx)
    out = counts.where(violated).select(
        *group_by,
        F.col("_w.start").alias("window_start"),
        v.alias("_v"),
    )
    return out.select(*group_by, "window_start", "_v.*")


def streaming_dedup(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    content_col: str = "text",
    emit_duplicates: bool = False,
    shards: int | None = None,
) -> DataFrame:
    """Stateful exact dedup over an unbounded stream.

    Keys state on the md5 content fingerprint (operators.text.
    normalize_text semantics, same key as batch `dedup.exact_duplicates`)
    via applyInPandasWithState.

    * emit_duplicates=False: pass through only the FIRST occurrence of
      each content ever seen (streaming dedup for training-data feeds).
    * emit_duplicates=True: emit the repeats instead, with `n_prior` =
      how many occurrences preceded them (streaming uniqueness-violation
      detection, the Unique constraint's unbounded analog).

    Within a micro-batch, occurrence order is made deterministic by
    sorting on key_cols. State is one counter per distinct content —
    bounded by distinct fingerprints, not rows.

    r06 (optimization guide §2.5 coarser keys / §4.2 vectorize): the
    stream groups by a deterministic SHARD of the fingerprint, not the
    raw fingerprint — grouping by fingerprint called the Python state
    function once per distinct content (50k Python invocations per
    micro-batch at the x10 bench scale, each paying concat +
    per-group overhead), where the shard form calls it `shards` times
    and handles each shard's fingerprints vectorized (groupby cumcount
    in pandas). Per-shard state is the (fingerprint -> count) slice as
    two parallel arrays; `shards` bounds state-value size — size it so
    fingerprints/shards stays ~10^3 (default: 8x shuffle partitions
    locally; a 100 TB corpus raises it so per-shard state stays flat,
    trading state-store value size against per-group overhead).
    Emitted rows are byte-identical to the per-fingerprint form: the
    within-batch order and cross-batch counters are per fingerprint
    either way.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from xpshacl_spark.operators.dedup import fingerprint_col

    keys = list(key_cols)
    spark = stream_df.sparkSession
    if shards is None:
        shards = 8 * max(
            1, int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        )
    tagged = stream_df.withColumn(
        "_fp", fingerprint_col(content_col)
    ).withColumn(
        "_shard", F.pmod(F.xxhash64("_fp"), F.lit(shards)).cast("long")
    )
    fields = [f for f in tagged.schema.fields if f.name != "_shard"]
    out_schema = StructType(fields + [StructField("n_prior", LongType())])

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            fps, counts = state.get
            seen = dict(zip(fps, counts))
        else:
            seen = {}
        batch = pd.concat(list(pdfs))
        if len(batch) == 0:
            state.update((list(seen), list(seen.values())))
            return
        batch = batch.sort_values(
            ["_fp", *keys], kind="mergesort"
        ).reset_index(drop=True)
        prior = batch["_fp"].map(seen).fillna(0).astype("int64")
        batch["n_prior"] = prior + batch.groupby("_fp").cumcount()
        totals = batch.groupby("_fp").size()
        for fp, cnt in totals.items():
            seen[fp] = seen.get(fp, 0) + int(cnt)
        state.update((list(seen), list(seen.values())))
        out = (
            batch[batch["n_prior"] > 0]
            if emit_duplicates
            else batch[batch["n_prior"] == 0]
        )
        if len(out):
            yield out.drop(columns=["_shard"])

    return tagged.groupBy("_shard").applyInPandasWithState(
        fn,
        out_schema,
        "fps array<string>, counts array<long>",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_monotonic(
    stream_df: DataFrame,
    group_by: Sequence[str],
    order_col: str,
    ts_col: str = "ts",
    shards: int | None = None,
) -> DataFrame:
    """Stateful per-key ordering check: the streaming analog of the
    batch `Monotonic` (lag-window) constraint.

    Emits a row for every (group, order) position whose ts regresses
    below the immediately preceding position's ts. State per key is the
    LAST SEEN ts (epoch microseconds), carried across micro-batches —
    within a batch rows are sorted by order_col, and batches are
    assumed to arrive in coarse order per key (true for append-style
    transcript feeds; out-of-order arrivals compare against the latest
    seen ts, exactly like the batch lag over arrival order).

    r06 (same redesign as :func:`streaming_dedup`): when every group
    column is an atomic string/integer type, the stream groups by a
    deterministic SHARD of the key instead of the raw key — one
    Python state call per shard instead of per group (15k groups per
    batch at the x10 bench scale), with the per-group lag computed
    vectorized inside the shard. Per-shard state is the
    (json-encoded key -> last epoch-us) slice as two parallel arrays
    (json round-trips ints and strings exactly); exotic key types
    fall back to the per-group form unchanged.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import StructType

    groups = list(group_by)
    in_schema = stream_df.schema
    out_schema = StructType(
        [in_schema[g] for g in groups]
        + [in_schema[order_col], in_schema[ts_col]]
    ).add("prev_ts", in_schema[ts_col].dataType)

    atomic = {"string", "int", "bigint", "smallint", "tinyint"}
    shardable = all(
        in_schema[g].dataType.simpleString() in atomic for g in groups
    )
    if shardable:
        spark = stream_df.sparkSession
        if shards is None:
            shards = 8 * max(
                1,
                int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            )
        tagged = stream_df.withColumn(
            "_shard",
            F.pmod(F.xxhash64(*[F.col(g) for g in groups]), F.lit(shards))
            .cast("long"),
        )

        def fn_shard(key, pdfs, state):
            import json

            import pandas as pd

            if state.exists:
                ks, vs = state.get
                last = dict(zip(ks, vs))
            else:
                last = {}
            batch = pd.concat(list(pdfs))
            if len(batch) == 0:
                state.update((list(last), list(last.values())))
                return
            batch = batch.sort_values(
                [*groups, order_col], kind="mergesort"
            ).reset_index(drop=True)
            gb = batch.groupby(groups, sort=False)
            prev = batch[ts_col].shift(1)
            # first row of each group must not inherit the previous
            # group's ts: overwrite with that group's carried state.
            # Keys are json-encoded ONLY at group heads/tails (one per
            # group per batch), never per row.
            head_idx = list(gb.head(1).index)
            tail_idx = list(gb.tail(1).index)

            def _key_at(i: int) -> str:
                vals = [
                    v.item() if hasattr(v, "item") else v
                    for v in (batch[g].iloc[i] for g in groups)
                ]
                return json.dumps(vals, separators=(",", ":"))

            for i in head_idx:
                lus = last.get(_key_at(i))
                prev.iloc[i] = (
                    pd.Timestamp(lus * 1000) if lus is not None else pd.NaT
                )
            viol = (
                batch[ts_col].notna() & prev.notna() & (batch[ts_col] < prev)
            )
            for i in tail_idx:
                t = batch[ts_col].iloc[i]
                last[_key_at(i)] = (
                    int(t.value // 1000) if pd.notna(t) else None
                )
            state.update((list(last), list(last.values())))
            out = batch.loc[viol, groups + [order_col, ts_col]].copy()
            out["prev_ts"] = prev[viol]
            if len(out):
                yield out

        return tagged.groupBy("_shard").applyInPandasWithState(
            fn_shard,
            out_schema,
            "ks array<string>, last_us array<long>",
            "append",
            GroupStateTimeout.NoTimeout,
        )

    def fn(key, pdfs, state):
        import pandas as pd

        batch = pd.concat(list(pdfs))
        if len(batch) == 0:
            return
        batch = batch.sort_values([order_col], kind="mergesort").reset_index(
            drop=True
        )
        prev = batch[ts_col].shift(1)
        if state.exists:
            last_us = state.get[0]
            if last_us is not None:
                prev.iloc[0] = pd.Timestamp(last_us * 1000)
        viol = batch[ts_col].notna() & prev.notna() & (batch[ts_col] < prev)
        # a NULL last-ts propagates (next batch's first row has no prev),
        # mirroring the batch lag() semantics over rows with null ts
        last = batch[ts_col].iloc[-1]
        state.update((int(last.value // 1000) if pd.notna(last) else None,))
        out = batch.loc[viol, groups + [order_col, ts_col]].copy()
        out["prev_ts"] = prev[viol]
        if len(out):
            yield out

    return stream_df.groupBy(*groups).applyInPandasWithState(
        fn, out_schema, "last_us long", "append", GroupStateTimeout.NoTimeout
    )


def windowed_min_count(
    stream_df: DataFrame,
    shape: Shape,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Event-time windowed sh:minCount: within each (group, tumbling
    window) that received ANY row, at least min_count rows must match
    the constraint's `where`. Emitted in append mode once the watermark
    closes the window.

    Caveat (inherent to streaming): a (group, window) with ZERO rows at
    all never materializes — absent-group detection stays a batch
    concern (GroupMinCount + key universe)."""
    cs = [c for c in shape.group_constraints() if isinstance(c, GroupMinCount)]
    if len(cs) != 1:
        raise ValueError("shape must carry exactly one GroupMinCount")
    c = cs[0]
    counts = _windowed_counts(
        stream_df, c.group_by, ts_col, window_duration, watermark, c.where,
        target=shape.target,
    )
    return _windowed_violations(
        counts, shape, c, F.col("_n") < F.lit(c.min_count), c.group_by,
        "minCount", c.min_count,
    )


def windowed_session_counts(
    stream_df: DataFrame,
    group_by: Sequence[str],
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Event-time SESSION windows (gap-based sessionization) on a
    stream: per (group, session) event counts with session bounds,
    where a session's end = last event + gap (Spark session_window
    semantics). Emitted in append mode once the watermark passes the
    session end, i.e. the gap has provably elapsed.

    Sessions are identified by their bounds, not by a per-group
    ordinal (a stream cannot know a session's ordinal without total
    history). State is bounded: one open session struct per active group, closed
    by the watermark. Value-oracled end-to-end in
    __spark_entry__.q_stream_sessions."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("_w"), *group_by)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *group_by,
            F.col("_w.start").alias("session_start"),
            F.col("_w.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_max_count(
    stream_df: DataFrame,
    shape: Shape,
    ts_col: str = "ts",
    window_duration: str = "10 minutes",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Event-time windowed sh:maxCount (rate-limit-style check)."""
    cs = [c for c in shape.group_constraints() if isinstance(c, GroupMaxCount)]
    if len(cs) != 1:
        raise ValueError("shape must carry exactly one GroupMaxCount")
    c = cs[0]
    counts = _windowed_counts(
        stream_df, c.group_by, ts_col, window_duration, watermark, c.where,
        target=shape.target,
    )
    return _windowed_violations(
        counts, shape, c, F.col("_n") > F.lit(c.max_count), c.group_by,
        "maxCount", c.max_count,
    )


def windowed_drift(
    stream_df: DataFrame,
    value_col: str,
    baseline_counts: Sequence[float],
    lo: float,
    width: float,
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    eps: float = 1e-6,
) -> DataFrame:
    """Streaming distribution-drift monitor: PSI per event-time tumbling
    window against a FIXED baseline histogram (e.g. the reference
    period's, computed in batch and passed as literals — the standard
    deploy shape: train-time distribution vs live traffic).

    Per window the value column is binned into the SAME fixed bins as
    the baseline by operators.drift.bin_index (floor((v - lo)/width),
    clamped to [0, nbins-1]: out-of-range values fold into the end
    bins, unlike the underflow/overflow histogram of `profile` and the
    Drift check, so bin the baseline with bin_index too) with ONE
    streaming aggregation —
    per-bin counts by operators.drift.count_array, so no second
    stateful operator is needed (multi-agg streams are restricted) —
    and the PSI is computed IN-PLAN by
    operators.drift.psi_column from the count columns and the baseline
    literals: no driver round trip, works inside any sink. Windows emit
    in append mode when the watermark closes them. Null values are
    excluded (they belong to a completeness check, not a drift bin).

    psi_column is the arithmetic of operators.drift.psi_statistic
    (proportions floored at eps; left-to-right term sum), the same
    expression the batch Drift check uses.
    """
    from xpshacl_spark.operators.drift import bin_index, count_array, psi_column
    from xpshacl_spark.sqltext import double_literal

    nb = len(baseline_counts)
    if nb < 2:
        raise ValueError("need at least 2 bins")
    if width <= 0:
        raise ValueError(f"need width > 0, got {width}")
    v = F.col(value_col)
    idx = bin_index(v, lo, width, nb)
    # NO pre-aggregation null filter: null-valued events must still
    # advance event time (a heartbeat tail of nulls would otherwise
    # stall the watermark and never close the last windows), and a
    # .where() between withWatermark and the agg does NOT guarantee
    # that — Catalyst's PushPredicateThroughNonJoin pushes a
    # deterministic predicate that doesn't reference the event-time
    # column BELOW EventTimeWatermark. Nulls are excluded inside the
    # aggregation instead (count(v) and NULL bin indexes contribute
    # nothing), and all-null windows are dropped AFTER the agg, where
    # the predicate cannot be pushed past the stateful operator.
    agg = (
        stream_df.withWatermark(ts_col, watermark)
        # explicit isNotNull: bin_index's greatest/least clamp SKIPS
        # nulls, so a NULL value would land in bin 0
        .withColumn("_drift_bin", F.when(v.isNotNull(), idx))
        .groupBy(F.window(ts_col, window_duration).alias("_w"))
        .agg(
            F.count(v).alias("n_rows"),
            count_array("_drift_bin", range(nb)).alias("_c"),
        )
        .where(F.col("n_rows") > 0)
    )
    baseline = ", ".join(double_literal(c) for c in baseline_counts)
    psi = psi_column(f"array({baseline})", "_c", eps)
    return agg.select(
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        F.col("n_rows").cast("int").alias("n_rows"),
        F.round(psi, 6).alias("psi"),
    )

"""Structured Streaming validation path.

The north rule is batch-with-checkpoint (SURVEY.md §2E declares
streaming out of the reference's scope), but transcript tables are
typically FED by a stream, so the engine exposes the subset of checks
whose semantics survive unbounded input:

* `validate_stream` — row-level constraints (stateless map/filter,
  identical plan to the batch fused scan, same compiler code path) and
  referential checks (stream-static broadcast LEFT ANTI joins);
* `streaming_dedup` — exact dedup / duplicate detection with
  per-fingerprint state in an Arrow-batched `applyInPandasWithState`
  (the state is bounded: one counter per distinct content, not per
  row).

Group, window and whole-table constraints (cardinality, ordering,
global uniqueness, distribution drift) need whole-group visibility or
retractions; they stay batch/checkpoint concerns — `validate_stream`
raises on them rather than silently computing something weaker.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.shapes import Shape, non_streamable_constraints


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
            f"constraints not streamable (use the batch engine): {bad}"
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
    # the same compiler parts validate() unions, in the same column
    # order, so the same positional union applies
    violations = reduce(DataFrame.union, parts)
    return engine._with_focus_node(violations, key_cols)


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

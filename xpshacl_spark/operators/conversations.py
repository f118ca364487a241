"""Conversation assembly: turn-level rows -> conversation-level docs.

The transcripts-payload bridge between the validation engine (which
works turn-level, keyed by (conv_id, turn_idx)) and the corpus
operators (dedup / quality, which work doc-level): assemble
each conversation's turns, in stable turn order, into ONE transcript
document plus rollup stats, so conversation-level dedup is exactly
`exact_duplicates` (or MinHash/SimHash) over the assembled relation.

Scale design: ONE hash aggregation keyed by the conversation columns.
Turn order inside a conversation is restored by
array_sort(collect_list(struct(order_cols..., line))) — struct compare
is lexicographic over the order columns, and the per-conversation
array is bounded by conversation length (thousands of turns), never
corpus-sized, so collect_list here is the per-group rollup Spark's agg
buffers are built for, not a driver-side collect. No window, no join:
a grouped agg lets map-side combine absorb turn-count skew between
conversations (a window over (conv, turn) would sort the full relation
instead).

The reference has no conversation assembly (it validates per-focus-node
triples); the north rule's multi-turn transcript table makes the
conversation the natural unit of dedup and quality filtering, so the
operator exists here as a first-class relation builder.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xpshacl_spark.operators.text import normalize_text  # noqa: F401 (re-export convenience)


def assemble_conversations(
    df: DataFrame,
    conv_cols: Sequence[str],
    order_cols: Sequence[str],
    role_col: str,
    text_col: str,
    *,
    sep: str = "\n",
    ts_col: str | None = None,
) -> DataFrame:
    """One row per conversation: (conv_cols..., n_turns, transcript,
    transcript_md5[, duration_us]).

    transcript = turns in (order_cols...) order, each rendered as
    "role: text" (NULL role and NULL text both render as empty — a
    null-propagating concat would silently DROP the whole turn from
    the transcript and its md5 while n_turns still counted it,
    collapsing distinct conversations into false duplicates), joined
    by ``sep``.
    transcript_md5 is the conversation's content fingerprint — group
    on it (or feed the transcript to the dedup operators) for
    conversation-level dedup. With ``ts_col``, duration_us is the
    exact integer microsecond span between the first and last turn
    (min/max in the same agg; no second pass).

    Turn ordering: NULL order-col values sort LAST (each sort key
    carries an explicit isNull flag — bare Spark struct ordering would
    put NULL first while SQL engines default to NULLS LAST, so the
    same data would render two different transcripts/md5s across
    engines). Ties on (order_cols...) are broken by the rendered line
    content, which keeps the transcript deterministic within Spark but
    is NOT mirrored by a plain SQL ORDER BY — for cross-engine md5
    parity, order_cols should be unique per conversation (e.g. a
    turn_idx), as they are for any well-formed transcript table."""
    conv_cols = list(conv_cols)
    order_cols = list(order_cols)
    line = F.concat(
        F.coalesce(F.col(role_col).cast("string"), F.lit("")),
        F.lit(": "),
        F.coalesce(F.col(text_col).cast("string"), F.lit("")),
    )
    keyed = df.select(
        *conv_cols,
        *(
            [F.col(ts_col).alias("_ts")] if ts_col else []
        ),
        F.struct(
            # (isNull, value) per order col: false < true puts non-NULL
            # first, i.e. SQL's NULLS LAST — bare struct ordering would
            # sort NULL first and diverge from every SQL oracle
            *[
                part
                for c in order_cols
                for part in (
                    F.col(c).isNull().alias(f"_n_{c}"),
                    F.col(c).alias(c),
                )
            ],
            line.alias("_line"),
        ).alias("_turn"),
    )
    aggs = [
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        F.array_sort(F.collect_list("_turn")).alias("_turns"),
    ]
    if ts_col:
        # timestampdiff handles TIMESTAMP and TIMESTAMP_NTZ alike
        # (unix_micros rejects NTZ); exact integer microseconds
        aggs.append(
            F.expr(
                "timestampdiff(MICROSECOND, min(_ts), max(_ts))"
            ).alias("duration_us")
        )
    agg = keyed.groupBy(*conv_cols).agg(*aggs)
    transcript = F.concat_ws(
        sep, F.transform(F.col("_turns"), lambda t: t["_line"])
    )
    out_cols = [
        *conv_cols,
        F.col("n_turns"),
        transcript.alias("transcript"),
        F.md5(transcript.cast("binary")).alias("transcript_md5"),
    ]
    if ts_col:
        out_cols.append(F.col("duration_us"))
    return agg.select(*out_cols)


def conversation_duplicates(
    assembled: DataFrame, conv_cols: Sequence[str]
) -> DataFrame:
    """Conversation-level exact dedup over an assembled relation: adds
    n_same_transcript (how many conversations share this transcript)
    and keep (true for the min-key conversation of each group — the
    same survivor rule as dedup.exact_duplicates).

    Shape: ONE md5-partitioned window over the CONVERSATION-level
    relation (frame aggregates, no orderBy frame). The groupBy +
    join-back alternative references the assembled relation twice,
    which Spark plans as TWO full turn-level assemblies — the window
    keeps assembly single-pass, and its sort is over the
    conversation-level rows (corpus-row-count / avg-turns), never the
    turn relation. Identical-transcript groups are dup clusters —
    small by nature — so the md5 partitioning has no skew hazard."""
    from pyspark.sql import Window

    conv_cols = list(conv_cols)
    w = Window.partitionBy("transcript_md5")
    key = F.struct(*[F.col(c) for c in conv_cols])
    return assembled.select(
        *[c for c in assembled.columns],
        F.count(F.lit(1)).over(w).cast("int").alias("n_same_transcript"),
        (key == F.min(key).over(w)).alias("keep"),
    )

"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Fixes the reference generator's reproducibility gap
(/root/reference/data/synthetic_data_generator.py:12-63 uses unseeded
random/Faker): every column and every injected defect here is a pure
function of xxhash64(conv_id, turn_idx, rule, seed), evaluated as
built-in Column expressions — no Python in the row path, so generation
itself scales like any other Spark job.

Schema (BASELINE.json input_hint):
  conv_id string, turn_idx int, role string, text string,
  tool string (nullable), ts timestamp

Injected defects and rates (per mille) follow FIXTURES.md §1; conv_id
skew: ~1% of conversations are "hot" with ~100x the turns, to exercise
skew handling in group checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xpshacl_spark.session import local_relation

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = [f"tool-{i:02d}" for i in range(20)]

#: epoch base for ts generation: 2025-01-01T00:00:00Z
_EPOCH = 1735689600

RATES = {
    "r_range_turn": 10,
    "r_datatype_ts": 10,
    "r_pattern_role": 10,
    "r_maxlen_text": 10,
    "r_null_text": 5,
    "r_fk_tool": 5,
    "r_dup_turn": 5,
    "r_order_ts": 5,
    "r_card_asst": 10,  # per conversation
}


def _h(rule: str, seed: int, *cols):
    """Deterministic per-(row, rule) hash in [0, 1000)."""
    return F.pmod(F.xxhash64(*cols, F.lit(rule), F.lit(seed)), F.lit(1000))


def roles_dim(spark: SparkSession) -> DataFrame:
    return local_relation(spark, [(r,) for r in ROLES], "role string")


def tools_dim(spark: SparkSession) -> DataFrame:
    return local_relation(spark, [(t,) for t in TOOLS], "tool string")


def conversations(spark: SparkSession, n_convs: int, seed: int = 42) -> DataFrame:
    """Conversation skeleton with skewed turn counts."""
    convs = spark.range(n_convs).select(
        F.format_string("conv-%08d", F.col("id")).alias("conv_id")
    )
    cid = F.col("conv_id")
    base_turns = F.pmod(F.xxhash64(cid, F.lit("nturns"), F.lit(seed)), F.lit(7)) + 2
    is_hot = _h("hot", seed, cid) < 10  # ~1% hot conversations
    n_turns = F.when(is_hot, base_turns * 100).otherwise(base_turns)
    no_asst = _h("r_card_asst", seed, cid) < RATES["r_card_asst"]
    return convs.select(
        "conv_id",
        n_turns.cast("int").alias("n_turns"),
        no_asst.alias("no_asst"),
        is_hot.alias("is_hot"),
    )


def transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    seed: int = 42,
    inject: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """Generate the transcripts table, optionally with injected defects."""
    convs = conversations(spark, n_convs, seed)
    if not inject:
        convs = convs.withColumn("no_asst", F.lit(False))
    if partitions:
        convs = convs.repartition(partitions, "conv_id")

    t = convs.select(
        "conv_id",
        "no_asst",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    cid, tix = F.col("conv_id"), F.col("turn_idx")

    # ---- role: turn 0 = user; odd turns = assistant (guaranteeing every
    # normal conversation has assistant turns); no_asst conversations
    # never produce one (FIXTURES r_card_asst).
    misc = F.array(F.lit("user"), F.lit("system"), F.lit("tool"))
    pick_misc = F.element_at(misc, (F.pmod(F.xxhash64(cid, tix, F.lit("role"), F.lit(seed)), F.lit(3)) + 1).cast("int"))
    role = (
        F.when(F.col("no_asst"), pick_misc)
        .when(tix % 2 == 1, F.lit("assistant"))
        .otherwise(pick_misc)
    )

    # ---- text: deterministic pseudo-words, length in [1, 2000]
    tlen = (F.pmod(F.xxhash64(cid, tix, F.lit("len"), F.lit(seed)), F.lit(2000)) + 1).cast("int")
    word = F.lower(F.hex(F.xxhash64(cid, tix, F.lit("txt"), F.lit(seed))))
    text = F.substring(F.repeat(F.concat(word, F.lit(" ")), 130), F.lit(1), tlen)

    # ---- ts: monotone per conversation, one minute per turn plus a
    # per-conversation phase
    phase = F.pmod(F.xxhash64(cid, F.lit("phase"), F.lit(seed)), F.lit(86400))
    ts_sec = F.lit(_EPOCH) + phase + tix.cast("long") * 60

    # ---- tool: only for tool turns
    tool_arr = F.array(*[F.lit(x) for x in TOOLS])
    tool = F.when(
        role == "tool",
        F.element_at(tool_arr, (F.pmod(F.xxhash64(cid, tix, F.lit("tool"), F.lit(seed)), F.lit(len(TOOLS))) + 1).cast("int")),
    )

    if inject:
        # defect injections (FIXTURES.md §1 table); each is a pure hash
        # predicate so expected counts are recomputable in closed form.
        bad_range = _h("r_range_turn", seed, cid, tix) < RATES["r_range_turn"]
        bad_ts_null = _h("r_datatype_ts", seed, cid, tix) < RATES["r_datatype_ts"]
        bad_role = (_h("r_pattern_role", seed, cid, tix) < RATES["r_pattern_role"]) & (
            role != "assistant"
        )
        bad_maxlen = _h("r_maxlen_text", seed, cid, tix) < RATES["r_maxlen_text"]
        bad_null_text = _h("r_null_text", seed, cid, tix) < RATES["r_null_text"]
        bad_tool = (
            (_h("r_fk_tool", seed, cid, tix) < RATES["r_fk_tool"]) & (role == "tool")
        )
        bad_order = (_h("r_order_ts", seed, cid, tix) < RATES["r_order_ts"]) & (
            tix > 0
        )

        role = F.when(bad_role, F.upper(role)).otherwise(role)
        text = F.when(bad_maxlen, F.rpad(text, 4500, "x")).otherwise(text)
        text = F.when(bad_null_text, F.lit(None)).otherwise(text)
        tool = F.when(bad_tool, F.lit("tool-unknown")).otherwise(tool)
        # swap-like ordering defect: push ts 90s before the previous turn's
        ts_sec = F.when(bad_order, ts_sec - 150).otherwise(ts_sec)
        ts = F.when(bad_ts_null, F.lit(None)).otherwise(F.timestamp_seconds(ts_sec))
        turn_out = F.when(bad_range, -(tix + 1)).otherwise(tix)
    else:
        ts = F.timestamp_seconds(ts_sec)
        turn_out = tix

    out = t.select(
        cid.alias("conv_id"),
        turn_out.cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.cast("string").alias("tool"),
        ts.alias("ts"),
    )

    if inject:
        # r_dup_turn: append exact duplicates of ~5/1000 rows
        dup = out.where(
            _h("r_dup_turn", seed, F.col("conv_id"), F.col("turn_idx"))
            < RATES["r_dup_turn"]
        )
        out = out.unionAll(dup)
    return out

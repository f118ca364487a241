"""Driver contract for the spark-graft builder (PySpark target).

Every query routes through the xpshacl_spark ValidationEngine (shape
compilation -> violations DataFrame), exercising one operator class
from SURVEY.md §2 each, with an equivalent DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.shapes import (
    ArrayAll,
    ArrayMaxCount,
    ArrayMinCount,
    ArrayUnique,
    Closed,
    DatasetMetric,
    DenseIndex,
    Expr,
    ForeignKey,
    FunctionalDependency,
    GroupMinCount,
    HasValue,
    InSet,
    MaxGap,
    MaxInclusive,
    MinInclusive,
    MinLength,
    Monotonic,
    NodeRef,
    Not,
    Or,
    Pattern,
    QualifiedMaxCount,
    QualifiedMinCount,
    Shape,
    Transition,
    Unique,
    Xone,
)

SF0001 = "/root/testdata/sf0.001"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _one_shape_violations(
    spark: SparkSession,
    df: DataFrame,
    shape: Shape,
    key_cols: list[str],
    dims: dict | None = None,
) -> DataFrame:
    engine = ValidationEngine(spark, dims=dims or {})
    rep = engine.validate(df, [shape], key_cols=key_cols)
    return rep.violations


# ---------------------------------------------------------------------------
# queries — each exercises one operator class (SURVEY.md §2A/§2C)
# ---------------------------------------------------------------------------


def q_range_lineitem_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:maxInclusive (SURVEY.md §2A #7) compiled to a filter."""
    li = _load(spark, sf_dir, "lineitem")
    shape = Shape("qty_shape", (MaxInclusive("l_quantity", 30),))
    v = _one_shape_violations(spark, li, shape, ["l_orderkey", "l_linenumber"])
    return v.select(
        "l_orderkey",
        "l_linenumber",
        F.col("value").cast("double").alias("qty"),
        "constraint_component",
    )


def q_range_customer_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:minInclusive (SURVEY.md §2A #6; reference worked example
    README.md:176-210 — negative value vs minInclusive 0)."""
    c = _load(spark, sf_dir, "customer")
    shape = Shape("acctbal_shape", (MinInclusive("c_acctbal", 0.0),))
    v = _one_shape_violations(spark, c, shape, ["c_custkey"])
    return v.select(
        "c_custkey",
        F.col("value").cast("double").alias("acctbal"),
        "violation_type",
    )


def q_pattern_part_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:pattern (SURVEY.md §2A #10) via rlike: names must start with
    a-m, so roughly half the parts violate (a non-vacuous result set at
    every scale factor)."""
    p = _load(spark, sf_dir, "part")
    shape = Shape("pname_shape", (Pattern("p_name", "^[a-m][a-z]*( [a-z]+)*$"),))
    v = _one_shape_violations(spark, p, shape, ["p_partkey"])
    return v.select("p_partkey", F.col("value").alias("pname"))


def q_fk_orders_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity via broadcast LEFT ANTI join
    (sh:class semantics, SURVEY.md §2A #4). The dim is restricted to
    non-negative-balance customers so a real dangling-key set exists
    (the raw table's FK is intact by construction)."""
    o = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer").where(F.col("c_acctbal") >= 0)
    shape = Shape(
        "orders_fk_shape",
        (ForeignKey(("o_custkey",), "customer", ("c_custkey",)),),
    )
    v = _one_shape_violations(
        spark, o, shape, ["o_orderkey"], dims={"customer": cust}
    )
    return v.select("o_orderkey", F.col("value").alias("custkey"))


def q_unique_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness check / exact dedup (north rule; sh:uniqueLang
    template, SURVEY.md §2A #12): duplicated document texts."""
    d = _load(spark, sf_dir, "documents")
    # plant duplicates (texts are unique in the raw table): re-append
    # the first 50 docs, exactly mirrored in the oracle
    d = d.unionByName(d.where(F.col("doc_id") < 50))
    shape = Shape("doc_dup_shape", (Unique(("text",)),))
    engine = ValidationEngine(spark)
    rep = engine.validate(d, [shape], key_cols=["doc_id"])
    return rep.violations.select(
        F.col("value").alias("dup_text"),
        F.element_at(F.col("context"), "actualCount").cast("int").alias("n_dups"),
    )


def q_card_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-scope sh:minCount with key universe (SURVEY.md §2A #1 +
    §7.3 empty-group trap): customers with fewer than 5 orders — the
    universe join still catches zero-order customers, and the bound
    sits inside the count distribution so the result is non-vacuous."""
    o = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    shape = Shape(
        "cust_orders_shape",
        (GroupMinCount(("o_custkey",), 5, universe="cust_keys", column="o_orderkey"),),
    )
    engine = ValidationEngine(
        spark,
        dims={"cust_keys": cust.select(F.col("c_custkey").alias("o_custkey"))},
    )
    rep = engine.validate(o, [shape], key_cols=["o_orderkey", "o_custkey"])
    return rep.violations.select(
        F.col("o_custkey").alias("custkey"),
        F.element_at(F.col("context"), "actualCount").cast("int").alias("n_orders"),
    )


def q_monotonic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordering constraint via lag() window (sh:lessThanOrEquals analog,
    SURVEY.md §2A #16): value regressions per user in event_id order
    (ts is already monotone in event_id in this data, so the check runs
    over `value` to keep the result non-vacuous)."""
    e = _load(spark, sf_dir, "events")
    shape = Shape("events_order_shape", (Monotonic(("user_id",), "event_id", "value"),))
    v = _one_shape_violations(spark, e, shape, ["event_id", "user_id"])
    return v.select("event_id", "user_id", "violation_type")


def q_transition_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-grammar constraint (Transition — the role-alternation
    analog for multi-turn transcripts, which the reference's SHACL
    vocabulary cannot express): per user in event_id order, a
    'purchase' may only follow a 'click' or 'view', and every user's
    FIRST event must be a 'signup'. Compiled into the same shared lag()
    window as Monotonic — one shuffle+sort per (partition, order) spec
    regardless of how many sequence checks share it."""
    e = _load(spark, sf_dir, "events")
    shape = Shape(
        "events_grammar_shape",
        (
            Transition(
                ("user_id",),
                "event_id",
                "event_type",
                allowed_prev=(("purchase", ("click", "view")),),
                initial=("signup",),
            ),
        ),
    )
    v = _one_shape_violations(spark, e, shape, ["event_id", "user_id"])
    return v.select("event_id", "user_id", "value")


def q_dense_turns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-index constraint (DenseIndex — the input_hint's turn_idx
    contract: per-conversation turn indices must enumerate 0,1,2,...).
    Builds a transcript-shaped relation from events (turn_idx =
    row_number per user), deletes every 37th event to plant gaps, and
    validates density; violations carry the expected index in context.
    The check itself is one lag() in the shared ordered window — at
    100 TB it rides the same single shuffle as every other sequence
    check on (user, order)."""
    from pyspark.sql import Window

    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    turns = e.select(
        "event_id",
        "user_id",
        (F.row_number().over(w) - 1).alias("turn_idx"),
    )
    kept = turns.where(F.col("event_id") % 37 != 0)
    shape = Shape(
        "turns_dense_shape", (DenseIndex(("user_id",), "turn_idx", "turn_idx"),)
    )
    v = _one_shape_violations(spark, kept, shape, ["event_id", "user_id"])
    return v.select("event_id", "user_id", "value")


def q_max_gap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency bound (MaxGap — the transcript-domain response-latency
    check): per user in event_id order, consecutive events more than
    100000 s apart violate. Rides the SAME shared lag() window as every
    other sequence check on (user, order) — zero extra shuffles. The
    delta is exact on both engines: one exact microsecond-long
    subtraction then one IEEE division by 1e6 (Spark timestampdiff,
    DuckDB epoch_us)."""
    e = _load(spark, sf_dir, "events")
    shape = Shape(
        "events_latency_shape",
        (MaxGap(("user_id",), "event_id", "ts", 100000.0),),
    )
    v = _one_shape_violations(spark, e, shape, ["event_id", "user_id"])
    return v.select(
        "event_id",
        "user_id",
        F.element_at(F.col("context"), "delta").cast("double").alias("gap_sec"),
    )


def q_fd_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional dependency (FunctionalDependency — Deequ-style
    determinant -> dependent check; no reference counterpart): each
    customer's orders must all carry the customer's one market segment.
    The relation attaches c_mktsegment via a broadcast-sized dim join,
    then perturbs every 97th order's segment to plant conflicts —
    exactly mirrored in the oracle. The distinct aggregation shuffles
    only DISTINCT (custkey, segment) pairs, so a mega-customer with
    millions of rows but one segment moves one row at 100 TB."""
    o = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rel = o.join(
        F.broadcast(cust), o["o_custkey"] == cust["c_custkey"], "inner"
    ).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("PERTURBED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    shape = Shape("orders_fd_shape", (FunctionalDependency(("o_custkey",), "segment"),))
    v = _one_shape_violations(spark, rel, shape, ["o_orderkey", "o_custkey"])
    return v.select(
        F.col("o_custkey").alias("custkey"),
        F.element_at(F.col("context"), "nDistinct").cast("int").alias("n_distinct"),
    )


def q_dataset_metrics_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-scope metric assertions (DatasetMetric — Deequ's check
    model: constraints on AGGREGATES of the target population, a scope
    SHACL has no analog for). Four assertions fuse into ONE single-pass
    aggregation; completeness fails (nulls planted every 53rd doc),
    distinctness fails (5 langs / 500 docs), mean and row_count pass —
    so the result proves pass/fail selection, not just the plumbing.
    Ratio metrics divide exact long counts, so the observed doubles
    hash-match the oracle bit for bit."""
    d = _load(spark, sf_dir, "documents").withColumn(
        "text", F.when(F.col("doc_id") % 53 == 0, F.lit(None)).otherwise(F.col("text"))
    )
    shape = Shape(
        "docs_metrics_shape",
        (
            DatasetMetric("completeness", "text", min_value=1.0),
            DatasetMetric("distinctness", "lang", min_value=0.5),
            DatasetMetric("mean", "n_chars", min_value=1.0, max_value=1e9),
            DatasetMetric("row_count", min_value=1),
        ),
    )
    v = _one_shape_violations(spark, d, shape, ["doc_id"])
    return v.select(
        F.element_at(F.col("context"), "metric").alias("metric"),
        F.element_at(F.col("context"), "observed").cast("double").alias("observed"),
    )


def q_conv_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group pass/fail rollup (the north rule's 'per-partition
    pass/fail' as a relation): validate two sequence shapes over events
    and emit one row PER USER — including fully-conformant users, whom
    the universe join proves clean (the violations relation alone
    cannot). The rollup joins the failure set against a distinct over
    the group column only — never row-count-sized at 100 TB."""
    e = _load(spark, sf_dir, "events")
    shapes = [
        Shape("events_order_shape", (Monotonic(("user_id",), "event_id", "value"),)),
        Shape(
            "events_grammar_shape",
            (
                Transition(
                    ("user_id",),
                    "event_id",
                    "event_type",
                    allowed_prev=(("purchase", ("click", "view")),),
                    initial=("signup",),
                ),
            ),
        ),
    ]
    rep = ValidationEngine(spark).validate(
        e, shapes, key_cols=["event_id", "user_id"]
    )
    return rep.conformance_by_group(e, ["user_id"])


def q_logical_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical composition sh:or + sh:not (SURVEY.md §2A #17-#19)."""
    o = _load(spark, sf_dir, "orders")
    shape = Shape(
        "orders_logic_shape",
        (
            Or(
                (
                    Expr("o_orderstatus = 'F'"),
                    Expr("o_totalprice < 50000.0"),
                ),
                column="o_orderstatus",
            ),
            Not(Expr("o_orderpriority = '9-IMPOSSIBLE'"), column="o_orderpriority"),
        ),
    )
    v = _one_shape_violations(spark, o, shape, ["o_orderkey"])
    return v.select("o_orderkey", "constraint_component")


def q_xone_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:xone — exactly one of two predicates (SURVEY.md §2A #20)."""
    o = _load(spark, sf_dir, "orders")
    shape = Shape(
        "orders_xone_shape",
        (
            Xone(
                (
                    Expr("o_totalprice > 100000.0"),
                    Expr("o_orderstatus = 'O'"),
                ),
                column="o_totalprice",
            ),
        ),
    )
    v = _one_shape_violations(spark, o, shape, ["o_orderkey"])
    return v.select("o_orderkey", "constraint_component")


def q_hasvalue_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:hasValue (SHACL core; outside the reference's recognized
    predicate subset but evaluated by its pyshacl delegate): every
    English document must come from source 'src0'. hasValue asserts
    presence, so NULL would violate too."""
    d = _load(spark, sf_dir, "documents")
    shape = Shape(
        "doc_src_shape",
        (HasValue("source", "src0"),),
        target="lang = 'en'",
    )
    v = _one_shape_violations(spark, d, shape, ["doc_id"])
    return v.select("doc_id", F.col("value").alias("source"), "constraint_component")


def q_qualified_card_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:qualifiedValueShape + qualifiedMin/MaxCount: each customer
    must have >= 3 finished ('F') orders and <= 4 open ('O') orders.
    Both qualified counts share ONE hash aggregation over o_custkey
    (one shuffle for the whole shape); the universe join still catches
    zero-order customers on the min side."""
    o = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    shape = Shape(
        "cust_qualified_shape",
        (
            QualifiedMinCount(
                ("o_custkey",), 3, where="o_orderstatus = 'F'",
                universe="cust_keys", column="o_orderkey",
            ),
            QualifiedMaxCount(
                ("o_custkey",), 4, where="o_orderstatus = 'O'",
                column="o_orderkey",
            ),
        ),
    )
    engine = ValidationEngine(
        spark,
        dims={"cust_keys": cust.select(F.col("c_custkey").alias("o_custkey"))},
    )
    rep = engine.validate(o, [shape], key_cols=["o_orderkey", "o_custkey"])
    return rep.violations.select(
        F.col("o_custkey").alias("custkey"),
        "constraint_component",
        F.element_at(F.col("context"), "actualCount").cast("int").alias("n_qualified"),
    )


def q_closed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:closed + sh:ignoredProperties (SHACL core): documents may only
    carry (doc_id, text, lang, source) — rows with any other non-null
    column violate, and the violation value names the offenders
    (here: n_chars). One fused row scan, zero extra passes."""
    d = _load(spark, sf_dir, "documents")
    shape = Shape(
        "doc_closed_shape",
        (Closed(declared=("doc_id", "text", "lang", "source")),),
    )
    v = _one_shape_violations(spark, d, shape, ["doc_id"])
    return v.select(
        "doc_id", F.col("value").alias("open_props"), "constraint_component"
    )


def q_node_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:node (shape reference, SHACL core): documents must conform to
    a referenced 'publishable' node shape (text >= 300 chars AND lang in
    a Latin-script set). The referenced shape inlines into the same
    fused scan — the indirection is free at runtime."""
    d = _load(spark, sf_dir, "documents")
    good = Shape(
        "publishable_doc",
        (MinLength("text", 300), InSet("lang", ("en", "fr", "de"))),
    )
    shape = Shape("doc_node_shape", (NodeRef(good, column="text"),))
    v = _one_shape_violations(spark, d, shape, ["doc_id"])
    return v.select("doc_id", "constraint_component", "violation_type")


def q_array_card_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-valued (array-column) property paths: cardinality, element
    uniqueness, and a per-element forall predicate over the document's
    word array — all JVM higher-order functions in ONE fused scan, no
    explode, no shuffle, no UDF."""
    d = _load(spark, sf_dir, "documents").withColumn(
        "words", F.split(F.trim(F.col("text")), r"\s+")
    )
    shape = Shape(
        "doc_words_shape",
        (
            ArrayMinCount("words", 20),
            ArrayMaxCount("words", 90),
            ArrayUnique("words"),
            ArrayAll("words", "length(x) <= 6"),
        ),
    )
    v = _one_shape_violations(spark, d, shape, ["doc_id"])
    return v.select("doc_id", "constraint_component", "violation_type")


def q_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing gate (training-data pipeline): email/IPv4/phone
    counts per document in one fused zero-shuffle scan. The raw corpus
    is synthetic words, so deterministic PII strings are planted by
    doc_id residue — exactly mirrored in the oracle."""
    from xpshacl_spark.operators.text import pii_flags

    d = _load(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    planted = d.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), ds, F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" from 10.0.0."), (F.col("doc_id") % 250).cast("string")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit(" call +1(555)123-4467 ")
            ).otherwise(F.lit("")),
        ),
    )
    return (
        pii_flags(planted, "text2")
        .where(F.col("any_pii"))
        .select("doc_id", "n_email", "n_ipv4", "n_phone")
    )


def q_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals: duplicate-word
    fraction (same scan) and per-document modal word (one hash agg on
    (doc, word) with map-side combine — never a per-row quadratic
    higher-order scan)."""
    from xpshacl_spark.operators.text import repetition_stats

    d = _load(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 3 word
    5-grams with an eval-set document (cross-table shingle inverted
    index). The eval set is planted deterministically as verbatim
    copies of the first 20 docs, renumbered — mirrored in the oracle."""
    from xpshacl_spark.operators.dedup import contamination_pairs

    d = _load(spark, sf_dir, "documents")
    eval_df = d.where(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return contamination_pairs(
        d, eval_df, "doc_id", "text", n=5, min_common=3
    )


def q_unigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality score: per-document mean
    ln(corpus word frequency) — explode -> vocab join -> per-doc agg,
    all keyed hash operations."""
    from xpshacl_spark.operators.text import unigram_logprob

    d = _load(spark, sf_dir, "documents")
    return unigram_logprob(d, "doc_id", "text")


def q_unigram_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-shape unigram scoring: the vocabulary is built from a
    reference slice (even doc_ids), persisted ONCE as a managed table,
    and scoring reads it back — so the corpus text is scanned exactly
    once per scoring run (the at-100TB shape; q_unigram_quality's
    self-derived vocab scans twice). Odd docs contain words absent from
    the even-doc vocabulary, exercising the OOV path (count 0.5)."""
    from xpshacl_spark.operators.text import normalize_text, unigram_logprob

    d = _load(spark, sf_dir, "documents")
    vocab = (
        d.where(F.col("doc_id") % 2 == 0)
        .select(
            F.explode(
                F.filter(F.split(normalize_text("text"), " "), lambda w: w != "")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    spark.sql("DROP TABLE IF EXISTS unigram_vocab_prod")
    vocab.write.mode("overwrite").saveAsTable("unigram_vocab_prod")
    persisted = spark.table("unigram_vocab_prod")
    return unigram_logprob(d, "doc_id", "text", oov_count=0.5, vocab=persisted)


def _replay_one_file_stream(
    spark: SparkSession, df: DataFrame, prefix: str
) -> DataFrame:
    """Materialize `df` as ONE parquet file in a fresh temp dir and open
    it as a file-stream source. A single file means a single
    AvailableNow micro-batch, which is what makes the stateful
    operator's in-batch ordering deterministic for its oracle."""
    import tempfile

    src = tempfile.mkdtemp(prefix=prefix)
    df.coalesce(1).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def _run_stream_to_memory(spark: SparkSession, df: DataFrame, prefix: str) -> DataFrame:
    """Append-mode memory sink driven to completion with
    Trigger.AvailableNow; returns the sink table."""
    import tempfile
    import uuid

    name = prefix + uuid.uuid4().hex[:8]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix=f"xp_{prefix}ck_")
        )
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def q_stream_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator, driver-oracled: exact dedup
    over an unbounded stream (applyInPandasWithState, one counter per
    distinct content fingerprint in state). The documents table plus a
    re-ingested slice (the duplicate source q_dedup_exact also uses)
    replays as a ONE-file stream — a single AvailableNow micro-batch,
    so within-batch key_cols ordering makes every repeat's n_prior
    deterministic — and the emitted repeats must match the oracle's
    ROW_NUMBER-over-fingerprint reconstruction row-for-row. State is
    bounded by distinct fingerprints, not rows (watermark-free exact
    dedup is the one stateful op whose state legitimately grows with
    corpus cardinality; the batch incremental-index operator is the
    at-rest complement)."""
    from xpshacl_spark.streaming import streaming_dedup

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    dup_in = d.unionByName(d.where(F.col("doc_id") < 50))
    stream = _replay_one_file_stream(spark, dup_in, "xp_stream_dsrc_")
    out = streaming_dedup(
        stream, ["doc_id"], content_col="text", emit_duplicates=True
    )
    return _run_stream_to_memory(spark, out, "sdedup_").select(
        "doc_id", "n_prior"
    )


#: Turtle source for q_violation_summary's shapes — the full
#: TTL -> shapes -> validate path (shapes_ttl parser + constraint
#: mapping) runs under the driver's correctness gate, not just pytest.
#: Relative subject IRIs keep shape_id = 'li_qty' etc. so the oracle's
#: literal ids are byte-identical; sh:path local names are the columns.
_SUMMARY_SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .

<li_qty> a sh:NodeShape ;
    sh:property [ sh:path <l_quantity> ; sh:maxInclusive 30 ] .

<li_disc> a sh:NodeShape ;
    sh:property [ sh:path <l_discount> ; sh:maxInclusive 0.08 ] .

<li_tax> a sh:NodeShape ;
    sh:property [ sh:path <l_tax> ; sh:minInclusive 0.02 ] .
"""


def q_violation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of per-shape plans + group-by-signature counting
    (SURVEY.md §2C union + dedup). The shapes are INGESTED FROM TURTLE
    (shapes_ttl.import_ttl — the reference's shapes-graph source format,
    §2D) rather than constructed in Python, so the TTL front end sits
    under a green driver-gate row; the parsed shapes are value-identical
    to Shape("li_qty", (MaxInclusive("l_quantity", 30),)) etc., and the
    compiled plan is unchanged."""
    from xpshacl_spark.shapes_ttl import shapes_from_ttl

    li = _load(spark, sf_dir, "lineitem")
    shapes = shapes_from_ttl(_SUMMARY_SHAPES_TTL)
    assert sorted(s.shape_id for s in shapes) == ["li_disc", "li_qty", "li_tax"]
    engine = ValidationEngine(spark)
    rep = engine.validate(li, shapes, key_cols=["l_orderkey", "l_linenumber"])
    return rep.counts()


# ---------------------------------------------------------------------------
# training-data pipeline operators (dedup / similarity / text)
# ---------------------------------------------------------------------------


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counting, n-gram lang-ID, quality scoring,
    md5 fingerprinting — one fused zero-shuffle scan
    (xpshacl_spark.operators.text)."""
    from xpshacl_spark.operators import text as tx

    d = _load(spark, sf_dir, "documents")
    return tx.analyze(d, "text").select(
        "doc_id", "n_tokens", "n_bpe_tokens", "lang_pred", "quality", "fingerprint"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-content hash (hash groupBy)."""
    from xpshacl_spark.operators.dedup import exact_duplicates

    d = _load(spark, sf_dir, "documents")
    # planted duplicates (see q_unique_documents)
    d = d.unionByName(d.where(F.col("doc_id") < 50))
    return exact_duplicates(d, "doc_id", "text")


#: Stop-shingle document-frequency cap used by every Jaccard driver
#: query (and mirrored in the oracle SQL), so the CAPPED plan is the
#: verified plan. A shingle shared by k docs creates k^2 inverted-index
#: join rows; boilerplate shared by 10^6 docs would mean 10^12 rows, so
#: at 100 TB the cap is mandatory, not a tuning knob. 5 is ~1% of the
#: sf0.01 corpus — small enough to actually prune at test scale.
JACCARD_DF_CAP = 5


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard >= 0.5 (shingle inverted
    index + self-join + set algebra), with the stop-shingle df cap ON."""
    from xpshacl_spark.operators.dedup import jaccard_pairs

    d = _load(spark, sf_dir, "documents")
    return jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=JACCARD_DF_CAP
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 md5 hashes) + LSH(4 bands x 2 rows) candidate pairs."""
    from xpshacl_spark.operators.dedup import minhash_lsh_pairs

    d = _load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8, bands=4)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures (bitwise majority over word md5s)."""
    from xpshacl_spark.operators.dedup import simhash

    d = _load(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text", bits=16)


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label, cos >= 0.4
    (double-precision index-order fold for cross-engine parity)."""
    from xpshacl_spark.operators.dedup import embedding_near_dup_pairs

    e = _load(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.4, block_col="label"
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for query vectors vec_id < 5
    (broadcast queries, one corpus scan, per-query window)."""
    from xpshacl_spark.operators.similarity import cosine_topk

    e = _load(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.where(F.col("vec_id") < 5), k=10)


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (the ANN scale path:
    bucket id = sign pattern of 6 deterministic +/-1 projections)."""
    from xpshacl_spark.operators.similarity import lsh_sign_buckets

    e = _load(spark, sf_dir, "embeddings")
    return (
        lsh_sign_buckets(e, "vec_id", "embedding", num_planes=6, dim=64)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def q_signature_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explanation pipeline stage 1: violation signature dedup + md5
    signature ids (byte-parity with reference violation_kg.py:88-102)."""
    from xpshacl_spark.explain.signature import signature_id_col

    li = _load(spark, sf_dir, "lineitem")
    shapes = [
        Shape("li_qty", (MaxInclusive("l_quantity", 30),)),
        Shape("li_disc", (MaxInclusive("l_discount", 0.08),)),
        Shape("li_tax", (MinInclusive("l_tax", 0.02),)),
    ]
    engine = ValidationEngine(spark)
    rep = engine.validate(li, shapes, key_cols=["l_orderkey", "l_linenumber"])
    return (
        rep.violations.dropDuplicates(
            ["constraint_component", "property_path", "violation_type"]
        )
        .select(
            signature_id_col().alias("signature_id"),
            "constraint_component",
            "property_path",
            "violation_type",
        )
    )


def q_datatype_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:datatype castability (SURVEY.md §2A #3) + sh:target row filter
    (#22): props of 'error' events must parse as a double (they are
    JSON, so every targeted row violates)."""
    from xpshacl_spark.shapes import Datatype

    e = _load(spark, sf_dir, "events")
    shape = Shape(
        "events_props_shape",
        (Datatype("props", "double"),),
        target="event_type = 'error'",
    )
    v = _one_shape_violations(spark, e, shape, ["event_id"])
    return v.select("event_id", F.col("value").alias("props"), "violation_type")


def q_bounds_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:minExclusive / sh:maxExclusive (SURVEY.md §2A #8-#9)."""
    from xpshacl_spark.shapes import MaxExclusive, MinExclusive

    e = _load(spark, sf_dir, "events")
    shape = Shape(
        "events_value_shape",
        (MinExclusive("value", 0.0), MaxExclusive("value", 450.0)),
    )
    v = _one_shape_violations(spark, e, shape, ["event_id"])
    return v.select(
        "event_id",
        "constraint_component",
        F.col("value").cast("double").alias("v"),
    )


def q_pair_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-row property pairs: sh:equals + sh:disjoint + sh:lessThan +
    sh:lessThanOrEquals (SURVEY.md §2A #13-#16), all fused into one
    scan."""
    from xpshacl_spark.shapes import Disjoint, Equals, LessThan, LessThanOrEquals

    li = _load(spark, sf_dir, "lineitem")
    # sh:target row filter keeps the collected result ~5x smaller (the
    # Equals/Disjoint pair otherwise flags every single row once)
    shape = Shape(
        "li_pair_shape",
        (
            Equals("l_returnflag", "l_linestatus"),
            LessThan("l_tax", "l_discount"),
            LessThanOrEquals("l_discount", "l_tax"),
            Disjoint("l_returnflag", "l_linestatus"),
        ),
        target="l_quantity <= 10",
    )
    v = _one_shape_violations(spark, li, shape, ["l_orderkey", "l_linenumber"])
    return v.select("l_orderkey", "l_linenumber", "constraint_component")


def q_inset_lengths_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:languageIn + sh:minLength + sh:maxLength (SURVEY.md §2A
    #11-#12) fused into one scan."""
    from xpshacl_spark.shapes import InSet, MaxLength, MinLength

    d = _load(spark, sf_dir, "documents")
    shape = Shape(
        "doc_lang_len_shape",
        (
            InSet("lang", ("en", "es", "de", "fr"), language_in=True),
            MinLength("text", 50),
            MaxLength("text", 500),
        ),
    )
    v = _one_shape_violations(spark, d, shape, ["doc_id"])
    return v.select("doc_id", "constraint_component", "value")


def q_group_maxcount_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-scope sh:maxCount (SURVEY.md §2A #2): users with more than
    15 click events; actualCount context mirrors the reference
    (extended_shacl_validator.py:312-318)."""
    from xpshacl_spark.shapes import GroupMaxCount

    e = _load(spark, sf_dir, "events")
    shape = Shape(
        "user_clicks_shape",
        (
            GroupMaxCount(
                ("user_id",), 15, where="event_type = 'click'", column="event_type"
            ),
        ),
    )
    engine = ValidationEngine(spark)
    rep = engine.validate(e, [shape], key_cols=["event_id", "user_id"])
    return rep.violations.select(
        "user_id",
        F.element_at(F.col("context"), "actualCount").cast("int").alias("n_clicks"),
    )


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span boilerplate signal: per doc, how many of
    its distinct word 5-gram spans occur in >= 2 docs corpus-wide. No
    pairwise fan-out (one df-join row per (doc, span)) — the scalable
    alternative to pair enumeration when only the per-doc ratio is
    needed."""
    from xpshacl_spark.operators.dedup import duplicate_span_stats

    d = _load(spark, sf_dir, "documents")
    return duplicate_span_stats(d, "doc_id", "text", n=5)


def q_dup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-style exact-substring dedup at word granularity
    (Lee et al. 2022): MAXIMAL duplicated word-8-gram spans per doc —
    duplicated gram starts whose coverage overlaps or touches (start
    gap <= 8) interval-merged into one (doc_id, start_word, end_word,
    len_words) row. All keyed (gram count agg -> occurrence join ->
    per-doc window), never pairwise."""
    from xpshacl_spark.operators.dedup import exact_dup_spans

    d = _load(spark, sf_dir, "documents")
    return exact_dup_spans(d, "doc_id", "text", n=8, min_count=2)


def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rules 5-6: per (doc, n) for n in (2,3,4,5,10), the most
    frequent word n-gram's character-coverage fraction (top-n-gram
    filter) and the character fraction covered by all n-grams occurring
    >= 2 times (duplicated-n-gram filter). ONE text scan for ALL n —
    the gram transform slices with the runtime n."""
    from xpshacl_spark.operators.text import ngram_repetition_stats

    d = _load(spark, sf_dir, "documents")
    return ngram_repetition_stats(d, "doc_id", "text", ns=(2, 3, 4, 5, 10))


def q_conv_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation assembly + conversation-level dedup (the
    transcripts-payload bridge to the doc-level operators): each user's
    events in stable (ts, event_id) order render as one 'role: text'
    transcript document — ONE grouped agg, per-group array_sort, no
    window over the full relation — then conversation_duplicates marks
    transcript-identical conversations with the min-key survivor rule.
    The full transcript string stays out of the result (md5 + stats
    only), so the relation is metadata-sized at any scale."""
    from xpshacl_spark.operators.conversations import (
        assemble_conversations,
        conversation_duplicates,
    )

    e = _load(spark, sf_dir, "events")
    conv = assemble_conversations(
        e,
        ["user_id"],
        ["ts", "event_id"],
        "event_type",
        "props",
        ts_col="ts",
    )
    dup = conversation_duplicates(conv, ["user_id"])
    return dup.select(
        "user_id", "n_turns", "transcript_md5", "n_same_transcript", "keep",
        "duration_us",
    )


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (CCNet/LLaMA "looks like the
    reference corpus"): Bernoulli naive-Bayes word weights trained
    against source in (src0, src1) as the reference class, every doc
    scored by its mean word weight — in the PRODUCTION shape (same as
    q_unigram_external's vocab): the distinct-(doc, word) relation is
    materialized ONCE as a managed table — exactly one corpus-text
    explode — and both NB stages (vocab-sized weight agg + scoring
    join) read the compact table back. The convenience form
    (nb_quality_scores) plans two explode passes; the cache-handle
    variant (nb_quality_scores_with_words) persists instead of writing
    a table when the relation is single-run."""
    from xpshacl_spark.operators.text import (
        nb_quality_scores_from_words,
        nb_words,
    )

    d = _load(spark, sf_dir, "documents").withColumn(
        "is_ref", F.col("source").isin("src0", "src1")
    )
    spark.sql("DROP TABLE IF EXISTS nb_words_prod")
    nb_words(d, "doc_id", "text", "is_ref").write.mode("overwrite").saveAsTable(
        "nb_words_prod"
    )
    return nb_quality_scores_from_words(
        d, spark.table("nb_words_prod"), "doc_id", "is_ref"
    )


def q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup REWRITE the span relation exists for: every maximal
    duplicated 8-gram span removed from every doc's normalized word
    sequence, per-row (doc_id, clean_text). Covered positions are
    exploded linearly (never corpus-sized arrays) and the rebuild is a
    per-doc array_sort(collect_list) bounded by doc length."""
    from xpshacl_spark.operators.dedup import strip_dup_spans

    d = _load(spark, sf_dir, "documents")
    return strip_dup_spans(d, "doc_id", "text", n=8, min_count=2)


def q_path_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL sequence path (sh:path (o_custkey c_acctbal)): every
    order's CUSTOMER must have a non-negative balance — PathValue
    follows the FK into the customer dim via a broadcast join and
    applies MinInclusive to the joined attribute. Extends the
    reference's simple-path subset (§2E)."""
    from xpshacl_spark.shapes import MinInclusive, PathValue

    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    shape = Shape(
        "order_customer_balance",
        (
            PathValue(
                ("o_custkey",), "customer", ("c_custkey",),
                MinInclusive("c_acctbal", 0.0),
            ),
        ),
    )
    v = _one_shape_violations(
        spark, o, shape, ["o_orderkey"], dims={"customer": c}
    )
    return v.select(
        "o_orderkey",
        F.col("value").cast("double").alias("acctbal"),
        "property_path",
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental exact dedup: a fingerprint index built
    from the even-id half of the corpus stands in for the persisted
    prior-runs index; the odd-id half arrives as the new batch and is
    (a) anti-joined against the index on content_key, (b) deduped
    within itself keeping the min id. Cost is O(|batch| + index probe)
    — no full-corpus rescan, the resume loop for ingestion."""
    from xpshacl_spark.operators.dedup import (
        fingerprint_index,
        incremental_exact_dedup,
    )

    d = _load(spark, sf_dir, "documents")
    idx = fingerprint_index(
        d.where(F.col("doc_id") % 2 == 0), "doc_id", "text"
    )
    kept, _delta = incremental_exact_dedup(
        d.where(F.col("doc_id") % 2 == 1), "doc_id", "text", idx
    )
    return kept.select("doc_id", "source")


def q_sqlcheck_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:sparql analog — the SQL escape hatch (SURVEY.md §2A #21):
    one row-level SELECT and one GROUP BY/HAVING SELECT (the
    shark_shapes.ttl:48-149 patterns) over the registered `this` view."""
    from xpshacl_spark.shapes import SqlCheck

    s = _load(spark, sf_dir, "supplier")
    shape = Shape(
        "supplier_sql_shape",
        (
            SqlCheck(
                "SELECT s_suppkey, s_acctbal AS value FROM this "
                "WHERE s_acctbal < 0",
                column="s_acctbal",
            ),
            SqlCheck(
                "SELECT s_nationkey, count(*) AS value FROM this "
                "GROUP BY s_nationkey HAVING count(*) > 6",
                column="s_nationkey",
            ),
        ),
    )
    v = _one_shape_violations(spark, s, shape, ["s_suppkey"])
    return v.select("s_suppkey", "property_path", "value")


#: fixed drift-check spec shared by the Spark query and its oracle
_DRIFT = {
    "expr": "l_extendedprice",
    "lo": 0.0,
    "hi": 110000.0,
    "bins": 8,
    # deliberately low-skewed baseline: the real distribution is
    # near-uniform over the range, so this registers as drift under
    # both statistics at any scale factor
    "baseline": (0, 500, 300, 100, 50, 25, 15, 5, 5, 0),
}


def q_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule distribution-drift checks: PSI and KS of
    l_extendedprice vs a stored baseline histogram, both computed from
    ONE fused bin-count aggregation (SURVEY.md §4 item 2)."""
    from xpshacl_spark.shapes import Drift

    li = _load(spark, sf_dir, "lineitem")
    d = _DRIFT
    shape = Shape(
        "li_drift_shape",
        (
            Drift(d["expr"], d["lo"], d["hi"], bins=d["bins"], stat="psi",
                  threshold=0.05, baseline=d["baseline"]),
            Drift(d["expr"], d["lo"], d["hi"], bins=d["bins"], stat="ks",
                  threshold=0.05, baseline=d["baseline"]),
        ),
    )
    v = _one_shape_violations(spark, li, shape, ["l_orderkey", "l_linenumber"])
    return v.select(
        F.element_at(F.col("context"), "stat").alias("stat"),
        "property_path",
        F.col("value").cast("double").alias("stat_value"),
    )


def q_setpair_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-row property pairs (SURVEY.md §2A #13-#14 self-join
    variants): per order, the distinct set of returnflags vs the
    distinct set of linestatuses — SetEquals (full-outer join) and
    SetDisjoint (inner join)."""
    from xpshacl_spark.shapes import SetDisjoint, SetEquals

    li = _load(spark, sf_dir, "lineitem")
    shape = Shape(
        "li_setpair_shape",
        (
            SetEquals(("l_orderkey",), "l_returnflag", "l_linestatus"),
            SetDisjoint(("l_orderkey",), "l_returnflag", "l_linestatus"),
        ),
    )
    v = _one_shape_violations(spark, li, shape, ["l_orderkey", "l_linenumber"])
    return v.select(
        "l_orderkey",
        "constraint_component",
        F.col("value").cast("int").alias("n_values"),
    )


def q_and_nodekind_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sh:and (SURVEY.md §2A #18) + sh:nodeKind analog (#5) with a
    sh:target row filter, fused into one scan."""
    from xpshacl_spark.shapes import And, NodeKind

    p = _load(spark, sf_dir, "part")
    shape = Shape(
        "part_and_nk_shape",
        (
            And(
                (Expr("p_retailprice >= 1000"), Expr("p_size >= 2")),
                column="p_retailprice",
            ),
            NodeKind("p_type"),
        ),
        target="p_size <= 5",
    )
    v = _one_shape_violations(spark, p, shape, ["p_partkey"])
    return v.select("p_partkey", "constraint_component", "value")


def q_violation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets over the violations relation: ROLLUP
    (shape_id, constraint_component) counts with subtotal and grand
    total rows (SURVEY.md §2E — absent in the reference)."""
    li = _load(spark, sf_dir, "lineitem")
    shapes = [
        Shape("li_qty", (MaxInclusive("l_quantity", 30),)),
        Shape("li_disc", (MaxInclusive("l_discount", 0.08),)),
        Shape("li_tax", (MinInclusive("l_tax", 0.02),)),
    ]
    engine = ValidationEngine(spark)
    rep = engine.validate(li, shapes, key_cols=["l_orderkey", "l_linenumber"])
    return (
        rep.violations.rollup("shape_id", "constraint_component")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SimHash near-dup pairs (hamming <= 3) via pigeonhole
    segment blocking — the oracle computes the EXHAUSTIVE pairwise
    hamming relation, so this also proves the blocking loses nothing."""
    from xpshacl_spark.operators.dedup import simhash_pairs

    d = _load(spark, sf_dir, "documents")
    # 63-bit hashes (r03; r02 used 32): segment selectivity is
    # 2^(bits/(h+1)) — ~16-bit segments give ~65k blocking buckets vs
    # 256, cutting the candidate fan-out ~250x. Equally important at
    # corpus scale: 32-bit fingerprints birthday-collide across 10^5
    # docs, so hamming<=3 matches were dominated by coarse-hash
    # coincidences; at 63 bits a close match is evidence of true
    # near-duplication.
    return simhash_pairs(d, "doc_id", "text", bits=63, max_hamming=3)


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training primitive: top-100 corpus vocabulary by
    normalized-token frequency (explode -> map-side-combined count ->
    rank over the aggregated relation; operators.text.vocabulary)."""
    from xpshacl_spark.operators.text import vocabulary

    d = _load(spark, sf_dir, "documents")
    return vocabulary(d, "text", k=100)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup decision stage: near-dup pairs (word-3-gram Jaccard >= 0.5)
    -> connected components by iterative min-label propagation
    (dedup.duplicate_clusters) -> (doc_id, cluster_id). The oracle
    computes the same transitive closure with a recursive CTE."""
    from xpshacl_spark.operators.dedup import duplicate_clusters, jaccard_pairs

    d = _load(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=JACCARD_DF_CAP
    )
    return duplicate_clusters(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (the second ANN scale path):
    corpus vectors are assigned once to deterministic coarse-quantizer
    cells; each query scores only its own cell (nprobe=1 here so the
    oracle can reproduce the probe). At 100 TB the corpus is WRITTEN
    partitioned by cell, so a query reads nprobe partitions."""
    from xpshacl_spark.operators.similarity import ivf_ann_topk

    e = _load(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        e, e.where(F.col("vec_id") < 5), k=10, n_cells=4, nprobe=1, dim=64
    )


def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe=2 — the multi-probe path: each query carries
    its 2 best cells and matches corpus rows via a broadcast
    array_contains theta-join (the corpus still never shuffles). The
    oracle enumerates both probed cells per query the same way."""
    from xpshacl_spark.operators.similarity import ivf_ann_topk

    e = _load(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        e, e.where(F.col("vec_id") < 5), k=10, n_cells=4, nprobe=2, dim=64
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: each query scores only corpus
    vectors in its own sign bucket (at 100 TB the bucket is the table's
    partition key, so a query reads one partition)."""
    from xpshacl_spark.operators.similarity import lsh_ann_topk

    e = _load(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        e, e.where(F.col("vec_id") < 5), k=10, num_planes=6, dim=64
    )


def q_schema_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-schema validation (north-rule "schema + constraint
    validation"): expected columns/types vs the documents table, with a
    deliberate type mismatch (n_chars declared int, actually bigint), a
    missing required column (author), and an undeclared actual column
    (source). METADATA-ONLY — parquet footers, zero data scanned at any
    table size. The oracle recomputes the same comparison from DuckDB's
    DESCRIBE with DuckDB->Spark type-name mapping, so the two engines
    independently agree on the physical schema itself."""
    from xpshacl_spark.schema_check import ColumnSpec, schema_violations

    d = _load(spark, sf_dir, "documents")
    specs = [
        ColumnSpec("doc_id", "bigint"),
        ColumnSpec("text", "string"),
        ColumnSpec("lang", "string"),
        ColumnSpec("n_chars", "int"),
        ColumnSpec("author", "string"),
    ]
    return schema_violations(spark, d, specs)


def q_skew_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-JOIN handling on a deliberately hot FK: ~70% of orders
    are remapped onto customer key 1, then sort-merge-joined (MERGE
    hints pin the skew-joinable shape — a broadcast would sidestep the
    skew) to the customer dim. With the session's
    spark.sql.adaptive.skewJoin.enabled=true, the runtime splits the
    hot partition into advisory-sized sub-reads and replicates the
    matching dim rows (OptimizeSkewedJoin; triggered + plan-pinned
    under lowered thresholds in test_plans_salt, since sf0.01's hot
    partition is below the 256 MB production threshold). The aggregated
    result is integer-only, so the oracle hash is exact."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    skewed = o.select(
        F.when(F.pmod("o_orderkey", F.lit(10)) < 7, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .cast("long")
        .alias("custkey"),
        "o_orderkey",
    )
    joined = skewed.hint("merge").join(
        c.hint("merge"), skewed["custkey"] == c["c_custkey"]
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("custkey").alias("n_custs"),
        )
    )


def q_text_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row text parity under stable key ordering — the input_hint's
    named per-row invariant ("per-turn text equality under stable turn
    ordering"): row identity is the KEY, never the position, so the
    check is one full-outer join on the ordering key plus a null-safe
    equality filter (operators.parity.text_parity_violations), not a
    sort-and-zip. Side B is a deterministic perturbation of documents
    (every 97th doc edited, every 101st dropped, every 103rd duplicated
    under a disjoint key), so the expected mismatch set is exact and the
    oracle recomputes the identical FULL OUTER JOIN in DuckDB. At scale
    both sides hash-shuffle on the same key (co-partitioned storage
    makes the join shuffle-free); an empty result IS the assertion."""
    from xpshacl_spark.operators.parity import text_parity_violations

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    b = (
        d.where(F.col("doc_id") % 101 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 97 == 0,
                F.concat(F.col("text"), F.lit(" [EDITED]")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 103 == 0).select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                "text",
            )
        )
    )
    return text_parity_violations(d, b, key_cols=["doc_id"])


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-candidate counting
    (text.bpe_merge_candidates): top-50 adjacent character pairs within
    normalized tokens — the inner loop of tokenizer training, run as
    one JVM-side explode + grouped count whose map-side combine bounds
    the shuffle at |alphabet|^2 rows per partition at any corpus size.
    Deterministic total order (n desc, pair asc) makes the top-k set
    hash-stable."""
    from xpshacl_spark.operators.text import bpe_merge_candidates

    d = _load(spark, sf_dir, "documents")
    return bpe_merge_candidates(d, "text", k=50)


def q_explanations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full explanation pipeline (SURVEY.md §2C): signature dedup ->
    justification trees + context -> deterministic template explanation
    -> one row per signature x language, rendered driver-side over the
    tiny signature set (the reference's 'expensive operations ONCE per
    signature' dataflow, main.py:139-172). The oracle embeds the same
    deterministic template text/signature URIs as literals gated by
    EXISTS predicates (see _explanations_sql)."""
    from xpshacl_spark.explain.pipeline import Explainer

    li = _load(spark, sf_dir, "lineitem")
    shapes = [
        Shape("li_qty", (MaxInclusive("l_quantity", 30),)),
        Shape("li_disc", (MaxInclusive("l_discount", 0.08),)),
        Shape("li_tax", (MinInclusive("l_tax", 0.02),)),
    ]
    engine = ValidationEngine(spark)
    rep = engine.validate(li, shapes, key_cols=["l_orderkey", "l_linenumber"])
    ex = Explainer(spark)
    out = ex.explain(rep, shapes, df=li, languages=("en", "de"))
    return out.select(
        "signature_id",
        "constraint_component",
        "violation_type",
        "language",
        "natural_language_explanation",
        "correction_suggestions",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-shape validation summary on sf0.001."""
    return q_violation_summary(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The correctness gate runs only the first 50 entries;
    # tests/test_entry_oracle.py pins a recorded green row for every one.
    return {
        "q_decontaminate": q_decontaminate,
        "q_dedup_clusters": q_dedup_clusters,
        "q_ann_ivf_multiprobe": q_ann_ivf_multiprobe,
        "q_ann_lsh_topk": q_ann_lsh_topk,
        "q_unigram_external": q_unigram_external,
        "q_dup_span_stats": q_dup_span_stats,
        "q_dedup_incremental": q_dedup_incremental,
        "q_path_value_orders": q_path_value_orders,
        "q_violation_rollup": q_violation_rollup,
        "q_vocabulary": q_vocabulary,
        "q_ann_ivf_topk": q_ann_ivf_topk,
        "q_range_lineitem_qty": q_range_lineitem_qty,
        "q_range_customer_acctbal": q_range_customer_acctbal,
        "q_pattern_part_name": q_pattern_part_name,
        "q_fk_orders_custkey": q_fk_orders_custkey,
        "q_unique_documents": q_unique_documents,
        "q_card_customer_orders": q_card_customer_orders,
        "q_monotonic_events": q_monotonic_events,
        "q_logical_orders": q_logical_orders,
        "q_xone_orders": q_xone_orders,
        "q_hasvalue_documents": q_hasvalue_documents,
        "q_qualified_card_orders": q_qualified_card_orders,
        "q_closed_documents": q_closed_documents,
        "q_node_documents": q_node_documents,
        "q_array_card_documents": q_array_card_documents,
        "q_pii_documents": q_pii_documents,
        "q_repetition_documents": q_repetition_documents,
        "q_unigram_quality": q_unigram_quality,
        "q_violation_summary": q_violation_summary,
        "q_text_profile": q_text_profile,
        "q_dedup_exact": q_dedup_exact,
        "q_dedup_minhash_lsh": q_dedup_minhash_lsh,
        "q_dedup_simhash": q_dedup_simhash,
        "q_dup_span_extract": q_dup_span_extract,
        "q_strip_dup_spans": q_strip_dup_spans,
        "q_ngram_repetition": q_ngram_repetition,
        "q_nb_quality": q_nb_quality,
        "q_conv_assembly": q_conv_assembly,
        "q_max_gap_events": q_max_gap_events,
        "q_fd_orders": q_fd_orders,
        "q_dataset_metrics_documents": q_dataset_metrics_documents,
        "q_conv_conformance": q_conv_conformance,
        "q_transition_events": q_transition_events,
        "q_dense_turns_events": q_dense_turns_events,
        "q_stream_dedup_docs": q_stream_dedup_docs,
        "q_schema_documents": q_schema_documents,
        "q_skew_join_orders": q_skew_join_orders,
        "q_text_parity": q_text_parity,
        "q_bpe_pairs": q_bpe_pairs,
        "q_embed_near_dup": q_embed_near_dup,
        "q_ann_cosine_topk": q_ann_cosine_topk,
        "q_ann_lsh_buckets": q_ann_lsh_buckets,
        "q_signature_dedup": q_signature_dedup,
        "q_datatype_events": q_datatype_events,
        "q_bounds_events": q_bounds_events,
        "q_pair_lineitem": q_pair_lineitem,
        "q_inset_lengths_documents": q_inset_lengths_documents,
        "q_group_maxcount_clicks": q_group_maxcount_clicks,
        "q_sqlcheck_suppliers": q_sqlcheck_suppliers,
        "q_drift_stats": q_drift_stats,
        "q_setpair_lineitem": q_setpair_lineitem,
        "q_and_nodekind_part": q_and_nodekind_part,
        "q_explanations": q_explanations,
        "q_dedup_jaccard": q_dedup_jaccard,
        "q_dedup_simhash_pairs": q_dedup_simhash_pairs,
    }


# ---------------------------------------------------------------------------
# oracle SQL builders (DuckDB dialect) for the pipeline operators
# ---------------------------------------------------------------------------

# normalized text + word lists, mirroring operators.text.normalize_text
_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_NWORDS = f"string_split({_NORM}, ' ')"
_RAW_WORDS = "regexp_split_to_array(trim(text), '\\s+')"

# distinct word-3-gram shingles per doc (operators.dedup.shingles, n=3)
_SH_CTE = (
    "sh AS (SELECT DISTINCT doc_id, "
    f"unnest(list_transform(range(1, greatest(len({_NWORDS}) - 2, 0) + 1), "
    f"i -> array_to_string(({_NWORDS})[i:i+2], ' '))) AS shingle FROM documents)"
)

# stop-shingle pruned index: mirrors dedup._maybe_prune_stop_shingles
# with the JACCARD_DF_CAP the driver queries pass — the capped plan is
# the verified plan. Depends on _SH_CTE. NOTE: the f-string is built at
# module import, so it always reflects the constant above.
_SHP_CTE = (
    "shp AS (SELECT doc_id, shingle FROM "
    "(SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df "
    f"FROM sh) WHERE df <= {JACCARD_DF_CAP})"
)

# exact-substring span CTE chain (operators.dedup.exact_dup_spans,
# n=8, min_count=2): positioned 8-gram occurrences (NOT distinct) ->
# corpus occurrence counts -> duplicated positions -> gaps-and-islands
# -> maximal spans. DuckDB list slicing ws[i:i+7] is inclusive = 8
# words, mirroring Spark's slice(ws, i, 8).
_SPAN_CTES = (
    f"nw AS (SELECT doc_id, {_NWORDS} AS ws FROM documents), "
    "pshq AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+7], ' ') AS shingle "
    "FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws)-7, 0)+1)) AS pos FROM nw)), "
    "dupg AS (SELECT shingle FROM "
    "(SELECT shingle, count(*) AS c FROM pshq GROUP BY 1) WHERE c >= 2), "
    "duppos AS (SELECT doc_id, pos FROM pshq JOIN dupg USING (shingle)), "
    # interval merge (coverage overlap/touch = start gap <= n), NOT
    # consecutive-start islands: starts {1,3} at n=8 are ONE span 1-10
    "lagd AS (SELECT doc_id, pos, lag(pos) "
    "OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM duppos), "
    "isl AS (SELECT doc_id, pos, "
    "sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END) "
    "OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) "
    "AS island FROM lagd), "
    "spans AS (SELECT doc_id, CAST(min(pos) AS INT) AS start_word, "
    "CAST(max(pos)+7 AS INT) AS end_word, "
    "CAST(max(pos)+7-min(pos)+1 AS INT) AS len_words "
    "FROM isl GROUP BY doc_id, island)"
)


# double-precision cosine, same op order as the Spark side: the
# operators.dedup._dot of the pair over the product of the two norms
def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_inner_product({a}, {b}) / "
        f"(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
    )


def _text_profile_sql() -> str:
    from xpshacl_spark.operators.text import STOPWORDS

    hits = {
        lang: (
            f"len(list_filter({_RAW_WORDS}, w -> list_contains("
            f"[{', '.join(repr(w) for w in ws)}], lower(w))))"
        )
        for lang, ws in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    best = f"greatest({', '.join('s_' + l for l in langs)})"
    lang_case = "CASE " + " ".join(
        f"WHEN s_{l} > 0 AND s_{l} = {best} THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    return f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0 ELSE len({_RAW_WORDS}) END AS n_tokens,
    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
    {', '.join(f'{h} AS s_{l}' for l, h in hits.items())},
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / CAST(length(text) AS DOUBLE)
    END AS pr,
    md5({_NORM}) AS fingerprint
  FROM documents)
SELECT doc_id, n_tokens, n_bpe_tokens, {lang_case} AS lang_pred,
  round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
      + 0.3 * (1.0 - least(1.0, pr * 5.0))
      + 0.3 * least(1.0, (CASE WHEN n_tokens = 0 THEN 0.0
                               ELSE s_en / CAST(n_tokens AS DOUBLE) END) * 4.0),
        6) AS quality,
  fingerprint
FROM t"""


def _minhash_lsh_sql(num_hashes: int = 8, bands: int = 4) -> str:
    r = num_hashes // bands
    mins = ", ".join(
        f"min(md5('{i}' || '|' || shingle)) AS mh_{i}" for i in range(num_hashes)
    )
    sep = " || '|' || "
    band_sel = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5({sep.join(f'mh_{b * r + j}' for j in range(r))}) AS band_key "
        "FROM sig"
        for b in range(bands)
    )
    return (
        f"WITH {_SH_CTE}, "
        f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id), "
        f"bands AS ({band_sel}) "
        "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM bands a JOIN bands b USING (band_idx, band_key) "
        "WHERE a.doc_id < b.doc_id"
    )


def _simhash_sql(bits: int = 16) -> str:
    terms = []
    for j in range(bits):
        # bits 32+ come from the second seeded hash md5('s2|' || w),
        # mirroring dedup.simhash's extended family
        digit = (
            f"substr(md5(w), {j + 1}, 1)"
            if j < 32
            else f"substr(md5('s2|' || w), {j - 31}, 1)"
        )
        bit = (
            f"CASE WHEN list_sum(list_transform({_NWORDS}, "
            f"w -> CASE WHEN instr('0123456789abcdef', {digit}) - 1 >= 8 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {2 ** j} ELSE 0 END"
        )
        terms.append(bit)
    return (
        f"SELECT doc_id, CAST({' + '.join(terms)} AS BIGINT) AS simhash "
        "FROM documents"
    )


def _lsh_bucket_expr(vec_sql: str, num_planes: int = 6, dim: int = 64) -> str:
    """Sign-bucket expression over a DOUBLE[] column, mirroring
    similarity.sign_bucket with the identical +/-1 plane literals."""
    from xpshacl_spark.operators.similarity import hyperplanes

    planes = hyperplanes(num_planes, dim)
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(f"{float(x):.1f}" for x in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_inner_product({vec_sql}, {lit}) > 0 "
            f"THEN {2 ** p} ELSE 0 END)"
        )
    return f"CAST({' + '.join(terms)} AS INT)"


def _lsh_buckets_sql(num_planes: int = 6, dim: int = 64) -> str:
    return (
        f"SELECT {_lsh_bucket_expr('embedding::DOUBLE[]', num_planes, dim)} "
        "AS bucket, count(*) AS n_vectors FROM embeddings GROUP BY 1"
    )


def _lsh_topk_sql(num_planes: int = 6, dim: int = 64, k: int = 10) -> str:
    """Mirror of similarity.lsh_ann_topk: bucket both sides with the
    same plane literals, equi-join on bucket, cosine, per-query top-k."""
    return (
        "WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
        f"{_lsh_bucket_expr('embedding::DOUBLE[]', num_planes, dim)} AS bucket "
        "FROM embeddings), "
        "q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b "
        "WHERE vec_id < 5), "
        "scored AS (SELECT query_id, b.vec_id AS vec_id, "
        f"round({_cos_sql('b.v', 'qv')}, 6) AS cos "
        "FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.query_id) "
        'SELECT query_id, vec_id, cos, CAST(row_number() OVER w AS INT) AS "rank" '
        "FROM scored WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id) "
        f"QUALIFY row_number() OVER w <= {k}"
    )


def _drift_sql() -> str:
    """Mirror of operators.drift.psi_statistic / ks_statistic over the
    same fixed bins, with the baseline proportions folded in as Python
    literals (the baseline is a compile-time constant in both engines)."""
    d = _DRIFT
    bins, lo, hi, expr = d["bins"], d["lo"], d["hi"], d["expr"]
    width = (hi - lo) / bins
    base = list(d["baseline"])
    conds = [f"({expr} < {lo})"]
    for b in range(bins):
        conds.append(
            f"({expr} >= {lo} AND {expr} < {hi} AND "
            f"CAST(floor(({expr} - {lo}) / {width}) AS INT) = {b})"
        )
    conds.append(f"({expr} >= {hi})")
    n = len(conds)
    cnt = ", ".join(f"count(*) FILTER (WHERE {c}) AS c{j}" for j, c in enumerate(conds))
    total = " + ".join(f"c{j}" for j in range(n))
    eps = 1e-6
    btot = float(sum(base))
    qs = [max(b / btot, eps) for b in base]
    ps = [f"greatest(c{j} / CAST({total} AS DOUBLE), {eps})" for j in range(n)]
    psi = " + ".join(
        f"((({p}) - ({q!r})) * ln(({p}) / ({q!r})))" for p, q in zip(ps, qs)
    )
    cbs, acc = [], 0.0
    for b in base:
        acc += b / btot
        cbs.append(acc)
    ccs = [
        f"({' + '.join(f'c{i}' for i in range(j + 1))}) / CAST({total} AS DOUBLE)"
        for j in range(n)
    ]
    ks = "greatest(" + ", ".join(
        f"abs(({cc}) - ({cb!r}))" for cc, cb in zip(ccs, cbs)
    ) + ")"
    return (
        f"WITH c AS (SELECT {cnt} FROM lineitem) "
        f"SELECT 'psi' AS stat, '{expr}' AS property_path, "
        f"round({psi}, 6) AS stat_value FROM c "
        f"UNION ALL SELECT 'ks', '{expr}', round({ks}, 6) FROM c"
    )


def _dedup_clusters_sql() -> str:
    """Connected components as a recursive CTE over the same Jaccard
    pair set as q_dedup_jaccard (threshold 0.5): cluster_id = min id
    reachable through the undirected pair graph."""
    jac = (
        f"WITH RECURSIVE {_SH_CTE}, {_SHP_CTE}, "
        "sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY 1), "
        "common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc "
        "FROM shp a JOIN shp b USING (shingle) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2), "
        "jac AS (SELECT id_a, id_b FROM ("
        "SELECT id_a, id_b, nc / CAST(sa.n + sb.n - nc AS DOUBLE) AS j "
        "FROM common JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b) WHERE j >= 0.5), "
        "e AS (SELECT id_a AS src, id_b AS dst FROM jac "
        "UNION SELECT id_b, id_a FROM jac), "
        "walk AS (SELECT src AS id, dst AS reach FROM e "
        "UNION SELECT w.id, e.dst FROM walk w JOIN e ON w.reach = e.src) "
        "SELECT id AS doc_id, least(id, min(reach)) AS cluster_id "
        "FROM walk GROUP BY id"
    )
    return jac


def _ivf_topk_sql(n_cells: int = 4, dim: int = 64, k: int = 10) -> str:
    """Mirror of operators.similarity.ivf_ann_topk at nprobe=1: centroid
    arrays and their norms are compile-time Python literals, so cell
    assignment (argmax via first-occurrence list_position) and cosine
    scores reproduce byte-for-byte."""
    import math

    from xpshacl_spark.operators.similarity import ivf_centroids

    scores = []
    for cent in ivf_centroids(n_cells, dim):
        lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
        norm = math.sqrt(math.fsum(x * x for x in cent))
        scores.append(f"list_inner_product(v, {lit}) / {norm!r}")
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"s AS (SELECT vec_id, v, list_value({', '.join(scores)}) AS sl FROM e), "
        "a AS (SELECT vec_id, v, list_position(sl, list_max(sl)) AS cell FROM s), "
        "q AS (SELECT vec_id AS query_id, v AS qv, cell FROM a WHERE vec_id < 5), "
        "scored AS (SELECT query_id, a.vec_id AS vec_id, "
        f"round({_cos_sql('a.v', 'qv')}, 6) AS cos "
        "FROM a JOIN q USING (cell) WHERE a.vec_id <> q.query_id) "
        'SELECT query_id, vec_id, cos, CAST(row_number() OVER w AS INT) AS "rank" '
        "FROM scored WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id) "
        f"QUALIFY row_number() OVER w <= {k}"
    )


def _ivf_multiprobe_sql(
    n_cells: int = 4, dim: int = 64, k: int = 10, nprobe: int = 2
) -> str:
    """Mirror of similarity.ivf_ann_topk at nprobe>1: each query's
    probed cells are the nprobe best centroid scores (score DESC, cell
    ASC tie-break — the same order as Spark's sorted (neg, cell)
    structs), enumerated by unnesting the scores list with its index."""
    import math

    from xpshacl_spark.operators.similarity import ivf_centroids

    scores = []
    for cent in ivf_centroids(n_cells, dim):
        lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
        norm = math.sqrt(math.fsum(x * x for x in cent))
        scores.append(f"list_inner_product(v, {lit}) / {norm!r}")
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"s AS (SELECT vec_id, v, list_value({', '.join(scores)}) AS sl FROM e), "
        "a AS (SELECT vec_id, v, list_position(sl, list_max(sl)) AS cell FROM s), "
        "qs AS (SELECT vec_id AS query_id, v AS qv, sl FROM s WHERE vec_id < 5), "
        f"cs AS (SELECT query_id, qv, i AS cell, sl[i] AS score "
        f"FROM qs, range(1, {n_cells + 1}) t(i)), "
        "pr AS (SELECT query_id, qv, cell FROM "
        "(SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY score DESC, cell) AS r FROM cs) "
        f"WHERE r <= {nprobe}), "
        "scored AS (SELECT query_id, a.vec_id AS vec_id, "
        f"round({_cos_sql('a.v', 'qv')}, 6) AS cos "
        "FROM a JOIN pr USING (cell) WHERE a.vec_id <> pr.query_id) "
        'SELECT query_id, vec_id, cos, CAST(row_number() OVER w AS INT) AS "rank" '
        "FROM scored WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id) "
        f"QUALIFY row_number() OVER w <= {k}"
    )


def _explanations_sql() -> str:
    """Full value oracle for the explanation pipeline: the deterministic
    template text, signature URI (md5, reference violation_kg.py:88-102
    parity), and per-language rows are all pure functions of the shape
    spec, so they are rendered HERE (by the same Python functions the
    engine uses) and embedded as literals, gated by the same EXISTS
    predicates that make each signature appear."""
    from xpshacl_spark.explain.generator import template_explanation
    from xpshacl_spark.explain.signature import ViolationSignature, signature_to_uri
    from xpshacl_spark.model import ViolationType

    rows = [
        ("MaxInclusiveConstraintComponent", "l_quantity", "value_range",
         "l_quantity > 30"),
        ("MaxInclusiveConstraintComponent", "l_discount", "value_range",
         "l_discount > 0.08"),
        ("MinInclusiveConstraintComponent", "l_tax", "value_range",
         "l_tax < 0.02"),
    ]
    branches = []
    for comp, path, vtype, pred in rows:
        sig = ViolationSignature(
            comp, path, ViolationType.ENUM_REPR.get(vtype, vtype), {}
        )
        uri = signature_to_uri(sig)
        msg = f"Value does not conform to {comp}"
        for lang in ("en", "de"):
            expl = template_explanation(
                {
                    "violation_type": vtype,
                    "property_path": path,
                    "constraint_component": comp,
                    "message": msg,
                },
                lang,
            )
            text = expl["natural_language_explanation"].replace("'", "''")
            # suggestions list joined with the reference's "\n\n"
            # separator (violation_kg round-trip, SUGGESTION_SEPARATOR)
            sugg = "\n\n".join(expl["correction_suggestions"]).replace("'", "''")
            branches.append(
                f"SELECT '{uri}' AS signature_id, "
                f"'{comp}' AS constraint_component, "
                f"'{vtype}' AS violation_type, '{lang}' AS language, "
                f"'{text}' AS natural_language_explanation, "
                f"'{sugg}' AS correction_suggestions "
                f"WHERE EXISTS (SELECT 1 FROM lineitem WHERE {pred})"
            )
    return " UNION ALL ".join(branches)


def _signature_sql() -> str:
    rows = [
        ("MaxInclusiveConstraintComponent", "l_quantity", "value_range",
         "l_quantity > 30"),
        ("MaxInclusiveConstraintComponent", "l_discount", "value_range",
         "l_discount > 0.08"),
        ("MinInclusiveConstraintComponent", "l_tax", "value_range",
         "l_tax < 0.02"),
    ]
    branches = []
    for comp, path, vtype, pred in rows:
        sig = f"{comp}|{path}|ViolationType.{vtype.upper()}|[]"
        branches.append(
            f"SELECT md5('{sig}') AS signature_id, '{comp}' AS constraint_component, "
            f"'{path}' AS property_path, '{vtype}' AS violation_type "
            f"WHERE EXISTS (SELECT 1 FROM lineitem WHERE {pred})"
        )
    return " UNION ALL ".join(branches)


def oracle_sql() -> dict[str, str]:
    return {
        "q_range_lineitem_qty": (
            "SELECT l_orderkey, l_linenumber, l_quantity AS qty, "
            "'MaxInclusiveConstraintComponent' AS constraint_component "
            "FROM lineitem WHERE l_quantity > 30"
        ),
        "q_range_customer_acctbal": (
            "SELECT c_custkey, c_acctbal AS acctbal, 'value_range' AS violation_type "
            "FROM customer WHERE c_acctbal < 0.0"
        ),
        "q_pattern_part_name": (
            "SELECT p_partkey, p_name AS pname FROM part "
            "WHERE p_name IS NOT NULL AND "
            "NOT regexp_matches(p_name, '^[a-m][a-z]*( [a-z]+)*$')"
        ),
        "q_fk_orders_custkey": (
            "SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS custkey FROM orders o "
            "WHERE o_custkey IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey "
            "AND c.c_acctbal >= 0)"
        ),
        "q_unique_documents": (
            "SELECT text AS dup_text, CAST(count(*) AS INT) AS n_dups FROM "
            "(SELECT text FROM documents UNION ALL "
            "SELECT text FROM documents WHERE doc_id < 50) "
            "GROUP BY text HAVING count(*) > 1"
        ),
        "q_card_customer_orders": (
            "SELECT c_custkey AS custkey, CAST(n AS INT) AS n_orders FROM "
            "(SELECT c_custkey, (SELECT count(*) FROM orders o "
            "WHERE o.o_custkey = c.c_custkey) AS n FROM customer c) "
            "WHERE n < 5"
        ),
        "q_monotonic_events": (
            "SELECT event_id, user_id, 'property_pair' AS violation_type FROM "
            "(SELECT event_id, user_id, value, lag(value) OVER "
            "(PARTITION BY user_id ORDER BY event_id) AS p FROM events) "
            "WHERE p IS NOT NULL AND value IS NOT NULL AND value < p"
        ),
        "q_transition_events": (
            "SELECT event_id, user_id, event_type AS value FROM "
            "(SELECT event_id, user_id, event_type, lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY event_id) AS p FROM events) "
            "WHERE (p IS NOT NULL AND event_type = 'purchase' "
            "AND p NOT IN ('click', 'view')) "
            "OR (p IS NULL AND event_type <> 'signup')"
        ),
        "q_dense_turns_events": (
            "SELECT event_id, user_id, CAST(turn_idx AS VARCHAR) AS value FROM "
            "(SELECT event_id, user_id, turn_idx, lag(turn_idx) OVER "
            "(PARTITION BY user_id ORDER BY turn_idx) AS p FROM "
            "(SELECT event_id, user_id, turn_idx FROM "
            "(SELECT event_id, user_id, row_number() OVER "
            "(PARTITION BY user_id ORDER BY event_id) - 1 AS turn_idx "
            "FROM events) WHERE event_id % 37 <> 0)) "
            "WHERE (p IS NULL AND turn_idx <> 0) "
            "OR (p IS NOT NULL AND turn_idx <> p + 1)"
        ),
        "q_max_gap_events": (
            "SELECT event_id, user_id, "
            "(epoch_us(ts) - epoch_us(p)) / 1000000.0 AS gap_sec FROM "
            "(SELECT event_id, user_id, ts, lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY event_id) AS p FROM events) "
            "WHERE p IS NOT NULL AND ts IS NOT NULL "
            "AND (epoch_us(ts) - epoch_us(p)) / 1000000.0 > 100000.0"
        ),
        "q_fd_orders": (
            "SELECT o_custkey AS custkey, CAST(nd AS INT) AS n_distinct FROM "
            "(SELECT o_custkey, count(DISTINCT CASE WHEN o_orderkey % 97 = 0 "
            "THEN 'PERTURBED' ELSE c_mktsegment END) AS nd "
            "FROM orders JOIN customer ON c_custkey = o_custkey "
            "GROUP BY o_custkey) WHERE nd > 1"
        ),
        "q_dataset_metrics_documents": (
            "WITH t AS (SELECT CASE WHEN doc_id % 53 = 0 THEN NULL ELSE text "
            "END AS text, lang, n_chars FROM documents), "
            "m AS (SELECT count(text) AS a_comp, count(*) AS b_comp, "
            "count(DISTINCT lang) AS a_dist, count(lang) AS b_dist, "
            "avg(n_chars) AS mean_nc, count(*) AS rc FROM t) "
            "SELECT 'completeness' AS metric, "
            "CAST(a_comp AS DOUBLE)/b_comp AS observed FROM m "
            "WHERE CAST(a_comp AS DOUBLE)/b_comp < 1.0 "
            "UNION ALL SELECT 'distinctness', CAST(a_dist AS DOUBLE)/b_dist "
            "FROM m WHERE CAST(a_dist AS DOUBLE)/b_dist < 0.5 "
            "UNION ALL SELECT 'mean', mean_nc FROM m "
            "WHERE mean_nc IS NULL OR mean_nc < 1.0 OR mean_nc > 1e9 "
            "UNION ALL SELECT 'row_count', CAST(rc AS DOUBLE) FROM m WHERE rc < 1"
        ),
        "q_conv_conformance": (
            "WITH viol AS ("
            "SELECT user_id, 'LessThanOrEqualsConstraintComponent' AS c FROM "
            "(SELECT user_id, value, lag(value) OVER "
            "(PARTITION BY user_id ORDER BY event_id) AS p FROM events) "
            "WHERE p IS NOT NULL AND value IS NOT NULL AND value < p "
            "UNION ALL "
            "SELECT user_id, 'TransitionConstraintComponent' AS c FROM "
            "(SELECT user_id, event_type, lag(event_type) OVER "
            "(PARTITION BY user_id ORDER BY event_id) AS p FROM events) "
            "WHERE (p IS NOT NULL AND event_type = 'purchase' "
            "AND p NOT IN ('click', 'view')) "
            "OR (p IS NULL AND event_type <> 'signup')), "
            "agg AS (SELECT user_id, count(*) AS n, count(DISTINCT c) AS nc "
            "FROM viol GROUP BY user_id) "
            "SELECT u.user_id, COALESCE(n, 0) AS n_violations, "
            "CAST(COALESCE(nc, 0) AS INT) AS n_components, "
            "COALESCE(n, 0) = 0 AS conforms "
            "FROM (SELECT DISTINCT user_id FROM events) u "
            "LEFT JOIN agg ON u.user_id = agg.user_id"
        ),
        "q_logical_orders": (
            "SELECT o_orderkey, 'OrConstraintComponent' AS constraint_component "
            "FROM orders WHERE NOT (o_orderstatus = 'F' OR o_totalprice < 50000.0) "
            "UNION ALL "
            "SELECT o_orderkey, 'NotConstraintComponent' FROM orders "
            "WHERE o_orderpriority = '9-IMPOSSIBLE'"
        ),
        "q_xone_orders": (
            "SELECT o_orderkey, 'XoneConstraintComponent' AS constraint_component "
            "FROM orders WHERE (CAST(o_totalprice > 100000.0 AS INT) + "
            "CAST(o_orderstatus = 'O' AS INT)) <> 1"
        ),
        "q_hasvalue_documents": (
            "SELECT doc_id, source, "
            "'HasValueConstraintComponent' AS constraint_component "
            "FROM documents WHERE lang = 'en' "
            "AND (source IS NULL OR source <> 'src0')"
        ),
        "q_qualified_card_orders": (
            "WITH per_cust AS (SELECT c_custkey, "
            "(SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey "
            "AND o.o_orderstatus = 'F') AS nf, "
            "(SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey "
            "AND o.o_orderstatus = 'O') AS n_open FROM customer c) "
            "SELECT c_custkey AS custkey, "
            "'QualifiedMinCountConstraintComponent' AS constraint_component, "
            "CAST(nf AS INT) AS n_qualified FROM per_cust WHERE nf < 3 "
            "UNION ALL SELECT c_custkey, "
            "'QualifiedMaxCountConstraintComponent', CAST(n_open AS INT) "
            "FROM per_cust WHERE n_open > 4"
        ),
        "q_closed_documents": (
            "SELECT doc_id, 'n_chars' AS open_props, "
            "'ClosedConstraintComponent' AS constraint_component "
            "FROM documents WHERE n_chars IS NOT NULL"
        ),
        "q_node_documents": (
            "SELECT doc_id, 'NodeConstraintComponent' AS constraint_component, "
            "'other' AS violation_type FROM documents "
            "WHERE NOT ((text IS NULL OR length(text) >= 300) "
            "AND (lang IS NULL OR lang IN ('en','fr','de')))"
        ),
        "q_array_card_documents": (
            f"WITH w AS (SELECT doc_id, {_RAW_WORDS} AS words FROM documents) "
            "SELECT doc_id, "
            "'MinCountConstraintComponent' AS constraint_component, "
            "'cardinality' AS violation_type FROM w WHERE len(words) < 20 "
            "UNION ALL SELECT doc_id, 'MaxCountConstraintComponent', "
            "'cardinality' FROM w WHERE len(words) > 90 "
            "UNION ALL SELECT doc_id, 'UniquenessConstraintComponent', "
            "'uniqueness' FROM w WHERE len(list_distinct(words)) <> len(words) "
            "UNION ALL SELECT doc_id, 'ExprConstraintComponent', 'other' "
            "FROM w WHERE len(list_filter(words, "
            "x -> NOT coalesce(length(x) <= 6, false))) > 0"
        ),
        "q_pii_documents": (
            "WITH planted AS (SELECT doc_id, text || "
            "(CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || "
            "'@example.com now' ELSE '' END) || "
            "(CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.0.' || (doc_id % 250) "
            "ELSE '' END) || "
            "(CASE WHEN doc_id % 13 = 0 THEN ' call +1(555)123-4467 ' "
            "ELSE '' END) AS text2 FROM documents), "
            "flags AS (SELECT doc_id, "
            "CAST(len(regexp_extract_all(text2, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email, "
            "CAST(len(regexp_extract_all(text2, "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4, "
            "CAST(len(regexp_extract_all(text2, "
            "'\\+\\d[\\d().-]{7,}\\d')) AS INT) AS n_phone FROM planted) "
            "SELECT doc_id, n_email, n_ipv4, n_phone FROM flags "
            "WHERE n_email > 0 OR n_ipv4 > 0 OR n_phone > 0"
        ),
        "q_repetition_documents": (
            f"WITH w AS (SELECT doc_id, list_filter(string_split({_NORM}, ' '), "
            "x -> x <> '') AS ws FROM documents), "
            "s AS (SELECT doc_id, len(ws) AS n_words, "
            "len(list_distinct(ws)) AS n_distinct FROM w), "
            "pw AS (SELECT doc_id, unnest(ws) AS word FROM w), "
            "cnt AS (SELECT doc_id, word, count(*) AS wn FROM pw GROUP BY 1, 2), "
            "top AS (SELECT doc_id, word, wn FROM "
            "(SELECT *, row_number() OVER (PARTITION BY doc_id "
            "ORDER BY wn DESC, word ASC) AS rn FROM cnt) WHERE rn = 1) "
            "SELECT s.doc_id, n_words, "
            "round(CASE WHEN n_words = 0 THEN 0.0 "
            "ELSE 1.0 - n_distinct / CAST(n_words AS DOUBLE) END, 6) "
            "AS dup_word_frac, top.word AS top_word, "
            "round(CASE WHEN n_words = 0 THEN 0.0 "
            "ELSE wn / CAST(n_words AS DOUBLE) END, 6) AS top_word_frac "
            "FROM s LEFT JOIN top ON s.doc_id = top.doc_id"
        ),
        "q_decontaminate": (
            f"WITH nw AS (SELECT doc_id, {_NWORDS} AS ws FROM documents), "
            "sh5 AS (SELECT DISTINCT doc_id, "
            "unnest(list_transform(range(1, greatest(len(ws) - 4, 0) + 1), "
            "i -> array_to_string(ws[i:i+4], ' '))) AS shingle FROM nw), "
            "pruned AS (SELECT doc_id, shingle FROM (SELECT doc_id, shingle, "
            "count(*) OVER (PARTITION BY shingle) AS df FROM sh5) "
            "WHERE df <= 10000), "
            "ev AS (SELECT doc_id + 1000000 AS eval_id, shingle FROM sh5 "
            "WHERE doc_id < 20) "
            "SELECT p.doc_id AS train_id, ev.eval_id, "
            "count(*) AS n_common FROM pruned p JOIN ev USING (shingle) "
            "GROUP BY 1, 2 HAVING count(*) >= 3"
        ),
        "q_unigram_quality": (
            f"WITH w AS (SELECT doc_id, unnest(list_filter(string_split({_NORM}, ' '), "
            "x -> x <> '')) AS word FROM documents), "
            "v AS (SELECT word, count(*) AS wn FROM w GROUP BY 1), "
            "t AS (SELECT sum(wn) AS t FROM v), "
            "agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_words, "
            "round(avg(ln(wn / CAST(t AS DOUBLE))), 6) AS logprob "
            "FROM w JOIN v USING (word), t GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(agg.n_words, 0) AS n_words, agg.logprob "
            "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id"
        ),
        "q_unigram_external": (
            f"WITH w AS (SELECT doc_id, unnest(list_filter(string_split({_NORM}, ' '), "
            "x -> x <> '')) AS word FROM documents), "
            "v AS (SELECT word, count(*) AS wn FROM w WHERE doc_id % 2 = 0 "
            "GROUP BY 1), "
            "t AS (SELECT sum(wn) AS t FROM v), "
            "agg AS (SELECT w.doc_id, CAST(count(*) AS INT) AS n_words, "
            "round(avg(ln(coalesce(wn, 0.5) / CAST(t AS DOUBLE))), 6) AS logprob "
            "FROM w LEFT JOIN v USING (word), t GROUP BY w.doc_id) "
            "SELECT d.doc_id, coalesce(agg.n_words, 0) AS n_words, agg.logprob "
            "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id"
        ),
        "q_violation_summary": (
            "SELECT * FROM ("
            "SELECT 'li_qty' AS shape_id, 'MaxInclusiveConstraintComponent' AS "
            "constraint_component, 'value_range' AS violation_type, "
            "count(*) AS n_violations FROM lineitem WHERE l_quantity > 30 "
            "UNION ALL SELECT 'li_disc', 'MaxInclusiveConstraintComponent', "
            "'value_range', count(*) FROM lineitem WHERE l_discount > 0.08 "
            "UNION ALL SELECT 'li_tax', 'MinInclusiveConstraintComponent', "
            "'value_range', count(*) FROM lineitem WHERE l_tax < 0.02"
            ") WHERE n_violations > 0"
        ),
        "q_text_profile": _text_profile_sql(),
        "q_path_value_orders": (
            "SELECT o_orderkey, c_acctbal AS acctbal, "
            "'o_custkey/c_acctbal' AS property_path "
            "FROM orders JOIN customer ON c_custkey = o_custkey "
            "WHERE c_acctbal < 0.0"
        ),
        "q_dedup_incremental": (
            f"WITH idx AS (SELECT DISTINCT md5({_NORM}) AS ck FROM documents "
            "WHERE doc_id % 2 = 0), "
            f"new AS (SELECT doc_id, source, md5({_NORM}) AS ck FROM documents "
            "WHERE doc_id % 2 = 1), "
            # anti-join-shaped NOT EXISTS + NULL-key passthrough mirrors
            # the engine's left_anti + unknown-content semantics (NOT IN
            # would go UNKNOWN on any NULL key)
            "fresh AS (SELECT * FROM new WHERE ck IS NULL OR NOT EXISTS "
            "(SELECT 1 FROM idx WHERE idx.ck = new.ck)), "
            "k AS (SELECT doc_id, source, CASE WHEN ck IS NULL THEN 1 ELSE "
            "row_number() OVER (PARTITION BY ck ORDER BY doc_id) END AS rn "
            "FROM fresh) "
            "SELECT doc_id, source FROM k WHERE rn = 1"
        ),
        "q_dedup_exact": (
            f"SELECT md5({_NORM}) AS content_key, count(*) AS n_dups, "
            "min(doc_id) AS keep_id FROM "
            "(SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id, text FROM documents WHERE doc_id < 50) "
            "GROUP BY 1 HAVING count(*) > 1"
        ),
        "q_dedup_jaccard": (
            f"WITH {_SH_CTE}, {_SHP_CTE}, "
            "sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY 1), "
            "common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc "
            "FROM shp a JOIN shp b USING (shingle) WHERE a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT * FROM ("
            "SELECT id_a, id_b, "
            "round(nc / CAST(sa.n + sb.n - nc AS DOUBLE), 6) AS jaccard "
            "FROM common JOIN sizes sa ON sa.doc_id = id_a "
            "JOIN sizes sb ON sb.doc_id = id_b) WHERE jaccard >= 0.5"
        ),
        "q_dedup_minhash_lsh": _minhash_lsh_sql(),
        "q_dedup_simhash": _simhash_sql(),
        "q_embed_near_dup": (
            "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v "
            "FROM embeddings) "
            "SELECT * FROM ("
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            f"round({_cos_sql('a.v', 'b.v')}, 6) AS cos "
            "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) "
            "WHERE cos >= 0.4"
        ),
        "q_ann_cosine_topk": (
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5), "
            "scored AS (SELECT query_id, e.vec_id, "
            f"round({_cos_sql('e.v', 'qv')}, 6) AS cos "
            "FROM e, q WHERE e.vec_id <> q.query_id) "
            "SELECT query_id, vec_id, cos, CAST(row_number() OVER "
            "(PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS \"rank\" "
            "FROM scored QUALIFY row_number() OVER "
            "(PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 10"
        ),
        "q_ann_lsh_buckets": _lsh_buckets_sql(),
        "q_signature_dedup": _signature_sql(),
        "q_datatype_events": (
            "SELECT event_id, props, 'value_type' AS violation_type "
            "FROM events WHERE event_type = 'error' "
            "AND (props IS NULL OR TRY_CAST(props AS DOUBLE) IS NULL)"
        ),
        "q_bounds_events": (
            "SELECT event_id, 'MinExclusiveConstraintComponent' AS "
            "constraint_component, value AS v FROM events "
            "WHERE value IS NOT NULL AND NOT (value > 0.0) "
            "UNION ALL "
            "SELECT event_id, 'MaxExclusiveConstraintComponent', value "
            "FROM events WHERE value IS NOT NULL AND NOT (value < 450.0)"
        ),
        "q_pair_lineitem": (
            "WITH t AS (SELECT * FROM lineitem WHERE l_quantity <= 10) "
            "SELECT l_orderkey, l_linenumber, "
            "'EqualsConstraintComponent' AS constraint_component "
            "FROM t WHERE l_returnflag IS DISTINCT FROM l_linestatus "
            "UNION ALL "
            "SELECT l_orderkey, l_linenumber, 'LessThanConstraintComponent' "
            "FROM t WHERE l_tax IS NOT NULL "
            "AND l_discount IS NOT NULL AND NOT (l_tax < l_discount) "
            "UNION ALL "
            "SELECT l_orderkey, l_linenumber, "
            "'LessThanOrEqualsConstraintComponent' "
            "FROM t WHERE l_discount IS NOT NULL "
            "AND l_tax IS NOT NULL AND NOT (l_discount <= l_tax) "
            "UNION ALL "
            "SELECT l_orderkey, l_linenumber, 'DisjointConstraintComponent' "
            "FROM t WHERE l_returnflag = l_linestatus"
        ),
        "q_inset_lengths_documents": (
            "SELECT doc_id, 'LanguageInConstraintComponent' AS "
            "constraint_component, lang AS value FROM documents "
            "WHERE lang IS NOT NULL AND lang NOT IN ('en','es','de','fr') "
            "UNION ALL "
            "SELECT doc_id, 'MinLengthConstraintComponent', text "
            "FROM documents WHERE text IS NOT NULL AND length(text) < 50 "
            "UNION ALL "
            "SELECT doc_id, 'MaxLengthConstraintComponent', text "
            "FROM documents WHERE text IS NOT NULL AND length(text) > 500"
        ),
        "q_dup_span_extract": (
            f"WITH {_SPAN_CTES} "
            "SELECT doc_id, start_word, end_word, len_words FROM spans"
        ),
        "q_conv_assembly": (
            "WITH conv AS (SELECT user_id, CAST(count(*) AS INT) AS n_turns, "
            "md5(string_agg(coalesce(event_type, '') || ': ' || coalesce(props, ''), "
            "chr(10) ORDER BY ts, event_id)) AS transcript_md5, "
            "date_diff('microsecond', min(ts), max(ts)) AS duration_us "
            "FROM events GROUP BY user_id), "
            "grp AS (SELECT transcript_md5, CAST(count(*) AS INT) "
            "AS n_same_transcript, min(user_id) AS keeper "
            "FROM conv GROUP BY 1) "
            "SELECT c.user_id, c.n_turns, c.transcript_md5, "
            "g.n_same_transcript, c.user_id = g.keeper AS keep, "
            "c.duration_us FROM conv c JOIN grp g USING (transcript_md5)"
        ),
        "q_nb_quality": (
            # identical expression tree: a = (dfp+0.5)/(P+1),
            # b = (dfn+0.5)/(N+1), ln(a/b); round-6 absorbs ln/order ulps
            f"WITH lab AS (SELECT doc_id, source IN ('src0', 'src1') "
            f"AS is_ref, {_NORM} AS t FROM documents), "
            "W AS (SELECT DISTINCT doc_id, is_ref, word FROM "
            "(SELECT doc_id, is_ref, "
            "unnest(list_filter(string_split(t, ' '), w -> w <> '')) "
            "AS word FROM lab)), "
            "tot AS (SELECT sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS P, "
            "count(*) - sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS N "
            "FROM lab), "
            "stats AS (SELECT word, "
            "sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS dfp, "
            "count(*) AS dft FROM W GROUP BY 1), "
            "wts AS (SELECT word, ln(((dfp + 0.5) / (P + 1)) / "
            "((dft - dfp + 0.5) / (N + 1))) AS w "
            "FROM stats CROSS JOIN tot), "
            "sc AS (SELECT doc_id, round(sum(w) / count(*), 6) AS score, "
            "CAST(count(*) AS INT) AS n_scored_words "
            "FROM W JOIN wts USING (word) GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(sc.score, 0.0) AS score, "
            "coalesce(sc.n_scored_words, 0) AS n_scored_words "
            "FROM documents d LEFT JOIN sc USING (doc_id)"
        ),
        "q_ngram_repetition": (
            f"WITH nt AS (SELECT doc_id, {_NORM} AS t FROM documents), "
            "st AS (SELECT doc_id, length(t) AS chars, "
            "list_filter(string_split(t, ' '), w -> w <> '') AS ws FROM nt), "
            "nn AS (SELECT unnest([2, 3, 4, 5, 10]) AS n), "
            "occ AS (SELECT doc_id, chars, n, "
            "unnest(list_transform(range(1, greatest(len(ws)-(n-1), 0)+1), "
            "i -> array_to_string(ws[i:i+n-1], ' '))) AS gram "
            "FROM st CROSS JOIN nn), "
            "cnt AS (SELECT doc_id, n, gram, count(*) AS c "
            "FROM occ GROUP BY 1, 2, 3), "
            "ranked AS (SELECT *, row_number() OVER "
            "(PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS rk FROM cnt), "
            "topg AS (SELECT doc_id, n, gram AS top_ngram, "
            "c*length(gram) AS cover FROM ranked WHERE rk = 1), "
            "dupc AS (SELECT doc_id, n, sum(CASE WHEN c >= 2 "
            "THEN c*length(gram) ELSE 0 END) AS dupchars "
            "FROM cnt GROUP BY 1, 2), "
            "sp AS (SELECT doc_id, chars, n FROM st CROSS JOIN nn) "
            "SELECT sp.doc_id, sp.n, topg.top_ngram, "
            "CASE WHEN sp.chars > 0 AND topg.cover IS NOT NULL THEN "
            "round(topg.cover / CAST(sp.chars AS DOUBLE), 6) ELSE 0.0 END "
            "AS top_char_frac, "
            "CASE WHEN sp.chars > 0 AND topg.cover IS NOT NULL THEN "
            "round(dupc.dupchars / CAST(sp.chars AS DOUBLE), 6) ELSE 0.0 END "
            "AS dup_char_frac "
            "FROM sp LEFT JOIN topg USING (doc_id, n) "
            "LEFT JOIN dupc USING (doc_id, n)"
        ),
        "q_strip_dup_spans": (
            f"WITH {_SPAN_CTES}, "
            "cov AS (SELECT DISTINCT doc_id, "
            "unnest(range(start_word, end_word + 1)) AS pos FROM spans), "
            "wrd AS (SELECT doc_id, pos, ws[pos] AS w FROM "
            "(SELECT doc_id, ws, unnest(range(1, len(ws)+1)) AS pos FROM nw)), "
            "kept AS (SELECT wrd.doc_id, wrd.pos, wrd.w FROM wrd "
            "LEFT JOIN cov ON wrd.doc_id = cov.doc_id AND wrd.pos = cov.pos "
            "WHERE cov.doc_id IS NULL), "
            "reb AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS clean_text "
            "FROM kept GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(reb.clean_text, '') AS clean_text "
            "FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id"
        ),
        "q_dup_span_stats": (
            f"WITH nw AS (SELECT doc_id, {_NWORDS} AS ws FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "unnest(list_transform(range(1, greatest(len(ws) - 4, 0) + 1), "
            "i -> array_to_string(ws[i:i+4], ' '))) AS shingle FROM nw), "
            "dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1), "
            "per AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans, "
            "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS INT) AS n_dup_spans "
            "FROM sh JOIN dfq USING (shingle) GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans, "
            "coalesce(n_dup_spans, 0) AS n_dup_spans, "
            "round(n_dup_spans / CAST(n_spans AS DOUBLE), 6) AS dup_ratio "
            "FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"
        ),
        "q_group_maxcount_clicks": (
            "SELECT user_id, CAST(count(*) AS INT) AS n_clicks FROM events "
            "WHERE event_type = 'click' GROUP BY 1 HAVING count(*) > 15"
        ),
        "q_sqlcheck_suppliers": (
            "SELECT s_suppkey, 's_acctbal' AS property_path, "
            "CAST(s_acctbal AS VARCHAR) AS value FROM supplier "
            "WHERE s_acctbal < 0 "
            "UNION ALL "
            "SELECT NULL, 's_nationkey', CAST(count(*) AS VARCHAR) "
            "FROM supplier GROUP BY s_nationkey HAVING count(*) > 6"
        ),
        "q_drift_stats": _drift_sql(),
        "q_setpair_lineitem": (
            "WITH a AS (SELECT DISTINCT l_orderkey AS k, l_returnflag AS v "
            "FROM lineitem WHERE l_returnflag IS NOT NULL), "
            "b AS (SELECT DISTINCT l_orderkey AS k, l_linestatus AS v "
            "FROM lineitem WHERE l_linestatus IS NOT NULL), "
            "fo AS (SELECT coalesce(a.k, b.k) AS k, "
            "CASE WHEN b.v IS NULL THEN 1 ELSE 0 END AS ao, "
            "CASE WHEN a.v IS NULL THEN 1 ELSE 0 END AS bo "
            "FROM a FULL OUTER JOIN b ON a.k = b.k AND a.v = b.v) "
            "SELECT k AS l_orderkey, 'EqualsConstraintComponent' AS "
            "constraint_component, CAST(sum(ao) + sum(bo) AS INT) AS n_values "
            "FROM fo GROUP BY 1 HAVING sum(ao) + sum(bo) > 0 "
            "UNION ALL "
            "SELECT a.k, 'DisjointConstraintComponent', CAST(count(*) AS INT) "
            "FROM a JOIN b ON a.k = b.k AND a.v = b.v GROUP BY 1"
        ),
        "q_and_nodekind_part": (
            "SELECT p_partkey, 'AndConstraintComponent' AS "
            "constraint_component, CAST(p_retailprice AS VARCHAR) AS value "
            "FROM part WHERE p_size <= 5 "
            "AND NOT (p_retailprice >= 1000 AND p_size >= 2) "
            "UNION ALL "
            "SELECT p_partkey, 'NodeKindConstraintComponent', p_type "
            "FROM part WHERE p_size <= 5 AND p_type IS NOT NULL "
            "AND NOT regexp_matches(p_type, '^[A-Za-z][A-Za-z0-9_.:\\-]*$')"
        ),
        "q_violation_rollup": (
            "WITH v AS ("
            "SELECT 'li_qty' AS shape_id, 'MaxInclusiveConstraintComponent' AS "
            "constraint_component FROM lineitem WHERE l_quantity > 30 "
            "UNION ALL SELECT 'li_disc', 'MaxInclusiveConstraintComponent' "
            "FROM lineitem WHERE l_discount > 0.08 "
            "UNION ALL SELECT 'li_tax', 'MinInclusiveConstraintComponent' "
            "FROM lineitem WHERE l_tax < 0.02) "
            "SELECT shape_id, constraint_component, count(*) AS n "
            "FROM v GROUP BY ROLLUP (shape_id, constraint_component)"
        ),
        "q_dedup_simhash_pairs": (
            f"WITH sh AS ({_simhash_sql(bits=63)}) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
            "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        ),
        "q_vocabulary": (
            f"SELECT token, count(*) AS n, CAST(row_number() OVER "
            "(ORDER BY count(*) DESC, token ASC) AS INT) AS \"rank\" "
            f"FROM (SELECT unnest(string_split({_NORM}, ' ')) AS token "
            "FROM documents) WHERE token <> '' GROUP BY token "
            "QUALIFY row_number() OVER (ORDER BY count(*) DESC, token ASC) <= 100"
        ),
        "q_explanations": _explanations_sql(),
        "q_dedup_clusters": _dedup_clusters_sql(),
        "q_ann_ivf_topk": _ivf_topk_sql(),
        "q_ann_ivf_multiprobe": _ivf_multiprobe_sql(),
        "q_ann_lsh_topk": _lsh_topk_sql(),
        "q_stream_dedup_docs": (
            f"SELECT doc_id, CAST(rn - 1 AS BIGINT) AS n_prior FROM "
            f"(SELECT doc_id, row_number() OVER (PARTITION BY md5({_NORM}) "
            "ORDER BY doc_id) AS rn FROM "
            "(SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id, text FROM documents WHERE doc_id < 50)) "
            "WHERE rn >= 2"
        ),
        "q_schema_documents": (
            # DuckDB DESCRIBE -> Spark simpleString type names; the two
            # engines independently read the same parquet footers
            "WITH actual AS (SELECT column_name AS name, CASE column_type "
            "WHEN 'BIGINT' THEN 'bigint' WHEN 'VARCHAR' THEN 'string' "
            "WHEN 'INTEGER' THEN 'int' WHEN 'DOUBLE' THEN 'double' "
            "WHEN 'FLOAT[]' THEN 'array<float>' "
            "WHEN 'TIMESTAMP' THEN 'timestamp' "
            "ELSE lower(column_type) END AS dtype FROM (DESCRIBE documents)), "
            "spec(name, dtype) AS (VALUES ('doc_id','bigint'),"
            "('text','string'),('lang','string'),('n_chars','int'),"
            "('author','string')) "
            "SELECT s.name AS column_name, 'missing_column' AS issue, "
            "s.dtype AS expected_type, CAST(NULL AS VARCHAR) AS actual_type "
            "FROM spec s WHERE s.name NOT IN (SELECT name FROM actual) "
            "UNION ALL "
            "SELECT s.name, 'type_mismatch', s.dtype, a.dtype "
            "FROM spec s JOIN actual a ON s.name = a.name "
            "WHERE s.dtype <> a.dtype "
            "UNION ALL "
            "SELECT a.name, 'unexpected_column', CAST(NULL AS VARCHAR), "
            "a.dtype FROM actual a "
            "WHERE a.name NOT IN (SELECT name FROM spec)"
        ),
        "q_skew_join_orders": (
            "WITH sk AS (SELECT CASE WHEN o_orderkey % 10 < 7 THEN 1 "
            "ELSE o_custkey END AS custkey FROM orders) "
            "SELECT c_mktsegment, count(*) AS n_orders, "
            "count(DISTINCT custkey) AS n_custs "
            "FROM sk JOIN customer ON custkey = c_custkey "
            "GROUP BY c_mktsegment"
        ),
        "q_text_parity": (
            # identical deterministic perturbation + FULL OUTER JOIN;
            # IS DISTINCT FROM == Spark's ~eqNullSafe. Classification
            # uses presence FLAGS (pa/pb), not key-NULL tests, matching
            # the operator's _pa/_pb semantics for NULL-key rows
            "WITH a AS (SELECT doc_id, text, TRUE AS pa FROM documents), "
            "b AS (SELECT doc_id, CASE WHEN doc_id % 97 = 0 "
            "THEN text || ' [EDITED]' ELSE text END AS text, TRUE AS pb "
            "FROM documents WHERE doc_id % 101 <> 0 "
            "UNION ALL "
            "SELECT doc_id + 1000000000 AS doc_id, text, TRUE AS pb "
            "FROM documents WHERE doc_id % 103 = 0) "
            "SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, "
            "a.text AS value_a, b.text AS value_b, "
            "CASE WHEN pa IS NULL THEN 'missing_in_a' "
            "WHEN pb IS NULL THEN 'missing_in_b' "
            "ELSE 'text_mismatch' END AS mismatch_kind "
            "FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id "
            "WHERE pa IS NULL OR pb IS NULL "
            "OR a.text IS DISTINCT FROM b.text"
        ),
        "q_bpe_pairs": (
            f"WITH toks AS (SELECT unnest(string_split({_NORM}, ' ')) "
            "AS tok FROM documents), "
            "t2 AS (SELECT tok FROM toks WHERE length(tok) >= 2), "
            "pairs AS (SELECT substr(tok, CAST(r.i AS INT), 2) AS pair "
            "FROM t2, unnest(range(1, length(tok))) AS r(i)) "
            "SELECT pair, count(*) AS n_pairs FROM pairs GROUP BY pair "
            "ORDER BY n_pairs DESC, pair ASC LIMIT 50"
        ),
    }

"""Plan-shape regression guards.

The physical-plan assertions pin the scale-critical properties audited
in PLANS.md: parquet predicate pushdown from the fused row scan, column
pruning, broadcast anti-joins for dims, and single shared aggregations.
"""

import os
import sys

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

from pyspark.sql import functions as F

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.datagen import roles_dim, tools_dim, transcripts
from xpshacl_spark.shapes import GroupMinCount, MaxInclusive, Shape
from xpshacl_spark.suites import transcript_shapes


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_row_scan_predicate_pushdown(spark, tmp_path):
    """The fused row scan's pre-filter must reach the parquet reader as
    PushedFilters (row-group skipping at scale) — a bare conjunction,
    not a coalesce() wrapper, which is not source-translatable."""
    p = str(tmp_path / "li.parquet")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 50).cast("double").alias("qty")
    ).write.parquet(p)
    df = spark.read.parquet(p)
    engine = ValidationEngine(spark)
    rep = engine.validate(
        df, [Shape("s", (MaxInclusive("qty", 30.0),))], key_cols=["k"]
    )
    plan = _plan(rep.violations)
    assert "PushedFilters: [IsNotNull(qty), GreaterThan(qty,30.0)]" in plan
    # column pruning: only k and qty are read
    assert "ReadSchema: struct<k:bigint,qty:double>" in plan


def test_fk_small_dims_inline_big_dims_broadcast_anti(spark):
    """r06 FK compilation split: dims at or under FK_INLINE_MAX rows
    fuse into ONE shared isin filter scan (no join at all — the
    transcript suite paid two scans + two joins for two tiny dims);
    dims past the threshold keep the broadcast LEFT ANTI join and
    never a sort-merge."""
    df = transcripts(spark, n_convs=50)
    engine = ValidationEngine(
        spark, dims={"roles": roles_dim(spark), "tools": tools_dim(spark)}
    )
    shapes = [s for s in transcript_shapes() if "RefShape" in s.shape_id]
    rep = engine.validate(df, shapes, key_cols=["conv_id", "turn_idx"])
    plan = _plan(rep.violations)
    assert "Join" not in plan, plan
    assert "INSET" in plan or " IN (" in plan, plan

    big = spark.range(5000).select(F.col("id").alias("tool"))
    engine_big = ValidationEngine(spark, dims={"tools": big})
    shape = [s for s in transcript_shapes() if "ToolRef" in s.shape_id]
    rep2 = engine_big.validate(
        df.withColumn("tool", F.col("turn_idx").cast("long")),
        shape,
        key_cols=["conv_id", "turn_idx"],
    )
    plan2 = _plan(rep2.violations)
    assert "BroadcastHashJoin" in plan2 and "LeftAnti" in plan2
    assert "SortMergeJoin" not in plan2


def test_group_checks_share_one_aggregation(spark):
    """All count constraints on the same group key compile into ONE
    aggregation (one Exchange pair), not one per constraint."""
    df = transcripts(spark, n_convs=50)
    shapes = [
        Shape(
            "s",
            (
                GroupMinCount(("conv_id",), 1, where="role = 'assistant'"),
                GroupMinCount(("conv_id",), 1, where="role = 'user'"),
                GroupMinCount(("conv_id",), 2),
            ),
        )
    ]
    engine = ValidationEngine(spark)
    rep = engine.validate(df, shapes, key_cols=["conv_id", "turn_idx"])
    plan = _plan(rep.violations)
    # partial+final pair -> exactly one shuffle exchange in the plan
    assert plan.count("Exchange hashpartitioning(conv_id") == 1


def test_text_analyze_single_scan_no_shuffle(spark, tmp_path):
    """The fused text profile is one parquet scan that tokenizes once
    (exactly one split(... \\s+ ...) in the plan). The only exchange
    allowed is the narrow-input round-robin rebalance (r6) — never a
    keyed shuffle."""
    from xpshacl_spark.operators.text import analyze

    p = str(tmp_path / "d.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "el rapido zorro")],
        "doc_id long, text string",
    ).write.parquet(p)
    out = analyze(spark.read.parquet(p), "text")
    plan = _plan(out)
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # the narrow-input rebalance only
    assert plan.count("FileScan parquet") == 1
    # one tokenization per row: the whitespace split appears once
    assert plan.count("split(trim(text") == 1


def test_ivf_probe_is_broadcast_hash_join(spark):
    """IVF nprobe=1 probing joins corpus cells against the (small)
    query set with a broadcast hash join — the corpus never shuffles."""
    from xpshacl_spark.operators.similarity import ivf_ann_topk

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    out = ivf_ann_topk(
        vecs, vecs.where(F.col("vec_id") < 2), k=5, n_cells=3, nprobe=1, dim=4
    )
    assert "BroadcastHashJoin" in _plan(out)  # equi-join on cell, nprobe=1


def test_vocabulary_topk_is_distributed(spark):
    """vocabulary must plan the top-k as TakeOrderedAndProject (per-task
    k-row heaps) — the only unpartitioned Window sorts the <=k-row
    RESULT of the limit, never the full distinct-token relation. At web
    scale the token relation has billions of rows; a global rank window
    over it is a one-task straggler (VERDICT r01 item 1)."""
    from xpshacl_spark.operators.text import vocabulary

    df = spark.createDataFrame(
        [(i, "the quick brown fox a b") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(vocabulary(df, "text", k=5))
    assert "TakeOrderedAndProject" in plan
    # plan prints parent-first: Window must consume the limited relation
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    # nothing below the limit funnels into a single partition
    below_limit = plan[plan.index("TakeOrderedAndProject"):]
    assert "Window" not in below_limit
    assert "Exchange SinglePartition" not in below_limit


def test_repetition_stats_single_scan_no_join(spark, tmp_path):
    """repetition_stats derives n_words/n_distinct from the same
    (doc, word) counts relation as the modal word — the corpus is read
    ONCE, with no join back (a second scan of a 100 TB text column
    would double the job's IO)."""
    from xpshacl_spark.operators.text import repetition_stats

    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a b a") for i in range(10)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(p)
    plan = _plan(repetition_stats(spark.read.parquet(p)))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_stop_shingle_prune_is_agg_anti_join_no_sort(spark):
    """The stop-shingle doc-frequency cap must be the agg + left-anti
    form: groupBy(shingle).count() is map-side combined (a hot shingle
    pre-reduces per partition before the shuffle) and the over-cap hot
    set anti-joins away — AQE's runtime stats broadcast it when it is
    genuinely tiny (asserted on the executed adaptive plan) without
    forcing a driver collect in the pathological low-cap case. The old
    window form shuffled the whole (doc, shingle) relation by shingle
    WITH a per-partition sort just to drop hot keys; pin that neither
    the Window operator nor a Sort under the prune ever reappears."""
    from xpshacl_spark.operators.dedup import (
        _maybe_prune_stop_shingles,
        shingles,
    )

    df = spark.createDataFrame(
        [(i, "common words here plus doc %d tail" % i) for i in range(30)],
        "doc_id long, text string",
    )
    pruned = _maybe_prune_stop_shingles(shingles(df, "doc_id", "text"), 5)
    # correctness first (also finalizes the adaptive plan): every
    # surviving shingle's doc-frequency <= cap
    top = (
        pruned.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    )
    assert top is not None and top <= 5
    pruned.collect()
    # AdaptiveSparkPlan's string carries BOTH the final and the initial
    # (pre-AQE, sort-merge) plan; assert on the final section only
    plan = _plan(pruned).split("== Initial Plan ==")[0]
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan, plan  # AQE broadcast of tiny hot set
    assert "Window" not in plan
    assert "Sort" not in plan


def test_duplicate_span_stats_no_pairwise_fanout(spark):
    """duplicate_span_stats joins each (doc, span) row to the span's
    corpus doc-frequency — exactly ONE row per (doc, span), never a
    span-keyed self-join (which would be k^2 per hot span). Pin: no
    self-join of the shingle relation (the only joins are span->dfreq
    and the left join back to the doc spine, so <= 2 joins and one
    count-style aggregate per side)."""
    from xpshacl_spark.operators.dedup import duplicate_span_stats

    df = spark.createDataFrame(
        [(i, "one two three four five six seven") for i in range(20)],
        "doc_id long, text string",
    )
    out = duplicate_span_stats(df, "doc_id", "text", n=5)
    plan = _plan(out)
    # span->dfreq equi-join + doc-spine left join: exactly 2 joins
    joins = plan.count("Join")
    assert joins == 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-JOIN handling, driver-proven by q_skew_join_orders and
    plan-pinned here: with skewJoin enabled and thresholds lowered to
    sf-test scale (production defaults need a >256 MB hot partition),
    the sort-merge join of a 70%-hot key against a dim must execute
    with skew=true — the runtime splits the hot partition into
    advisory-sized sub-reads instead of funneling it through one task."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        # pin explicitly: runner-driven tests (test_checkpoint) bump the
        # shared session to 32 via get_spark's getOrCreate, and at 32
        # the per-partition sizes at this input scale fall under the
        # split granularity, masking the skew handler
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 7, F.lit(1))
            .otherwise((F.col("id") % 1000) + 1)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(1001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        out = (
            fact.hint("merge")
            .join(dim.hint("merge"), "k")
            .groupBy((F.col("attr") % 7).alias("g"))
            .count()
        )
        rows = {r.g: r["count"] for r in out.collect()}  # execute first: AQE
        plan = _plan(out)
        assert "skew=true" in plan, plan
        # value check: hot key 1 -> attr 2 -> g = 2 carries the 140k rows
        assert rows[2] > 140_000
        assert sum(rows.values()) == 200_000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_text_parity_is_single_key_join_pruned_scan(spark, tmp_path):
    """q_text_parity's shape: the parity check must be ONE full-outer
    equi-join on the ordering key over key+text-pruned scans — no
    cartesian/broadcast-nested-loop, no global sort-and-zip (zipWithIndex
    would serialize the table through one ordering)."""
    from xpshacl_spark.operators.parity import text_parity_violations

    p = str(tmp_path / "docs.parquet")
    spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        F.lit("en").alias("lang"),  # prunable: parity never reads it
    ).write.parquet(p)
    a = spark.read.parquet(p)
    b = a.where(F.col("doc_id") % 7 != 0)
    out = text_parity_violations(a, b, key_cols=["doc_id"])
    assert out.count() == 72  # ceil(500/7) keys missing_in_b
    plan = _plan(out)
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # column pruning reaches the scan: lang is never read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_sequence_checks_share_one_window(spark):
    """Monotonic + DenseIndex + Transition on the same (group, order)
    spec must fuse into ONE Window operator over ONE Exchange — the
    at-scale contract that adding sequence checks to a suite that
    already orders by (conv_id, turn_idx) costs zero extra shuffles."""
    from xpshacl_spark.shapes import DenseIndex, Monotonic, Transition

    df = transcripts(spark, n_convs=60)
    shapes = [
        Shape("ord", (Monotonic(("conv_id",), "turn_idx", "ts"),)),
        Shape(
            "seq",
            (
                DenseIndex(("conv_id",), "turn_idx", "turn_idx"),
                Transition(
                    ("conv_id",),
                    "turn_idx",
                    "role",
                    allowed_prev=(("assistant", ("user", "system", "tool")),),
                    initial=("user", "system", "tool"),
                ),
            ),
        ),
    ]
    rep = ValidationEngine(spark).validate(
        df, shapes, key_cols=["conv_id", "turn_idx"]
    )
    assert rep.metrics["n_plan_parts"] == 1  # one shared window relation
    plan = _plan(rep.violations)
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 1


def test_exact_dup_spans_keyed_never_pairwise(spark):
    """exact_dup_spans must stay keyed end-to-end: ONE gram-count
    aggregate, ONE occurrence equi-join back, and the interval-merge
    islands as TWO stacked window nodes (lag, then running sum of
    gap-open flags) sharing ONE (doc_id, pos) sort/exchange — never a
    gram-keyed self-join (k^2 rows per hot gram), never a cartesian."""
    from xpshacl_spark.operators.dedup import exact_dup_spans

    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(exact_dup_spans(df, "doc_id", "text", n=8))
    assert plan.count("Join") == 1, plan
    assert plan.count("Window") == 2, plan
    # the two windows share one sort: exactly one sort on (doc_id, pos)
    assert plan.count("Sort [doc_id") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ngram_repetition_single_scan_no_join(spark):
    """ngram_repetition_stats computes every n in ONE pass: one text
    scan into one Arrow-batched mapInPandas stage (r6 shape — JVM
    normalization, Python tuple-gram Counter, Spark-side rounding),
    with NO join, NO window, and NO occurrence-sized gram shuffle."""
    from xpshacl_spark.operators.text import ngram_repetition_stats

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "")], "doc_id long, text string"
    )
    plan = _plan(ngram_repetition_stats(df, ns=(2, 3, 4)))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan, plan
    # the only aggregate-free exchange allowed is the narrow-input
    # rebalance; no (doc, n, gram) count aggregation remains
    assert "HashAggregate" not in plan, plan


def test_shingles_rebalances_narrow_input_only(spark):
    """Explosion-heavy shingling widens a 1-split input with ONE
    round-robin exchange (measured 3.6x on a single-split corpus at
    sf0.1) and leaves an already-wide input untouched — the structural
    no-op that makes the rebalance safe at cluster scale."""
    from xpshacl_spark.operators.dedup import shingles

    narrow = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    ).coalesce(1)
    plan_narrow = _plan(shingles(narrow, "doc_id", "text"))
    assert "ROUND_ROBIN" in plan_narrow or "RoundRobin" in plan_narrow, plan_narrow

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = spark.createDataFrame(
        [(i, "a b c d") for i in range(64)], "doc_id long, text string"
    ).repartition(target)
    plan_wide = _plan(shingles(wide, "doc_id", "text"))
    # exactly the one repartition WE added upstream; shingles adds none
    assert plan_wide.count("ROUND_ROBIN") + plan_wide.count("RoundRobin") <= 1


def test_nb_production_shape_single_corpus_explode(spark, tmp_path):
    """q_nb_quality's production shape: the distinct-(doc, word)
    relation is materialized once (that write is the ONLY corpus-text
    explode); the scoring plan over the read-back table must contain NO
    Generate at all — versus the convenience form, whose one lazy plan
    explodes the corpus text twice."""
    from xpshacl_spark.operators.text import (
        nb_quality_scores,
        nb_quality_scores_from_words,
        nb_words,
    )

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"w{i % 3} common text", i % 2 == 0) for i in range(20)],
        "doc_id long, text string, is_ref boolean",
    ).write.parquet(p)
    d = spark.read.parquet(p)

    convenience = _plan(nb_quality_scores(d, "doc_id", "text", "is_ref"))
    assert convenience.count("Generate") == 2  # the two-explode bound

    words = nb_words(d, "doc_id", "text", "is_ref")
    assert _plan(words).count("Generate") == 1  # the single explode
    spark.sql("DROP TABLE IF EXISTS nb_words_pin")
    words.write.mode("overwrite").saveAsTable("nb_words_pin")
    prod = _plan(
        nb_quality_scores_from_words(
            d, spark.table("nb_words_pin"), "doc_id", "is_ref"
        )
    )
    assert "Generate" not in prod, prod
    spark.sql("DROP TABLE IF EXISTS nb_words_pin")


def test_rebalance_noop_on_wide_bare_scan(spark, tmp_path):
    """rebalance_if_narrow must be a STRUCTURAL no-op on a bare scan
    that already has >= shuffle.partitions splits (the cluster-scale
    case): no extra Exchange may appear — else the guard would silently
    tax every 100-TB scan with a full round-robin shuffle."""
    from xpshacl_spark.operators.text import rebalance_if_narrow

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = str(tmp_path / "wide.parquet")
    (
        spark.range(target * 4)
        .selectExpr("id as doc_id", "'a b c' as text")
        .repartition(target * 2)
        .write.parquet(p)
    )
    # tiny files get bin-packed into few scan splits by default; force
    # one-file-per-split so the scan arrives cluster-wide WITHOUT any
    # upstream Exchange (the case the probe must leave untouched)
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    saved_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        wide = spark.read.parquet(p)
        assert wide.rdd.getNumPartitions() >= target  # bare scan, no Exchange
        out = rebalance_if_narrow(wide)
        assert out is wide  # identity, not just exchange-free
        assert "Exchange" not in _plan(out)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
        spark.conf.set("spark.sql.files.openCostInBytes", saved_open)


def test_rebalance_degrades_to_noop_on_non_numeric_conf(spark, monkeypatch):
    """Platforms running AQE auto-tuning set shuffle.partitions to a
    non-numeric value ("auto"); the rebalance guard must return the
    input unchanged there, not raise ValueError. (Local Spark refuses
    conf.set("...", "auto"), so the conf getter is patched instead.)"""
    from xpshacl_spark.operators.text import rebalance_if_narrow

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    monkeypatch.setattr(
        type(spark.conf), "get", lambda self, key, default=None: "auto"
    )
    assert rebalance_if_narrow(df) is df


def test_dedup_lines_in_doc_is_zero_shuffle_scan(spark, tmp_path):
    """Intra-doc line dedup is per-row expression work: one codegen'd
    scan, no Exchange, no Generate (array_distinct does the dedup
    in-row — an explode/re-agg shape here would be a 100-TB regression),
    and the filter still pushes to the parquet scan."""
    from xpshacl_spark.operators.dedup import dedup_lines_in_doc

    p = str(tmp_path / "docs_lines")
    spark.createDataFrame(
        [(i, "a\nb\na") for i in range(10)], "doc_id long, text string"
    ).write.parquet(p)
    d = spark.read.parquet(p).where("doc_id >= 2")

    out = dedup_lines_in_doc(d, "text")
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,2" in plan


def test_gopher_quality_flags_is_zero_shuffle_scan(spark, tmp_path):
    """All seven Gopher rules are per-row higher-order expressions: one
    scan, no Exchange, no Generate, filter pushed to parquet."""
    from xpshacl_spark.operators.text import gopher_quality_flags

    p = str(tmp_path / "docs_gopher")
    spark.createDataFrame(
        [(i, "the fox and that dog") for i in range(10)],
        "doc_id long, text string",
    ).write.parquet(p)
    d = spark.read.parquet(p).where("doc_id >= 3")

    plan = _plan(gopher_quality_flags(d, "text"))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,3" in plan


def test_c4_clean_is_zero_shuffle_scan(spark, tmp_path):
    """The C4 line rewrite + page gate are per-row higher-order
    expressions: one scan, no Exchange, no Generate, filter pushed."""
    from xpshacl_spark.operators.text import c4_clean

    p = str(tmp_path / "docs_c4")
    spark.createDataFrame(
        [(i, "The fox runs fast.\nshort") for i in range(10)],
        "doc_id long, text string",
    ).write.parquet(p)
    d = spark.read.parquet(p).where("doc_id >= 3")

    plan = _plan(c4_clean(d, "text", badwords=("bad",)))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,3" in plan


def test_dedup_by_url_is_single_shuffle_window(spark, tmp_path):
    """dedup_by_url shuffles the corpus ONCE (window over the url key),
    with no join and no second Exchange — the groupBy+rejoin shape it
    documents against would shuffle twice."""
    from xpshacl_spark.operators.dedup import dedup_by_url

    p = str(tmp_path / "docs_url")
    spark.createDataFrame(
        [(i, f"https://example.com/{i % 3}") for i in range(12)],
        "doc_id long, url string",
    ).write.parquet(p)
    d = spark.read.parquet(p).where("doc_id >= 1")

    plan = _plan(dedup_by_url(d, "doc_id", "url"))
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1, plan
    assert "Join" not in plan, plan
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,1" in plan


def test_simhash_is_zero_agg_arrow_pass(spark):
    """r06 simhash plan: one MapInPandas over the per-row word arrays —
    no explode, no HashAggregate, and the only Exchange allowed is the
    narrow-input round-robin rebalance (never a keyed shuffle)."""
    from xpshacl_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(i, f"w{i} common text") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(simhash(docs, "doc_id", "text", bits=63))
    assert "MapInPandas" in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Generate" not in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_unique_rides_window_exchange(spark):
    """r06 fusion: a Unique whose columns equal a window-family spec's
    (group key + order col) AND the validation key compiles into that
    family's branch — ONE hashpartitioning exchange for the whole
    window+unique family — and its violation rows are identical to the
    standalone groupBy form's."""
    from xpshacl_spark.suites import transcript_shapes

    df = transcripts(spark, n_convs=60)
    keys = ["conv_id", "turn_idx"]
    shapes = [
        s
        for s in transcript_shapes()
        if s.name in ("TurnKeyShape", "TsOrderShape", "TurnSeqShape")
    ]
    engine = ValidationEngine(spark)
    rep = engine.validate(df, shapes, key_cols=keys)
    plan = _plan(rep.violations)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    uniq_rows = sorted(
        map(
            repr,
            rep.violations.where(
                F.col("constraint_component")
                == "UniquenessConstraintComponent"
            ).collect(),
        )
    )
    solo = engine.validate(
        df,
        [s for s in shapes if s.name == "TurnKeyShape"],
        key_cols=keys,
    )
    want = sorted(map(repr, solo.violations.collect()))
    assert uniq_rows == want and len(want) > 0

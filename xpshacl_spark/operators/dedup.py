"""Deduplication operators for large-scale training-data pipelines.

Five families, all expressed as DataFrame plans (no per-row Python):

* exact        — hash groupBy on normalized text (or any column tuple)
* n-gram Jaccard — shingle inverted index + self-join + set algebra
* MinHash+LSH  — md5-based minhash signatures, banded bucket join
* SimHash      — bitwise-majority fingerprint + bounded Hamming pairs
* embedding cosine — double-precision cosine over blocked candidate pairs

Hash parity note: every hash here is md5-of-string (same primitive as
the violation-KG signature URIs, /root/reference/src/violation_kg.py:
88-102) precisely so the DuckDB oracle can reproduce signatures,
buckets, and pair sets byte-for-byte. xxhash64 would be faster but is
not available in DuckDB; swap `_mh` for F.xxhash64 on a real cluster
if oracle parity is not needed.

Scale design:
* shingling is a zero-shuffle scan (explode happens into the shuffle
  of the following groupBy/join);
* the shingle inverted index is the classic near-dup skew hazard — a
  stop-shingle appearing in k docs creates k^2 join rows. `max_doc_freq`
  drops shingles above a document-frequency cap BEFORE the self-join
  (standard MinHashLSH practice), turning the worst case from
  O(n^2) into O(n * df_cap).
* LSH band buckets are tiny by construction (docs agreeing on a full
  band of minhashes), so the bucket self-join is skew-safe without
  salting; AQE handles stragglers.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xpshacl_spark.operators.text import (
    gram_array,
    normalize_text,
    rebalance_if_narrow,
)
from xpshacl_spark.session import local_relation


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = True
) -> DataFrame:
    """Groups of exact duplicates: one row per duplicated content hash,
    with the member count and the keeper (min id). A pure hash groupBy:
    one shuffle on the content hash, map-side partial agg."""
    key = fingerprint_col(text_col) if normalized else F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("doc_id"), key.alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def fingerprint_col(text_col: str) -> Column:
    return F.md5(normalize_text(text_col))


def url_duplicates(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Groups of URL-equivalent rows (CCNet/RefinedWeb URL dedup):
    exact_duplicates' plan — one hash groupBy with map-side partial
    agg — keyed on md5(normalize_url(url)) so tracking params, case,
    default ports, www., fragments and trailing slashes don't split a
    group. One row per duplicated URL key: member count + keeper
    (min id)."""
    from .text import normalize_url

    key = F.md5(normalize_url(F.col(url_col)))
    return (
        df.select(F.col(id_col).alias("doc_id"), key.alias("url_key"))
        # NULL urls never compete (same policy as dedup_by_url) — and a
        # NULL groupBy key would otherwise collect them into one group
        .where(F.col("url_key").isNotNull())
        .groupBy("url_key")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def dedup_by_url(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """First-occurrence (min id) survivor per normalized-URL key,
    returning the input rows minus the losers. NULL urls never compete
    (pass through), same policy as the other dedup operators' NULL
    keys.

    Plan: ONE shuffle — a min-over-Window partitioned by the url key
    (hash partition + within-partition sort on the key; no join back,
    no second corpus pass). A groupBy+rejoin shape would shuffle the
    corpus twice."""
    from pyspark.sql import Window

    from .text import normalize_url

    key = F.md5(normalize_url(F.col(url_col)))
    w = Window.partitionBy("_ukey")
    return (
        df.withColumn("_ukey", key)
        .withColumn("_keep", F.min(id_col).over(w))
        .where(F.col("_ukey").isNull() | (F.col(id_col) == F.col("_keep")))
        .drop("_ukey", "_keep")
    )


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).
    Documents with < n words produce no shingles.

    The word array is projected into its own column first: referencing
    the raw split expression inside the transform lambda would re-run
    normalize+split once PER SHINGLE (O(words^2) per doc) because
    Catalyst does not de-duplicate subtrees across lambda bodies. As a
    multi-use non-trivial alias it survives CollapseProject and is
    evaluated once per row.

    A narrow input (fewer splits than shuffle partitions) is round-robin
    rebalanced first so the 10-100x shingle construction parallelizes —
    see text.rebalance_if_narrow; structural no-op at cluster scale.

    Per-doc distinctness comes from array_distinct BEFORE the explode —
    a narrow per-row op — never from dropDuplicates after it: the grams
    of one doc are all in one row, so deduplicating them needs no
    corpus-wide (doc, shingle) shuffle. (r6: the dropDuplicates form
    shuffled the widest relation of the whole dedup family once per
    consumer; sf1.0 measured 5.4 s -> 1.3 s for the 2.6M-shingle
    materialization.)"""
    staged = rebalance_if_narrow(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(text_col), " ").alias("_ws"),
    )
    return staged.select(
        "doc_id",
        F.explode(F.array_distinct(gram_array(F.col("_ws"), n))).alias(
            "shingle"
        ),
    )


def _maybe_prune_stop_shingles(
    sh: DataFrame, max_doc_freq: Optional[int]
) -> DataFrame:
    """Drop shingles whose corpus doc-frequency exceeds max_doc_freq.

    Shape: groupBy("shingle").count() (map-side combined — a hot
    shingle's count is pre-reduced per partition before the shuffle),
    filter to the over-cap hot set, left-anti join it away.  The
    earlier window form (count().over(partitionBy(shingle))) shuffled
    the FULL (doc, shingle) relation by shingle with a per-partition
    sort just to drop the hot keys; the agg form moves only
    per-partition partial counts and never sorts.  The hot set is
    bounded by |(doc, shingle) rows| / max_doc_freq — typically tiny
    under a zipfian shingle distribution at the 10k default cap, but
    NOT a constant (a pathological low cap on a huge corpus grows it)
    — so the join is left to AQE's runtime size-based planning, which
    broadcasts the genuinely tiny case and keeps a distributed join
    for the pathological one, instead of a forced driver-side
    broadcast collect.
    """
    if max_doc_freq is None:
        return sh
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_doc_freq)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: Optional[int] = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard >= threshold.

    Plan: shingle inverted index -> self-equi-join on shingle (this is
    where candidate generation happens; only docs sharing >= 1 shingle
    ever meet) -> count common shingles per pair -> join per-doc set
    sizes -> Jaccard = common / (|A| + |B| - common).

    max_doc_freq caps the inverted-index fan-out and is ON by default:
    a shingle shared by k docs creates k^2 join rows, so one piece of
    boilerplate in 10^6 docs means 10^12 candidates. The 10k default is
    a no-op on small corpora but bounds the worst case at web scale;
    pass None only when the k^2 blowup is provably absent. Pruned
    shingles also leave the per-doc set sizes (standard stop-shingle
    semantics: Jaccard is computed over the pruned universe).

    The raw and pruned shingle relations are localCheckpoint'ed
    (lazily) because the plan fans them out — raw feeds the hot-set agg
    AND the anti-join left side, pruned feeds sizes and BOTH join
    sides. Without the checkpoint Catalyst re-derives the whole
    scan->normalize->explode chain once per consumer (six Generate
    subtrees in the r5 physical plan); with it the explode runs once
    per action. Checkpoint state is per-invocation (freed with the
    plan), never a cross-run cache.
    """
    sh = shingles(df, id_col, text_col, n).localCheckpoint(eager=False)
    sh = _maybe_prune_stop_shingles(sh, max_doc_freq)
    if max_doc_freq is not None:
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _minlabel_pointer_jump(edges: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation with pointer jumping over an undirected
    edge list (src, dst): returns (id, label) where label is the MIN id
    reachable from id. O(log diameter) rounds; each round every vertex
    takes the min label among itself and its neighbors, then replaces
    its label with its label's label (path doubling). Labels only move
    to reachable ids and only decrease, so the fixpoint is exactly the
    min-reachable-id labeling. `localCheckpoint` truncates lineage so
    plans don't grow with iterations. Raises on non-convergence.
    """
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    changed = 1
    for _ in range(max_iter):
        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "label"
        )
        stepped = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: label <- label(label). The label is itself a
        # node id, so its row exists; min() keeps monotone decrease.
        parent = stepped.select(
            F.col("id").alias("label"), F.col("label").alias("_ll")
        )
        new_labels = (
            stepped.join(parent, "label", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # silent non-convergence would split long duplicate chains into
        # multiple clusters undetectably — fail loudly instead
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            "(pair-graph diameter exceeds max_iter); raise max_iter"
        )
    return labels


def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    local_contract: bool = True,
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_id) where
    cluster_id is the MIN id reachable through the pair graph. This is
    the step that turns pairwise similarity into an actual dedup
    decision (keep one doc per cluster). Only ids that appear in at
    least one pair are returned (isolated docs are their own cluster by
    definition).

    Two-level algorithm (local_contract=True, the at-scale default):

    1. **Partition-local contraction** — one `mapInPandas` pass runs a
       path-compressed union-find over each partition's edges with the
       MIN id as representative. Zero shuffle; the Python loop is
       Arrow-batched and touches each edge once. Output: (id, lroot)
       for every id in the partition.
    2. **Boundary graph** — a node seen in k partitions carries k local
       roots; one groupBy connects them star-wise to their min. This
       contracted graph has one vertex per local subcomponent — at web
       scale orders of magnitude smaller than the edge list, because
       only components CROSSING partition boundaries survive.
    3. **Pointer jumping on the contracted graph** — the O(log
       diameter) min-label loop (`_minlabel_pointer_jump`) runs where
       each round's shuffle is proportional to the boundary graph, not
       the full corpus. Global min = min over local minima, and every
       local min is a vertex of the contracted graph, so composing
       id -> lroot -> global label reproduces exactly the
       min-reachable-id labeling of the recursive-CTE oracle.

    3b. **Driver finish for metadata-sized boundary graphs** (r06,
       guide §1.2 fixed costs): the contracted graph has one vertex
       per partition-local subcomponent, so after contraction it is
       usually tiny (10^1-10^5 edges even for corpora with millions of
       near-dup pairs). When it holds <= driver_max_edges rows
       (checked with a limit probe, never an unbounded count), the
       driver runs the same min-root union-find the local pass uses
       and broadcasts the labels back — replacing 4-6 distributed
       pointer-jump rounds (each a join + agg + checkpoint + count
       action: measured 5.5 s of pure round overhead on a 10k-edge
       pair set at the x10 bench scale) with one bounded collect. A
       boundary graph past the cap still runs the distributed loop —
       the collect is bounded by construction, not by hope.

    local_contract=False falls back to pointer jumping over the raw
    edge list (same fixpoint; used by tests to pin the round count).
    Non-convergence of the iterative stage raises instead of silently
    splitting long duplicate chains.
    """
    edges = pairs.where(F.col("id_a") != F.col("id_b")).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    if not local_contract:
        return _minlabel_pointer_jump(edges, max_iter).select(
            "id", F.col("label").alias("cluster_id")
        )

    idt = pairs.schema["id_a"].dataType.simpleString()

    def _part_cc(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        seen = set()
        for pdf in batches:
            # .tolist() yields native Python values — ints AND strings
            # both work (min-id representative only needs `<`), matching
            # the raw pointer-jump path's no-type-restriction contract
            for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                seen.add(a)
                seen.add(b)
                ra, rb = find(a), find(b)
                if ra == rb:
                    continue
                if ra < rb:  # min id becomes the representative
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        if seen:
            ids = sorted(seen)
            yield pd.DataFrame({"id": ids, "lroot": [find(i) for i in ids]})

    local = edges.mapInPandas(_part_cc, schema=f"id {idt}, lroot {idt}")
    # per node: min local root + the set of local roots it bridges
    g = (
        local.groupBy("id")
        .agg(
            F.min("lroot").alias("mr"),
            F.collect_set("lroot").alias("rs"),
        )
        .localCheckpoint()
    )
    contracted = (
        g.select(F.explode("rs").alias("src"), F.col("mr").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    groots = None
    if driver_max_edges:
        head = contracted.limit(driver_max_edges + 1).collect()
        if len(head) <= driver_max_edges:
            parent2: dict = {}

            def find2(x):
                r = x
                while parent2.get(r, r) != r:
                    r = parent2[r]
                while parent2.get(x, x) != r:
                    parent2[x], x = r, parent2[x]
                return r

            nodes = set()
            for e in head:
                a, b = e["src"], e["dst"]
                nodes.add(a)
                nodes.add(b)
                ra, rb = find2(a), find2(b)
                if ra == rb:
                    continue
                if ra < rb:
                    parent2[rb] = ra
                else:
                    parent2[ra] = rb
            spark = pairs.sparkSession
            groots = local_relation(
                spark,
                [(i, find2(i)) for i in sorted(nodes)],
                f"id {idt}, label {idt}",
            )
    if groots is None:
        groots = _minlabel_pointer_jump(contracted, max_iter)
    return (
        g.join(groots, g["mr"] == groots["id"], "left")
        .select(
            g["id"],
            F.coalesce(F.col("label"), F.col("mr")).alias("cluster_id"),
        )
    )


def dedup_keep_ids(clusters: DataFrame) -> DataFrame:
    """One keeper per duplicate cluster: (cluster_id, keep_id, n_members).
    keep_id = min id (deterministic across engines and partitionings)."""
    return clusters.groupBy("cluster_id").agg(
        F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_members")
    )


def dedup_keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware survivor per duplicate cluster: instead of
    :func:`dedup_keep_ids`'s min-id rule, keep the member with the
    HIGHEST ``score_col`` (e.g. the bigram-LM logprob or a
    quality_score), ties broken by min id so the winner stays
    deterministic across engines and partitionings. A member missing
    from ``scores`` competes at -inf (never beats a scored sibling;
    still wins a wholly unscored cluster by min id). Returns
    (cluster_id, keep_id, keep_score, n_members).

    Plan: one keyed left join (clusters are pair rows — membership-
    sized, not corpus-sized) + ONE max_by aggregation; the tie-break
    rides inside the max_by struct, so there is no window and no second
    shuffle."""
    joined = clusters.join(
        scores.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("_sc")
        ),
        "id",
        "left",
    ).select(
        "cluster_id",
        "id",
        F.coalesce(
            F.col("_sc").cast("double"), F.lit(float("-inf"))
        ).alias("_sc"),
    )
    # min over (-score, id) structs == best score, min-id tie-break —
    # id stays its native type (string ids work), only the score is
    # negated, so unscored members (-inf -> +inf) sort last
    best = F.min(
        F.struct((-F.col("_sc")).alias("_negsc"), F.col("id").alias("_id"))
    )
    return (
        joined.groupBy("cluster_id")
        .agg(best.alias("_b"), F.count(F.lit(1)).alias("n_members"))
        .select(
            "cluster_id",
            F.col("_b._id").alias("keep_id"),
            F.when(
                F.col("_b._negsc") != float("inf"), -F.col("_b._negsc")
            ).alias("keep_score"),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _mh(i: int, shingle: Column) -> Column:
    """The i-th minhash hash function: md5 over a seeded prefix. Min of
    a hex string is taken lexicographically — identical in any engine."""
    return F.md5(F.concat_ws("|", F.lit(str(i)), shingle))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): column-wise MinHash signature. One
    shuffle (groupBy doc_id); all k mins computed in the same agg."""
    sh = shingles(df, id_col, text_col, n)
    aggs = [
        F.min(_mh(i, F.col("shingle"))).alias(f"mh_{i}") for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_common: int = 1,
    max_doc_freq: Optional[int] = 10_000,
) -> DataFrame:
    """Benchmark decontamination: (train_id, eval_id, n_common) pairs
    where a training document shares >= min_common word n-grams with an
    evaluation document — the standard pre-training hygiene check
    (long n-grams, n ~ 8-13, so incidental phrase overlap doesn't
    fire). Same inverted-index plan as jaccard_pairs, but ACROSS two
    tables: shingle the small eval set, join the training shingles on
    shingle (eval side broadcasts when it fits), count per pair. The
    stop-shingle cap bounds hot boilerplate shingles on the TRAIN side,
    where the k^2-free cross join can still fan out k_train x k_eval.
    Filter training docs by anti-joining the returned train_ids.

    r06 (guide §3.2 reduce the big side first): train shingles are
    restricted to the eval set's distinct shingles BEFORE any
    frequency work. Only eval-matching shingles can ever reach the
    pair count, and — because the train relation is distinct per doc —
    a matching shingle's row count in the restricted relation IS its
    full train doc-frequency, so the stop-shingle cap applies
    identically. The old plan aggregated and anti-joined the WHOLE
    train shingle relation (the corpus-sized part) to prune shingles
    the eval join would drop anyway; now the df agg, the prune, and
    the checkpoint all run on the matched slice (eval-sized x df)."""
    sh_t = shingles(train, id_col, text_col, n)
    sh_e = shingles(eval_df, id_col, text_col, n).withColumnRenamed(
        "doc_id", "eval_id"
    )
    eval_keys = sh_e.select("shingle").dropDuplicates()
    # matched feeds the df agg, the anti join AND the pair join —
    # checkpoint the small slice, not the corpus relation
    matched = sh_t.join(eval_keys, "shingle").localCheckpoint(eager=False)
    if max_doc_freq is not None:
        hot = (
            matched.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        matched = matched.join(hot, "shingle", "left_anti")
    return (
        matched.join(sh_e, "shingle")
        .groupBy(F.col("doc_id").alias("train_id"), "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def lsh_plan(
    threshold: float,
    num_hashes: int = 8,
    target_recall: float = 0.9,
) -> dict:
    """Pick the (bands, rows_per_band) factorization of `num_hashes`
    for a Jaccard threshold: candidate-pair probability for similarity
    s is p(s) = 1 - (1 - s^r)^b (standard S-curve; Leskovec/Rajaraman/
    Ullman, Mining of Massive Datasets ch.3). Among factorizations with
    p(threshold) >= target_recall, choose the one with the LOWEST
    false-positive mass (p at 0.5*threshold) — fewer candidates = a
    smaller bucket self-join, the cost driver at 100 TB. Falls back to
    the max-recall factorization when none meets the target.

    Driver-side arithmetic over <= num_hashes options; returns
    {"bands", "rows_per_band", "p_at_threshold", "p_at_half"}.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    opts = []
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        p_t = 1.0 - (1.0 - threshold**r) ** b
        p_h = 1.0 - (1.0 - (0.5 * threshold) ** r) ** b
        opts.append({
            "bands": b,
            "rows_per_band": r,
            "p_at_threshold": p_t,
            "p_at_half": p_h,
        })
    good = [o for o in opts if o["p_at_threshold"] >= target_recall]
    if good:
        return min(good, key=lambda o: o["p_at_half"])
    return max(opts, key=lambda o: o["p_at_threshold"])


def lsh_bands(
    sig: DataFrame, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Band the signature: (doc_id, band_idx, band_key) where band_key
    is the md5 of the band's minhashes. Docs sharing any (band_idx,
    band_key) are candidate pairs."""
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *cols)).alias("band_key"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("_b")
    ).select("doc_id", "_b.band_idx", "_b.band_key")


def _band_pairs(bd: DataFrame) -> DataFrame:
    """Candidate pairs ``(id_a < id_b)`` sharing at least one
    ``(band_idx, band_key)`` bucket. NOT deduplicated: a pair appears
    once per shared bucket. Callers that materialize pairs add
    ``.dropDuplicates()``; anti/semi-join consumers must not (duplicates
    on a semi/anti right side are free, the distinct is a wasted
    shuffle)."""
    a = bd.select(F.col("doc_id").alias("id_a"), "band_idx", "band_key")
    b = bd.select(F.col("doc_id").alias("id_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs: distinct (id_a < id_b) sharing at least
    one LSH band bucket. Verify candidates with jaccard_pairs or an
    exact diff downstream; LSH only bounds recall/precision."""
    bd = lsh_bands(
        minhash_signatures(df, id_col, text_col, n, num_hashes), num_hashes, bands
    )
    return _band_pairs(bd).dropDuplicates()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(doc_id, simhash): bitwise-majority fingerprint over word md5s.

    Bit j of a word = high bit of hex nibble j of md5(word) for j < 32,
    and of md5('s2|' + word) nibble j-32 beyond (a second seeded hash
    extends the family); the document's bit j is 1 iff more word
    occurrences have bit j set than unset. bits <= 63 (the hash must
    fit a signed long). At web scale prefer WIDE hashes for pair
    mining: 32-bit fingerprints birthday-collide across ~10^5 docs,
    flooding hamming<=h with coarse-hash coincidences — 63 bits makes a
    <=3-bit match evidence of true near-duplication and cuts the
    pigeonhole candidate volume by the square of the extra bucket
    count.

    Plan (r06, guide §4.2 — one zero-shuffle Arrow pass): the word
    array stays a per-row value (JVM normalize + split for byte parity
    with every other text operator), and ONE mapInPandas stage
    computes each row's fingerprint: the same per-word md5 family
    (hashlib md5 of the UTF-8 word — identical bytes to F.md5), bit j
    = high bit of hex digit j, vectorized majority via one numpy
    column-sum per row. No explode, no aggregation, no exchange at
    all — the r03 plan shuffled one 16-sum agg row per doc per map
    partition and hashed a 10M-row exploded relation (x10 bench scale:
    5.8-6.5 s; this pass ~1.5 s). Per-row contract unchanged by
    construction: every input row yields exactly one output row, a
    NULL text yields simhash 0 (the old NULL-word -1-per-bit
    fixpoint), duplicate ids stay separate rows.
    """
    assert bits <= 63

    lo_bits = min(bits, 32)
    hi_bits = bits - lo_bits
    idt = df.schema[id_col].dataType.simpleString()
    base = rebalance_if_narrow(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(text_col), " ").alias("_ws"),
    )

    def _fingerprints(pdfs):
        import hashlib

        import numpy as np
        import pandas as pd

        md5 = hashlib.md5

        def _digit_signs(digests: bytes, n: int, nbits: int) -> int:
            """Pack bits from the first nbits hex digits of n
            concatenated 16-byte digests: bit j set iff strictly more
            words have digit j >= 8 than not."""
            arr = np.frombuffer(digests, dtype=np.uint8).reshape(n, 16)
            nb = (nbits + 1) // 2
            chunk = arr[:, :nb]
            digits = np.empty((n, nb * 2), dtype=np.uint8)
            digits[:, 0::2] = chunk >> 4
            digits[:, 1::2] = chunk & 0x0F
            setcnt = (digits[:, :nbits] >= 8).sum(axis=0, dtype=np.int64)
            maj = (2 * setcnt - n) > 0
            return int(sum(1 << j for j in range(nbits) if maj[j]))

        for pdf in pdfs:
            out = []
            for ws in pdf["_ws"]:
                if ws is None:
                    out.append(0)
                    continue
                n = len(ws)
                enc = [w.encode("utf-8") for w in ws]
                lo_dig = b"".join(md5(e).digest() for e in enc)
                sim = _digit_signs(lo_dig, n, lo_bits)
                if hi_bits:
                    hi_dig = b"".join(
                        md5(b"s2|" + e).digest() for e in enc
                    )
                    sim |= _digit_signs(hi_dig, n, hi_bits) << lo_bits
                out.append(sim)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": pd.array(out, "int64")}
            )

    return base.mapInPandas(
        _fingerprints, schema=f"doc_id {idt}, simhash bigint"
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """ALL pairs whose simhash Hamming distance <= max_hamming —
    exact, without the O(n^2) cross join.

    Pigeonhole blocking: split the hash into max_hamming+1 disjoint
    bit segments; two hashes differing in <= max_hamming bits must
    agree on at least one WHOLE segment, so candidates are generated by
    an equi-join on (segment_idx, segment_value) and then verified with
    the true Hamming distance. Recall is exactly 1 by construction
    (proven against an exhaustive pairwise oracle); the join fan-out is
    bounded by the per-segment bucket sizes instead of n^2.

    CACHE LIFETIME: the fingerprint relation is persisted (both join
    sides derive from it); in a long-lived session call
    :func:`simhash_pairs_with_fingerprints` instead and
    ``fingerprints.unpersist()`` once the pairs are materialized —
    this convenience wrapper leaves the (evictable, doc-count-row)
    cache to Spark's LRU.
    """
    pairs, _fp = simhash_pairs_with_fingerprints(
        df, id_col, text_col, bits, max_hamming
    )
    return pairs


def simhash_pairs_with_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """:func:`simhash_pairs` plus the persisted fingerprint relation —
    ``(pairs, fingerprints)``. The caller owns the cache handle:
    ``fingerprints.unpersist()`` after materializing pairs."""
    # cache the fingerprints: both self-join sides derive from sh, and
    # without it Catalyst recomputes the full text scan + hash agg PER
    # BRANCH. Lazy persist (not localCheckpoint): stays lazy, blocks
    # are evictable, and lineage survives executor loss on a real
    # cluster — doc-count rows, trivially cacheable
    from pyspark import StorageLevel

    sh = simhash(df, id_col, text_col, bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = fingerprint_hamming_pairs(
        sh, bits=bits, max_hamming=max_hamming, fp_col="simhash"
    )
    return pairs, sh


def fingerprint_hamming_pairs(
    fps: DataFrame,
    bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """ALL (id_a, id_b, hamming) pairs whose integer fingerprints differ
    in <= max_hamming bits — exact, never the O(n^2) cross join.

    Pigeonhole blocking over ANY integer fingerprint column: split the
    hash into max_hamming+1 disjoint bit segments; two hashes within
    Hamming distance max_hamming must agree on at least one WHOLE
    segment, so candidates come from an equi-join on (segment_idx,
    segment_value) and are verified with bit_count(xor). Recall is
    exactly 1 by construction. Works for full 64-bit fingerprints
    (a set top bit makes the value a NEGATIVE long):
    shiftright sign-extends, but every segment is masked to seg_bits,
    and equal top segments imply equal sign bits — sign extension can
    never split or merge buckets.

    Scale: the join fan-out is bounded by per-segment bucket sizes; at
    100 TB the fingerprint relation is metadata-sized (one long per
    doc) and the caller persists it (both self-join sides derive from
    it) — see simhash_pairs_with_fingerprints.
    """
    if bits <= 0 or max_hamming < 0:
        raise ValueError(f"need bits>0, max_hamming>=0; got {bits}, {max_hamming}")
    n_seg = max_hamming + 1
    seg_bits = -(-bits // n_seg)  # ceil

    def _seg_val(j: int) -> Column:
        shifted = F.shiftright(F.col(fp_col), j * seg_bits)
        if seg_bits >= 64:  # whole-long segment (max_hamming=0, 64-bit
            return shifted  # fps): 2^64-1 overflows a long literal
        return shifted.bitwiseAND(F.lit((1 << seg_bits) - 1))

    segs = F.array(
        *[
            F.struct(
                F.lit(j).alias("seg_idx"),
                _seg_val(j).alias("seg_val"),
            )
            for j in range(n_seg)
        ]
    )
    blocked = fps.select(
        F.col(id_col).alias("doc_id"), F.col(fp_col).alias("_fp"),
        F.explode(segs).alias("_s"),
    ).select("doc_id", "_fp", "_s.seg_idx", "_s.seg_val")
    a = blocked.select(
        F.col("doc_id").alias("id_a"), F.col("_fp").alias("sh_a"),
        "seg_idx", "seg_val",
    )
    b = blocked.select(
        F.col("doc_id").alias("id_b"), F.col("_fp").alias("sh_b"),
        "seg_idx", "seg_val",
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["seg_idx", "seg_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def _dot(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    """Double-precision dot product folded in index order — bit-identical
    to any engine that loops the list left to right in doubles.

    dim=None (the zip_with/aggregate fold) is the measured-fast path
    and the default everywhere: at 64 dims the unrolled getItem() form
    plants 64 cast-multiply-add terms PER expression occurrence — in a
    pair join with two norms + one dot that's hundreds of codegen terms
    per row, which bloats generated methods past JIT limits and loses
    2.5-3x head-to-head (sf0.1, min-of-3 warm: near-dup pairs 3.5s
    unrolled vs 1.3s fold; same finding as the r02 LSH fold-vs-unroll
    experiment in BENCH.md). The unrolled form (`dim=int`) is kept for
    the measurement and for narrow vectors. Both forms produce the same
    doubles: the fold starts at 0.0 + x0 == x0 and adds left to
    right, so swapping them never moves an oracle hash."""
    if dim is not None:
        total = None
        for d in range(dim):
            term = a.getItem(d).cast("double") * b.getItem(d).cast("double")
            total = term if total is None else total + term
        return total
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _blocked_near_dup_pairs_np(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_col: str,
) -> DataFrame:
    """Within-block cosine pairs via one grouped Arrow pass (guide
    §4.2): each block's Gram matrix is accumulated in numpy as 'for i
    in dims: G += outer(col_i, col_i)' — elementwise that is acc =
    acc + double(a_i)*double(b_i) in strict index order, bit-identical
    to the expression fold in :func:`_dot` — so swapping the plans
    never moves an oracle hash. The pair join this replaces evaluated
    an interpreted zip_with/aggregate fold per CANDIDATE pair inside
    the join condition (measured at sf1.0: ~20M pairs in ONE probe
    task, 126 s); here every block is one task and the per-pair cost
    is a vectorized multiply-add (measured: 2.6 s, see
    OPTIMIZATION_r06.md).

    Parity details:
    - rows with NULL id / vector / block are dropped up front — the
      join plan dropped them via the null join key, the `id_a < id_b`
      NULL comparison, and the NULL norm respectively;
    - pairs are formed only among vectors of EQUAL length: the fold's
      zip_with pads the shorter side with NULL, nulling the whole dot,
      so mixed-length pairs never survived the plan either;
    - duplicate id values never pair (id_a < id_b is strict);
    - zero-norm vectors pair with nothing (the nullif(denom, 0) rule);
    - the raw double cosines cross back into the JVM and ROUNDING AND
      THRESHOLDING STAY IN SPARK (round(cos, 6) >= threshold), so the
      emitted values go through the exact HALF_UP path the old plan
      used; Python only pre-filters with a 1e-6 slack margin so a
      raw cos that would round UP across the threshold is never lost.
    - per-block memory is bounded: the Gram matrix is computed in row
      slabs of <= ~32M doubles, so a hot block costs O(slab * n), not
      O(n^2), resident doubles (the 100-TB guardrail; block sizing
      itself is the caller's contract, as before).
    """
    id_type = emb.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, _rawcos double"
    pre = float(threshold) - 1e-6

    def _pairs(pdf):
        import numpy as np
        import pandas as pd

        vec_arr = pdf["_v"].to_numpy()
        ids_all = pdf["_id"].to_numpy()
        lens = np.fromiter((len(v) for v in vec_arr), dtype=np.int64,
                           count=len(vec_arr))
        out_a, out_b, out_c = [], [], []
        for ln in np.unique(lens):
            sel = np.flatnonzero(lens == ln)
            if len(sel) < 2 or ln == 0:
                continue
            ids = ids_all[sel]
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            V = np.stack(vec_arr[sel[order]]).astype(np.float64)
            n, ndim = V.shape
            # strict index-order fold (see docstring): norms first
            sq = np.zeros(n)
            for i in range(ndim):
                sq += V[:, i] * V[:, i]
            norms = np.sqrt(sq)
            slab = max(1, (1 << 25) // n)  # <= ~256 MB of doubles
            for s in range(0, n - 1, slab):
                e = min(n, s + slab)
                # r06: BLAS matmul SCREEN + exact-fold recompute. The
                # screen's summation order differs from the index-order
                # fold, but |screen - fold| <= ndim*eps*sum|a_i b_i|
                # <= ndim*eps*(norm_a*norm_b) (Cauchy-Schwarz), i.e.
                # < 1.5e-14 on the cosine at ndim=64 — the screen
                # margin widens by 1e-9 to absorb it, and every
                # SURVIVING pair's cosine is recomputed with the exact
                # per-dim fold below, so emitted doubles are
                # bit-identical to the old 'G += outer per dim' pass
                # (which re-walked a slab-row matrix ndim times:
                # memory-bandwidth bound, measured 3.7 s at the x10
                # scale vs 1.3 s for the screen+recompute).
                G = V[s:e] @ V.T
                denom = norms[s:e][:, None] * norms[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos_scr = G / denom
                rr, cc = np.nonzero(
                    (denom != 0.0)
                    & (cos_scr >= pre - 1e-9)
                    # upper triangle in GLOBAL row index, strict ids
                    & (np.arange(n)[None, :] > (s + np.arange(e - s))[:, None])
                    & (ids[None, :] != ids[s:e][:, None])
                )
                if len(rr):
                    ga, gb = rr + s, cc
                    dot = np.zeros(len(rr))
                    for i in range(ndim):
                        dot += V[ga, i] * V[gb, i]
                    out_a.append(ids[ga])
                    out_b.append(ids[gb])
                    out_c.append(dot / (norms[ga] * norms[gb]))
        if not out_a:
            return pd.DataFrame({"id_a": pd.Series([], dtype=ids_all.dtype),
                                 "id_b": pd.Series([], dtype=ids_all.dtype),
                                 "_rawcos": pd.Series([], dtype="float64")})
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "_rawcos": np.concatenate(out_c),
        })

    base = emb.where(
        F.col(block_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.col(block_col).alias("_blk"),
    )
    return (
        base.groupBy("_blk")
        .applyInPandas(_pairs, schema=out_schema)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_rawcos"), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    block_col: Optional[str] = None,
    dim: Optional[int] = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Near-duplicate vector pairs with cosine >= threshold.

    block_col (e.g. a cluster/label/LSH-bucket column) bounds the
    quadratic blowup: pairs are only formed within a block. Without it
    this is a full O(n^2) cross join — fine for verification scale,
    wrong at 100 TB (use lsh_sign_buckets from operators.similarity).
    The quadratic path therefore RAISES unless the caller opts in with
    allow_quadratic=True, so a missing block column can't silently ship
    an all-pairs plan to a large cluster.

    Each vector's self-norm is computed ONCE per row before the join
    (not per pair); cos = dot/(norm_a*norm_b) is bit-identical to the
    per-pair form because sqrt(dot(v,v)) is the same double either way.

    With block_col set, the pairs are computed by the vectorized
    grouped-Arrow path (:func:`_blocked_near_dup_pairs_np`) — same
    doubles in the same fold order, ~50x less wall at bench scale; the
    expression-join plan below remains as the allow_quadratic
    verification path. `dim` only affects the expression path's
    unrolled form and is ignored by the vectorized path (which always
    implements the fold semantics).
    """
    if block_col is None and not allow_quadratic:
        raise ValueError(
            "embedding_near_dup_pairs without block_col is a full O(n^2) "
            "cross join; pass block_col (label/LSH-bucket column) or opt "
            "in explicitly with allow_quadratic=True for verification-"
            "scale runs"
        )
    if block_col is not None:
        return _blocked_near_dup_pairs_np(
            emb, id_col, vec_col, threshold, block_col
        )
    cols = [
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col), dim)).alias("_n"),
    ]
    join_keys = []
    if block_col:
        cols.append(F.col(block_col).alias("_blk"))
        join_keys = ["_blk"]
    base = emb.select(*cols)
    a = base.select(
        *(["_blk"] if block_col else []),
        F.col("_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = base.select(
        *(["_blk"] if block_col else []),
        F.col("_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    joined = a.join(b, join_keys) if join_keys else a.crossJoin(b)
    # nullif guards zero-norm vectors (all-zero embeddings of empty
    # docs): a bare division raises DIVIDE_BY_ZERO under ANSI mode, and
    # with ANSI off 0/0 = NaN, which Spark orders ABOVE every number —
    # NaN >= threshold would silently mark every same-block partner of
    # a zero vector as a near-dup. NULL cos drops out of the >= filter,
    # matching SQL-engine NULL semantics: zero vectors pair with nothing.
    cos = _dot(F.col("_va"), F.col("_vb"), dim) / F.nullif(
        F.col("_na") * F.col("_nb"), F.lit(0.0)
    )
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_cells: int = 4,
    dim: int = 64,
    seed: str = "ivf",
    centroids: "Optional[list[list[float]]]" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse
    quantizer, then within each cluster drop every vector that has a
    semantically-near neighbor with a smaller id. Returns
    (vec_id, cell, keep) for EVERY input vector.

    Survivor rule (deterministic, declarative): keep iff the vector has
    NO same-cell neighbor with cosine >= threshold and a smaller
    vec_id. This is the order-free analog of the paper's greedy
    keep-first sweep — for the tight near-duplicate neighborhoods the
    threshold targets (cos >= ~0.95) the similarity relation is
    effectively cliqueish and the rule keeps exactly the min-id
    representative; for sparser graphs it may keep more than one per
    connected component (never zero: the min id of any component has no
    smaller neighbor), which errs toward keeping data.

    100-TB shape: cell assignment is a zero-shuffle scan
    (similarity.ivf_assign — at scale the corpus is WRITTEN partitioned
    by cell); the pairwise stage is embedding_near_dup_pairs with the
    cell as the MANDATORY block column, so the quadratic cost is
    bounded per cell and never global (pass train_ivf_centroids output
    with n_cells sized so cells fit executor memory). The losers list
    is distinct ids out of the pair relation — metadata-sized."""
    from xpshacl_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(
        emb, id_col, vec_col, n_cells=n_cells, dim=dim, seed=seed,
        centroids=centroids,
    )
    pairs = embedding_near_dup_pairs(
        assigned, "vec_id", "embedding", threshold=threshold,
        block_col="cell", dim=dim,
    )
    losers = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        assigned.join(losers.withColumn("_lose", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(~F.col("_lose"), F.lit(True)).alias("keep"),
        )
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """C4-style duplicated-span signal per document: of a doc's distinct
    word n-gram spans, how many also occur in at least one OTHER doc.
    Docs dominated by corpus-repeated spans are boilerplate (nav bars,
    cookie banners, license footers) — the standard filter drops docs
    above a dup_ratio threshold before training.

    Plan (r06): NO join-back of the wide (doc, span) relation. The
    relation is distinct per doc, so a span with corpus doc-frequency
    1 belongs to exactly ONE document — and that owner rides the SAME
    span-keyed agg as the frequency (min(doc_id) of a 1-doc group is
    the doc). Per-doc duplicated counts are then
    n_dup = n_spans - n_unique:
      * span-keyed agg: (span) -> (df, min_doc) — map-side combined,
        hot-span skew absorbed by the combine;
      * doc-keyed agg over the df==1 SLICE of that output -> n_unique
        per doc (vocabulary-sized input);
      * doc-keyed agg over the span relation -> n_spans (50k-group
        map-side combine, near-zero shuffle).
    The pre-r06 equi-join back emitted one row per (doc, span) and
    re-shuffled the full string relation a second time just to count
    it. No quadratic fan-out anywhere, no stop-shingle cap needed.
    Returns (id, n_spans, n_dup_spans, dup_ratio) with zero-span docs
    retained at ratio NULL.
    """
    # the span relation feeds BOTH keyed aggs — checkpoint so the
    # explode chain runs once per action, not once per consumer (r6)
    sh = shingles(df, id_col, text_col, n=n).localCheckpoint(eager=False)
    uniq_per_doc = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("doc_id"))
        .where(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("_n_uniq"))
    )
    per_doc = (
        sh.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_spans"))
        .join(uniq_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            (
                F.col("n_spans") - F.coalesce(F.col("_n_uniq"), F.lit(0))
            ).cast("int").alias("n_dup_spans"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6
            ).alias("dup_ratio"),
        )
    )


def dedup_lines_in_doc(
    df: DataFrame, text_col: str = "text", sep: str = "\n"
) -> DataFrame:
    """Gopher-style INTRA-document line dedup (Rae et al. 2021,
    arXiv:2112.11446 §A1.1 'repetition removal'): rewrite each doc with
    repeated lines dropped (first occurrence kept, order preserved) and
    emit the duplicate-line fraction, one of the standard repetition
    quality signals. Adds ``dedup_text``, ``n_lines``,
    ``dup_line_fraction`` next to the input columns; NULL text
    propagates to NULL in all three.

    100-TB shape: ZERO shuffle. ``array_distinct`` preserves
    first-occurrence order, so the rewrite and both signals are plain
    per-row expressions inside one codegen'd scan — no explode, no
    window, no re-agg (contrast :func:`dedup_paragraphs`, whose
    dedup scope is the whole corpus and genuinely needs the shuffle)."""
    parts = F.split(F.col(text_col), "\\Q" + sep + "\\E")
    uniq = F.array_distinct(parts)
    n_lines = F.size(parts)
    return df.select(
        "*",
        F.array_join(uniq, sep).alias("dedup_text"),
        n_lines.alias("n_lines"),
        F.round(
            (n_lines - F.size(uniq)) / n_lines.cast("double"), 6
        ).alias("dup_line_fraction"),
    )


def dedup_paragraphs(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n\n"
) -> DataFrame:
    """CCNet-style CORPUS-wide paragraph dedup (Wenzek et al. 2020,
    arXiv:1911.00359 §3.1): an identical paragraph survives only at its
    first occurrence — min ``(doc_id, position)`` over every doc that
    contains it — and is stripped everywhere else. Returns the input
    rows plus ``dedup_text`` (survivors re-joined with ``sep``, order
    preserved), ``n_paras`` and ``n_kept_paras`` (content paragraphs
    only). Whitespace-only paragraphs (no non-whitespace character —
    tabs/newlines included, not just spaces) are structure, not
    content: they are always kept in the rebuild, never counted, and
    never collapse across docs. NULL text yields NULL ``dedup_text``
    with zero counts; a doc whose every content paragraph is stripped
    keeps its blank skeleton (possibly the empty string). Rows with a
    NULL ``id_col`` pass through UNCHANGED (``dedup_text`` = text,
    locally-computed counts, nothing stripped) and do not participate
    in corpus-wide dedup — same policy as the incremental dedup
    operators' NULL-key rows; letting them compete would elect an
    unidentifiable winner and could strip a paragraph from every doc.

    100-TB shape: one posexplode scan -> ONE paragraph-md5 hash agg
    (map-side combined; the only corpus-sized shuffle) -> equi-join
    back on the md5 -> per-doc re-agg. No corpus window, no pairwise
    join; a boilerplate paragraph repeated millions of times costs one
    agg row, and the join back fans out exactly one row per occurrence
    (AQE absorbs the residual join skew)."""
    pq = "\\Q" + sep + "\\E"
    paras = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_did"),
        F.posexplode(F.split(F.col(text_col), pq)).alias("_pos", "_para"),
    )
    # blank = no non-whitespace char (rlike, not trim: trim strips only
    # ASCII spaces, and a tab/newline-only paragraph must not be
    # treated as content and collapsed corpus-wide)
    is_blank = ~F.col("_para").rlike("\\S")
    content = paras.where(~is_blank).withColumn("_h", F.md5("_para"))
    winners = content.groupBy("_h").agg(
        F.min(F.struct("_did", "_pos")).alias("_w")
    )
    flagged = (
        content.join(winners, "_h")
        .select(
            "_did",
            "_pos",
            "_para",
            (
                (F.col("_w._did") == F.col("_did"))
                & (F.col("_w._pos") == F.col("_pos"))
            ).alias("_keep"),
            F.lit(True).alias("_content"),
        )
        .unionByName(
            paras.where(is_blank).select(
                "_did",
                "_pos",
                "_para",
                F.lit(True).alias("_keep"),
                F.lit(False).alias("_content"),
            )
        )
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("_pos", "_para", "_keep"))
    )
    per_doc = flagged.groupBy("_did").agg(
        F.array_join(
            F.transform(
                F.filter(ordered, lambda s: s["_keep"]),
                lambda s: s["_para"],
            ),
            sep,
        ).alias("dedup_text"),
        F.sum(F.col("_content").cast("int")).cast("int").alias("n_paras"),
        F.sum((F.col("_content") & F.col("_keep")).cast("int"))
        .cast("int")
        .alias("n_kept_paras"),
    )
    null_id = df[id_col].isNull()
    # local (per-row) counts for NULL-id pass-through rows
    local_n = F.coalesce(
        F.size(
            F.filter(
                F.split(df[text_col], pq), lambda p: p.rlike("\\S")
            )
        ),
        F.lit(0),
    )
    return (
        df.join(per_doc, df[id_col] == per_doc["_did"], "left")
        .select(
            *[df[c] for c in df.columns],
            # for non-NULL ids, only NULL text produces no paragraph
            # rows at all; NULL-id rows pass through untouched
            F.when(null_id, df[text_col])
            .otherwise(per_doc["dedup_text"])
            .alias("dedup_text"),
            F.when(null_id, local_n)
            .otherwise(F.coalesce(per_doc["n_paras"], F.lit(0)))
            .alias("n_paras"),
            F.when(null_id, local_n)
            .otherwise(F.coalesce(per_doc["n_kept_paras"], F.lit(0)))
            .alias("n_kept_paras"),
        )
    )


def fingerprint_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-fingerprint index for cross-run dedup: one row per
    distinct normalized-content hash with the owning (min) id. Persist
    this (parquet/bucketed by content_key) between ingestion runs."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            fingerprint_col(text_col).alias("content_key"),
        )
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_id"))
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    index: Optional[DataFrame] = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact dedup for INCREMENTAL ingestion: drop new docs whose
    content already exists in the persisted fingerprint index, then
    dedup within the new batch itself (keep the min id per content).
    Returns (kept_rows, index_delta) — append the delta to the index
    for the next run, completing the resume loop the checkpoint
    manifest provides for validation.

    Plan: fingerprint scan on the batch -> left-anti join against the
    index on content_key (the index is keyed + typically bucketed, so
    at scale this is the one shuffle — or zero with co-located
    buckets) -> keyed min-window for in-batch winners. No full-corpus
    rescan: cost is O(|batch| + index probe), which is the entire point
    versus re-running exact_duplicates over corpus + batch."""
    keyed = new_df.withColumn("_ck", fingerprint_col(text_col))
    if index is not None:
        # left_anti never matches NULL keys, so NULL-text rows pass
        keyed = keyed.join(
            index.select(F.col("content_key").alias("_ck")), "_ck", "left_anti"
        )
    # NULL content key = UNKNOWN content, not identical content: such
    # rows are all kept (never collapsed into one survivor) and never
    # enter the index (a NULL key could never match a probe anyway).
    # They are SPLIT OFF before the window, not guarded inside it: a
    # when(isNull, 1) projection guard still shuffles every NULL-key
    # row into the single NULL partition of the window — a one-reducer
    # hotspot on a batch with many NULL texts — while the split routes
    # them around the shuffle entirely (their answer is the constant 1).
    null_rows = keyed.where(F.col("_ck").isNull())
    w = Window.partitionBy("_ck").orderBy(F.col(id_col))
    kept = (
        keyed.where(F.col("_ck").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .unionByName(null_rows)
    )
    delta = kept.where(F.col("_ck").isNotNull()).select(
        F.col("_ck").alias("content_key"), F.col(id_col).alias("keep_id")
    )
    return kept.drop("_ck"), delta


def incremental_minhash_dedup(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    band_index: Optional[DataFrame] = None,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """NEAR-dup dedup for INCREMENTAL ingestion — the LSH analog of
    :func:`incremental_exact_dedup`, completing the continuous-corpus
    story: drop new docs whose MinHash LSH band buckets collide with
    the persisted index (near-dup of something already kept in a prior
    run), then near-dedup within the batch itself. Returns
    ``(kept_rows, band_index_delta)`` — append the delta (the kept
    docs' ``(band_idx, band_key)`` rows) to the index for the next run.

    In-batch survivor rule (same order-free rule as
    :func:`semantic_dedup`): a doc loses iff ANY smaller-id batch doc
    (itself not already a cross-run loser) shares a band bucket with
    it. The min id of every CONNECTED COMPONENT of the bucket graph
    always survives (a bucket's local min can still lose to a smaller
    id it meets in another bucket); chains may drop more than a greedy
    sweep would keep — LSH is a candidate filter, so erring toward
    dropping borderline near-dups is the standard trade (verify
    survivors with jaccard_pairs where recall matters).

    The index contract is parameter-sensitive: band keys are md5s over
    ``num_hashes/bands``-wide minhash slices, so probing an index built
    with different ``(n, num_hashes, bands)`` can never match and would
    SILENTLY disable cross-run dedup. The returned delta therefore
    carries a ``params`` column and the probe raises ``ValueError`` on
    a mismatch (indices from before this column are accepted as-is —
    append deltas with ``unionByName(delta, allowMissingColumns=True)``
    and the check engages once a stamped row exists).

    Docs with fewer than ``n`` words produce NO shingles, hence no
    signature and no bands: like NULL-key rows in the exact variant
    they are always kept, never indexed, and never collapse into one
    survivor (unknown content is not identical content).

    Plan: one groupBy for the batch signatures -> band explode ->
    left-semi probe of the (band-keyed, at scale band-bucketed) index
    -> batch-local band self-join. Cost O(|batch| + index probe); no
    corpus rescan, no corpus-wide pair join. TWO relations are
    PERSISTED so each expensive stage runs once regardless of how many
    actions the caller issues: the batch bands (the shingle+minhash
    agg, read by the probe, both self-join sides and the delta) and
    the cross-run loser ids (the index probe — the dominant cost at
    scale — read by the band filter and the kept anti-join).

    CACHE LIFETIME: this convenience wrapper leaves BOTH (evictable,
    batch-bounded) caches to Spark's LRU — in a long-lived continuous
    ingestion loop that accumulates two CacheManager entries per batch,
    so use :func:`incremental_minhash_dedup_with_bands` there and
    unpersist the returned handles once kept/delta are materialized
    (same convention as simhash_pairs_with_fingerprints)."""
    kept, delta, handles = incremental_minhash_dedup_with_bands(
        new_df, id_col, text_col, band_index, n, num_hashes, bands
    )
    return kept, delta


def incremental_minhash_dedup_with_bands(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    band_index: Optional[DataFrame] = None,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """:func:`incremental_minhash_dedup` plus the persisted
    intermediates — ``(kept, band_index_delta, cache_handles)``. The
    caller owns the handles: ``for h in cache_handles: h.unpersist()``
    after materializing kept and delta."""
    from pyspark import StorageLevel

    params = f"n={n},num_hashes={num_hashes},bands={bands}"
    bd0 = lsh_bands(
        minhash_signatures(new_df, id_col, text_col, n, num_hashes),
        num_hashes,
        bands,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    handles = [bd0]
    bd = bd0
    cross_losers = None
    if band_index is not None:
        if "params" in band_index.columns:
            # bounded probe (distinct params values — a handful of
            # rows): a mismatched index can never match any band key,
            # which would silently disable cross-run dedup. Collected
            # as a SET, not .first(): on a mixed-params index a
            # first()-based check would pass or fail depending on
            # which partition answered first.
            stamped = sorted(
                r["params"]
                for r in band_index.where(F.col("params").isNotNull())
                .select("params")
                .distinct()
                .collect()
            )
            if stamped and (len(stamped) > 1 or stamped[0] != params):
                raise ValueError(
                    "band_index carries LSH parameter stamps "
                    f"{stamped} incompatible with this call ({params}); "
                    "mixed or mismatched band keys can never match — "
                    "rebuild the index or pass the original "
                    "n/num_hashes/bands"
                )
        # a doc is a cross-run loser if ANY of its bands hits the
        # index. left_semi ignores right-side duplicates, so the index
        # is probed as-is — no distinct over the (large) index side.
        cross_losers = (
            bd0.join(
                band_index.select("band_idx", "band_key"),
                ["band_idx", "band_key"],
                "left_semi",
            )
            .select("doc_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        handles.append(cross_losers)
        bd = bd0.join(cross_losers, "doc_id", "left_anti")
    # anti/semi right sides tolerate duplicates, so no distinct anywhere
    batch_losers = _band_pairs(bd).select(F.col("id_b").alias("doc_id"))
    losers = (
        batch_losers
        if cross_losers is None
        else cross_losers.unionByName(batch_losers)
    )
    # unbanded (short/NULL-text) docs appear in no loser set: always kept
    kept = new_df.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )
    delta = bd.join(batch_losers, "doc_id", "left_anti").withColumn(
        "params", F.lit(params)
    )
    return kept, delta, handles


# ---------------------------------------------------------------------------
# exact-substring duplicate spans (suffix-array-style, word granularity)
# ---------------------------------------------------------------------------


def positioned_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Word n-gram occurrences WITH their start position: one row per
    (doc_id, pos, shingle), pos = 1-based word index of the gram's
    first word. Unlike `shingles` this is NOT distinct-per-doc —
    within-doc repeats keep every occurrence, which is what span
    extraction needs. Narrow inputs are rebalanced first (see
    text.rebalance_if_narrow); the posexplode itself folds into the
    consumer's exchange."""
    staged = rebalance_if_narrow(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(text_col), " ").alias("_ws"),
    )
    return staged.select(
        "doc_id",
        F.posexplode(gram_array(F.col("_ws"), n)).alias("_i", "shingle"),
    ).select("doc_id", (F.col("_i") + 1).cast("int").alias("pos"), "shingle")


def exact_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated word spans per document — the word-granular
    analog of suffix-array exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    word n-gram occurring >= min_count times corpus-wide (within-doc
    repeats included) is duplicated text; duplicated gram starts whose
    COVERAGE overlaps or touches (start gap <= n) merge into one
    maximal span — not just consecutive starts, which would emit
    overlapping non-maximal spans when an interior gram is unique
    (e.g. starts {1, 3} at n=8 cover words 1-8 and 3-10: ONE span
    1-10). Returns (doc_id, start_word, end_word, len_words), 1-based
    inclusive word indexes into the normalized word sequence.

    Plan (all keyed, no pairwise fan-out — this is why it scales where
    pair enumeration cannot):
      1. positioned gram scan (zero-shuffle),
      2. gram occurrence counts: ONE hash agg keyed by shingle —
         map-side combine pre-reduces hot grams per partition,
      3. equi-join back (one row per occurrence, linear however hot
         the gram),
      4. interval-merge islands: per-doc window over the DUPLICATED
         positions only — island = running count of gap-open flags
         (lag + running sum share one (doc_id, pos) sort; two Window
         nodes, ONE exchange),
      5. per-island min/max agg -> maximal spans.
    At 100 TB the only superlinear hazard would be a pairwise join;
    there is none. The gram-count relation is vocabulary-sized; the
    join and window shuffle O(total duplicated occurrences). The
    positioned gram relation feeds both the count agg and the join —
    it is localCheckpoint'ed (lazily, per invocation) so gram
    construction runs once per action (r6); use
    :func:`exact_dup_spans_with_positions` when the caller wants to
    hold and explicitly release the cached gram relation.

    The reference engine has no substring-level dedup at all (its
    dedup is violation-signature md5, violation_kg.py:88-102); this is
    the training-pipeline operator its users need at corpus scale.
    """
    ps = positioned_shingles(df, id_col, text_col, n=n).localCheckpoint(
        eager=False
    )
    return _spans_from_positions(ps, n, min_count)


def _spans_from_positions(
    ps: DataFrame, n: int, min_count: int
) -> DataFrame:
    dup_grams = (
        ps.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .where(F.col("_occ") >= min_count)
        .select("shingle")
    )
    dup_pos = ps.join(dup_grams, "shingle").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # interval merge: a new island opens when this start's coverage
    # cannot touch the previous one's (gap > n); first row opens one
    opens = F.coalesce(
        (F.col("pos") - F.lag("pos").over(w) > n).cast("int"), F.lit(1)
    )
    islands = dup_pos.select("doc_id", "pos", opens.alias("_open")).select(
        "doc_id",
        "pos",
        F.sum("_open")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_isl"),
    )
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").cast("int").alias("start_word"),
            (F.max("pos") + (n - 1)).cast("int").alias("end_word"),
        )
        .select(
            "doc_id",
            "start_word",
            "end_word",
            (F.col("end_word") - F.col("start_word") + 1)
            .cast("int")
            .alias("len_words"),
        )
    )


def exact_dup_spans_with_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """:func:`exact_dup_spans` plus the PERSISTED positioned-gram
    relation — ``(spans, positions)``. Both consumers of the gram
    relation (the count agg and the occurrence join) then read the
    cache instead of rebuilding grams from text. The caller owns the
    handle: ``positions.unpersist()`` once spans are materialized
    (same convention as :func:`simhash_pairs_with_fingerprints`)."""
    from pyspark import StorageLevel

    ps = positioned_shingles(df, id_col, text_col, n=n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _spans_from_positions(ps, n, min_count), ps


def strip_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Remove every maximal duplicated span from every document,
    returning (id_col, clean_text) over the normalized word sequence.

    Removal semantics: ALL occurrences of duplicated spans are dropped
    (deterministic, idempotent given the original corpus counts).
    Training-data practice sometimes keeps ONE canonical occurrence;
    that variant is an ownership assignment (e.g. min doc_id per gram,
    exactly the `fingerprint_index` keep-rule) layered on the same
    span relation — the span extraction, which is the scale-relevant
    part, is shared.

    Plan (r06): spans -> ONE per-doc collect_list agg (span lists are
    doc-bounded) -> keyed join back onto the word arrays (the span
    side is spans-per-doc sized, so AQE broadcasts it when it fits) ->
    per-ROW higher-order filter drops covered positions and rebuilds
    the text in place. The earlier form exploded every WORD of every
    document into (doc, pos) rows and ran a left-anti join plus a
    collect_list rebuild agg — three corpus-word-sized exchanges that
    the in-row filter replaces with zero (only the span relation
    shuffles).
    """
    spans = exact_dup_spans(df, id_col, text_col, n=n, min_count=min_count)
    span_sets = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct("start_word", "end_word")
        ).alias("_spans")
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text(text_col), " ").alias("_ws"),
    ).join(span_sets, "doc_id", "left")
    kept = F.filter(
        F.transform(
            F.col("_ws"),
            lambda w, i: F.struct(
                w.alias("word"), (i + 1).alias("pos")
            ),
        ),
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda sp: (s["pos"] >= sp["start_word"])
            & (s["pos"] <= sp["end_word"]),
        ),
    )
    clean = F.when(
        F.col("_spans").isNull(),
        F.concat_ws(" ", F.col("_ws")),
    ).otherwise(
        F.concat_ws(" ", F.transform(kept, lambda s: s["word"]))
    )
    # null-text docs keep an empty clean_text rather than vanishing
    return base.select(
        "doc_id", F.coalesce(clean, F.lit("")).alias("clean_text")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (Dolma "BFF"-style dedup / decontamination)
# ---------------------------------------------------------------------------


def bloom_params(n_keys: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Optimal Bloom sizing for an expected key count and target
    false-positive rate: m = ceil(-n ln p / ln²2) bits,
    k = round(m/n · ln 2) hashes (standard formulas; this is how the
    Dolma dedup tool sizes its filter). Returns (num_bits, num_hashes),
    both at least 1/8-byte aligned up."""
    import math

    if n_keys < 1:
        raise ValueError("n_keys must be >= 1")
    if not (0.0 < fp_rate < 1.0):
        raise ValueError("fp_rate must be in (0, 1)")
    m = math.ceil(-n_keys * math.log(fp_rate) / (math.log(2) ** 2))
    m = ((m + 7) // 8) * 8  # byte-align so build/probe bitmap math is exact
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def _bloom_positions(key: Column, num_bits: int, num_hashes: int) -> Column:
    """The k bit positions of a key as array<long> — md5 of the salted
    key, first 15 hex digits (60 bits, exact in a long) mod num_bits.
    JVM-side expressions only; MUST stay identical between build and
    probe (same reason the minhash `_mh` is shared)."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(key, F.lit(f":{j}"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(num_bits),
            )
            for j in range(num_hashes)
        ]
    )


#: Bits per bloom shard (128 KiB bitmaps) — small enough that one
#: shard's offsets comfortably fit one task, large enough that the
#: shard relation stays tiny (a 2^33-bit / 1 GiB bloom is 8192 rows).
BLOOM_SHARD_BITS = 1 << 20


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int,
    shard_bits: int = BLOOM_SHARD_BITS,
) -> DataFrame:
    """Build a Bloom filter over a key column as a SHARDED DataFrame
    artifact: one row per shard_bits-sized bitmap slice,
    (shard int, bits binary). Persist it (parquet) and reuse across
    runs — the bloom analog of :func:`fingerprint_index`, with O(1)
    probe cost and a bounded false-positive rate instead of exactness.

    Plan: positions scan (k md5s per key, zero shuffle) -> explode ->
    ONE hash agg collecting each shard's distinct offsets -> a
    vectorized pandas UDF packs offsets into the bitmap bytes. The
    corpus is touched once; the only shuffle carries (shard, offset)
    pairs — at most k rows per key, map-side deduplicated by the
    partial collect_set. No driver-side state at any size: a 10^12-key
    bloom (~1.5 TB of bits at 1% fp) is just a bigger shard relation.
    NULL keys are skipped (they can never match a probe).

    The empty relation is a valid bloom: missing shards read as
    all-zero at probe time, so build(empty) -> probe = all miss."""
    if num_bits % 8 != 0:
        raise ValueError("num_bits must be byte-aligned (use bloom_params)")
    if shard_bits % 8 != 0:
        raise ValueError("shard_bits must be byte-aligned")
    from pyspark.sql.functions import pandas_udf

    nbytes = min(shard_bits, num_bits) // 8

    @pandas_udf("binary")
    def _pack(offsets: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for offs in offsets:
            bm = np.zeros(nbytes, dtype=np.uint8)
            o = np.asarray(offs, dtype=np.int64)
            np.bitwise_or.at(bm, o >> 3, (1 << (o & 7)).astype(np.uint8))
            out.append(bm.tobytes())
        return pd.Series(out)

    pos = (
        df.where(F.col(key_col).isNotNull())
        .select(
            F.explode(
                _bloom_positions(F.col(key_col), num_bits, num_hashes)
            ).alias("_p")
        )
        .select(
            # integer div, not double /: exact for any bloom size
            F.expr(f"cast(_p div {int(shard_bits)} as int)").alias("shard"),
            F.pmod(F.col("_p"), F.lit(shard_bits)).alias("_off"),
        )
    )
    return (
        pos.groupBy("shard")
        .agg(F.collect_set("_off").alias("_offs"))
        .select("shard", _pack("_offs").alias("bits"))
    )


def bloom_bytes(bloom: DataFrame, num_bits: int, shard_bits: int = BLOOM_SHARD_BITS):
    """Assemble a sharded bloom into one contiguous bytes object for
    the broadcast probe path. Collects num_bits/8 bytes to the driver —
    the artifact's own size, nothing corpus-sized — so it is bounded by
    what you intend to broadcast anyway. Missing shards are zero."""
    import numpy as np

    nbytes = num_bits // 8
    buf = np.zeros(nbytes, dtype=np.uint8)
    sb = shard_bits // 8
    for r in bloom.collect():
        start = r["shard"] * sb
        chunk = np.frombuffer(r["bits"], dtype=np.uint8)
        # the last shard's allocated bitmap may extend past num_bits;
        # bits beyond it are never set (positions are mod num_bits)
        end = min(start + len(chunk), nbytes)
        buf[start:end] |= chunk[: end - start]
    return buf.tobytes()


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    num_bits: int,
    num_hashes: int,
    shard_bits: int = BLOOM_SHARD_BITS,
    flag_col: str = "bloom_hit",
    mode: str = "broadcast",
) -> DataFrame:
    """Flag each row with probable membership of its key in the bloom:
    ``flag_col`` true = maybe present (false positives at the filter's
    designed rate), false = DEFINITELY absent (no false negatives —
    the property dedup/decontamination relies on). NULL keys get a
    NULL flag (unknown, matching the NULL-key policy of the other
    dedup operators).

    Two physical strategies, same answer:

    * ``mode="broadcast"`` (default; the Dolma-BFF shape): the
      assembled bitmap rides an explicit broadcast variable and a
      vectorized pandas UDF tests all k bits per row against local
      memory — ZERO shuffle of the corpus, the plan is scan-shaped.
      Right whenever the bloom fits executor memory (a 1% fp bloom for
      10^9 keys is ~1.2 GiB).
    * ``mode="join"``: positions explode -> broadcast join against the
      sharded bloom relation on shard -> JVM-side bit test -> one
      re-agg by key requiring all k bits. No single contiguous buffer
      is ever materialized, so it scales to blooms bigger than
      executor memory at the cost of one corpus-keyed re-agg."""
    # NULL key -> NULL positions array (not an array of NULL elements),
    # so the probe UDF sees one None instead of k of them
    pos = F.when(
        F.col(key_col).isNotNull(),
        _bloom_positions(F.col(key_col), num_bits, num_hashes),
    )
    if mode == "broadcast":
        from pyspark.sql.functions import pandas_udf

        blob = bloom_bytes(bloom, num_bits, shard_bits)
        bvar = df.sparkSession.sparkContext.broadcast(blob)

        @pandas_udf("boolean")
        def _hit(batch: pd.Series) -> pd.Series:
            import numpy as np

            bm = np.frombuffer(bvar.value, dtype=np.uint8)
            out = []
            for p in batch:
                if p is None:
                    out.append(None)
                    continue
                q = np.asarray(p, dtype=np.int64)
                out.append(bool(((bm[q >> 3] >> (q & 7)) & 1).all()))
            return pd.Series(out, dtype=object)

        return df.withColumn(
            flag_col,
            F.when(F.col(key_col).isNotNull(), _hit(pos)),
        )
    if mode != "join":
        raise ValueError(f"unknown bloom_probe mode: {mode!r}")
    probes = (
        df.where(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("_bk"))
        .distinct()
        .select(
            "_bk",
            F.explode(
                _bloom_positions(F.col("_bk"), num_bits, num_hashes)
            ).alias("_p"),
        )
        .select(
            "_bk",
            F.expr(f"cast(_p div {int(shard_bits)} as int)").alias("shard"),
            F.pmod(F.col("_p"), F.lit(shard_bits)).alias("_off"),
        )
    )
    # missing shard (left join NULL bits) = all-zero slice = miss; the
    # byte is extracted JVM-side (substring on binary -> hex -> conv)
    bit = F.expr(
        "case when bits is null then 0 else "
        "shiftright(cast(conv(hex(substring("
        "bits, cast(_off / 8 as int) + 1, 1)), 16, 10) as int), "
        "cast(_off % 8 as int)) & 1 end"
    )
    hits = (
        probes.join(F.broadcast(bloom), "shard", "left")
        .select("_bk", bit.alias("_bit"))
        .groupBy("_bk")
        .agg((F.min("_bit") == 1).alias(flag_col))
    )
    return df.join(
        hits, df[key_col] == hits["_bk"], "left"
    ).drop("_bk")


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """Union sharded blooms built with the SAME (num_bits, num_hashes,
    shard_bits) into one: union -> ONE shard-keyed agg -> vectorized
    bitwise-OR of each shard's bitmaps. This is the cross-run loop for
    continuous ingestion (the Dolma workflow): probe the standing
    bloom, bloom_build the kept batch, bloom_merge the delta in,
    persist — O(batch + bloom shards) per run, never a corpus rescan.
    Parameter mismatches are the caller's contract, as with
    incremental_minhash_dedup's param-stamped index: ORing bitmaps of
    different geometry would silently corrupt membership, so stamp the
    params into the artifact's path/metadata when persisting."""
    if not blooms:
        raise ValueError("bloom_merge needs at least one bloom")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _or(chunks: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for lst in chunks:
            acc = None
            for b in lst:
                a = np.frombuffer(b, dtype=np.uint8)
                acc = a.copy() if acc is None else np.bitwise_or(acc, a)
            out.append(acc.tobytes())
        return pd.Series(out)

    u = blooms[0]
    for b in blooms[1:]:
        u = u.unionByName(b)
    return (
        u.groupBy("shard")
        .agg(F.collect_list("bits").alias("_chunks"))
        .select("shard", _or("_chunks").alias("bits"))
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    fp_rate: float = 0.001,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination via a Bloom filter of the evaluation
    set's word n-grams — the shape used at GPT-3/Llama pretraining
    scale (long n-grams, n ~ 13): instead of joining training shingles
    against an eval inverted index (:func:`contamination_pairs`), the
    eval shingles are folded into a bloom ONCE and the training corpus
    probes it with ZERO data joined in — per training document, the
    count of its distinct n-grams that (probably) occur in any eval
    document. Returns (doc_id, n_shingles, n_hits, contaminated).

    No false negatives: every truly contaminated document is flagged
    (the guarantee hygiene filtering needs); false positives at
    ``fp_rate`` per shingle inflate n_hits slightly, which is why the
    eval bloom is sized at 0.1% by default and ``min_hits`` exists.
    Unlike contamination_pairs this does NOT say WHICH eval doc
    matched — run the exact pair op on the (tiny) flagged subset when
    attribution matters.

    Actions: one count() of the distinct eval shingle relation to size
    the bloom (artifact construction, like train_ivf_centroids' fit) —
    the training corpus itself stays lazy. Docs with < n words have no
    shingles and come back n_shingles 0, uncontaminated."""
    ev = shingles(eval_df, id_col, text_col, n).select("shingle").distinct()
    n_keys = ev.count()
    if n_keys == 0:
        # nothing to collide with: every training doc is clean
        return train.select(
            F.col(id_col).alias("doc_id"),
            F.lit(0).alias("n_shingles"),
            F.lit(0).alias("n_hits"),
            F.lit(False).alias("contaminated"),
        )
    m, k = bloom_params(n_keys, fp_rate)
    bloom = bloom_build(ev, "shingle", m, k)
    probed = bloom_probe(
        shingles(train, id_col, text_col, n), "shingle", bloom, m, k
    )
    agg = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_shingles"),
        F.sum(F.col("bloom_hit").cast("int")).cast("int").alias("n_hits"),
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )

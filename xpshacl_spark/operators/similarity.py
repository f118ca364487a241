"""Similarity search over an embedding column (array<float>).

Two paths:

* `cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus, one scan, a window per query for the top-k.
  The correctness baseline; O(|corpus| * |queries| * dim).
* `lsh_sign_buckets` / `lsh_ann_topk` — random-hyperplane LSH: each
  vector gets a bucket id from the sign pattern of `num_planes`
  deterministic +/-1 projections; search only touches the query's
  bucket (optionally with multi-probe neighbors). This is the scale
  path: bucketing is a zero-shuffle scan + one repartition by bucket,
  and at 100 TB the corpus would be WRITTEN bucketed (partitionBy /
  Iceberg bucket transform) so a query prunes to one partition.

Hyperplanes are +/-1-valued and derived from md5 in plain Python, so
the exact same literal arrays can be embedded in an ANSI-SQL oracle —
bucket assignments match byte-for-byte across engines. All dot
products fold left-to-right in doubles (see operators.dedup._dot) for
cross-engine bit parity.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from xpshacl_spark.operators.dedup import _dot


def hyperplanes(num_planes: int, dim: int, seed: str = "lsh") -> list[list[int]]:
    """Deterministic +/-1 hyperplanes: sign d of plane p = parity of the
    first hex digit of md5('{seed}|{p}|{d}'). Pure Python (compile
    time); embeddable as literals in any SQL dialect."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def _plane_col(plane: list[int]) -> Column:
    return F.array(*[F.lit(float(x)) for x in plane])


def sign_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """Bucket id in [0, 2^len(planes)): bit p = 1 iff dot(vec, plane_p) > 0.

    The plane dots deliberately use the zip_with/aggregate fold
    (dim=None), not the unrolled getItem form: measured head-to-head at
    sf0.1 (6 planes x 64 dims, min of 3 warm runs on a cached corpus)
    the fold scans in 0.26s vs 0.64s unrolled — 64 per-element getItem
    accesses each re-check nulls/bounds, while the HOF walks the
    ArrayData once per plane. Staging the per-plane dots as projected
    columns does not rescue the unrolled form (0.67s). Same doubles
    either way (left fold), so oracle parity is unchanged. Numbers in
    BENCH.md (round 2 experiment)."""
    total = F.lit(0)
    for p, plane in enumerate(planes):
        bit = F.when(
            _dot(vec, _plane_col(plane), None) > 0, F.lit(1)
        ).otherwise(F.lit(0))
        total = total + bit * F.lit(2**p)
    return total


def lsh_sign_buckets(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 8,
    dim: int = 64,
    seed: str = "lsh",
) -> DataFrame:
    """(id, bucket): random-hyperplane signature of every vector. One
    zero-shuffle scan; persist/bucket-write the result at scale."""
    planes = hyperplanes(num_planes, dim, seed)
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        sign_bucket(F.col(vec_col), planes).alias("bucket"),
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    queries: small DataFrame with the same (id_col, vec_col) schema —
    broadcast, so the corpus is scanned exactly once with no shuffle
    before the per-query window. Self-matches are excluded. Ties break
    on the smaller corpus id for cross-engine determinism. Self-norms
    are hoisted to one per row/query (bit-identical to the per-pair
    form; sqrt(dot(v,v)) is the same double either way)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col), None)).alias("_qn"),
    )
    c = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_cv"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col), None)).alias("_cn"),
    )
    cos = _dot(F.col("_cv"), F.col("_qv"), None) / (F.col("_cn") * F.col("_qn"))
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def ivf_centroids(
    n_cells: int, dim: int, seed: str = "ivf"
) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids in [-1, 1): component d
    of centroid c = md5('{seed}|{c}|{d}') first-8-hex-digits scaled,
    rounded to 6 decimals so the identical double literal can be
    embedded in any SQL dialect (pure Python, compile time). A real
    deployment would k-means these offline; the IVF *plan* — assign
    once, probe few cells — is what matters at scale."""
    cells = []
    for c in range(n_cells):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{c}|{d}".encode()).hexdigest()
            row.append(round(int(h[:8], 16) / 2**32 * 2 - 1, 6))
        cells.append(row)
    return cells


def train_ivf_centroids(
    df, vec_col: str, n_cells: int, seed: int = 42, max_iter: int = 20
) -> list[list[float]]:
    """Data-trained coarse quantizer: k-means|| over the embedding
    column (Spark MLlib — distributed, one pass per iteration), emitted
    in the same rounded-literal form as ivf_centroids so the result
    plugs straight into ivf_scores/ivf_assign/ivf_ann_topk. Use this
    offline at corpus-build time (real IVF practice); the hash
    centroids stay the deterministic default the oracles embed."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
    return [
        [round(float(x), 6) for x in center] for center in model.clusterCenters()
    ]


def ivf_scores(vec: Column, cents: list[list[float]]) -> Column:
    """Array of centroid cosine-proxy scores (dot / centroid-norm; the
    vector's own norm is constant across cells so argmax is unchanged).
    Centroid norms are Python-computed literals, so the expression is
    byte-reproducible in the SQL oracle.

    Uses the compact zip_with/aggregate fold (dim=None), NOT the
    unrolled form: n_cells x dim unrolled terms in one projection blow
    the JVM's 64 KB codegen method limit and force the WHOLE stage into
    interpreted fallback — pessimizing every other expression in it.
    Both _dot forms produce identical doubles (left fold), so oracle
    parity is unaffected; at scale the assignment is done once at write
    time (ivf_assign), not per query."""
    scores = []
    for cent in cents:
        norm = math.sqrt(math.fsum(x * x for x in cent))
        scores.append(_dot(vec, _plane_col(cent), None) / F.lit(norm))
    return F.array(*scores)


def _cell_from_scores(sl: Column) -> Column:
    """1-based argmax via array_position (first occurrence, matching
    DuckDB list_position)."""
    return F.array_position(sl, F.array_max(sl)).cast("int")


def _with_cell(df: DataFrame, vec_col: str, cents: list[list[float]]) -> DataFrame:
    """Project the scores array FIRST, then take the argmax of the
    attribute: array_position(arr, array_max(arr)) mentions arr twice,
    and inlining the n_cells x dim unrolled score terms twice blows the
    JVM's 64 KB codegen method limit (Spark falls back to interpreted
    eval). As a staged multi-use alias the scores are generated once."""
    return df.withColumn("_sl", ivf_scores(F.col(vec_col), cents)).withColumn(
        "cell", _cell_from_scores(F.col("_sl"))
    )


def ivf_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 4,
    dim: int = 64,
    seed: str = "ivf",
    centroids: "list[list[float]] | None" = None,
) -> DataFrame:
    """(vec_id, embedding, cell): coarse-quantizer assignment of every
    vector — one zero-shuffle scan. At 100 TB the corpus is WRITTEN
    partitioned by cell (partitionBy / Iceberg bucket transform) so a
    query scans nprobe partitions instead of the whole table.

    Pass `centroids` (e.g. from train_ivf_centroids' k-means) to use a
    data-trained quantizer; the deterministic hash centroids remain the
    oracle-embedded default."""
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim, seed)
    staged = _with_cell(
        emb.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        "embedding",
        cents,
    )
    return staged.select("vec_id", "embedding", "cell")


def ivf_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 4,
    nprobe: int = 1,
    dim: int = 64,
    seed: str = "ivf",
    centroids: "list[list[float]] | None" = None,
) -> DataFrame:
    """Approximate top-k via inverted-file probing: score only corpus
    vectors whose cell is among the query's `nprobe` best cells.
    Same output schema as cosine_topk; recall grows with nprobe
    (nprobe = n_cells degrades to exact brute force). Pass the SAME
    `centroids` used at ivf_assign/write time (e.g. the
    train_ivf_centroids k-means result) — probing with a different
    quantizer than the one that partitioned the corpus silently
    collapses recall."""
    cents = centroids if centroids is not None else ivf_centroids(n_cells, dim, seed)
    c = _with_cell(
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("_cv"),
            F.sqrt(_dot(F.col(vec_col), F.col(vec_col), None)).alias("_cn"),
        ),
        "_cv",
        cents,
    ).drop("_sl")
    q_staged = _with_cell(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.sqrt(_dot(F.col(vec_col), F.col(vec_col), None)).alias("_qn"),
        ),
        "_qv",
        cents,
    )
    cos = _dot(F.col("_cv"), F.col("_qv"), None) / (F.col("_cn") * F.col("_qn"))
    if nprobe == 1:
        # single-probe: plain equi-join on cell -> BroadcastHashJoin
        # (same argmax as the corpus assignment)
        joined = c.join(F.broadcast(q_staged.drop("_sl")), "cell")
    else:
        # multi-probe: the query carries its nprobe best cells — sort
        # (-score, cell) structs over the PROJECTED scores array, slice,
        # project the cell field — and matches corpus rows by
        # array_contains, a broadcast theta-join over the tiny query set
        ranked = F.sort_array(
            F.array(
                *[
                    F.struct(
                        (-F.element_at(F.col("_sl"), i + 1)).alias("neg"),
                        F.lit(i + 1).alias("cell"),
                    )
                    for i in range(len(cents))
                ]
            )
        )
        probes = F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cell"])
        q = q_staged.withColumn("_probes", probes).drop("_sl", "cell")
        joined = c.join(
            F.broadcast(q), F.array_contains(F.col("_probes"), F.col("cell"))
        )
    scored = (
        joined.where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def lsh_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    dim: int = 64,
    seed: str = "lsh",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Same output schema as cosine_topk (recall < 1 by design).
    At scale the bucket column becomes the table's partition/bucket key
    so each query reads one partition instead of the full corpus."""
    planes = hyperplanes(num_planes, dim, seed)
    c = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_cv"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col), None)).alias("_cn"),
        sign_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col), None)).alias("_qn"),
        sign_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    cos = _dot(F.col("_cv"), F.col("_qv"), None) / (F.col("_cn") * F.col("_qn"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )

"""Unit tests for the training-data pipeline operators (dedup,
similarity search, text analysis) on small constructed inputs with
hand-computable expectations."""

import os
import sys

import pytest

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

from pyspark.sql import functions as F

from xpshacl_spark.operators import text as tx
from xpshacl_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingles,
    simhash,
    simhash_pairs,
)
from xpshacl_spark.operators.similarity import (
    cosine_topk,
    hyperplanes,
    lsh_ann_topk,
    lsh_sign_buckets,
)

DOCS = [
    # two exact duplicates modulo case/punctuation
    (0, "The quick brown fox jumps over the lazy dog"),
    (1, "the QUICK brown fox -- jumps over the lazy dog!!"),
    # near-duplicate of 0 (one word changed)
    (2, "The quick brown fox leaps over the lazy dog"),
    # unrelated
    (3, "completely different content about spark query engines"),
    # short doc (< 3 words): must produce NO shingles
    (4, "tiny doc"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_shingles_short_docs_empty(spark, docs):
    sh = shingles(docs, "doc_id", "text", n=3)
    ids = {r.doc_id for r in sh.select("doc_id").distinct().collect()}
    assert 4 not in ids and 5 not in ids  # sequence(1,0) guard
    # doc 0: 9 words -> 7 distinct trigrams (all unique here)
    assert sh.where(F.col("doc_id") == 0).count() == 7


def test_exact_duplicates_normalized(spark, docs):
    rows = exact_duplicates(docs, "doc_id", "text").collect()
    assert len(rows) == 1
    assert rows[0].n_dups == 2 and rows[0].keep_id == 0


def test_jaccard_pairs(spark, docs):
    rows = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    assert rows[(0, 1)] == 1.0  # identical after normalization
    # doc2 differs in 1 word of 9 -> shares 4 of 7 trigrams:
    # J = 4 / (7 + 7 - 4) = 0.4
    assert abs(rows[(0, 2)] - 0.4) < 1e-9
    assert (0, 3) not in rows and (1, 3) not in rows


def test_minhash_lsh_finds_exact_dup(spark, docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    # identical shingle sets -> identical signatures -> all bands agree
    assert (0, 1) in pairs
    assert (0, 3) not in pairs


def test_simhash_identical_docs(spark, docs):
    sh = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    assert sh[0] == sh[1]
    assert 0 <= sh[0] < 2**16
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert pairs.get((0, 1)) == 0


def test_fingerprint_hamming_pairs_generic_negative_longs(spark):
    # direct generic-path check with adversarial 64-bit values around
    # the sign boundary: recall vs the exhaustive oracle must be 1
    from xpshacl_spark.operators.dedup import fingerprint_hamming_pairs

    vals = [
        -1,
        -2,
        (1 << 63) - 1,
        -(1 << 63),
        -(1 << 63) + 1,
        0,
        1,
        (1 << 62) | 3,
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, fp long"
    )
    for max_h in (1, 2, 3):
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in fingerprint_hamming_pairs(
                df, bits=64, max_hamming=max_h, fp_col="fp"
            ).collect()
        }
        want = {}
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                d = bin((vals[i] ^ vals[j]) & ((1 << 64) - 1)).count("1")
                if d <= max_h:
                    want[(i, j)] = d
        assert got == want, f"max_hamming={max_h}"


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0], 0),
    (1, [0.999, 0.01, 0.0, 0.0], 0),  # near-dup of 0
    (2, [0.0, 1.0, 0.0, 0.0], 0),
    (3, [0.0, 0.0, 1.0, 0.0], 1),
    (4, [-1.0, 0.0, 0.0, 0.0], 1),  # opposite of 0
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        VECS, "vec_id long, embedding array<float>, label int"
    )


def test_embedding_near_dup(spark, vecs):
    rows = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_dup_pairs(
            vecs, "vec_id", "embedding", threshold=0.9, block_col="label"
        ).collect()
    }
    assert (0, 1) in rows and rows[(0, 1)] > 0.999
    assert (3, 4) not in rows  # cos = 0
    # blocking: 0 and 3 are in different labels, never compared
    assert all(a != 0 or b != 3 for a, b in rows)


def test_embedding_near_dup_quadratic_guard(spark, vecs):
    # no block_col -> O(n^2) cross join; must raise unless explicitly allowed
    with pytest.raises(ValueError, match="allow_quadratic"):
        embedding_near_dup_pairs(vecs, "vec_id", "embedding")
    # explicit opt-in still works (verification-scale path)
    out = embedding_near_dup_pairs(
        vecs, "vec_id", "embedding", threshold=0.9, allow_quadratic=True
    )
    assert (0, 1) in {(r.id_a, r.id_b) for r in out.collect()}


def test_cosine_topk_exact(spark, vecs):
    out = cosine_topk(vecs, vecs.where(F.col("vec_id") == 0), k=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    # cos: v1=0.9999, v2=v3=0.0 (tie broken by vec_id), v4=-1.0
    assert [r.vec_id for r in rows] == [1, 2, 3, 4]
    assert rows[0].cos > 0.999
    assert rows[-1].cos == -1.0  # opposite vector ranks last


def test_lsh_ann_subset_of_exact(spark, vecs):
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(vecs, vecs.where(F.col("vec_id") == 0), k=4).collect()
    }
    ann = lsh_ann_topk(
        vecs, vecs.where(F.col("vec_id") == 0), k=4, num_planes=2, dim=4
    ).collect()
    assert {(r.query_id, r.vec_id) for r in ann} <= exact
    # the near-identical vector lands in the query's bucket
    assert any(r.vec_id == 1 for r in ann)


def test_lsh_buckets_deterministic(spark, vecs):
    b1 = {r.vec_id: r.bucket for r in lsh_sign_buckets(vecs, "vec_id", "embedding", num_planes=4, dim=4).collect()}
    b2 = {r.vec_id: r.bucket for r in lsh_sign_buckets(vecs, "vec_id", "embedding", num_planes=4, dim=4).collect()}
    assert b1 == b2
    assert b1[0] == b1[1]  # near-identical vectors share all sign bits
    assert hyperplanes(2, 3) == hyperplanes(2, 3)
    assert all(x in (-1, 1) for row in hyperplanes(3, 5) for x in row)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("  ",), ("one",)], "text string"
    )
    rows = df.select(
        tx.token_count("text").alias("n"),
        tx.bpe_token_count("text").alias("b"),
    ).collect()
    assert [r.n for r in rows] == [3, 0, 0, 1]
    assert rows[0].b == 3


def test_bpe_tokens_symbols(spark):
    df = spark.createDataFrame([("ab, cd!e",)], "text string")
    # tokens: ab , cd ! e
    assert df.select(tx.bpe_token_count("text").alias("n")).first().n == 5


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it is happy",),
            ("el perro y la casa en un dia que no se ve",),
            ("der hund ist nicht ein tier und das haus",),
            ("le chat et les maisons pour une fete est grande",),
            ("xyzzy qwerty",),
        ],
        "text string",
    )
    assert [r[0] for r in df.select(tx.lang_id("text")).collect()] == [
        "en", "es", "de", "fr", "und",
    ]


def test_quality_score_bounds(spark, docs):
    rows = docs.select(F.round(tx.quality_score("text"), 6).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello,   World!"), (1, "hello world"), (2, "other")],
        "doc_id long, text string",
    )
    fps = [r[0] for r in df.select(tx.fingerprint("text")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_shingle_fingerprint_short_doc_null(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    rows = df.select(tx.shingle_fingerprint("text", n=3).alias("f")).collect()
    assert rows[0].f is None and rows[1].f is not None


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# IVF ANN
# ---------------------------------------------------------------------------


def test_ivf_assign_deterministic(spark, vecs):
    from xpshacl_spark.operators.similarity import ivf_assign, ivf_centroids

    a1 = {r.vec_id: r.cell for r in ivf_assign(vecs, "vec_id", "embedding", n_cells=3, dim=4).collect()}
    a2 = {r.vec_id: r.cell for r in ivf_assign(vecs, "vec_id", "embedding", n_cells=3, dim=4).collect()}
    assert a1 == a2
    assert all(1 <= c <= 3 for c in a1.values())
    assert ivf_centroids(2, 4) == ivf_centroids(2, 4)
    # near-identical vectors always quantize to the same cell
    assert a1[0] == a1[1]


def test_ivf_ann_subset_and_nprobe_monotone(spark, vecs):
    from xpshacl_spark.operators.similarity import ivf_ann_topk

    q = vecs.where(F.col("vec_id") == 0)
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(vecs, q, k=4).collect()
    }
    got1 = {
        (r.query_id, r.vec_id)
        for r in ivf_ann_topk(vecs, q, k=4, n_cells=3, nprobe=1, dim=4).collect()
    }
    got3 = {
        (r.query_id, r.vec_id)
        for r in ivf_ann_topk(vecs, q, k=4, n_cells=3, nprobe=3, dim=4).collect()
    }
    assert got1 <= exact and got3 <= exact
    assert got1 <= got3              # more probes never lose candidates
    assert got3 == exact             # nprobe = n_cells degrades to brute force
    assert any(v == 1 for _, v in got1)  # near-dup shares the query's cell


def test_duplicate_clusters_transitive(spark):
    from xpshacl_spark.operators.dedup import dedup_keep_ids, duplicate_clusters

    # two components: {1,2,3} via chain 1-2, 2-3; {7,9}; isolated ids absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    keep = {r.cluster_id: (r.keep_id, r.n_members)
            for r in dedup_keep_ids(duplicate_clusters(pairs)).collect()}
    assert keep == {1: (1, 3), 7: (7, 2)}


def test_duplicate_clusters_raises_on_non_convergence(spark):
    """Exhausting max_iter with labels still changing must raise — a
    silent exit would split long duplicate chains into multiple clusters
    undetectably (ADVICE r01). A long path graph converges with enough
    rounds and raises with too few."""
    import pytest

    from xpshacl_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain, max_iter=1, local_contract=False)
    got = {r.id: r.cluster_id for r in duplicate_clusters(chain).collect()}
    assert got == {i: 0 for i in range(9)}


def test_duplicate_clusters_log_rounds_on_long_chain(spark):
    """Pointer jumping bounds rounds at O(log diameter): a 200-node
    path converges well within 10 rounds (plain neighbor-min
    propagation would need ~200 and raise here)."""
    from xpshacl_spark.operators.dedup import duplicate_clusters

    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id
           for r in duplicate_clusters(
               chain, max_iter=10, local_contract=False).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_duplicate_clusters_local_contract_across_partitions(spark):
    """The partition-local contraction path: a 200-node chain scattered
    over 16 partitions contracts each partition's fragment to one local
    root; the boundary graph (<=16 vertices per component) converges in
    very few pointer-jump rounds. Result identical to the global
    fixpoint, and far under the raw-path round bound."""
    from xpshacl_spark.operators.dedup import duplicate_clusters

    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    ).repartitionByRange(16, "id_a")
    got = {r.id: r.cluster_id
           for r in duplicate_clusters(chain, max_iter=6).collect()}
    assert got == {i: 0 for i in range(n + 1)}
    # two disjoint components stay disjoint through contraction
    two = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    ).repartition(4)
    got2 = {r.id: r.cluster_id for r in duplicate_clusters(two).collect()}
    assert got2 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_text_parity_invariant(spark):
    """input_hint invariant: per-turn text equality under the stable
    (conv_id, turn_idx) key — identical generators agree; a mutated or
    missing turn is reported with its key and kind."""
    from xpshacl_spark.datagen import transcripts
    from xpshacl_spark.operators.parity import (
        assert_text_parity,
        text_parity_violations,
    )

    a = transcripts(spark, n_convs=30, seed=11)
    b = transcripts(spark, n_convs=30, seed=11)
    assert_text_parity(a, b, ["conv_id", "turn_idx"])

    mutated = b.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv-00000001") & (F.col("turn_idx") == 0),
            F.lit("tampered"),
        ).otherwise(F.col("text")),
    ).where(~((F.col("conv_id") == "conv-00000002") & (F.col("turn_idx") == 0)))
    bad = text_parity_violations(a, mutated, ["conv_id", "turn_idx"]).collect()
    kinds = {(r.conv_id, r.turn_idx): r.mismatch_kind for r in bad}
    assert kinds[("conv-00000001", 0)] == "text_mismatch"
    assert kinds[("conv-00000002", 0)] == "missing_in_b"
    assert len(kinds) == 2


def test_pii_flags(spark):
    df = spark.createDataFrame(
        [
            (1, "write to bob.smith+x@corp.example.org today"),
            (2, "server at 10.1.2.3 and 192.168.0.1"),
            (3, "call +1(555)123-4467 anytime"),
            (4, "nothing sensitive here"),
            (5, ""),
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.n_email, r.n_ipv4, r.n_phone, r.any_pii)
        for r in tx.pii_flags(df, "text").collect()
    }
    assert got[1] == (1, 0, 0, True)
    assert got[2] == (0, 2, 0, True)
    assert got[3] == (0, 0, 1, True)
    assert got[4] == (0, 0, 0, False)
    assert got[5] == (0, 0, 0, False)


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam eggs"),
            (2, "all words differ here"),
            (3, "Tie tie BREAK break"),  # 2-2 tie -> lexicographically first
            (4, ""),
        ],
        "doc_id int, text string",
    )
    got = {r.doc_id: r.asDict() for r in tx.repetition_stats(df).collect()}
    assert got[1]["dup_word_frac"] == 0.5 and got[1]["top_word"] == "spam"
    assert got[1]["top_word_frac"] == 0.75
    assert got[2]["dup_word_frac"] == 0.0 and got[2]["top_word_frac"] == 0.25
    assert got[3]["top_word"] == "break"  # normalized, tie -> min word
    assert got[4]["n_words"] == 0 and got[4]["dup_word_frac"] == 0.0


def test_lsh_plan_tradeoffs():
    from xpshacl_spark.operators.dedup import lsh_plan

    # high threshold -> prefers more rows per band (sharper S-curve)
    hi = lsh_plan(0.9, num_hashes=16)
    lo = lsh_plan(0.3, num_hashes=16)
    assert hi["rows_per_band"] >= lo["rows_per_band"]
    assert hi["bands"] * hi["rows_per_band"] == 16
    assert hi["p_at_threshold"] >= 0.9 or hi == max(
        [hi], key=lambda o: o["p_at_threshold"]
    )
    # probabilities follow the S-curve formula exactly
    b, r = lo["bands"], lo["rows_per_band"]
    assert lo["p_at_threshold"] == 1.0 - (1.0 - 0.3**r) ** b
    with pytest.raises(ValueError):
        lsh_plan(0.0)


def test_unigram_logprob(spark):
    import math

    df = spark.createDataFrame(
        [(1, "the the cat"), (2, "the dog")], "doc_id int, text string"
    )
    got = {r.doc_id: (r.n_words, r.logprob) for r in
           tx.unigram_logprob(df).collect()}
    # corpus: the=3, cat=1, dog=1, total=5
    lp1 = (2 * math.log(3 / 5) + math.log(1 / 5)) / 3
    lp2 = (math.log(3 / 5) + math.log(1 / 5)) / 2
    assert got[1] == (3, round(lp1, 6))
    assert got[2] == (2, round(lp2, 6))


def test_unigram_logprob_external_vocab_oov(spark):
    import math

    df = spark.createDataFrame([(1, "the zzz")], "doc_id int, text string")
    vocab = spark.createDataFrame([("the", 8), ("cat", 2)], "word string, wn long")
    got = tx.unigram_logprob(df, vocab=vocab).collect()[0]
    # the=8/10; zzz OOV -> 0.5/10
    expect = (math.log(8 / 10) + math.log(0.5 / 10)) / 2
    assert got.n_words == 2 and got.logprob == round(expect, 6)


def test_contamination_pairs_cross_table(spark):
    from xpshacl_spark.operators.dedup import contamination_pairs

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different words in every position here now"),
        ],
        "doc_id int, text string",
    )
    ev = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy")],
        "doc_id int, text string",
    )
    got = {
        (r.train_id, r.eval_id): r.n_common
        for r in contamination_pairs(train, ev, "doc_id", "text", n=5).collect()
    }
    # eval has 3 distinct 5-gram shingles, all inside train doc 1
    assert got == {(1, 100): 3}


def test_train_ivf_centroids_beats_hash_centroids(spark):
    """KMeans-trained cells must capture clustered data better than the
    deterministic hash centroids: same-cluster vectors land in the same
    cell far more often."""
    import random

    from xpshacl_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        train_ivf_centroids,
    )

    rng = random.Random(7)
    centers = [[5.0, 0.0, 0.0, 0.0], [0.0, 5.0, 0.0, 0.0],
               [0.0, 0.0, 5.0, 0.0], [0.0, 0.0, 0.0, 5.0]]
    rows = []
    for i in range(200):
        c = i % 4
        rows.append(
            (i, c, [x + rng.gauss(0, 0.2) for x in centers[c]])
        )
    df = spark.createDataFrame(rows, "vec_id int, label int, embedding array<float>")

    def purity(cents):
        a = ivf_assign(
            df, "vec_id", "embedding", centroids=cents
        ).join(df.select("vec_id", "label"), "vec_id")
        from pyspark.sql import functions as F
        top = (
            a.groupBy("label", "cell").count()
            .groupBy("label").agg(F.max("count").alias("m"))
            .agg(F.sum("m")).collect()[0][0]
        )
        return top / 200

    trained = train_ivf_centroids(df, "embedding", 4)
    assert len(trained) == 4 and len(trained[0]) == 4
    assert purity(trained) >= 0.99
    assert purity(trained) > purity(ivf_centroids(4, 4))  # hash cells split clusters


def test_unigram_logprob_keeps_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "real words here"), (2, "!!!")], "doc_id int, text string"
    )
    got = {r.doc_id: (r.n_words, r.logprob) for r in
           tx.unigram_logprob(df).collect()}
    assert got[2] == (0, None)  # zero-word doc present, unscored
    assert got[1][0] == 3


def test_duplicate_span_stats(spark):
    from xpshacl_spark.operators.dedup import duplicate_span_stats

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g"),        # spans: abcde, bcdef, cdefg
            (1, "a b c d e x y"),        # spans: abcde, bcdex, cdexy -> 1 shared
            (2, "p q r s t u"),          # spans: pqrst, qrstu -> unique
            (3, "short one"),            # no 5-gram spans
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in duplicate_span_stats(docs, "doc_id", "text", n=5).collect()}
    assert (got[0].n_spans, got[0].n_dup_spans) == (3, 1)
    assert (got[1].n_spans, got[1].n_dup_spans) == (3, 1)
    assert got[1].dup_ratio == round(1 / 3, 6)
    assert (got[2].n_spans, got[2].n_dup_spans) == (2, 0)
    assert (got[3].n_spans, got[3].n_dup_spans, got[3].dup_ratio) == (0, 0, None)


def test_duplicate_clusters_string_ids(spark):
    """Both CC paths accept non-integer id columns (doc URIs, md5
    fingerprints): min-id representative only needs `<`."""
    from xpshacl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    expect = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == expect
    got2 = {r.id: r.cluster_id
            for r in duplicate_clusters(pairs, local_contract=False).collect()}
    assert got2 == expect


def test_incremental_exact_dedup(spark):
    from xpshacl_spark.operators.dedup import (
        fingerprint_index,
        incremental_exact_dedup,
    )

    run1 = spark.createDataFrame(
        [(0, "hello world"), (1, "other text")], "doc_id long, text string"
    )
    idx = fingerprint_index(run1, "doc_id", "text")
    run2 = spark.createDataFrame(
        [
            (10, "Hello,   WORLD!"),   # dup of indexed doc 0 (normalized)
            (11, "fresh content"),
            (12, "fresh content"),     # in-batch dup of 11
            (13, "something else"),
        ],
        "doc_id long, text string",
    )
    kept, delta = incremental_exact_dedup(run2, "doc_id", "text", idx)
    assert {r.doc_id for r in kept.collect()} == {11, 13}
    assert delta.count() == 2
    # next run: union index + delta drops all of run2's content
    idx2 = idx.unionByName(delta)
    kept3, _ = incremental_exact_dedup(run2, "doc_id", "text", idx2)
    assert kept3.count() == 0
    # no index: pure in-batch dedup
    kept0, _ = incremental_exact_dedup(run2, "doc_id", "text")
    assert {r.doc_id for r in kept0.collect()} == {10, 11, 13}


def test_incremental_dedup_null_text_passthrough(spark):
    """NULL text = UNKNOWN content: such rows are never collapsed and
    never enter the index delta."""
    from xpshacl_spark.operators.dedup import (
        fingerprint_index,
        incremental_exact_dedup,
    )

    idx = fingerprint_index(
        spark.createDataFrame([(0, "known")], "doc_id long, text string"),
        "doc_id", "text",
    )
    batch = spark.createDataFrame(
        [(1, None), (2, None), (3, "known"), (4, "fresh")],
        "doc_id long, text string",
    )
    kept, delta = incremental_exact_dedup(batch, "doc_id", "text", idx)
    assert {r.doc_id for r in kept.collect()} == {1, 2, 4}  # both NULLs kept
    assert {r.keep_id for r in delta.collect()} == {4}      # no NULL keys


def test_simhash_63_bit_extended_family(spark, docs):
    """bits > 32 uses the second seeded hash for the upper bits:
    identical docs still collide exactly; values fit a signed long; the
    lower 32 bits agree with the 32-bit fingerprint."""
    from xpshacl_spark.operators.dedup import simhash, simhash_pairs

    h63 = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text", 63).collect()}
    h32 = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text", 32).collect()}
    assert h63[0] == h63[1]  # dups collide at any width
    assert all(0 <= v < 2**63 for v in h63.values())
    # bit j of the 63-bit hash is digit j of the SAME stream, so the
    # LOW 32 bits (j < 32) equal the 32-bit fingerprint
    assert all((h63[k] & 0xFFFFFFFF) == h32[k] for k in h32)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_pairs(docs, "doc_id", "text", bits=63, max_hamming=3).collect()}
    assert pairs.get((0, 1)) == 0


def test_simhash_null_text_and_duplicate_ids(spark):
    """Per-ROW fingerprint contract: NULL-text rows get simhash 0 (the
    oracle's value — not silently dropped), and rows sharing an id stay
    separate fingerprints instead of blending word majorities."""
    from xpshacl_spark.operators.dedup import simhash, simhash_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, None), (7, "alpha beta"), (7, "gamma delta zz")],
        "doc_id long, text string",
    )
    rows = simhash(df, "doc_id", "text", 16).collect()
    assert len(rows) == 5  # one per input ROW
    by_id = {}
    for r in rows:
        by_id.setdefault(r.doc_id, []).append(r.simhash)
    assert by_id[2] == [0] and by_id[3] == [0]  # NULL text -> 0, kept
    assert len(by_id[7]) == 2 and by_id[7][0] != by_id[7][1]
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_pairs(df, "doc_id", "text", bits=16, max_hamming=0).collect()}
    assert pairs.get((2, 3)) == 0  # the two NULL docs pair at hamming 0


def test_exact_dup_spans_islands_and_within_doc(spark):
    """Hand-built corpus: docs 1 and 2 share words 1..9 (two
    overlapping dup 8-grams at pos 1,2 -> ONE maximal span 1..9);
    doc 3 repeats its own 8-gram twice (within-doc duplication counts);
    doc 4 is unique -> no span."""
    from xpshacl_spark.operators.dedup import exact_dup_spans, strip_dup_spans

    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [
        (1, shared + " xa xb xc"),
        (2, shared + " ya yb yc"),
        (3, "r1 r2 r3 r4 r5 r6 r7 r8 zz r1 r2 r3 r4 r5 r6 r7 r8"),
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r.doc_id, r.start_word, r.end_word, r.len_words)
        for r in exact_dup_spans(df, "doc_id", "text", n=8).collect()
    }
    assert spans == {
        (1, 1, 9, 9),
        (2, 1, 9, 9),
        (3, 1, 8, 8),
        (3, 10, 17, 8),
    }

    clean = {
        r.doc_id: r.clean_text
        for r in strip_dup_spans(df, "doc_id", "text", n=8).collect()
    }
    assert clean == {
        1: "xa xb xc",
        2: "ya yb yc",
        3: "zz",
        4: "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10",
    }


def test_strip_dup_spans_fully_covered_doc_empty(spark):
    """A doc that is entirely duplicated text strips to the EMPTY
    string but stays in the output (one row per input doc)."""
    from xpshacl_spark.operators.dedup import strip_dup_spans

    t = "a1 a2 a3 a4 a5 a6 a7 a8"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "only six words here not eight")],
        "doc_id long, text string",
    )
    clean = {
        r.doc_id: r.clean_text
        for r in strip_dup_spans(df, "doc_id", "text", n=8).collect()
    }
    assert clean == {1: "", 2: "", 3: "only six words here not eight"}


def test_ngram_repetition_stats_hand_computed(spark):
    """doc 1 = 'a b a b a b' (norm chars=11): top 2-gram 'a b' occurs 3x
    covering 9 chars -> 9/11; dup 2-grams: 'a b' 3x(9) + 'b a' 2x(6) =
    15/11 (per-occurrence coverage, may exceed 1). doc 2 has no repeats
    -> dup 0; ties for top 2-gram break lexicographically ('x y').
    doc 3 empty -> one row per n with NULL top and 0.0 fracs."""
    from xpshacl_spark.operators.text import ngram_repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z"), (3, "")],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.n): (r.top_ngram, r.top_char_frac, r.dup_char_frac)
        for r in ngram_repetition_stats(df, ns=(2, 3)).collect()
    }
    assert len(out) == 6  # one row per (doc, n), empty doc included
    assert out[(1, 2)] == ("a b", round(9 / 11, 6), round(15 / 11, 6))
    # 3-grams: 'a b a' 2x (tie, lexicographic winner) + 'b a b' 2x ->
    # dup coverage 2*5 + 2*5 = 20 chars
    assert out[(1, 3)] == ("a b a", round(10 / 11, 6), round(20 / 11, 6))
    assert out[(2, 2)] == ("x y", round(3 / 5, 6), 0.0)
    assert out[(3, 2)] == (None, 0.0, 0.0)
    assert out[(3, 3)] == (None, 0.0, 0.0)


def test_nb_quality_separates_classes(spark):
    """Reference docs share a marker vocabulary; non-reference docs a
    different one. Every reference doc must outscore every
    non-reference doc; a shared-vocab doc lands between; a wordless
    doc scores 0.0 with n_scored_words 0."""
    from xpshacl_spark.operators.text import nb_quality_scores

    rows = [
        (1, "good fine clean prose", True),
        (2, "good clean text here", True),
        (3, "spam junk click now", False),
        (4, "junk spam buy now", False),
        (5, "good spam", False),
        (6, "", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_ref boolean")
    out = {r.doc_id: (r.score, r.n_scored_words)
           for r in nb_quality_scores(df).collect()}
    assert out[6] == (0.0, 0)
    ref_scores = [out[1][0], out[2][0]]
    bad_scores = [out[3][0], out[4][0]]
    assert min(ref_scores) > out[5][0] > max(bad_scores)
    assert out[1][1] == 4 and out[6][1] == 0


def test_nb_quality_single_corpus_scan_no_collect(spark):
    """Train + score must stay ONE lazy plan: no cartesian blowup (the
    only cross join is the broadcast 1-row totals), and the scoring
    join is keyed by word."""
    from xpshacl_spark.operators.text import nb_quality_scores

    df = spark.createDataFrame(
        [(1, "a b", True), (2, "b c", False)],
        "doc_id long, text string, is_ref boolean",
    )
    plan = nb_quality_scores(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # broadcast 1-row totals is the only nested-loop join
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_exact_dup_spans_overlapping_starts_merge(spark):
    """Duplicated gram starts {1, 3} with a UNIQUE interior gram at 2
    (docB shares words 1-8, docC shares words 3-10) must merge into ONE
    maximal span 1-10 — the consecutive-start form emitted overlapping
    rows (1,8) and (3,10), double-counting words 3-8."""
    from xpshacl_spark.operators.dedup import (
        exact_dup_spans,
        exact_dup_spans_with_positions,
    )

    wa = [f"w{i}" for i in range(1, 11)]          # w1..w10
    rows = [
        (1, " ".join(wa)),
        (2, " ".join(wa[0:8]) + " xb1 xb2"),      # shares gram @1
        (3, " ".join(wa[2:10]) + " xc1 xc2"),     # shares gram @3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r.doc_id, r.start_word, r.end_word)
        for r in exact_dup_spans(df, "doc_id", "text", n=8).collect()
    }
    assert (1, 1, 10) in spans
    assert not any(d == 1 and (s, e) != (1, 10) for d, s, e in spans)
    assert (2, 1, 8) in spans and (3, 1, 8) in spans

    spans2, ps = exact_dup_spans_with_positions(df, "doc_id", "text", n=8)
    assert {
        (r.doc_id, r.start_word, r.end_word) for r in spans2.collect()
    } == spans
    assert ps.is_cached
    ps.unpersist()


def test_rebalance_probe_skips_shuffled_and_streaming_inputs(spark):
    """rebalance_if_narrow must return shuffle-downstream and streaming
    inputs UNTOUCHED: post-shuffle parallelism is already
    shuffle.partitions, and probing such a plan with .rdd would execute
    its stages under AQE at plan-construction time."""
    from xpshacl_spark.operators.text import rebalance_if_narrow

    agg = (
        spark.createDataFrame([(1, "a")], "doc_id long, text string")
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    assert rebalance_if_narrow(agg) is agg

    import tempfile

    d = tempfile.mkdtemp(prefix="xp_rebal_stream_")
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(d)
    sdf = spark.readStream.schema("doc_id long, text string").parquet(d)
    assert rebalance_if_narrow(sdf) is sdf


def test_nb_quality_with_words_handle(spark):
    """The _with_words variant persists the word relation, returns the
    handle, and scores identically to the pure form."""
    from xpshacl_spark.operators.text import (
        nb_quality_scores,
        nb_quality_scores_with_words,
    )

    df = spark.createDataFrame(
        [(1, "good fine", True), (2, "spam junk", False), (3, "good spam", False)],
        "doc_id long, text string, is_ref boolean",
    )
    pure = {r.doc_id: (r.score, r.n_scored_words)
            for r in nb_quality_scores(df).collect()}
    scored, words = nb_quality_scores_with_words(df)
    cached = {r.doc_id: (r.score, r.n_scored_words) for r in scored.collect()}
    assert cached == pure
    assert words.is_cached
    words.unpersist()


def test_conversation_null_role_keeps_turn(spark):
    """A NULL-role turn must still appear in the transcript (empty role
    renders as ': text'), so conversations differing only by that turn
    are NOT collapsed into duplicates."""
    from xpshacl_spark.operators.conversations import assemble_conversations

    rows = [
        ("a", 1, "u", "x"), ("a", 2, None, "secret"),
        ("b", 1, "u", "x"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {r.conv_id: r for r in assemble_conversations(
        df, ["conv_id"], ["turn_idx"], "role", "text").collect()}
    assert out["a"].transcript == "u: x\n: secret"
    assert out["a"].transcript_md5 != out["b"].transcript_md5


def test_incremental_dedup_null_rows_bypass_window(spark):
    """NULL-content rows must not enter the min-window's shuffle (a
    many-NULL batch would hotspot one reducer): they route around it
    and are ALL kept."""
    from xpshacl_spark.operators.dedup import incremental_exact_dedup

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    kept, delta = incremental_exact_dedup(df, "doc_id", "text")
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4}
    assert {r.keep_id for r in delta.collect()} == {1}
    plan = kept._jdf.queryExecution().executedPlan().toString()
    # the window branch filters NULL keys BEFORE its exchange
    assert "Union" in plan


def test_semantic_dedup_keeps_min_id_per_neighborhood(spark):
    """Identical vectors share a cell by construction (same centroid
    scores); only the min id survives. A vector with no near neighbor
    keeps regardless of cell."""
    from xpshacl_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),       # exact dup of 1
        (3, [0.999, 0.01, 0.0, 0.0]),    # near-dup of 1/2
        (4, [0.0, 0.0, 0.0, 1.0]),       # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.keep
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.95, n_cells=2, dim=4
        ).collect()
    }
    assert out == {1: True, 2: False, 3: False, 4: True}
    # every input vector is present exactly once
    assert len(out) == 4


def test_semantic_dedup_matches_duckdb_oracle(spark):
    """Mirror-only proof (zero-slack r05 gate: no new driver entries):
    full (vec_id, cell, keep) relation vs DuckDB replicating the hash
    centroids, first-occurrence argmax cell, in-cell pairwise cosine
    (rounded to 6), and the smaller-id-neighbor loser rule."""
    import math

    import duckdb

    from xpshacl_spark.operators.dedup import semantic_dedup
    from xpshacl_spark.operators.similarity import ivf_centroids

    sf_dir = os.environ.get("XPSHACL_TEST_SF_DIR", "/root/testdata/sf0.001")
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # plant exact duplicates (max natural pairwise cos here is ~0.48):
    # copies share the cell by construction and must lose to the original
    from pyspark.sql import functions as F  # noqa: N812

    emb = base.unionByName(
        base.where(F.col("vec_id") < 40).withColumn(
            "vec_id", F.col("vec_id") + 10000
        )
    )
    got = sorted(
        (r.vec_id, r.cell, r.keep)
        for r in semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.8, n_cells=4, dim=64
        ).collect()
    )
    losers = {v for v, _, k in got if not k}
    assert losers == {10000 + i for i in range(40)}  # every copy loses

    scores = []
    for cent in ivf_centroids(4, 64):
        lit = "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"
        norm = math.sqrt(math.fsum(x * x for x in cent))
        scores.append(f"list_inner_product(v, {lit}) / {norm!r}")
    sql = (
        "WITH raw AS (SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')), "
        "e0 AS (SELECT vec_id, embedding FROM raw UNION ALL "
        "SELECT vec_id + 10000, embedding FROM raw WHERE vec_id < 40), "
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM e0), "
        f"s AS (SELECT vec_id, v, list_value({', '.join(scores)}) AS sl FROM e), "
        "a AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS n, "
        "CAST(list_position(sl, list_max(sl)) AS INT) AS cell FROM s), "
        "p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b FROM a x JOIN a y "
        "ON x.cell = y.cell AND x.vec_id < y.vec_id "
        "WHERE round(list_inner_product(x.v, y.v) / (x.n * y.n), 6) >= 0.8), "
        "l AS (SELECT DISTINCT id_b FROM p) "
        "SELECT vec_id, cell, (id_b IS NULL) AS keep "
        "FROM a LEFT JOIN l ON a.vec_id = l.id_b ORDER BY vec_id"
    )
    want = [(r[0], r[1], r[2]) for r in duckdb.sql(sql).fetchall()]
    assert got == want


def test_semantic_dedup_zero_norm_vector_survives(spark):
    """All-zero embeddings (empty docs) must neither crash the job
    (ANSI DIVIDE_BY_ZERO) nor NaN-poison the threshold (ANSI off:
    0/0 = NaN and Spark orders NaN above every number, which would
    mark every same-cell partner as a dup). NULL cos pairs with
    nothing: the zero vector keeps, and real dups still lose."""
    from xpshacl_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),   # zero norm
        (3, [1.0, 0.0, 0.0, 0.0]),   # dup of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.keep
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.9, n_cells=2, dim=4
        ).collect()
    }
    assert out == {1: True, 2: True, 3: False}


def test_incremental_minhash_dedup_cross_run_and_batch(spark):
    """The LSH analog of incremental exact dedup: batch docs near-dup
    of the persisted index lose; in-batch bucket-mates keep only the
    min id; docs too short to shingle (no signature) always pass and
    never enter the index; the returned delta covers exactly the kept
    banded docs."""
    from xpshacl_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_bands,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "entirely different reference text about spark engines"),
        ],
        "doc_id long, text string",
    )
    index = lsh_bands(minhash_signatures(corpus, "doc_id", "text"), 8, 4)

    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # hits index
            (12, "fresh unseen content words alpha beta gamma"),
            (13, "fresh unseen content words alpha beta gamma"),  # dup of 12
            (14, "another novel document nothing shares these shingles"),
            (15, "tiny"),                                         # < n words
            (16, None),                                           # NULL text
        ],
        "doc_id long, text string",
    )
    kept, delta = incremental_minhash_dedup(
        batch, "doc_id", "text", band_index=index
    )
    assert sorted(r.doc_id for r in kept.collect()) == [12, 14, 15, 16]
    delta_rows = delta.collect()
    assert {r.doc_id for r in delta_rows} == {12, 14}  # unbanded 15/16 never indexed
    assert all(r.params == "n=3,num_hashes=8,bands=4" for r in delta_rows)

    # second run against index + delta (legacy index rows lack the
    # params stamp — allowMissingColumns is the documented append):
    # re-sending a kept doc now loses
    batch2 = spark.createDataFrame(
        [(20, "fresh unseen content words alpha beta gamma")],
        "doc_id long, text string",
    )
    grown = index.unionByName(delta, allowMissingColumns=True)
    kept2, _ = incremental_minhash_dedup(
        batch2, "doc_id", "text", band_index=grown
    )
    assert kept2.count() == 0

    # a stamped index probed with different LSH parameters can never
    # match a band key — that must be a loud error, not silent pass-through
    with pytest.raises(ValueError, match="incompatible with this call"):
        incremental_minhash_dedup(
            batch2, "doc_id", "text", band_index=grown, num_hashes=16, bands=8
        )

    # no index (bootstrap run): pure in-batch near-dedup
    kept0, delta0 = incremental_minhash_dedup(batch, "doc_id", "text")
    assert sorted(r.doc_id for r in kept0.collect()) == [10, 12, 14, 15, 16]
    assert {r.doc_id for r in delta0.collect()} == {10, 12, 14}


def test_dedup_lines_in_doc_signals_and_rewrite(spark):
    """Intra-doc line dedup keeps first occurrences in order; the
    duplicate-line fraction matches; NULL text propagates."""
    from xpshacl_spark.operators.dedup import dedup_lines_in_doc

    df = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha\ngamma\nbeta"),
            (2, "solo line"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines_in_doc(df, "text").collect()}
    assert out[1].dedup_text == "alpha\nbeta\ngamma"
    assert out[1].n_lines == 5 and out[1].dup_line_fraction == 0.4
    assert out[2].dedup_text == "solo line" and out[2].dup_line_fraction == 0.0
    # empty text splits to one empty line: nothing to drop
    assert out[3].dedup_text == "" and out[3].n_lines == 1
    assert out[4].dedup_text is None and out[4].dup_line_fraction is None


def test_dedup_paragraphs_first_occurrence_wins(spark):
    """Corpus-wide paragraph dedup: min (doc_id, pos) occurrence
    survives, repeats elsewhere (and later in the SAME doc) are
    stripped; blank paragraphs are kept as structure and never counted;
    NULL text and fully-stripped docs follow the documented shape."""
    from xpshacl_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [
            (1, "cookie banner\n\nunique alpha\n\ncookie banner"),
            (2, "cookie banner\n\nunique beta"),
            (3, "\n\nunique alpha"),  # leading blank para; alpha loses to doc 1
            (4, None),
            (5, "cookie banner"),  # every content para stripped
            (6, "\t\n \n\nunique gamma"),  # tab/newline-only para = structure
            (None, "cookie banner\n\nunique alpha"),  # NULL id: pass-through
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(df, "doc_id", "text").collect()}
    assert out[1].dedup_text == "cookie banner\n\nunique alpha"
    assert (out[1].n_paras, out[1].n_kept_paras) == (3, 2)
    assert out[2].dedup_text == "unique beta"
    assert (out[2].n_paras, out[2].n_kept_paras) == (2, 1)
    # the leading blank para (pos 0) survives as structure; alpha is
    # stripped, leaving just the one-element blank skeleton
    assert out[3].dedup_text == "" and out[3].n_paras == 1
    assert out[3].n_kept_paras == 0
    assert out[4].dedup_text is None and out[4].n_paras == 0
    assert out[5].dedup_text == "" and (out[5].n_paras, out[5].n_kept_paras) == (1, 0)
    # tab/newline-only paragraph is structure (rlike \S, not ASCII trim):
    # kept verbatim, never counted, never collapsed corpus-wide
    assert out[6].dedup_text == "\t\n \n\nunique gamma"
    assert (out[6].n_paras, out[6].n_kept_paras) == (1, 1)
    # NULL-id row passes through untouched and does NOT compete: doc 1
    # still owns "cookie banner" above
    assert out[None].dedup_text == "cookie banner\n\nunique alpha"
    assert (out[None].n_paras, out[None].n_kept_paras) == (2, 2)


def test_gopher_quality_flags_rules(spark):
    """Each Gopher rule fires on its designed violator; a long natural
    paragraph passes; NULL text yields NULL signals and NULL pass."""
    from xpshacl_spark.operators.text import gopher_quality_flags

    good = (
        "the quick brown fox likes to jump over all of the lazy dogs and "
        "that same fox will have done it again with style tomorrow morning "
    ) * 3  # > 50 words, natural English
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "too short to pass"),
            (3, "#### " * 10 + good),  # symbol soup bolted onto good text
            (4, "- one\n- two\n- three"),  # all bullet lines
            (5, "1 2 3 4 5 " * 20),  # numeric: no alphabetic words
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality_flags(df, "text").collect()}
    assert out[1].gopher_pass is True
    assert out[1].n_required_words >= 2 and out[1].frac_alpha_words == 1.0
    assert out[2].gopher_pass is False  # word-count floor
    assert out[3].hash_word_ratio > 0.1 and out[3].gopher_pass is False
    assert out[4].frac_bullet_lines == 1.0 and out[4].gopher_pass is False
    assert out[5].frac_alpha_words == 0.0 and out[5].gopher_pass is False
    assert out[6].n_words is None and out[6].gopher_pass is None


def test_c4_clean_rules(spark):
    """Each C4 rule fires on its designed violator: the line filter
    rewrites c4_text (terminal punct, >=3 words, no 'javascript'), the
    page gate needs >=5 sentences in the RETAINED text and rejects
    lorem ipsum / curly braces / badwords; NULL text stays NULL."""
    from xpshacl_spark.operators.text import c4_clean

    line = "The quick brown fox jumps over the lazy dog."
    ok = "\n".join([line, line, line, "Sentence four is here. And five!"])
    df = spark.createDataFrame(
        [
            (1, ok),
            # kept line count 1 -> sentence floor fails; also exercises
            # the word-count and punctuation line rules
            (2, "short.\nno terminal punct here\nToo few sentences overall."),
            (3, ok + "\nAnd Lorem Ipsum dolor sit amet."),
            (4, ok.replace("dog.", "dog {.")),
            (5, ok + "\nPlease enable JavaScript to view this page."),
            (6, 'She said "It works.”\n' + ok),
            (7, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in c4_clean(df, "text").collect()}
    assert out[1].c4_pass is True and out[1].n_sentences == 5
    assert out[1].c4_text == ok and out[1].n_kept_lines == 4
    assert out[2].n_kept_lines == 1 and out[2].c4_pass is False
    assert out[3].has_lorem_ipsum is True and out[3].c4_pass is False
    assert out[4].has_curly_brace is True and out[4].c4_pass is False
    # javascript is a LINE rule: the page still passes, rewritten
    assert out[5].c4_pass is True and "JavaScript" not in out[5].c4_text
    # closing-quote terminal punctuation keeps the line
    assert out[6].n_kept_lines == 5 and out[6].c4_pass is True
    assert out[7].c4_text is None and out[7].c4_pass is None

    # badwords is a page gate with \b word boundaries, case-insensitive
    gated = {
        r.doc_id: r
        for r in c4_clean(df, "text", badwords=("fox",)).collect()
    }
    assert gated[1].has_badword is True and gated[1].c4_pass is False
    assert gated[7].has_badword is None
    sub = {
        r.doc_id: r
        for r in c4_clean(df, "text", badwords=("foxtrot",)).collect()
    }
    assert sub[1].has_badword is False and sub[1].c4_pass is True


def test_normalize_url_and_url_dedup(spark):
    """normalize_url canonicalizes the CCNet/RefinedWeb equivalences
    (case, www., default ports, fragments, tracking params, trailing
    slashes) while preserving path case and real params; dedup_by_url
    keeps the min-id row per equivalent group and passes NULL urls
    through untouched."""
    from xpshacl_spark.operators.dedup import dedup_by_url, url_duplicates
    from xpshacl_spark.operators.text import normalize_url

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/Docs/?utm_source=x&b=2#frag"),
        (2, "https://example.com/Docs?b=2"),
        (3, "https://example.com/docs?b=2"),  # path case differs: distinct
        (4, "http://example.com:80/a//"),
        (5, "http://example.com/a"),
        (6, "not a url"),
        (7, None),
        (8, None),  # two NULLs must BOTH survive
        (9, "https://example.com/?gclid=1&fbclid=2"),  # all params stripped
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    norm = {
        r.doc_id: r.n
        for r in df.select("doc_id", normalize_url("url").alias("n")).collect()
    }
    assert norm[1] == "https://example.com/Docs?b=2" == norm[2]
    assert norm[3] == "https://example.com/docs?b=2" != norm[2]
    assert norm[4] == "http://example.com/a" == norm[5]
    assert norm[6] == "not a url"
    assert norm[7] is None
    assert norm[9] == "https://example.com"

    dups = {r.keep_id: r.n_dups for r in url_duplicates(df, "doc_id", "url").collect()}
    assert dups == {1: 2, 4: 2}
    kept = {r.doc_id for r in dedup_by_url(df, "doc_id", "url").collect()}
    assert kept == {1, 3, 4, 6, 7, 8, 9}


def test_bigram_logprob_self_trained(spark):
    """Self-trained Stupid Backoff against hand arithmetic: every
    bigram of the corpus is seen, so every position takes the
    n12/n1 branch."""
    import math

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id int, text string"
    )
    got = {r.doc_id: (r.n_bigrams, r.logprob) for r in
           tx.bigram_logprob(df).collect()}
    # unigrams: the=2 cat=2 sat=1 ran=1; bigrams: (the,cat)=2 (cat,sat)=1 (cat,ran)=1
    lp1 = (math.log(2 / 2) + math.log(1 / 2)) / 2
    assert got[1] == (2, round(lp1, 6))
    assert got[2] == (2, round(lp1, 6))


def test_bigram_logprob_backoff_and_oov(spark):
    """Foreign model: an unseen bigram of two seen words backs off to
    alpha * wn(w2)/N; an OOV second word scores alpha * oov_count/N."""
    import math

    train = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id int, text string"
    )
    model = tx.bigram_model(train)
    doc = spark.createDataFrame(
        [(9, "sat the zzz")], "doc_id int, text string"
    )
    got = tx.bigram_logprob(doc, model=model, alpha=0.4, oov_count=0.5).collect()[0]
    n = 6  # total train word occurrences
    lp = (math.log(0.4 * 2 / n)      # (sat,the) unseen -> backoff wn(the)=2
          + math.log(0.4 * 0.5 / n)  # (the,zzz): zzz OOV
          ) / 2
    assert got.n_bigrams == 2 and got.logprob == round(lp, 6)


def test_bigram_logprob_keeps_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "two words"), (2, "one"), (3, "...")], "doc_id int, text string"
    )
    got = {r.doc_id: (r.n_bigrams, r.logprob) for r in
           tx.bigram_logprob(df).collect()}
    assert got[2] == (0, None)
    assert got[3] == (0, None)
    assert got[1][0] == 1


def test_perplexity_buckets_terciles(spark):
    """9 known scores split into exact terciles; NULL score gets a NULL
    bucket; 3-bucket mode carries the CCNet tail/middle/head labels."""
    rows = [(i, float(i)) for i in range(1, 10)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id int, logprob double")
    got = {r.doc_id: (r.bucket, r.ppl_bucket)
           for r in tx.perplexity_buckets(df).collect()}
    assert got[99] == (None, None)
    for i in range(1, 10):
        want = 0 if i <= 3 else (1 if i <= 6 else 2)
        label = ["tail", "middle", "head"][want]
        assert got[i] == (want, label), (i, got[i])


def test_perplexity_buckets_plan_has_no_global_sort(spark):
    """The bucketing must be sketch+broadcast, never a range-shuffle
    rank: executed plan carries no Window and no range partitioning."""
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37).cast("double").alias("logprob")
    )
    out = tx.perplexity_buckets(df, buckets=4)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bloom_params_math():
    from xpshacl_spark.operators.dedup import bloom_params

    m, k = bloom_params(1000, 0.01)
    # textbook optimum: ~9.585 bits/key, k ~ 7
    assert 9500 <= m <= 9700 and m % 8 == 0
    assert k == 7
    with pytest.raises(ValueError):
        bloom_params(0)
    with pytest.raises(ValueError):
        bloom_params(10, 1.5)


def test_bloom_build_probe_no_false_negatives_and_modes_agree(spark):
    """Keys that went in ALWAYS hit (the dedup-safety property), a
    disjoint probe set stays near the designed fp rate, and the
    broadcast and join strategies return identical flags."""
    from xpshacl_spark.operators.dedup import (
        bloom_build,
        bloom_params,
        bloom_probe,
    )

    n = 500
    m, k = bloom_params(n, 0.01)
    ref = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(n)], "key string"
    )
    bloom = bloom_build(ref, "key", m, k)
    probe = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(n)]          # members
        + [(f"other-{i}",) for i in range(n)]       # disjoint
        + [(None,)],                                # NULL key
        "key string",
    )
    got_b = {r.key: r.bloom_hit
             for r in bloom_probe(probe, "key", bloom, m, k).collect()}
    got_j = {r.key: r.bloom_hit
             for r in bloom_probe(probe, "key", bloom, m, k,
                                  mode="join").collect()}
    assert got_b == got_j
    assert all(got_b[f"doc-{i}"] for i in range(n))          # no false negatives
    fp = sum(bool(got_b[f"other-{i}"]) for i in range(n)) / n
    assert fp <= 0.05, fp                                     # designed 1%
    assert got_b[None] is None


def test_bloom_small_filter_single_shard_and_empty_build(spark):
    """num_bits below one shard still round-trips, and an empty build
    yields a valid all-miss bloom (missing shards read as zero)."""
    from xpshacl_spark.operators.dedup import bloom_build, bloom_probe

    ref = spark.createDataFrame([("a",), ("b",)], "key string")
    bloom = bloom_build(ref, "key", 1024, 3)
    assert bloom.count() == 1  # one shard only
    probe = spark.createDataFrame([("a",), ("b",), ("zzz",)], "key string")
    got = {r.key: r.bloom_hit
           for r in bloom_probe(probe, "key", bloom, 1024, 3).collect()}
    assert got["a"] and got["b"]

    empty = bloom_build(ref.where("key is null"), "key", 1024, 3)
    miss = {r.key: r.bloom_hit
            for r in bloom_probe(probe, "key", empty, 1024, 3,
                                 mode="join").collect()}
    assert miss == {"a": False, "b": False, "zzz": False}


def test_bloom_probe_broadcast_plan_is_scan_shaped(spark):
    """The broadcast probe must not shuffle the corpus: no Exchange on
    the probe side beyond the bloom assembly's own collect."""
    from xpshacl_spark.operators.dedup import bloom_build, bloom_probe

    ref = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    bloom = bloom_build(ref, "key", 4096, 3)
    probe = spark.range(200).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    out = bloom_probe(probe, "key", bloom, 4096, 3)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_bloom_merge_equals_joint_build(spark):
    """Merging two batch blooms must flag exactly what one bloom built
    over the union flags — the cross-run ingestion invariant."""
    from xpshacl_spark.operators.dedup import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )

    m, k = 4096, 3
    a = spark.createDataFrame([(f"a{i}",) for i in range(100)], "key string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(100)], "key string")
    merged = bloom_merge(bloom_build(a, "key", m, k),
                         bloom_build(b, "key", m, k))
    joint = bloom_build(a.unionByName(b), "key", m, k)
    probe = spark.createDataFrame(
        [(f"a{i}",) for i in range(100)]
        + [(f"b{i}",) for i in range(100)]
        + [(f"c{i}",) for i in range(100)],
        "key string",
    )
    got_m = {r.key: r.bloom_hit
             for r in bloom_probe(probe, "key", merged, m, k).collect()}
    got_j = {r.key: r.bloom_hit
             for r in bloom_probe(probe, "key", joint, m, k).collect()}
    assert got_m == got_j
    assert all(got_m[f"a{i}"] and got_m[f"b{i}"] for i in range(100))


def test_bloom_decontaminate_superset_of_exact(spark):
    """Every document contamination_pairs finds MUST be flagged by the
    bloom path (no false negatives), clean docs with disjoint text stay
    clean at the designed fp rate, and an empty eval set clears all."""
    from xpshacl_spark.operators.dedup import (
        bloom_decontaminate,
        contamination_pairs,
    )

    leak = "the quick brown fox jumps over the lazy dog at midnight tonight again"
    train = spark.createDataFrame(
        [
            (1, leak + " plus some extra trailing training words here"),
            (2, "totally unrelated content about distributed query engines "
                "and columnar storage formats running on big clusters"),
            (3, "short doc"),
        ],
        "doc_id int, text string",
    )
    ev = spark.createDataFrame([(100, leak)], "doc_id int, text string")
    got = {r.doc_id: r for r in
           bloom_decontaminate(train, ev, "doc_id", "text", n=13).collect()}
    exact = {r.train_id for r in
             contamination_pairs(train, ev, "doc_id", "text", n=13).collect()}
    assert exact == {1}
    assert got[1].contaminated and got[1].n_hits >= 1
    assert not got[2].contaminated
    assert got[3] and got[3].n_shingles == 0 and not got[3].contaminated

    empty_ev = ev.where("doc_id < 0")
    clean = bloom_decontaminate(train, empty_ev, "doc_id", "text").collect()
    assert all(not r.contaminated for r in clean) and len(clean) == 3


def test_corpus_prep_v4_bloom_and_lm_stage_composition(spark):
    """Integration of the newest r05 stages as a pipeline tail: bloom
    decontamination against a benchmark set -> bigram-LM scoring ->
    perplexity bucketing -> keep clean non-tail docs. Cross-stage
    invariants only; each operator carries its own oracle."""
    from xpshacl_spark.operators.dedup import bloom_decontaminate
    from xpshacl_spark.operators.text import bigram_logprob, perplexity_buckets

    bench = ("what is the capital of france and when was it founded "
             "exactly by which ruler in which century")
    fluent = (
        "the model reads long documents and it writes short answers about "
        "them because the training data was filtered for quality first"
    )
    rows = [(1, bench + " some extra words to make this one long enough"),
            (2, fluent),
            (3, fluent + " with a small tail difference at the end"),
            (4, "zz qq xx vv kk jj ww yy bb nn mm pp zz qq xx vv kk jj")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(100, bench)], "doc_id long, text string")

    deco = bloom_decontaminate(docs, ev, "doc_id", "text", n=13)
    clean_ids = {r.doc_id for r in deco.where("not contaminated").collect()}
    assert 1 not in clean_ids and {2, 3, 4} <= clean_ids

    clean = docs.join(
        deco.where("not contaminated").select("doc_id"), "doc_id"
    )
    # production shape: the LM is trained on a clean REFERENCE corpus
    # (self-training would reward the gibberish doc's repeated bigrams)
    ref = spark.createDataFrame(
        [(0, fluent), (1, "the training data was filtered and the answers "
                          "about the documents because it reads them")],
        "doc_id long, text string",
    )
    scored = bigram_logprob(
        clean, "doc_id", "text", model=tx.bigram_model(ref)
    )
    buckets = perplexity_buckets(scored)
    by_id = {r.doc_id: r for r in buckets.collect()}
    # the gibberish doc must not outrank the fluent ones
    assert by_id[4].logprob <= max(by_id[2].logprob, by_id[3].logprob)
    kept = {r.doc_id for r in buckets.where("bucket >= 1").collect()}
    assert kept <= clean_ids and 4 not in kept or by_id[4].bucket >= 1
    # every clean doc got a bucket (no row lost across the stages)
    assert set(by_id) == clean_ids


def test_dedup_keep_best_quality_survivor(spark):
    """dedup_keep_best picks the highest-scoring member per cluster
    (min-id tie-break), unscored members lose to scored siblings, a
    wholly unscored cluster still yields its min id, and string ids
    survive the struct tie-break."""
    from xpshacl_spark.operators.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        [("c1", "a"), ("c1", "b"), ("c1", "z"),
         ("c2", "m"), ("c2", "n"),
         ("c3", "x"), ("c3", "y")],
        "cluster_id string, id string",
    )
    scores = spark.createDataFrame(
        [("a", 0.2), ("b", 0.9),            # z unscored
         ("m", 0.5), ("n", 0.5)],           # tie -> min id
        "id string, score double",
    )
    got = {r.cluster_id: (r.keep_id, r.keep_score, r.n_members)
           for r in dedup_keep_best(clusters, scores).collect()}
    assert got["c1"] == ("b", 0.9, 3)
    assert got["c2"] == ("m", 0.5, 2)
    assert got["c3"] == ("x", None, 2)  # unscored cluster: min id, NULL score


def test_unicode_normalize_multilingual_keys(spark):
    """NFKC folds full-width/ligature/compat forms, casefold handles
    ß/İ, whitespace collapses, NULL passes through — and the CJK text
    that normalize_text would delete survives as a dedup key."""
    from xpshacl_spark.operators.text import unicode_normalize

    rows = [
        (1, "Ｈｅｌｌｏ　WORLD"),  # full-width + ideographic space
        (2, "ﬁle  straße"),                      # fi ligature + eszett
        (3, "你好世界"),                   # CJK
        (4, None),
        (5, "  plain   text  "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r.n for r in
           df.select("doc_id", unicode_normalize("text").alias("n")).collect()}
    assert got[1] == "hello world"
    assert got[2] == "file strasse"
    assert got[3] == "你好世界"  # survives, unlike the regex canon
    assert got[4] is None
    assert got[5] == "plain text"
    with pytest.raises(ValueError):
        unicode_normalize("text", form="NFX")

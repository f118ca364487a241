"""BPE tokenizer training (Sennrich et al. 2016), application and
merge-candidate counting.

Oracle: a row-at-a-time pure-Python trainer over explicit word counts
(no Spark), plus the paper's worked corpus; apply_bpe is pinned by the
reconstruction property and the trained-word-collapses-to-one-token
property.
"""

from pyspark.sql import functions as F

from xpshacl_spark.operators.text import (
    apply_bpe,
    bpe_merge_candidates,
    bpe_word_counts,
    train_bpe,
)


def py_train_bpe(word_counts, n_merges, min_pair_count=2):
    """Independent textbook trainer over {word: count}."""
    vocab = {tuple(w) + ("</w>",): n for w, n in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pc = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = (
                    pc.get((syms[i], syms[i + 1]), 0) + n
                )
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b), _ = best
        nv = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + n
        vocab = nv
        merges.append((a, b))
    return merges


SENNRICH = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def corpus_df(spark, word_counts):
    rows = []
    i = 0
    for w, n in word_counts.items():
        for _ in range(n):
            rows.append((i, w))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_train_bpe_sennrich_corpus(spark):
    df = corpus_df(spark, SENNRICH)
    got = train_bpe(df, n_merges=10)
    want = py_train_bpe(SENNRICH, 10)
    assert got == want
    # the famous first merges: es (9), then est (9), then est</w> (9)
    assert got[:3] == [("e", "s"), ("es", "t"), ("est", "</w>")]


def test_train_bpe_matches_oracle_on_mixed_corpus(spark):
    wc = {"spark": 7, "sparse": 3, "parse": 5, "park": 2, "a": 9,
          "banana": 4, "bandana": 1}
    df = corpus_df(spark, wc)
    assert train_bpe(df, n_merges=25) == py_train_bpe(wc, 25)
    # min_pair_count stops early identically
    assert train_bpe(df, n_merges=50, min_pair_count=5) == py_train_bpe(
        wc, 50, min_pair_count=5
    )


def test_bpe_word_counts_plan_and_cap(spark):
    df = corpus_df(spark, SENNRICH)
    plan = (
        bpe_word_counts(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    got = {r["word"]: r["n"] for r in bpe_word_counts(df).collect()}
    assert got == SENNRICH
    # deterministic cap: top-2 by (count desc, word asc)
    capped = [r["word"] for r in bpe_word_counts(df, max_words=2).collect()]
    assert capped == ["newest", "low"]


def test_apply_bpe_reconstruction_and_collapse(spark):
    df = corpus_df(spark, SENNRICH)
    merges = train_bpe(df, n_merges=200, min_pair_count=1)
    toks = {
        r["text"]: r["bpe_tokens"]
        for r in apply_bpe(
            df.dropDuplicates(["text"]), merges
        ).collect()
    }
    for w in SENNRICH:
        # fully trained: every training word collapses to ONE token
        assert toks[w] == [w + "</w>"], w
    # few merges: reconstruction property — concatenating the tokens
    # (marker stripped) recovers the normalized word
    few = train_bpe(df, n_merges=3)
    toks3 = {
        r["text"]: r["bpe_tokens"]
        for r in apply_bpe(df.dropDuplicates(["text"]), few).collect()
    }
    for w in SENNRICH:
        assert "".join(toks3[w]).replace("</w>", "") == w
    # unseen word still tokenizes (down to chars where no merge fits)
    extra = spark.createDataFrame([(0, "Lowest NEWER!")], "i long, text string")
    out = apply_bpe(extra, few).collect()[0]["bpe_tokens"]
    assert "".join(out).replace("</w>", "") == "lowestnewer"
    assert out.count("</w>") + sum(1 for t in out if t.endswith("</w>")) >= 2


def test_apply_bpe_null_and_empty(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "  ")], "i long, text string"
    )
    rows = {r["i"]: r["bpe_tokens"] for r in apply_bpe(df, [("a", "b")]).collect()}
    assert rows[0] is None
    assert rows[1] == [] and rows[2] == []


def test_bpe_merge_candidates_exact(spark):
    df = spark.createDataFrame(
        [("abab ab",), ("Ab! cd",), ("x",)], "text string"
    )
    # normalized tokens: [abab, ab], [ab, cd], [x -> dropped (len 1)]
    # pairs: abab -> ab, ba, ab; ab -> ab; ab -> ab; cd -> cd
    out = [(r.pair, r.n_pairs) for r in bpe_merge_candidates(df).collect()]
    assert out == [("ab", 4), ("ba", 1), ("cd", 1)]  # ties: pair asc


def test_bpe_merge_candidates_topk_is_distributed(spark):
    df = spark.range(200).select(
        F.concat(F.lit("word"), F.col("id")).alias("text")
    )
    plan = (
        bpe_merge_candidates(df, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan  # no global rank window

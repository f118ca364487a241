"""Property-based tests (hypothesis): the reference has none
(SURVEY.md §5); these pin our operators against brute-force Python
re-implementations on randomized inputs — nulls, empty strings,
boundary values — where example-based tests go stale.

Each property collects one small randomized relation through the real
Spark engine and compares against a row-at-a-time Python oracle.
max_examples is kept small: every example is a Spark job.
"""

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.shapes import (
    InSet,
    MaxLength,
    MinInclusive,
    Pattern,
    Shape,
)

SLOW = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs")),
        max_size=12,
    ),
)
values = st.one_of(st.none(), st.integers(min_value=-50, max_value=50))


@given(
    rows=st.lists(st.tuples(values, texts), min_size=1, max_size=25),
    bound=st.integers(min_value=-10, max_value=10),
    maxlen=st.integers(min_value=0, max_value=8),
)
@SLOW
def test_row_checks_match_python_oracle(spark, rows, bound, maxlen):
    """Violation keys from the compiled fused row scan == a Python
    row-at-a-time evaluation of the same SHACL-style semantics
    (NULL value node -> vacuous pass)."""
    df = spark.createDataFrame(
        [(i, v, t) for i, (v, t) in enumerate(rows)],
        "k int, v long, t string",
    )
    shape = Shape(
        "prop",
        (
            MinInclusive("v", bound),
            MaxLength("t", maxlen),
            Pattern("t", "^[a-z ]*$"),
            InSet("t", ("a", "b")),
        ),
    )
    rep = ValidationEngine(spark).validate(df, [shape], key_cols=["k"])
    got = {
        (r.k, r.constraint_component) for r in rep.violations.collect()
    }
    import re

    expect = set()
    for i, (v, t) in enumerate(rows):
        if v is not None and v < bound:
            expect.add((i, "MinInclusiveConstraintComponent"))
        if t is not None and len(t) > maxlen:
            expect.add((i, "MaxLengthConstraintComponent"))
        if t is not None and not re.match(r"^[a-z ]*$", t):
            expect.add((i, "PatternConstraintComponent"))
        if t is not None and t not in ("a", "b"):
            expect.add((i, "InConstraintComponent"))
    assert got == expect


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=15,
    ).filter(lambda ps: any(a != b for a, b in ps))
)
@SLOW
def test_connected_components_match_union_find(spark, pairs):
    """duplicate_clusters == a driver-side union-find on the same edges."""
    from xpshacl_spark.operators.dedup import duplicate_clusters

    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in duplicate_clusters(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}
    assert got == expect


arrays = st.one_of(
    st.none(),
    st.lists(
        st.one_of(st.none(), st.text(alphabet="abc", max_size=3)), max_size=6
    ),
)


@given(
    rows=st.lists(st.tuples(texts, arrays), min_size=1, max_size=20),
    k=st.integers(min_value=0, max_value=4),
)
@SLOW
def test_extended_row_checks_match_python_oracle(spark, rows, k):
    """Round-2 components against a Python oracle: hasValue presence
    semantics, closed offender detection, array cardinality/uniqueness/
    forall with NULL arrays and NULL elements."""
    from xpshacl_spark.shapes import (
        ArrayAll,
        ArrayMinCount,
        ArrayUnique,
        Closed,
        HasValue,
    )

    df = spark.createDataFrame(
        [(i, t, xs) for i, (t, xs) in enumerate(rows)],
        "k int, t string, xs array<string>",
    )
    shape = Shape(
        "ext",
        (
            HasValue("t", "a"),
            Closed(declared=("k", "xs")),
            ArrayMinCount("xs", k),
            ArrayUnique("xs"),
            ArrayAll("xs", "length(x) <= 1"),
        ),
    )
    rep = ValidationEngine(spark).validate(df, [shape], key_cols=["k"])
    got = {(r.k, r.constraint_component) for r in rep.violations.collect()}

    expect = set()
    for i, (t, xs) in enumerate(rows):
        if t != "a":  # hasValue: NULL (absence) also violates
            expect.add((i, "HasValueConstraintComponent"))
        if t is not None:  # closed: non-null undeclared column t
            expect.add((i, "ClosedConstraintComponent"))
        n = 0 if xs is None else len(xs)
        if n < k:
            expect.add((i, "MinCountConstraintComponent"))
        if xs is not None and len(set(map(repr, xs))) != len(xs):
            expect.add((i, "UniquenessConstraintComponent"))
        if xs is not None and any(
            e is None or len(e) > 1 for e in xs
        ):
            expect.add((i, "ExprConstraintComponent"))
    assert got == expect


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                # printable + the escapes the writer handles
            ),
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=4,
    ),
    langs=st.lists(st.sampled_from(["en", "de", "fr", "pt"]), min_size=1, max_size=3, unique=True),
)
@settings(max_examples=40, deadline=None)
def test_kg_ttl_roundtrip_arbitrary_text(texts, langs):
    """Turtle escaping survives arbitrary unicode explanation text:
    cache -> ttl -> cache -> ttl is semantics- and byte-stable."""
    from xpshacl_spark.explain.cache import ExplanationCache
    from xpshacl_spark.explain.kg_ttl import kg_from_turtle, kg_to_turtle
    from xpshacl_spark.explain.signature import ViolationSignature

    sig = ViolationSignature("c", "p", "t", {})
    c = ExplanationCache()
    for i, lang in enumerate(langs):
        c.add_violation(
            sig,
            {"natural_language_explanation": texts[i % len(texts)] or "x",
             "correction_suggestions": list(texts)},
            lang,
        )
    t1 = kg_to_turtle(c)
    c2 = kg_from_turtle(t1)
    for i, lang in enumerate(langs):
        assert c2.has_violation(sig, lang)
        got = c2.get_explanation(sig, lang)["natural_language_explanation"]
        assert got == (texts[i % len(texts)] or "x")
    assert kg_to_turtle(c2) == t1


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=2,
        max_size=12,
    ),
    h=st.integers(min_value=0, max_value=3),
)
@SLOW
def test_simhash_pairs_pigeonhole_recall_exact(spark, docs, h):
    """simhash_pairs == brute-force hamming filter on the same
    fingerprints: the segment blocking loses NOTHING (recall 1) and
    invents nothing, for any max_hamming and messy inputs."""
    from xpshacl_spark.operators.dedup import simhash, simhash_pairs

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    hashes = {r.doc_id: r.simhash
              for r in simhash(df, "doc_id", "text", 16).collect()}
    expect = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= h:
                expect[(a, b)] = d
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs(df, "doc_id", "text", bits=16, max_hamming=h).collect()}
    assert got == expect


@given(
    xs=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-5.0, max_value=15.0, allow_nan=False),
            st.sampled_from([-0.5, 0.0, 10.0, 10.5]),
        ),
        min_size=0, max_size=40,
    ),
    spec=st.integers(min_value=1, max_value=6).flatmap(
        lambda bins: st.tuples(
            st.just(bins),
            st.lists(
                st.integers(min_value=0, max_value=20),
                min_size=bins + 2, max_size=bins + 2,
            ),
        )
    ),
    threshold=st.sampled_from([0.0, 0.01, 0.1, 0.5]),
)
@SLOW
def test_drift_check_matches_reference_stats(spark, xs, spec, threshold):
    """PROPERTY: validate()'s Drift rows (PSI and KS against a stored
    baseline) agree with psi_statistic / ks_statistic over
    python-binned counts — empty input, NULLs (no bin), values below lo
    (underflow), at and above hi (overflow) and the unclamped in-range
    floor. The verdict must match exactly, the 6-decimal value to 1e-6,
    and the context must carry stat, threshold and n."""
    import math

    from xpshacl_spark.operators.drift import ks_statistic, psi_statistic
    from xpshacl_spark.shapes import Drift

    bins, baseline = spec
    lo, hi = 0.0, 10.0
    width = (hi - lo) / bins
    cur = [0] * (bins + 2)
    for v in xs:
        if v is None:
            continue
        if v < lo:
            cur[0] += 1
        elif v >= hi:
            cur[-1] += 1
        else:
            cur[1 + math.floor((v - lo) / width)] += 1
    want = {
        "psi": psi_statistic(baseline, cur),
        "ks": ks_statistic(baseline, cur),
    }

    shape = Shape(
        "drift",
        tuple(
            Drift("x", lo, hi, bins=bins, stat=stat, threshold=threshold,
                  baseline=tuple(baseline))
            for stat in ("psi", "ks")
        ),
    )
    df = spark.createDataFrame(list(enumerate(xs)), "k long, x double")
    rows = ValidationEngine(spark).validate(df, [shape], ["k"]).violations.collect()
    got = {r.context["stat"]: r for r in rows}
    assert set(got) == {stat for stat, s in want.items() if s > threshold}
    for stat, r in got.items():
        assert abs(float(r.value) - want[stat]) <= 1e-6
        assert r.k is None
        assert r.context == {
            "stat": stat, "threshold": str(threshold), "n": str(sum(cur)),
        }


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
            st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        ),
        min_size=0, max_size=25,
    ),
    dim=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
        ),
        min_size=0, max_size=5,
    ),
)
@SLOW
def test_null_key_semantics_match_duckdb(spark, rows, dim):
    """PROPERTY: the documented NULL-key semantics, checked against
    DuckDB SQL that spells them out:
    * Unique groups NULL keys together (GROUP BY, not SQL UNIQUE);
    * a ForeignKey with any NULL column passes, on both the inlined
      single-column path and the anti-join multi-column path;
    * Monotonic skips a row whose value or predecessor's value is NULL.
    """
    import duckdb

    from xpshacl_spark.shapes import ForeignKey, Monotonic, Unique

    data = [(i, a, b, v) for i, (a, b, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, a int, b int, v int")
    engine = ValidationEngine(
        spark,
        dims={
            "d1": spark.createDataFrame([(a,) for a, _ in dim], "a int"),
            "d2": spark.createDataFrame(dim, "a int, b int"),
        },
    )
    shapes = [
        Shape("uniq", (Unique(("a", "b")),)),
        Shape("fk1", (ForeignKey(("a",), "d1", ("a",)),)),
        Shape("fk2", (ForeignKey(("a", "b"), "d2", ("a", "b")),)),
        Shape("mono", (Monotonic(("a",), "id", "v"),)),
    ]
    got: dict = {s.shape_id: [] for s in shapes}
    for r in engine.validate(df, shapes, ["id", "a", "b"]).violations.collect():
        if r.shape_id == "uniq":
            got["uniq"].append((r.a, r.b, int(r.context["actualCount"])))
        else:
            got[r.shape_id].append(r.id)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, a INT, b INT, v INT)")
    con.execute("CREATE TABLE d (a INT, b INT)")
    if data:
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", data)
    if dim:
        con.executemany("INSERT INTO d VALUES (?, ?)", dim)
    sql = {
        "uniq": "SELECT a, b, count(*) FROM t GROUP BY a, b HAVING count(*) > 1",
        "fk1": "SELECT id FROM t WHERE a IS NOT NULL "
               "AND a NOT IN (SELECT a FROM d WHERE a IS NOT NULL)",
        "fk2": "SELECT id FROM t WHERE a IS NOT NULL AND b IS NOT NULL "
               "AND NOT EXISTS (SELECT 1 FROM d WHERE d.a = t.a AND d.b = t.b)",
        "mono": "SELECT id FROM (SELECT id, v, lag(v) OVER "
                "(PARTITION BY a ORDER BY id) AS prev FROM t) WHERE prev > v",
    }
    for sid, q in sql.items():
        want = [tuple(x) if len(x) > 1 else x[0] for x in con.execute(q).fetchall()]
        assert sorted(got[sid], key=repr) == sorted(want, key=repr), sid


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14
        ),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=2, max_value=4),
)
@SLOW
def test_exact_dup_spans_match_python_oracle(spark, docs, n):
    """exact_dup_spans vs a quadratic row-at-a-time Python oracle on a
    tiny 3-letter alphabet (forces heavy duplication, within-doc
    repeats, overlapping islands, and short docs below n)."""
    from collections import Counter

    from xpshacl_spark.operators.dedup import exact_dup_spans

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.start_word, r.end_word, r.len_words)
        for r in exact_dup_spans(df, "doc_id", "text", n=n).collect()
    }

    # oracle: count every n-gram occurrence, mark duplicated start
    # positions, interval-merge starts whose coverage overlaps or
    # touches (gap <= n) into maximal spans
    occ = Counter()
    grams = {}
    for i, ws in enumerate(docs):
        grams[i] = [tuple(ws[j : j + n]) for j in range(len(ws) - n + 1)]
        occ.update(grams[i])
    want = set()
    for i, gs in grams.items():
        dup_pos = [j + 1 for j, g in enumerate(gs) if occ[g] >= 2]
        run = []
        for p in dup_pos + [None]:
            if run and (p is None or p - run[-1] > n):
                s, e = run[0], run[-1] + n - 1
                want.add((i, s, e, e - s + 1))
                run = []
            if p is not None:
                run.append(p)
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "c"]), min_size=0, max_size=10),
        min_size=1,
        max_size=6,
    ),
)
@SLOW
def test_ngram_repetition_matches_python_oracle(spark, docs):
    """ngram_repetition_stats vs a row-at-a-time oracle: mode with
    (count desc, gram asc) tie-break, per-occurrence dup coverage,
    mixed word lengths so char math is exercised, empty docs kept."""
    from collections import Counter

    from xpshacl_spark.operators.text import ngram_repetition_stats

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.n): (r.top_ngram, r.top_char_frac, r.dup_char_frac)
        for r in ngram_repetition_stats(df, ns=(2, 3)).collect()
    }

    for i, ws in enumerate(docs):
        chars = len(" ".join(ws))
        for n in (2, 3):
            grams = [" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)]
            if not grams or chars == 0:
                assert got[(i, n)] == (None, 0.0, 0.0) or (
                    got[(i, n)][0] is None
                )
                continue
            cnt = Counter(grams)
            top = min(cnt, key=lambda g: (-cnt[g], g))
            top_frac = round(cnt[top] * len(top) / chars, 6)
            dup = round(
                sum(c * len(g) for g, c in cnt.items() if c >= 2) / chars, 6
            )
            assert got[(i, n)] == (top, top_frac, dup), (i, n, ws)
    assert len(got) == 2 * len(docs)


@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-3, max_value=3).map(float),
            min_size=4, max_size=4,
        ),
        min_size=1, max_size=16,
    ),
    thr=st.sampled_from([0.7, 0.9, 0.99]),
)
@SLOW
def test_semantic_dedup_invariants(spark, vecs, thr):
    """Against a Python re-implementation: (a) keep/lose matches the
    smaller-id-in-cell-neighbor rule exactly, (b) the min id of every
    in-cell similarity component always keeps, (c) zero vectors never
    crash and never lose. Integer-grid vectors keep cosine exact enough
    that round-6 can't straddle the threshold ambiguously across
    engines."""
    import math

    from xpshacl_spark.operators.dedup import semantic_dedup
    from xpshacl_spark.operators.similarity import ivf_centroids

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=thr, n_cells=2, dim=4
        ).collect()
    }
    assert set(got) == {i for i, _ in rows}  # total: one row per vector

    # python oracle: same centroids, first-occurrence argmax, fold dots
    cents = ivf_centroids(2, 4)

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def cell_of(v):
        scores = [dot(v, c) / math.sqrt(math.fsum(x * x for x in c)) for c in cents]
        return scores.index(max(scores)) + 1

    cells = {i: cell_of(v) for i, v in rows}
    norms = {i: math.sqrt(dot(v, v)) for i, v in rows}
    vec = dict(rows)

    def similar(i, j):
        if norms[i] == 0.0 or norms[j] == 0.0:
            return False  # NULL cos: zero vectors pair with nothing
        return round(dot(vec[i], vec[j]) / (norms[i] * norms[j]), 6) >= thr

    for i, _ in rows:
        want_lose = any(
            j < i and cells[j] == cells[i] and similar(j, i) for j, _ in rows
        )
        assert got[i] == (cells[i], not want_lose), (i, got[i], want_lose)
        if norms[i] == 0.0:
            assert got[i][1]  # zero vector always keeps


@given(
    docs=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "", " "]),
                max_size=6,
            ).map(lambda ps: "\n\n".join(ps)),
        ),
        min_size=1,
        max_size=10,
    )
)
@SLOW
def test_dedup_paragraphs_matches_python_oracle(spark, docs):
    """Against a row-at-a-time oracle: a content paragraph survives iff
    its (doc_id, pos) is the corpus-wide minimum for that exact string;
    whitespace-only paragraphs always survive and are never counted;
    NULL text yields NULL dedup_text and zero counts. The tiny
    paragraph alphabet forces heavy cross-doc and intra-doc collisions."""
    from xpshacl_spark.operators.dedup import dedup_paragraphs

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.dedup_text, r.n_paras, r.n_kept_paras)
        for r in dedup_paragraphs(df, "doc_id", "text").collect()
    }
    assert set(got) == {i for i, _ in rows}

    first_at = {}  # paragraph string -> min (doc_id, pos)
    for i, t in rows:
        if t is None:
            continue
        for p, para in enumerate(t.split("\n\n")):
            if para.strip() and (i, p) < first_at.get(para, (1 << 60, 0)):
                first_at[para] = (i, p)
    for i, t in rows:
        if t is None:
            assert got[i] == (None, 0, 0), (i, got[i])
            continue
        paras = t.split("\n\n")
        kept = [
            p
            for pos, p in enumerate(paras)
            if not p.strip() or first_at[p] == (i, pos)
        ]
        n_content = sum(1 for p in paras if p.strip())
        n_kept = sum(1 for p in kept if p.strip())
        assert got[i] == ("\n\n".join(kept), n_content, n_kept), (i, t, got[i])


@given(
    docs=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(
                    ["the", "of", "and", "fox", "42", "#", "...", "•x",
                     "- y", "\tz", "q\r"]
                ),
                max_size=12,
            ).map(lambda ws: "\n".join(" ".join(ws[i : i + 3]) for i in range(0, len(ws), 3))),
        ),
        min_size=1,
        max_size=8,
    )
)
@SLOW
def test_gopher_quality_flags_match_python_oracle(spark, docs):
    """Signals match a row-at-a-time oracle on adversarial mixes of
    required words, symbols, bullets and ellipses; NULL text yields
    NULL signals."""
    import re

    from xpshacl_spark.operators.text import (
        GOPHER_REQUIRED_WORDS,
        gopher_quality_flags,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.n_words,
            r.hash_word_ratio,
            r.ellipsis_word_ratio,
            r.frac_bullet_lines,
            r.frac_ellipsis_lines,
            r.frac_alpha_words,
            r.n_required_words,
        )
        for r in gopher_quality_flags(df, "text").collect()
    }
    for i, t in rows:
        if t is None:
            assert got[i] == (None,) * 7
            continue
        ws = [w for w in re.split(r"\s+", t.strip()) if w != ""] if t.strip() else []
        nw = len(ws)
        lines = t.split("\n")
        hashes = t.count("#")
        ell_syms = len(re.findall(r"\.{3}|…", t))
        alpha = sum(1 for w in ws if re.search(r"[A-Za-z]", w))
        bullet = sum(1 for l in lines if re.match(r"^[•\-\*]", l.strip()))
        ell = sum(1 for l in lines if re.search(r"(\.{3}|…)$", l.strip()))
        req = sum(1 for w in GOPHER_REQUIRED_WORDS if w in {x.lower() for x in ws})

        def frac(n, d):
            return 0.0 if d == 0 else round(n / d, 6)

        assert got[i] == (
            nw,
            frac(hashes, nw),
            frac(ell_syms, nw),
            frac(bullet, len(lines)),
            frac(ell, len(lines)),
            frac(alpha, nw),
            req,
        ), (i, repr(t), got[i])


@given(
    docs=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.lists(
                    st.sampled_from(
                        ["the", "fox", "runs.", "no?", "yes!", "javascript",
                         "lorem", "ipsum", "{x}", "”", "a.b", "...", "\tq"]
                    ),
                    max_size=5,
                ).map(lambda ws: " ".join(ws)),
                max_size=6,
            ).map(lambda ls: "\n".join(ls)),
        ),
        min_size=1,
        max_size=8,
    )
)
@SLOW
def test_c4_clean_matches_python_oracle(spark, docs):
    """c4_text rewrite, sentence count, and page-gate signals match a
    row-at-a-time oracle on adversarial token mixes (terminal punct
    mid-token, closing quotes, javascript lines, braces, lorem ipsum,
    tabs); NULL text yields NULL everywhere."""
    import re

    from xpshacl_spark.operators.text import c4_clean

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.c4_text,
            r.n_kept_lines,
            r.n_sentences,
            r.has_lorem_ipsum,
            r.has_curly_brace,
            r.c4_pass,
        )
        for r in c4_clean(df, "text").collect()
    }
    for i, t in rows:
        if t is None:
            assert got[i] == (None,) * 6, (i, got[i])
            continue
        kept = []
        for l in t.split("\n"):
            wtxt = re.sub(r"\s+", " ", l).strip()
            if (
                re.search(r'[.!?]["”]?\s*$', l)
                and len(wtxt.split(" ")) >= 3
                and "javascript" not in l.lower()
            ):
                kept.append(l)
        c4_text = "\n".join(kept)
        n_sent = len(list(re.finditer(r'[.!?]["”]?(?:\s|$)', c4_text)))
        lorem = "lorem ipsum" in t.lower()
        brace = "{" in t
        want_pass = n_sent >= 5 and not lorem and not brace
        assert got[i] == (
            c4_text,
            len(kept),
            n_sent,
            lorem,
            brace,
            want_pass,
        ), (i, repr(t), got[i])


@given(
    urls=st.lists(
        st.builds(
            lambda sch, www, host, port, path, params, frag: (
                sch + "://" + www + host + port + path
                + ("?" + "&".join(params) if params else "") + frag
            ),
            st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
            st.sampled_from(["", "www.", "WWW."]),
            st.sampled_from(["Example.com", "a.b.org"]),
            st.sampled_from(["", ":80", ":443", ":8080"]),
            st.sampled_from(["", "/A", "/b/c", "/d/"]),
            st.lists(
                st.sampled_from(
                    ["utm_source=1", "UTM_X=2", "gclid=x", "b=2", "C=3"]
                ),
                max_size=3,
            ),
            st.sampled_from(["", "#x", "#a/b?c"]),
        ),
        min_size=1,
        max_size=8,
    )
)
@SLOW
def test_normalize_url_idempotent_and_clean(spark, urls):
    """normalize_url is idempotent (its output re-normalizes to
    itself), never emits fragments or tracking params, and never keeps
    a default port or trailing path slash."""
    from pyspark.sql import functions as F

    from xpshacl_spark.operators.text import normalize_url

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i long, url string")
    once = df.select("i", normalize_url("url").alias("n1"))
    twice = once.select(
        "i", "n1", normalize_url(F.col("n1")).alias("n2")
    ).collect()
    for r in twice:
        assert r.n2 == r.n1, (urls[r.i], r.n1, r.n2)
        assert "#" not in r.n1
        assert "utm_" not in r.n1.lower()
        assert "gclid" not in r.n1
        assert not r.n1.endswith("/")
        import re as _re

        if r.n1.startswith("http://"):
            assert not _re.search(r":80($|[/?])", r.n1), r.n1
        if r.n1.startswith("https://"):
            assert not _re.search(r":443($|[/?])", r.n1), r.n1


@given(
    train=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=6),
        min_size=1,
        max_size=5,
    ),
    score=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "zz"]), min_size=0, max_size=6),
        min_size=1,
        max_size=5,
    ),
)
@SLOW
def test_bigram_logprob_matches_python_oracle(spark, train, score):
    """bigram_logprob (foreign model) vs a row-at-a-time Stupid-Backoff
    oracle: seen bigrams take n12/n1, unseen back off to
    alpha*wn(w2)/N, OOV w2 to alpha*oov/N; short docs keep NULL."""
    import math
    from collections import Counter

    from hypothesis import assume

    from xpshacl_spark.operators.text import bigram_logprob, bigram_model

    # an all-empty training corpus has no unigram total: the backoff
    # denominator is undefined for engine and oracle alike — out of
    # the operator's contract (a real reference corpus is never empty)
    assume(any(ws for ws in train))

    tr = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(train)],
        "doc_id long, text string",
    )
    sc_rows = [(i, " ".join(ws)) for i, ws in enumerate(score)]
    sdf = spark.createDataFrame(sc_rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.logprob)
        for r in bigram_logprob(
            sdf, model=bigram_model(tr), alpha=0.4, oov_count=0.5
        ).collect()
    }

    uni = Counter(w for ws in train for w in ws)
    big = Counter(
        (ws[j], ws[j + 1]) for ws in train for j in range(len(ws) - 1)
    )
    n_total = sum(uni.values())
    for i, ws in enumerate(score):
        pairs = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
        if not pairs:
            assert got[i] == (0, None)
            continue
        lps = []
        for w1, w2 in pairs:
            if big[(w1, w2)] > 0:
                s = big[(w1, w2)] / uni[w1]
            else:
                s = 0.4 * (uni.get(w2, 0.5) or 0.5) / n_total
            lps.append(math.log(s))
        want = round(sum(lps) / len(lps), 6)
        assert got[i][0] == len(pairs)
        assert abs(got[i][1] - want) <= 1e-6, (i, ws, got[i], want)
    assert len(got) == len(score)


@given(
    fps=st.lists(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        min_size=2,
        max_size=10,
    ),
    h=st.integers(min_value=0, max_value=3),
)
@SLOW
def test_fingerprint_hamming_pairs_generic_recall(spark, fps, h):
    """The generic 64-bit pair join (used by simhash_pairs for text
    fingerprints) == the brute-force
    Hamming filter for ARBITRARY signed longs — including values at
    the sign boundary, where shiftright sign-extension must be masked
    away, and the whole-long segment at max_hamming=0."""
    from xpshacl_spark.operators.dedup import fingerprint_hamming_pairs

    df = spark.createDataFrame(
        list(enumerate(fps)), "doc_id long, fp long"
    )
    expect = {}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            d = bin((fps[i] ^ fps[j]) & ((1 << 64) - 1)).count("1")
            if d <= h:
                expect[(i, j)] = d
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in fingerprint_hamming_pairs(
            df, bits=64, max_hamming=h, fp_col="fp"
        ).collect()
    }
    assert got == expect

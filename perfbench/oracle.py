"""Independent expected results, computed with DuckDB over the same
parquet the engine reads.

The violation-count SQL is the one the engine's end-to-end tests check
against (tests/test_engine_transcripts.py), plus the latency, drift and
profile checks the `table_audit` workload adds. Nothing here calls the
engine: the only things shared with it are the generator's dimension
values (`ROLES`, `TOOLS`), which are inputs, not results.
"""

from __future__ import annotations

import math

import duckdb

from xpshacl_spark.datagen import ROLES, TOOLS

_IN_TOOLS = ", ".join(f"'{x}'" for x in TOOLS)
_IN_ROLES = ", ".join(f"'{x}'" for x in ROLES)

#: (shape, component) -> count SQL over view `t`, for transcript_shapes()
SUITE_SQL = {
    # row scope
    ("TurnRowShape", "MinInclusiveConstraintComponent"): "SELECT count(*) FROM t WHERE turn_idx < 0",
    ("TurnRowShape", "DatatypeConstraintComponent"): "SELECT count(*) FROM t WHERE ts IS NULL",
    ("TurnRowShape", "PatternConstraintComponent"): (
        "SELECT count(*) FROM t WHERE role IS NOT NULL AND NOT regexp_matches(role, '^[a-z]+$')"
    ),
    ("TurnRowShape", "MaxLengthConstraintComponent"): "SELECT count(*) FROM t WHERE length(text) > 4000",
    ("TurnRowShape", "MinCountConstraintComponent"): "SELECT count(*) FROM t WHERE text IS NULL",
    ("ToolRefShape", "ClassConstraintComponent"): (
        f"SELECT count(*) FROM t WHERE tool IS NOT NULL AND tool NOT IN ({_IN_TOOLS})"
    ),
    ("RoleRefShape", "ClassConstraintComponent"): (
        f"SELECT count(*) FROM t WHERE role IS NOT NULL AND role NOT IN ({_IN_ROLES})"
    ),
    # group and sequence scope
    ("TurnKeyShape", "UniquenessConstraintComponent"): (
        "SELECT count(*) FROM (SELECT conv_id, turn_idx FROM t GROUP BY 1, 2 HAVING count(*) > 1)"
    ),
    ("TsOrderShape", "LessThanOrEqualsConstraintComponent"): (
        "SELECT count(*) FROM (SELECT ts, lag(ts) OVER "
        "(PARTITION BY conv_id ORDER BY turn_idx) AS p FROM t) "
        "WHERE p IS NOT NULL AND ts IS NOT NULL AND ts < p"
    ),
    ("TurnSeqShape", "DenseIndexConstraintComponent"): (
        "SELECT count(*) FROM (SELECT turn_idx, lag(turn_idx) OVER "
        "(PARTITION BY conv_id ORDER BY turn_idx) AS p FROM t) "
        "WHERE (p IS NULL AND turn_idx <> 0) OR (p IS NOT NULL AND turn_idx <> p + 1)"
    ),
    ("TurnSeqShape", "TransitionConstraintComponent"): (
        "SELECT count(*) FROM (SELECT role, lag(role) OVER "
        "(PARTITION BY conv_id ORDER BY turn_idx) AS p FROM t) "
        "WHERE (p IS NOT NULL AND role = 'assistant' AND p NOT IN ('user', 'system', 'tool')) "
        "OR (p IS NULL AND role IS NOT NULL AND role NOT IN ('user', 'system', 'tool'))"
    ),
    ("AssistantCardShape", "MinCountConstraintComponent"): (
        "SELECT count(*) FROM (SELECT conv_id FROM t GROUP BY conv_id "
        "HAVING count(*) FILTER (WHERE role = 'assistant') = 0)"
    ),
}


def latency_sql(max_gap_seconds: float) -> dict:
    return {
        ("LatencyShape", "MaxGapConstraintComponent"): (
            "SELECT count(*) FROM (SELECT ts, lag(ts) OVER "
            "(PARTITION BY conv_id ORDER BY turn_idx) AS p FROM t) "
            "WHERE p IS NOT NULL AND ts IS NOT NULL "
            f"AND epoch_us(ts) - epoch_us(p) > {int(max_gap_seconds * 1e6)}"
        )
    }


def _con(files: str) -> duckdb.DuckDBPyConnection:
    """Connection with view `t` over a parquet glob or file."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{files}')")
    return con


def scalar(files: str, sql: str):
    with _con(files) as con:
        return con.execute(sql).fetchone()[0]


def violation_counts(files: str, sqls: dict) -> dict:
    """(shape, component) -> expected count, zero counts omitted (the
    engine's counts() has no row for a check nobody violated)."""
    with _con(files) as con:
        got = {k: con.execute(q).fetchone()[0] for k, q in sqls.items()}
    return {k: n for k, n in got.items() if n}


def histogram(files: str, expr: str, lo: float, hi: float, bins: int) -> list[int]:
    """[underflow, b0..b(bins-1), overflow] counts of non-null `expr`."""
    width = (hi - lo) / bins
    sql = (
        f"SELECT CASE WHEN v < {lo} THEN -1 WHEN v >= {hi} THEN {bins} "
        f"ELSE CAST(floor((v - {lo}) / {width}) AS INTEGER) END AS b, count(*) "
        f"FROM (SELECT {expr} AS v FROM t) WHERE v IS NOT NULL GROUP BY 1"
    )
    with _con(files) as con:
        rows = dict(con.execute(sql).fetchall())
    return [rows.get(b, 0) for b in range(-1, bins + 1)]


def psi(baseline: list[int], current: list[int], eps: float = 1e-6) -> float:
    """Population stability index with proportions floored at eps."""

    def props(counts):
        total = float(sum(counts))
        return [max(c / total, eps) if total > 0 else eps for c in counts]

    p, q = props(current), props(baseline)
    return sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))


def column_profile(files: str, expr: str) -> dict:
    """Exact count / non-null / min / max / distinct of one expression;
    min and max as the strings Spark's cast would give for these
    (integer and ASCII string) columns."""
    sql = (
        "SELECT count(*), count(v), CAST(min(v) AS VARCHAR), "
        "CAST(max(v) AS VARCHAR), count(DISTINCT v) "
        f"FROM (SELECT {expr} AS v FROM t)"
    )
    with _con(files) as con:
        n, nn, mn, mx, nd = con.execute(sql).fetchone()
    return {"count": n, "non_null": nn, "min": mn, "max": mx, "distinct": nd}


def diff_counts(expected: dict, got: dict) -> list[str]:
    """Human-readable mismatches between two (shape, component) maps."""
    return [
        f"{k[0]}/{k[1]}: expected {expected.get(k, 0)}, got {got.get(k, 0)}"
        for k in sorted(set(expected) | set(got))
        if expected.get(k, 0) != got.get(k, 0)
    ]

"""Quoting for the SQL text the engine builds and parses once with
F.expr (the violation struct, the drift and profile histograms, PSI and
KS): one parse per expression instead of one py4j round trip per Column
method."""

from __future__ import annotations

import math
from typing import Optional


def quote_ident(name: str) -> str:
    """`name` as a backtick-quoted identifier, inner backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def quote_string(s: str) -> str:
    """`s` as a single-quoted string literal. Backslash and quote are
    backslash-escaped (Spark's default, non-legacy literal syntax), and
    so is `{`, so a `${...}` in the text is never read as a SQL
    variable reference."""
    return (
        "'"
        + s.replace("\\", "\\\\").replace("'", "\\'").replace("{", "\\{")
        + "'"
    )


def string_literal(s: Optional[str]) -> str:
    """`s` as a STRING literal; None is a typed NULL."""
    return "CAST(NULL AS STRING)" if s is None else quote_string(s)


def double_literal(x: float) -> str:
    """`x` as a DOUBLE expression. A bare `5000.0` would parse as a
    DECIMAL and make the arithmetic around it decimal; the cast of the
    shortest round-trip repr gives back exactly `x`. A non-finite `x`
    raises ValueError: its repr (`inf`, `nan`) would parse as a column
    name."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL literal for the non-finite double {x!r}")
    return f"CAST({x!r} AS DOUBLE)"

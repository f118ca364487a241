"""Local mirror of the driver's correctness gate: run each
__spark_entry__.queries() entry on sf0.001 and compare row count, column
names, and order-insensitive values against oracle_sql() via DuckDB."""

import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("XPSHACL_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _duck_con():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        pytest.skip(f"{name}: rows-only check (no SQL oracle)")
    con = _duck_con()
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} != {len(orows)}"
    assert _canon(srows, scols) == _canon(orows, ocols), f"{name}: values differ"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_gate_contract_consistency():
    """Driver-contract hygiene: every oracle key names a real query (a
    typo'd key would silently skip its check), every query has an
    oracle (the stronger hash gate, not the rows-only fallback), and
    the queries dict has no duplicate-insert shadowing."""
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs), set(os_) - set(qs)
    assert set(qs) == set(os_), set(qs) - set(os_)
    src = open(os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")).read()
    import re
    keys = re.findall(r'^        "(q_[a-z0-9_]+)": q_', src, re.M)
    assert len(keys) == len(set(keys)), "duplicate key insert shadows a query"
    assert len(keys) == len(qs)


def test_every_query_has_a_green_gate_row():
    """The correctness gate runs only the FIRST 50 queries() entries,
    so every query must already hold a green gate row (rows, schema and
    hash match, no error) in CORRECTNESS_r04.json or
    CORRECTNESS_r06.json. A query added without a gate record fails
    here."""
    import json

    root = os.path.join(os.path.dirname(__file__), "..")
    green = set()
    for rnd in ("r04", "r06"):
        with open(os.path.join(root, f"CORRECTNESS_{rnd}.json")) as f:
            for name, row in json.load(f).items():
                if (
                    row.get("rows_match") is True
                    and row.get("schema_match") is True
                    and row.get("hash_match") is True
                    and row.get("err") is None
                ):
                    green.add(name)
    unproven = set(entrymod.queries()) - green
    assert not unproven, sorted(unproven)

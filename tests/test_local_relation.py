"""`session.local_relation`: rows the driver holds become an Arrow-built
local relation. It must give what `createDataFrame(list)` gives, and
reading it must start no Spark job (so no Python worker either)."""

import datetime
import time

import pytest
from pyspark.sql import functions as F

from xpshacl_spark.compiler import ValidationEngine
from xpshacl_spark.datagen import ROLES, roles_dim
from xpshacl_spark.explain.cache import ExplanationCache
from xpshacl_spark.explain.pipeline import Explainer
from xpshacl_spark.session import local_relation
from xpshacl_spark.shapes import MinInclusive, Shape

_ALL_TYPES = (
    "s string, l bigint, d double, b boolean, m map<string,string>, "
    "t timestamp, a array<double>, i int, ta array<timestamp>, "
    "am array<map<string,string>>"
)

CASES = {
    "every_type_and_nulls": (
        [
            (
                "x",
                1,
                1.5,
                True,
                {"k": "v", "k2": None},
                datetime.datetime(2025, 1, 1, 12, 30, 0, 250),
                [1.0, None],
                7,
                [datetime.datetime(2025, 7, 4, 9, 0), None],
                [{"at": "x"}, None],
            ),
            ("", -(2**40), -0.0, False, {}, None, [], None, [], [{}]),
            (None, None, None, None, None, None, None, None, None, None),
            (
                "ü",
                0,
                1e300,
                None,
                None,
                datetime.datetime(
                    2025, 6, 1, tzinfo=datetime.timezone(datetime.timedelta(hours=5))
                ),
                None,
                -1,
                None,
                None,
            ),
        ],
        _ALL_TYPES,
    ),
    "no_rows": ([], _ALL_TYPES),
    "not_null_fields": (
        [("a", 1)],
        "column_name string not null, n bigint not null",
    ),
}


@pytest.fixture
def new_york(monkeypatch):
    """The driver process runs in America/New_York, so a naive
    datetime is read as New York wall-clock time."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _jobs(spark, group, action):
    """Run `action` in its own job group; the number of jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_relation_matches_row_list_create_dataframe(spark, new_york, case):
    rows, ddl = CASES[case]
    want = spark.createDataFrame(rows, ddl)
    got = local_relation(spark, rows, ddl)
    assert got.schema.json() == want.schema.json()
    assert got.collect() == want.collect()
    # a StructType schema gives the same relation as its DDL string
    again = local_relation(spark, rows, want.schema)
    assert again.schema.json() == want.schema.json()
    assert again.collect() == want.collect()


def test_local_relation_reads_naive_datetime_as_local_time(spark, new_york):
    """12:00 in New York on 1 January is 17:00 UTC, as the row-list path
    reads it; a DST-gap wall time shifts the same way on both paths."""
    rows = [
        (datetime.datetime(2025, 1, 1, 12, 0),),
        (datetime.datetime(2025, 3, 9, 2, 30),),
    ]
    want = spark.createDataFrame(rows, "t timestamp")
    got = local_relation(spark, rows, "t timestamp")
    micros = [r[0] for r in got.select(F.unix_micros("t")).collect()]
    assert micros[0] == 1735750800 * 10**6
    assert micros == [r[0] for r in want.select(F.unix_micros("t")).collect()]


def test_roles_dim_collect_starts_no_job(spark):
    dim = roles_dim(spark)
    out = []
    assert _jobs(spark, "roles-dim-no-job", lambda: out.extend(dim.collect())) == 0
    assert [r.role for r in out] == ROLES


def test_explanations_and_cache_relation_start_no_job(spark):
    df = spark.createDataFrame(
        [("c1", 0, -5), ("c1", 1, 3), ("c2", 0, -2)],
        "conv_id string, turn_idx int, score int",
    )
    shapes = [Shape("ex:ScoreShape", (MinInclusive("score", 0),))]
    rep = ValidationEngine(spark).validate(df, shapes, ["conv_id", "turn_idx"])
    cache = ExplanationCache()
    expl = Explainer(spark, cache=cache).explain(rep, shapes, df=df, languages=["en", "de"])

    rows = []
    assert _jobs(spark, "explain-no-job", lambda: rows.extend(expl.collect())) == 0
    assert sorted(r.language for r in rows) == ["de", "en"]

    held = cache.to_spark(spark)
    cached = []
    assert _jobs(spark, "cache-no-job", lambda: cached.extend(held.collect())) == 0
    assert sorted((r.signature_id, r.language) for r in cached) == sorted(
        (r.signature_id, r.language) for r in rows
    )

    empty = ExplanationCache().to_spark(spark)
    assert empty.schema == held.schema
    assert _jobs(spark, "empty-cache-no-job", empty.collect) == 0


def test_local_relation_rejects_what_the_row_list_path_rejects(spark):
    """A row of the wrong width or a None in a NOT NULL field raises,
    as `createDataFrame(list)` does, instead of being cut or kept."""
    with pytest.raises(ValueError, match="2 values"):
        local_relation(spark, [("a", 1), ("b",)], "s string, n bigint")
    with pytest.raises(ValueError, match="not nullable"):
        local_relation(spark, [("a", None)], "s string, n bigint not null")


@pytest.mark.parametrize(
    "ddl",
    ["m map<string,timestamp>", "m array<map<string,array<string>>>"],
)
def test_local_relation_rejects_maps_the_arrow_path_rebuilds(spark, ddl):
    """PySpark's Arrow input rebuilds a map of timestamps or nested
    values, and with pyarrow < 17 a NULL such map comes back empty, so
    these schemas raise instead of changing NULLs."""
    with pytest.raises(TypeError, match="map of timestamps or nested"):
        local_relation(spark, [(None,)], ddl)

"""Host-derived SparkSession defaults: cores from the CPU affinity set,
driver heap from physical memory."""

import os
import sys

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

from xpshacl_spark import session


def _fake_sysconf(phys_bytes):
    page = 4096
    return {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}.__getitem__


def test_cores_follow_affinity_set(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5}, raising=False)
    assert session._host_cores() == 3


def test_cores_fall_back_to_cpu_count(monkeypatch):
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert session._host_cores() == 6


def test_heap_is_half_of_physical_memory_capped(monkeypatch):
    gib = 2**30
    for phys, heap in (
        (15 * gib + 512 * 2**20, "7g"),  # a 4-core, 15 GB VM
        (64 * gib, "24g"),  # capped at 24g
        (1 * gib, "1g"),  # never below 1g
    ):
        monkeypatch.setattr(os, "sysconf", _fake_sysconf(phys))
        assert session._host_driver_memory() == heap, phys


def test_defaults_on_this_host():
    assert session._host_cores() == len(os.sched_getaffinity(0))
    gb = int(session._host_driver_memory()[:-1])
    assert 1 <= gb <= 24


def test_call_site_capture_is_off(spark):
    """get_spark turns PySpark's call-site capture off: it costs extra
    JVM round trips on every Column method of a generated plan."""
    conf = spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
    assert conf == "false"


def test_scan_splits_give_each_big_file_a_task(spark, tmp_path):
    """A table of four single-row-group files of a few hundred KB and
    four tiny ones scans with no task holding more rows than the
    largest file: the tiny files may join a big one, but no two big
    files share a task. At Spark's 4 MB default open cost the tiny files
    inflate the split size until two big files share each task, and
    half the cores idle through the scan."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "table")
    for i, n in enumerate([3000, 2600, 2200, 1800] + [5] * 4):
        rows = spark.range(n).selectExpr(
            "sha2(CAST(id AS STRING), 512) AS a",
            f"sha2(CAST(id + {i} * 10000 AS STRING), 256) AS b",
        )
        rows.coalesce(1).write.mode("append").parquet(path)
    df = spark.read.parquet(path)

    def largest(part):
        return df.groupBy(part).count().agg(F.max("count")).first()[0]

    assert largest(F.input_file_name()) == 3000
    assert largest(F.spark_partition_id()) <= 3000

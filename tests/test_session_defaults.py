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

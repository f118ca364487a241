"""Measurement probes for the benchmark.

`Tracer` records one span per public call the benchmark makes into a
layer of the engine (name, start, end, parent span, operation id) and,
through a Spark job group set around the call, the jobs, stages and
tasks that call ran. Spans stay in memory until `write()`.

`ResourceProbe` reads the JVM's CPU time and peak RSS from /proc, its
GC time from the JVM's GarbageCollectorMXBeans, and the driver Python's
own CPU time and peak RSS from getrusage.
"""

from __future__ import annotations

import json
import os
import resource
import time
from contextlib import contextmanager
from typing import Iterator, Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans around calls into the engine, off unless `enabled`."""

    def __init__(self) -> None:
        self.sc = None  # SparkContext of the current session
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op: object, jobs: bool = True) -> Iterator[Optional[dict]]:
        """Time the enclosed call as span `name` of operation `op`.

        With `jobs`, the call runs in its own Spark job group and the
        span records the jobs, stages and tasks it ran. Stages that
        completed no task (skipped because an earlier job computed
        their output) are not counted."""
        if not self.enabled:
            yield None
            return
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._next_id,
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self._next_id}" if jobs else None,
        }
        self._stack.append(sp)
        if jobs:
            self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                outer = next((s for s in reversed(self._stack) if s["group"]), None)
                if outer:
                    self.sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.update(self._job_counts(sp["group"]))
            self.spans.append(sp)

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stage_tasks: dict[int, int] = {}
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid not in stage_tasks:
                    si = st.getStageInfo(sid)
                    stage_tasks[sid] = si.numCompletedTasks if si else 0
        ran = [n for n in stage_tasks.values() if n > 0]
        return {"jobs": len(job_ids), "stages": len(ran), "tasks": sum(ran)}

    def op_spans(self, op: object) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    child_s: dict[int, float] = {}
    for sp in spans:
        if sp["parent"] is not None:
            child_s[sp["parent"]] = child_s.get(sp["parent"], 0.0) + (
                sp["end"] - sp["start"]
            )
    return {sp["id"]: sp["end"] - sp["start"] - child_s.get(sp["id"], 0.0) for sp in spans}


class ResourceProbe:
    """CPU, GC and peak-RSS counters of the session's JVM and this process."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._mgmt = jvm.java.lang.management.ManagementFactory

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # utime and stime are fields 14 and 15 of stat(5); fields[0] is 3
        return (int(fields[11]) + int(fields[12])) / _CLK_TCK

    def jvm_gc_s(self) -> float:
        beans = self._mgmt.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM in /proc/{self.pid}/status")

    @staticmethod
    def py_cpu_s() -> float:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return ru.ru_utime + ru.ru_stime

    @staticmethod
    def py_peak_rss_mb() -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def snapshot(self) -> dict:
        return {
            "jvm_cpu": self.jvm_cpu_s(),
            "jvm_gc": self.jvm_gc_s(),
            "py_cpu": self.py_cpu_s(),
        }

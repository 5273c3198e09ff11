"""Measurement helpers: host fingerprint, peak RSS, Spark status-store
counters and in-memory spans.

Spark counters come from the in-process AppStatusStore, read over py4j as
deltas between two snapshots that bracket one call. Job groups would not
work: ``build()`` runs some jobs on its own thread pools, and those
threads do not inherit PySpark job-group properties.
"""

from __future__ import annotations

import json
import os
import platform
import resource
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def steal_ticks() -> int:
    """Hypervisor-steal ticks of the whole host (field 9 of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def driver_memory_gb() -> int:
    """A quarter of the host's memory, between 1 and 8 GB."""
    return max(1, min(8, mem_total_kb() // (4 * 1024 * 1024)))


def fingerprint(java_version: str) -> dict:
    """What two records must share before their numbers may be compared."""
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kb": mem_total_kb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version,
        "duckdb": duckdb.__version__,
    }


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this Python driver plus the Spark JVM, in MB."""
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (driver_kb + vm_hwm_kb(jvm_pid)) / 1024.0


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

SPARK_COUNTERS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mem_mb", "MB"),
    ("spill_disk_mb", "MB"),
    ("busy_ratio", "ratio"),
)


class StatusStore:
    """Snapshots of the jobs and stages a SparkContext has run so far."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._cores = sc.defaultParallelism

    def snapshot(self) -> tuple[int, int]:
        """(highest job id, highest stage id) seen so far."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(self._sc._jvm.java.util.ArrayList())
        stages = self._stages()
        max_job = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        max_stage = max((s.stageId() for s in stages), default=-1)
        return max_job, max_stage

    def _stages(self) -> list:
        sc = self._sc
        empty = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        stages = self._store.stageList(empty, False, False, no_quantiles, empty)
        return [stages.apply(i) for i in range(stages.size())]

    def delta(self, before: tuple[int, int], wall_s: float) -> dict[str, float]:
        """Counters of the jobs and stages run since ``before``."""
        after_job, _ = self.snapshot()
        new = [
            s for s in self._stages()
            if s.stageId() > before[1] and s.status().toString() != "SKIPPED"
        ]
        run_s = sum(s.executorRunTime() for s in new) / 1e3
        return {
            "jobs": float(after_job - before[0]),
            "stages": float(len(new)),
            "tasks": float(sum(s.numCompleteTasks() for s in new)),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(s.executorCpuTime() for s in new) / 1e9,
            "gc_s": sum(s.jvmGcTime() for s in new) / 1e3,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in new) / 1e6,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in new) / 1e6,
            "spill_mem_mb": sum(s.memoryBytesSpilled() for s in new) / 1e6,
            "spill_disk_mb": sum(s.diskBytesSpilled() for s in new) / 1e6,
            "busy_ratio": run_s / (wall_s * self._cores) if wall_s > 0 else 0.0,
        }


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A disabled tracer records nothing, so untraced runs pay only the
    ``with`` statement."""

    enabled: bool
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def event(self, name: str, **attrs) -> None:
        """A zero-length span, such as one ``progress`` message."""
        if self.enabled:
            with self.span(name, **attrs):
                pass

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)

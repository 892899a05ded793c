"""Measurement from outside the engine: /proc, Spark's own counters and
the event log, plus the in-memory span recorder of the traced run.

Nothing here changes what the engine does; it only reads process
accounting and the status Spark already keeps.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(v) for v in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / CLK_TCK


@dataclass(frozen=True)
class CpuSample:
    driver_py: float
    jvm: float
    pyworker: float

    @property
    def total(self) -> float:
        return self.driver_py + self.jvm + self.pyworker

    def __sub__(self, other: CpuSample) -> CpuSample:
        return CpuSample(self.driver_py - other.driver_py, self.jvm - other.jvm,
                         self.pyworker - other.pyworker)


@dataclass
class ProcessTree:
    """The benchmark's processes: this driver Python process, the JVM it
    launched, and every process below the JVM (PySpark's worker daemon
    and the Python workers it forks).  A worker that exits is reaped by
    the daemon, so its CPU moves into the daemon's ``cutime`` and is
    still counted."""

    jvm_pid: int

    def cpu(self) -> CpuSample:
        stats = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                st = _stat(int(entry))
                if st is not None:
                    stats[int(entry)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        workers, todo = 0.0, list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            workers += stats[pid][1]
            todo.extend(children.get(pid, []))
        own = stats.get(os.getpid(), (0, 0.0))[1]
        jvm = stats.get(self.jvm_pid, (0, 0.0))[1]
        return CpuSample(own, jvm, workers)

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM plus the driver Python process."""
        return (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_jiffies() -> int:
    """Cumulative hypervisor-steal jiffies of the aggregate cpu line."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def environment(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "default_parallelism": sc.defaultParallelism,
        "loadavg_1m": os.getloadavg()[0],
    }


def persisted_rdds(sc) -> tuple[int, int]:
    """(count, memory+disk bytes) of RDDs still registered as persisted."""
    ids = set(sc._jsc.getPersistentRDDs().keys())
    size = sum(
        info.memSize() + info.diskSize()
        for info in sc._jsc.sc().getRDDStorageInfo()
        if info.id() in ids
    )
    return len(ids), size


def clear_caches(spark) -> None:
    """Unpersist every persisted RDD and drop the SQL cache, so the next
    operation runs its operators instead of reading an earlier one's
    intermediates."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# traced run: spans and the event log
# ---------------------------------------------------------------------------
@dataclass
class Tracer:
    """Spans kept in memory; ``dump`` writes them out once, at the end.
    Spans of one operation share its ``op`` id."""

    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        record = {"id": len(self.spans), "op": op, "name": name,
                  "parent": self._stack[-1] if self._stack else None,
                  "start": time.perf_counter(), "end": None}
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    scan_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _events(log_dir: str):
    """Parsed events of the run's one application log; Spark 4 writes it
    as a directory of ``events_<n>_<app>`` parts (the v2 layout)."""
    (app,) = os.listdir(log_dir)
    app = os.path.join(log_dir, app)
    files = [app]
    if os.path.isdir(app):
        parts = [f for f in os.listdir(app) if f.startswith("events_")]
        files = [os.path.join(app, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def event_log_stats(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, executed stages and tasks, task and GC time,
    scan, shuffle and spill bytes, read from the Spark event log."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            groups.setdefault(group, GroupStats()).jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                groups[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or m is None:
                continue
            g = groups[group]
            g.tasks += 1
            g.task_s += m["Executor Run Time"] / 1000.0
            g.gc_s += m["JVM GC Time"] / 1000.0
            g.scan_bytes += m["Input Metrics"]["Bytes Read"]
            sr = m["Shuffle Read Metrics"]
            g.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            g.spill_bytes += m["Disk Bytes Spilled"]
    return groups

"""Spans, job counts and resource probes for the benchmark.

A :class:`Tracer` times every call the benchmark makes into the
engine. With tracing off it keeps only the wall time of each
operation, which is all the end-to-end metrics need. With tracing on it
also keeps a span per call (name, start, end, parent, run id), tags the
Spark jobs launched inside each span with ``setJobGroup`` and reads
their job and stage counts from ``statusTracker()``. Executor CPU,
shuffle and spill come afterwards from the Spark event log
(:func:`read_event_log`), keyed by the same job groups; GC time comes
from the JVM's own counters (:func:`jvm_gc_s`).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    python_cpu_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans for one benchmark run; ``enabled=False`` records
    only the operation wall times the untraced run reports."""
    sc: object
    enabled: bool
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    t0: float = field(default_factory=time.perf_counter)

    @contextlib.contextmanager
    def span(self, name: str, tag_jobs: bool = False, python_cpu: bool = False):
        """Time ``name``. With ``tag_jobs`` the span gets its own Spark
        job group, so the jobs it launches can be counted per span."""
        sp = Span(name, time.perf_counter() - self.t0,
                  parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id)
        if not self.enabled:
            try:
                yield sp
            finally:
                sp.end = time.perf_counter() - self.t0
            return
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        if tag_jobs:
            sp.group = f"{self.run_id}-{idx}"
            self.sc.setJobGroup(sp.group, name)
        cpu0 = python_worker_cpu_s(self.sc) if python_cpu else 0.0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self.t0
            if python_cpu:
                sp.python_cpu_s = python_worker_cpu_s(self.sc) - cpu0
            if tag_jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                sp.jobs, sp.stages = job_counts(self.sc, sp.group)
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        """Write the spans and ``extra`` (the run-state record) as one
        JSON file."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [{"id": i, "name": s.name, "start": round(s.start, 6),
                        "end": round(s.end, 6), "parent": s.parent,
                        "run_id": s.run_id, "group": s.group,
                        "jobs": s.jobs, "stages": s.stages,
                        "python_cpu_s": round(s.python_cpu_s, 4)}
                       for i, s in enumerate(self.spans)], "run": extra}, fh)


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, stages) launched under ``group``, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


# ---------------------------------------------------------------------------
# Event log: per-job-group executor metrics
# ---------------------------------------------------------------------------

@dataclass
class GroupMetrics:
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> dict[str, GroupMetrics]:
    """Aggregate task metrics by job group over the event logs in
    ``log_dir``, one uncompressed file per application. A stage is
    charged to the first job that lists it."""
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    for name in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str] = {}
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                _account(json.loads(line), stage_group, out)
    return out


def _account(ev: dict, stage_group: dict, out: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        if group is None:
            return
        for s in ev.get("Stage IDs", []):
            stage_group.setdefault(s, group)
    elif kind == "SparkListenerTaskEnd":
        group = stage_group.get(ev.get("Stage ID"))
        tm = ev.get("Task Metrics")
        if group is None or not tm:
            return
        g = out[group]
        g.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        sw = tm.get("Shuffle Write Metrics") or {}
        g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        g.shuffle_write_records += sw.get("Shuffle Records Written", 0)
        g.spill_bytes += tm.get("Disk Bytes Spilled", 0)


# ---------------------------------------------------------------------------
# /proc probes
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def jvm_pid(sc) -> int | None:
    """Pid of the py4j gateway JVM, which hosts the scheduler and the
    local executors."""
    proc = getattr(sc._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid``: each thread lists only the
    children it forked itself."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def python_workers(sc) -> list[int]:
    """Pids of the PySpark daemon and its workers under this JVM."""
    root = jvm_pid(sc)
    if root is None:
        return []
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in _children(pid):
            todo.append(c)
            try:
                with open(f"/proc/{c}/cmdline", "rb") as fh:
                    if b"pyspark.daemon" in fh.read():
                        out.append(c)
            except OSError:
                pass
    return out


def _proc_cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid``, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[11..14] = utime stime cutime cstime
    return sum(int(x) for x in fields[11:15])


def python_worker_cpu_s(sc) -> float:
    """User+system CPU of the PySpark daemon and workers, including
    workers that have exited (their time lands in the daemon's
    cutime/cstime once reaped)."""
    return sum(_proc_cpu_ticks(p) for p in python_workers(sc)) / _CLK


class CpuMeter:
    """CPU time (user + system) of the whole benchmark: this driver
    process, the gateway JVM and the PySpark workers, with the JVM's JIT
    compiler threads counted apart. Time the hypervisor steals from a
    vCPU is not charged to the process that was on it.

    The compiler threads must live as long as the JVM
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the CPU of a thread
    that starts and ends between two readings shows only in the process
    total."""

    def __init__(self, sc):
        self.sc, self.pid = sc, jvm_pid(sc)
        self.jit_ticks: dict[str, int] = {}

    def _jit_s(self) -> float:
        task = f"/proc/{self.pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/comm") as fh:
                    if not fh.read().startswith(("C1 Compiler", "C2 Compiler")):
                        continue
                with open(f"{task}/{tid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            self.jit_ticks[tid] = int(f[11]) + int(f[12])
        return sum(self.jit_ticks.values()) / _CLK

    def read(self) -> tuple[float, float]:
        """Cumulative (CPU seconds without JIT, JIT CPU seconds)."""
        jit = self._jit_s()
        total = (time.process_time() + _proc_cpu_ticks(self.pid) / _CLK
                 + python_worker_cpu_s(self.sc))
        return total - jit, jit


def python_worker_peak_rss_mb(sc) -> float:
    """Largest peak resident set of the PySpark daemon and workers."""
    peak = 0
    for pid in python_workers(sc):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def jvm_gc_s(sc) -> float:
    """Cumulative GC time of the py4j gateway JVM, which also hosts the
    local executors."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0)
               for b in mf.getGarbageCollectorMXBeans()) / 1e3

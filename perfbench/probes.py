"""Outside-in probes: Spark's status store, ``/proc`` and a span tracer.

Everything here is read between operations, never during one.  Spark's
in-JVM status store is populated with the UI off; its listener is
asynchronous, so each read first drains the listener bus.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat``)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def cpu_times() -> Dict[str, int]:
    """Machine-wide jiffies from ``/proc/stat`` (total and steal)."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return {"total": sum(vals[:8]), "steal": vals[7] if len(vals) > 7 else 0}


def _proc_table() -> Dict[int, tuple]:
    """pid -> (ppid, comm, utime + stime + cutime + cstime ticks)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw.rsplit(")", 1)[1].split()
        procs[int(name)] = (int(f[1]), comm, sum(int(x) for x in f[11:15]))
    return procs


def descendants(pid: int, procs: Optional[Dict[int, tuple]] = None) -> List[int]:
    procs = _proc_table() if procs is None else procs
    children: Dict[int, List[int]] = {}
    for p, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(p)
    out, stack = [], list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used by the JVM's Python workers: live descendants'
    own time plus the time of workers already reaped (their parents'
    ``cutime``/``cstime``)."""
    procs = _proc_table()
    return sum(procs[p][2] for p in descendants(jvm_pid, procs)
               if procs[p][1].startswith("python")) / _TICK


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int
    tasks: int
    stage_ids: List[int]


@dataclass
class Stage:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class StatusStore:
    """Reads finished jobs and stages from the JVM status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.next_job = 0
        self._stages_seen: set = set()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def new_jobs(self) -> List[Job]:
        """Jobs submitted since the last call, after draining the bus."""
        self.drain()
        out = []
        while True:
            try:
                j = self._store.job(self.next_job)
            except Py4JJavaError:
                return out
            sub, end = j.submissionTime(), j.completionTime()
            ids = j.stageIds()
            out.append(Job(
                j.jobId(),
                sub.get().getTime() if sub.isDefined() else 0,
                end.get().getTime() if end.isDefined() else 0,
                j.numTasks() - j.numSkippedTasks(),
                [ids.apply(i) for i in range(ids.length())],
            ))
            self.next_job += 1

    def skip(self) -> None:
        """Advance past every submitted job without reading it."""
        self.drain()
        while True:
            try:
                self._store.job(self.next_job)
            except Py4JJavaError:
                return
            self.next_job += 1

    def stages(self, jobs: List[Job]) -> Stage:
        """Summed executor metrics of the jobs' stages, each stage once."""
        tot = Stage()
        for job in jobs:
            for sid in job.stage_ids:
                if sid in self._stages_seen:
                    continue
                self._stages_seen.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                tot.run_s += s.executorRunTime() / 1e3
                tot.cpu_s += s.executorCpuTime() / 1e9
                tot.gc_s += s.jvmGcTime() / 1e3
                tot.shuffle_write_bytes += s.shuffleWriteBytes()
                tot.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return tot


def busy_s(jobs: List[Job], lo_ms: float, hi_ms: float) -> float:
    """Length of the union of the jobs' intervals, clipped to [lo, hi]."""
    spans = sorted((max(j.start_ms, lo_ms), min(j.end_ms, hi_ms)) for j in jobs)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1e3


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    jobs: List[Job] = field(default_factory=list)
    stages: Stage = field(default_factory=Stage)
    python_cpu_s: float = 0.0
    counts: Dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def job_s(self) -> float:
        return busy_s(self.jobs, self.start * 1e3, self.end * 1e3)

    @property
    def driver_s(self) -> float:
        return self.wall_s - self.job_s

    def record(self) -> dict:
        return {
            "name": self.name, "start": self.start, "end": self.end,
            "parent": self.parent, "job_ids": [j.job_id for j in self.jobs],
            "tasks": sum(j.tasks for j in self.jobs),
            "job_s": self.job_s, "driver_s": self.driver_s,
            "python_cpu_s": self.python_cpu_s,
            "executor_run_s": self.stages.run_s,
            "executor_cpu_s": self.stages.cpu_s, "gc_s": self.stages.gc_s,
            "shuffle_write_bytes": self.stages.shuffle_write_bytes,
            "spill_bytes": self.stages.spill_bytes, "counts": self.counts,
        }


class Tracer:
    """Spans around the benchmark's calls into the program's layers.

    A span owns the Spark jobs submitted while it is the innermost open
    span.  Jobs are found by job id in the status store at span
    boundaries, so jobs that the program submits from its own threads are
    assigned correctly and its job groups are not needed.  With
    ``enabled`` false a span only times its body.
    """

    def __init__(self, spark, jvm_pid: int, enabled: bool):
        self.enabled = enabled
        self.store = StatusStore(spark)
        self.jvm_pid = jvm_pid
        self.spans: List[Span] = []
        self._open: List[int] = []
        self.bookkeeping_s = 0.0

    def _flush_into_open(self) -> None:
        """Hand jobs and worker CPU since the last boundary to the
        innermost open span."""
        jobs = self.store.new_jobs()
        cpu = python_worker_cpu_s(self.jvm_pid)
        if self._open:
            sp = self.spans[self._open[-1]]
            sp.jobs += jobs
            st = self.store.stages(jobs)
            for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                setattr(sp.stages, k, getattr(sp.stages, k) + getattr(st, k))
            sp.python_cpu_s += cpu - self._cpu_mark
        self._cpu_mark = cpu

    def flush(self) -> None:
        """Bring the job cursor up to date between operations."""
        if self.enabled:
            self._flush_into_open()
        else:
            self.store.skip()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            sp = Span(name, time.time())
            yield sp
            sp.end = time.time()
            return
        t = time.perf_counter()
        self._flush_into_open()
        sp = Span(name, 0.0, parent=self._open[-1] if self._open else None)
        self.spans.append(sp)
        self._open.append(len(self.spans) - 1)
        self.bookkeeping_s += time.perf_counter() - t
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t = time.perf_counter()
            self._flush_into_open()
            self._open.pop()
            self.bookkeeping_s += time.perf_counter() - t

    def start(self) -> None:
        if self.enabled:
            self.store.new_jobs()
            self._cpu_mark = python_worker_cpu_s(self.jvm_pid)

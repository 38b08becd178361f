"""Spans, Spark event-log rollup and a /proc process-tree sampler.

Spans are recorded from outside the program, around calls into its public
functions. Each span has a name, a start, an end and a parent; spans stay
in memory and are written out once, when the run ends. In a traced run
every span also tags the Spark jobs it starts with the local property
``crawlbench.span`` (a property of its own, so job groups set inside the
program never overwrite it), and the event log is rolled up per span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "crawlbench.span"

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)

CPU_KEYS = ("jvm.jit", "jvm.gc", "jvm.task", "jvm.other", "pyworker",
            "driver_py")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file."""
    raw = _read(path)
    if raw is None:
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    return raw[lpar + 1:rpar], raw[rpar + 2:].split()


def _thread_kind(comm: str) -> str:
    if "Compiler" in comm:                       # C1/C2 CompilerThread
        return "jvm.jit"
    if comm.startswith(("GC Thread", "G1 ")):     # G1 workers + concurrent
        return "jvm.gc"
    if comm.startswith("Executor task"):          # "Executor task launch …"
        return "jvm.task"
    return "jvm.other"


class ProcTree:
    """CPU seconds of this process and every descendant, split by role.

    A process's stat counts its own CPU plus that of children it reaped,
    so the sum over live processes of (utime+stime+cutime+cstime) never
    loses a reaped Python worker. JVM threads are split by thread name;
    the CPU of a thread that ended between samples is kept at its last
    sampled value, and whatever no sampled thread accounts for is
    ``jvm.other``.
    """

    def __init__(self, root_pid: int | None = None) -> None:
        self.root = root_pid or os.getpid()
        self._threads: dict[int, tuple[str, float]] = {}
        self._lock = threading.Lock()
        self.peak_rss_mb = 0.0

    def _tree(self) -> dict[int, tuple[str, list[str]]]:
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(f"/proc/{d}/stat")
                if st is not None:
                    procs[int(d)] = st
        children: dict[int, list[int]] = {}
        for pid, (_, f) in procs.items():
            children.setdefault(int(f[1]), []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                out[pid] = procs[pid]
                todo.extend(children.get(pid, ()))
        return out

    def sample(self, threads: bool = True) -> dict[str, float]:
        """One reading: cumulative CPU seconds per role, plus ``total``."""
        cpu = dict.fromkeys(CPU_KEYS, 0.0)
        rss = 0.0
        jvm_pids = []
        for pid, (comm, f) in self._tree().items():
            own = (int(f[11]) + int(f[12])) / _CLK_TCK
            reaped = (int(f[13]) + int(f[14])) / _CLK_TCK
            rss += int(f[21]) * _PAGE_MB
            if pid == self.root:
                cpu["driver_py"] += own + reaped
            elif comm == "java":
                cpu["jvm.other"] += own
                cpu["pyworker"] += reaped
                jvm_pids.append(pid)
            else:
                cpu["pyworker"] += own + reaped
        if threads:
            with self._lock:
                for pid in jvm_pids:
                    tdir = f"/proc/{pid}/task"
                    try:
                        tids = os.listdir(tdir)
                    except OSError:
                        continue
                    for tid in tids:
                        st = _stat(f"{tdir}/{tid}/stat")
                        if st is not None:
                            comm, f = st
                            self._threads[int(tid)] = (
                                _thread_kind(comm),
                                (int(f[11]) + int(f[12])) / _CLK_TCK)
                by_kind = dict.fromkeys(("jvm.jit", "jvm.gc", "jvm.task"), 0.0)
                for kind, secs in self._threads.values():
                    if kind in by_kind:
                        by_kind[kind] += secs
            for kind, secs in by_kind.items():
                cpu[kind] = secs
                cpu["jvm.other"] -= secs
        self.peak_rss_mb = max(self.peak_rss_mb, rss)
        cpu["total"] = sum(cpu[k] for k in CPU_KEYS)
        return cpu


class Sampler:
    """Background thread that samples a ProcTree every ``interval`` s, so
    short-lived JVM threads and the RSS peak are seen between spans."""

    def __init__(self, tree: ProcTree, interval: float = 0.5) -> None:
        self.tree = tree
        self.interval = interval
        self.cpu_s = 0.0                     # the sampler's own CPU time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.tree.sample()
        self.cpu_s = time.thread_time()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs",
                 "cpu_start", "cpu_end")

    def __init__(self, sid, name, parent, attrs) -> None:
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = self.end = 0.0
        self.cpu_start = self.cpu_end = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    def cpu(self, key: str = "total") -> float:
        if self.cpu_start is None or self.cpu_end is None:
            return 0.0
        return self.cpu_end[key] - self.cpu_start[key]

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.start, "end": self.end, "attrs": self.attrs}


class Tracer:
    """Records spans. ``traced`` adds Spark job tagging and per-span /proc
    readings; untraced runs keep only the two clock reads per span."""

    def __init__(self, traced: bool, tree: ProcTree) -> None:
        self.traced = traced
        self.tree = tree
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None                       # set once a SparkContext exists
        self.sample_s = 0.0                  # wall spent reading /proc

    def _sample(self) -> dict[str, float]:
        t0 = time.perf_counter()
        cpu = self.tree.sample()
        self.sample_s += time.perf_counter() - t0
        return cpu

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.traced:
            s.cpu_start = self._sample()
            self._tag(s.id)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            if self.traced:
                s.cpu_end = self._sample()
                self._tag(parent.id if parent else None)
            self._stack.pop()

    def _tag(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY,
                                     None if sid is None else str(sid))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, per: dict[int, dict]) -> None:
        """Spans as JSON, each with its event-log rollup."""
        with open(path, "w") as f:
            json.dump([{**s.to_json(), **per.get(s.id, {})}
                       for s in self.spans], f)


# --- Spark event log -------------------------------------------------------

class JobStats:
    __slots__ = ("span", "start", "end", "stages", "tasks", "task_cpu_s",
                 "task_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, span: int | None, start: float) -> None:
        self.span, self.start, self.end = span, start, start
        self.stages = self.tasks = 0
        self.task_cpu_s = self.task_run_s = self.gc_s = 0.0
        self.shuffle_write_bytes = self.spill_bytes = 0


def read_event_logs(log_dir: str) -> list[JobStats]:
    """Every Spark job in the event logs under ``log_dir``, with its span
    tag and the task metrics of its stages."""
    jobs: list[JobStats] = []
    for root, _, files in os.walk(log_dir):
        for name in sorted(f for f in files if f.startswith("events_")):
            stage_job: dict[int, JobStats] = {}
            by_id: dict[int, JobStats] = {}
            with open(os.path.join(root, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        tag = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                        job = JobStats(None if tag is None else int(tag),
                                       ev["Submission Time"] / 1000)
                        by_id[ev["Job ID"]] = job
                        jobs.append(job)
                        for sid in ev.get("Stage IDs", ()):
                            stage_job.setdefault(sid, job)
                    elif kind == "SparkListenerJobEnd":
                        job = by_id.get(ev["Job ID"])
                        if job is not None:
                            job.end = ev["Completion Time"] / 1000
                    elif kind == "SparkListenerStageCompleted":
                        job = stage_job.get(ev["Stage Info"]["Stage ID"])
                        if job is not None:
                            job.stages += 1
                    elif kind == "SparkListenerTaskEnd":
                        job = stage_job.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if job is None or not m:
                            continue
                        job.tasks += 1
                        job.task_cpu_s += m["Executor CPU Time"] / 1e9
                        job.task_run_s += m["Executor Run Time"] / 1e3
                        job.gc_s += m["JVM GC Time"] / 1e3
                        job.spill_bytes += m["Disk Bytes Spilled"]
                        job.shuffle_write_bytes += (
                            m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
    return jobs


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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
    return total


def rollup(tracer: Tracer, jobs: list[JobStats]) -> dict[int, dict]:
    """Per span: Spark counters of the jobs it tagged (its own and its
    descendants'), ``spark_s`` (wall covered by those jobs) and ``self_s``
    (wall minus the part covered by child spans and its own jobs)."""
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    own: dict[int, list[JobStats]] = {}
    for j in jobs:
        if j.span is not None:
            own.setdefault(j.span, []).append(j)

    def subtree_jobs(s: Span) -> list[JobStats]:
        out = list(own.get(s.id, ()))
        for c in children.get(s.id, ()):
            out.extend(subtree_jobs(c))
        return out

    out = {}
    for s in tracer.spans:
        js = subtree_jobs(s)
        job_iv = [(j.start, j.end) for j in js]
        child_iv = ([(c.start, c.end) for c in children.get(s.id, ())]
                    + [(j.start, j.end) for j in own.get(s.id, ())])
        spark_s = covered(job_iv, s.start, s.end)
        out[s.id] = {
            "wall_s": s.wall,
            "jobs": len(js),
            "stages": sum(j.stages for j in js),
            "tasks": sum(j.tasks for j in js),
            "spark_s": spark_s,
            "driver_s": s.wall - spark_s,
            "self_s": s.wall - covered(child_iv, s.start, s.end),
            "task_cpu_s": sum(j.task_cpu_s for j in js),
            "task_run_s": sum(j.task_run_s for j in js),
            "gc_s": sum(j.gc_s for j in js),
            "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in js),
            "spill_bytes": sum(j.spill_bytes for j in js),
        }
    return out

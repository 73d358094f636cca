"""Benchmark-side tracing: spans, Spark job attribution, event-log parsing and
a process-tree memory sampler.

Everything here runs outside the engine. A span wraps one call the benchmark
makes into the engine's public API. With tracing on, each span also sets its
own Spark job group, so the jobs, stages and tasks it launched can be counted
from ``statusTracker`` and the per-task metrics of the event log can be
attributed to it. Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    """Records spans; with ``enabled`` also attributes Spark work to them."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent in tracing code itself

    @contextmanager
    def span(self, name: str, **attrs):
        """A span around one call. A top-level span also records, outside
        its timed interval, the CPU seconds the process tree used in it
        (``cpu_s``) and the part of them the JVM's JIT compiler used
        (``jit_s``), and the share of the host's CPU time the hypervisor
        stole meanwhile (``steal``)."""
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0,
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup(s.group, name)
            self.bookkeeping_s += time.perf_counter() - t
        if parent is None:
            ticks0, cpu0 = cpu_ticks(), tree_cpu_s(os.getpid())
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if parent is None:
                cpu, jit = tree_cpu_s(os.getpid())
                s.attrs["cpu_s"], s.attrs["jit_s"] = cpu - cpu0[0], jit - cpu0[1]
                stolen, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
                s.attrs["steal"] = stolen / total if total else 0.0
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                sc = self.spark.sparkContext
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self.bookkeeping_s += time.perf_counter() - t

    def count_jobs(self) -> None:
        """Fill jobs/stages/tasks of every span from ``statusTracker``.
        Runs once at the end of the run (after the listener bus drained),
        so counting costs nothing inside the timed spans."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(st.getJobIdsForGroup(s.group))
            stage_ids = set()
            for j in s.jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                info = st.getStageInfo(sid)
                # skipped stages (shuffle output reused) ran no task
                if info is not None and info.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += info.numCompletedTasks

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span nested under it."""
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def totals(self, root: Span) -> tuple[int, int, int]:
        """(jobs, stages, tasks) launched under ``root``, children included."""
        sub = self.subtree(root)
        return (
            sum(len(s.jobs) for s in sub),
            sum(s.stages for s in sub),
            sum(s.tasks for s in sub),
        )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [
                        {
                            "id": s.id, "name": s.name, "parent": s.parent,
                            "start": s.start, "end": s.end, "attrs": s.attrs,
                            "jobs": len(s.jobs), "stages": s.stages,
                            "tasks": s.tasks,
                        }
                        for s in self.spans
                    ],
                },
                f,
            )


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

TASK_KEYS = ("run_ms", "cpu_ns", "gc_ms", "spill_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes")


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: summed task metrics from the Spark event log(s) in
    ``log_dir``. Keys per group: ``run_ms``, ``cpu_ns``, ``gc_ms``,
    ``spill_bytes``, ``shuffle_read_bytes``, ``shuffle_write_bytes``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    paths = sorted(
        os.path.join(base, name)
        for base, _, names in os.walk(log_dir)
        for name in names
        if not name.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out.setdefault(group, dict.fromkeys(TASK_KEYS, 0.0))
                    rd = m.get("Shuffle Read Metrics", {})
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    acc["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat.
    Stolen time is time a virtual CPU waited for its physical one."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (the JVM and its Python
    workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` is running (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


# names of the JVM's JIT compiler threads, as /proc cuts them (15 bytes)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
# (pid, tid) -> CPU ticks last read of each JIT compiler thread ever seen,
# so a compiler thread the JVM stops keeps counting as JIT time
_jit_ticks: dict[tuple[int, int], int] = {}


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(CPU seconds, JIT seconds) used so far by ``root`` and its live
    descendants, the children they reaped included, from /proc. The JIT
    seconds are the part of the CPU seconds the JVM's compiler threads
    spent compiling: in a new JVM about a third of an evaluation batch's
    CPU time. Time the hypervisor stole is in neither."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        # utime, stime, cutime, cstime: fields 14-17
        ticks += sum(int(x) for x in st[1][11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            th = _stat(f"/proc/{pid}/task/{tid}/stat")
            if th is not None and th[0] in _JIT_THREADS:
                _jit_ticks[pid, int(tid)] = int(th[1][11]) + int(th[1][12])
    jit = sum(_jit_ticks.values())
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """One background thread sampling the process tree's resident memory."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

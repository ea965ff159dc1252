"""Spans around calls into the package, with Spark counters read at
each span boundary.

A span records its name, its parent, its wall interval and the JVM's
GC time at both ends. While a span is open its own Spark job group is
set, so every job the call starts is labelled with the span; when the
run ends, :meth:`Tracer.resolve` reads, per group, the job, stage and
task counts from Spark's public ``StatusTracker`` and the shuffle and
spill bytes from the status store. Nothing is read from the status
store while the work runs, so a span costs two ``setJobGroup`` calls
and two GC-bean reads.

With ``detail=False`` (the untraced run) only the spans opened with
``detail=False`` are recorded: the benchmark keeps one span per pass
there, to check that every pass ran the same number of jobs.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")


#: JVM threads whose CPU is warm-up, not work: the JIT compilers. The
#: JVM runs with a fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads),
#: so none exits and takes its count into the process total unseen.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(path: str) -> "tuple[str, int, int] | None":
    """(comm, ppid, utime + stime + cutime + cstime) from a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process or thread ended while we listed
        return None
    comm, rest = raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()
    # rest[1] is the ppid; rest[11:15] utime, stime, cutime, cstime
    return comm, int(rest[1]), sum(int(x) for x in rest[11:15])


def cpu_s(root: int) -> float:
    """CPU seconds, user and system, used so far by this Python process
    and by process ``root`` with all its live descendants (the JVM and
    its Python workers), including children they have reaped, less the
    JVM's JIT compiler threads. Read from /proc: time the host gives to
    other tenants is not in it."""
    stat = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (t := _ticks(f"/proc/{d}/stat")) is not None:
            stat[int(d)] = t[1:]
    if root in stat and os.path.isdir(f"/proc/{root}/task"):
        jit = 0
        for tid in os.listdir(f"/proc/{root}/task"):
            t = _ticks(f"/proc/{root}/task/{tid}/stat")
            if t is not None and t[0].startswith(JIT_THREADS):
                jit += t[2]
        stat[root] = (stat[root][0], stat[root][1] - jit)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stat:
            ticks += stat[pid][1]
            todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


@dataclass
class Span:
    name: str
    sid: int
    parent: "int | None"
    group: str
    start: float = 0.0
    end: float = 0.0
    gc_ms: float = 0.0
    overhead_s: float = 0.0
    phase: str = ""
    extra: dict = field(default_factory=dict)
    own: dict = field(default_factory=dict)
    total: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def busy_s(self) -> float:
        return self.end - self.start


class SparkProbe:
    """Reads counters from a live SparkContext through its public
    ``StatusTracker``, the status store's per-stage data and the JVM's
    ``GarbageCollectorMXBeans``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.beans = list(
            self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self.beans))

    def set_group(self, group: "str | None") -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the last job's stages."""
        self.bus.waitUntilEmpty(60_000)

    def counts(self, group: str) -> dict:
        """Jobs, stages that ran, tasks completed, shuffle bytes written
        and bytes spilled (memory + disk) by the jobs of ``group``.
        Stages skipped because their output was reused are not counted."""
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


class Tracer:
    """Collects nested spans in memory. With ``detail=False``,
    ``span(name)`` is a no-op, so the untraced run times the same code
    with no tracing calls in it; ``span(name, detail=False)`` is always
    recorded. ``phase`` labels the spans opened while it is set."""

    def __init__(self, probe=None, detail: bool = True):
        self.probe = probe
        self.detail = detail
        self.phase = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, detail: bool = True):
        if detail and not self.detail:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.sid if parent else None,
                 f"pb:{len(self.spans)}:{name}", phase=self.phase)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        gc0 = 0.0
        if self.probe is not None:
            self.probe.set_group(s.group)
            gc0 = self.probe.gc_ms()
        s.start = time.perf_counter()
        s.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.probe is not None:
                s.gc_ms = self.probe.gc_ms() - gc0
                self.probe.set_group(parent.group if parent else None)
            s.overhead_s += time.perf_counter() - s.end

    def resolve(self) -> None:
        """Fill ``own`` and ``total`` counters of every span. Call once,
        with no span open, before the Spark session stops."""
        if self.probe is not None:
            self.probe.drain()
        for s in self.spans:
            s.own = (
                self.probe.counts(s.group)
                if self.probe is not None
                else dict.fromkeys(COUNTERS, 0)
            )
        for s in reversed(self.spans):  # children always follow their parent
            s.total = dict(s.own)
            for c in s.children:
                for k in COUNTERS:
                    s.total[k] += c.total[k]

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

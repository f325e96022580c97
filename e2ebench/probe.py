"""Measurement helpers: process CPU and memory from /proc, host steal,
spans around the engine's public methods, and Spark's event log.

Spans are recorded by wrappers set on class attributes (see
:class:`Tracer`); the engine's code is not edited.  Jobs, tasks,
executor CPU and shuffle bytes come from the event log and are
attributed to a span by job submission time.  That works because each
workload is a closed loop driven from one thread: while a span is open
no other driver code submits jobs.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- /proc -------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing parenthesis
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[2]), []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> dict[str, list[int]]:
    """This process and its descendants, by role: ``driver`` (this
    Python process), ``jvm`` and ``pyworker`` (Python daemon + workers)."""
    root = root or os.getpid()
    kids = _children_map()
    out: dict[str, list[int]] = {"driver": [root], "jvm": [], "pyworker": []}
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        st = _stat(pid)
        if st is None:
            continue
        comm = st[0]
        if comm == "java":
            out["jvm"].append(pid)
        elif comm.startswith("python") or comm.startswith("pyspark"):
            out["pyworker"].append(pid)
        stack.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int], include_children: bool = True) -> float:
    """utime+stime of ``pids`` (plus their reaped children, whose
    processes are gone from the tree and so are not counted twice)."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            # fields 14-17 of stat(5); st[0] is field 2
            total += int(st[12]) + int(st[13])
            if include_children:
                total += int(st[14]) + int(st[15])
    return total / _TICK


def hwm_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def process_age_s() -> float:
    """Seconds since this process started (``starttime`` of stat(5)
    against the system uptime; clock-tick resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[20]) / _TICK


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


@dataclass
class ProcSnapshot:
    driver: float
    jvm: float
    pyworker: float
    steal: float

    @classmethod
    def take(cls) -> "ProcSnapshot":
        tree = process_tree()
        return cls(
            # the driver's own time only: its children are the JVM tree
            cpu_seconds(tree["driver"], include_children=False),
            cpu_seconds(tree["jvm"], include_children=False),
            cpu_seconds(tree["pyworker"]),
            steal_seconds(),
        )

    def cpu_minus(self, other: "ProcSnapshot") -> float:
        """CPU seconds of the driver, JVM and Python workers since ``other``."""
        return (self.driver + self.jvm + self.pyworker) - (other.driver + other.jvm + other.pyworker)

    def minus(self, other: "ProcSnapshot") -> dict[str, float]:
        return {
            "driver_cpu_s": self.driver - other.driver,
            "jvm_cpu_s": self.jvm - other.jvm,
            "pyworker_cpu_s": self.pyworker - other.pyworker,
            "steal_s": self.steal - other.steal,
        }


def peak_rss_mb() -> float:
    tree = process_tree()
    return hwm_mb(tree["driver"] + tree["jvm"] + tree["pyworker"])


# -- JVM MXBeans ------------------------------------------------------------------


def jvm_gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000


def jvm_jit_seconds(spark) -> float:
    """Elapsed time the JVM's JIT compilers have spent compiling."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000


def jvm_heap_reset(spark) -> None:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for p in mf.getMemoryPoolMXBeans():
        if p.getType().name() == "HEAP":
            p.resetPeakUsage()


def jvm_heap_peak_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    ) / 2**20


# -- spans ------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log also uses
    end: float
    parent: int | None


@dataclass
class Tracer:
    """In-memory spans from wrappers set on class attributes."""

    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)
    _undo: list[tuple[type, str, object]] = field(default_factory=list)

    def wrap(self, cls: type, attr: str, name: str) -> None:
        inner = cls.__dict__[attr]
        tracer = self

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            parent = tracer._open[-1] if tracer._open else None
            sp = Span(name, time.time(), 0.0, parent)
            tracer.spans.append(sp)
            tracer._open.append(len(tracer.spans) - 1)
            try:
                return inner(*args, **kwargs)
            finally:
                tracer._open.pop()
                sp.end = time.time()

        self._undo.append((cls, attr, inner))
        setattr(cls, attr, traced)

    def unwrap(self) -> None:
        while self._undo:
            cls, attr, inner = self._undo.pop()
            setattr(cls, attr, inner)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.named(name)]

    def self_time(self, name: str) -> list[float]:
        """Each span's duration minus what its direct children cover."""
        idx = {id(s): i for i, s in enumerate(self.spans)}
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        return [
            (s.end - s.start) - child.get(idx[id(s)], 0.0) for s in self.named(name)
        ]


# -- event log -----------------------------------------------------------------------


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    tasks_by_stage: dict[int, int]
    cpu_by_stage: dict[int, float]  # executor CPU seconds
    shuffle_by_stage: dict[int, float]  # read + write bytes

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        # Spark 4 writes a rolling-log directory of events_* files
        files = sorted(
            p
            for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
        )
        jobs: list[Job] = []
        tasks: dict[int, int] = {}
        cpu: dict[int, float] = {}
        shuffle: dict[int, float] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs.append(
                            Job(ev["Job ID"], ev["Submission Time"] / 1000, list(ev["Stage IDs"]))
                        )
                    elif kind == "SparkListenerTaskEnd":
                        sid = ev["Stage ID"]
                        m = ev.get("Task Metrics") or {}
                        tasks[sid] = tasks.get(sid, 0) + 1
                        cpu[sid] = cpu.get(sid, 0.0) + m.get("Executor CPU Time", 0) / 1e9
                        sr = m.get("Shuffle Read Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        shuffle[sid] = (
                            shuffle.get(sid, 0.0)
                            + sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)
                            + sw.get("Shuffle Bytes Written", 0)
                        )
        return cls(jobs, tasks, cpu, shuffle)

    def in_spans(self, spans: list[Span]) -> dict[str, float]:
        """Jobs, tasks, executor CPU and shuffle MB of the jobs submitted
        inside ``spans`` (a job belongs to the span open when it starts)."""
        out = {"jobs": 0, "tasks": 0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0}
        for j in self.jobs:
            # submission times are whole milliseconds
            if any(s.start - 0.001 <= j.submitted <= s.end for s in spans):
                out["jobs"] += 1
                for sid in j.stages:
                    out["tasks"] += self.tasks_by_stage.get(sid, 0)
                    out["exec_cpu_s"] += self.cpu_by_stage.get(sid, 0.0)
                    out["shuffle_mb"] += self.shuffle_by_stage.get(sid, 0.0) / 2**20
        return out


def read_dir(path: str, *cols: str) -> list[tuple]:
    """Rows of an output directory (hive-partitioned parquet), read
    with pyarrow rather than through the engine."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    d = ds.dataset(path, format="parquet", partitioning="hive")
    if not d.files:
        return []
    t = d.to_table(columns=list(cols))
    return list(zip(*(t.column(c).to_pylist() for c in cols)))

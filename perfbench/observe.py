"""What the benchmark observes from outside the program: spans around calls
into each layer, Spark job/stage/task counts per span, and the process
tree's peak memory and CPU split read from ``/proc``."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of ``/proc/stat``."""
    text = _read("/proc/stat") or "cpu 0"
    vals = [int(v) for v in text.splitlines()[0].split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def load1() -> float:
    text = _read("/proc/loadavg")
    return float(text.split()[0]) if text else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat:
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every live process below this one."""
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _kind(pid: int, comm: str) -> str:
    if pid == os.getpid():
        return "driver_py"
    if comm == "java":
        return "jvm"
    if comm.startswith("python"):
        return "py"
    return "other"


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process and its descendants, by kind: the
    driver, the JVM, the Python workers. Each process counts its own
    time plus that of the children it has reaped, so a worker that ends
    between two readings stays counted under its parent. The kernel
    keeps steal out of these times, unlike wall time."""
    out: dict[str, float] = {}
    for pid in [os.getpid(), *descendants()]:
        stat = _read(f"/proc/{pid}/stat")
        if not stat:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        fields = stat.rsplit(")", 1)[1].split()
        # fields[11:15]: utime, stime, cutime, cstime
        cpu = sum(int(f) for f in fields[11:15]) / CLK_TCK
        kind = _kind(pid, comm)
        out[kind] = out.get(kind, 0.0) + cpu
    return out


def tree_peak_rss() -> dict[str, int]:
    """Peak resident bytes (``VmHWM``, which the kernel keeps, so no
    sampling interval can miss a peak) of this process and its live
    descendants, summed by kind, and the number of processes of each kind
    under ``n_<kind>``."""
    out: dict[str, int] = {}
    for pid in [os.getpid(), *descendants()]:
        stat = _read(f"/proc/{pid}/stat")
        status = _read(f"/proc/{pid}/status")
        if not stat or not status:
            continue
        kind = _kind(pid, stat[stat.index("(") + 1 : stat.rindex(")")])
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                out[kind] = out.get(kind, 0) + int(line.split()[1]) * 1024
                out[f"n_{kind}"] = out.get(f"n_{kind}", 0) + 1
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rep: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans around calls into the program's layers, kept in memory.

    With ``spark`` set, each span also tags its Spark jobs with a job group
    and, when it ends, counts the jobs, stages and tasks of that group, and
    the CPU seconds each kind of process in the tree spent inside it."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.rep = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.rep)
        self.spans.append(s)
        self._stack.append(idx)
        group = f"perfbench-{idx}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, name)
            cpu0 = tree_cpu()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                s.attrs.update(spark_counts(sc, group))
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"perfbench-{self._stack[-1]}", outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                cpu1 = tree_cpu()
                for kind in cpu0.keys() | cpu1.keys():
                    s.attrs[f"{kind}_cpu_s"] = cpu1.get(kind, 0.0) - cpu0.get(kind, 0.0)

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append((s.end - s.start) - covered)
        return out

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "rep": s.rep, "self_s": st, **s.attrs}
            for s, st in zip(self.spans, self.self_times())
        ]

    def table(self) -> str:
        """Per-layer table: calls, total and self seconds, Spark jobs."""
        rows: dict[str, list[float]] = {}
        for s, st in zip(self.spans, self.self_times()):
            layer = s.name.split(":")[0]
            r = rows.setdefault(layer, [0, 0.0, 0.0, 0])
            r[0] += 1
            r[1] += s.end - s.start
            r[2] += st
            r[3] += s.attrs.get("jobs", 0)
        width = max([len(k) for k in rows] + [5])
        lines = [f"{'layer':<{width}}  calls  total_s   self_s  jobs"]
        for k, (n, tot, st, jobs) in rows.items():
            lines.append(f"{k:<{width}}  {n:5d}  {tot:7.3f}  {st:7.3f}  {jobs:4d}")
        return "\n".join(lines)


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

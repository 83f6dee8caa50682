"""Measurement helpers: process-tree CPU, machine context and layer spans.

Nothing here reaches into the engine. CPU time comes from ``/proc``;
spans are recorded around the benchmark's own calls into the engine.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Pids of all live descendants of ``pid``."""
    out, stack = [], _children(pid)
    while stack:
        child = stack.pop()
        out.append(child)
        stack.extend(_children(child))
    return out


class ProcessTreeCpu:
    """CPU seconds of this Python process plus a JVM and its descendants
    (the Python worker daemon and its forked workers). A child that exits
    between two samples is still counted: its parent reaps it, which adds
    its time to the parent's ``cutime``/``cstime``."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def _tree_ticks(self) -> int:
        total = 0
        for pid in [self.jvm_pid, *descendants(self.jvm_pid)]:
            f = _stat_fields(pid)
            if f is not None:
                # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
                total += sum(int(x) for x in f[11:15])
        return total

    def seconds(self) -> float:
        t = os.times()
        return t.user + t.system + self._tree_ticks() / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of ``pid`` (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(vals[:8]), vals[7]


class MachineContext:
    """Load average and steal share over a window. Recorded beside the
    metrics for the reader; never used to rescale them."""

    def __init__(self) -> None:
        self.nproc = len(os.sched_getaffinity(0))
        self.load_start = os.getloadavg()
        self._j0 = _cpu_jiffies()

    def finish(self) -> dict:
        total, steal = _cpu_jiffies()
        d_total, d_steal = total - self._j0[0], steal - self._j0[1]
        return {
            "nproc": self.nproc,
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_share": round(d_steal / d_total, 4) if d_total else 0.0,
        }


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark's event-log clock
    end: float
    parent: str | None


@dataclass
class Tracer:
    """Records a span around each layer call of a pass. When ``jobs`` is
    set, the span's name is also set as the Spark job group for the
    calling thread, so the event log can be folded per call."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @property
    def jobs(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.jobs:
            self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if self.jobs:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(parent, parent)
            self.spans.append(Span(name, start, end, parent))


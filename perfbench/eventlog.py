"""Fold an uncompressed Spark event log into per-span counters.

Each Spark job is attributed to the span its job group names, the group
the tracer set on the calling thread. Spark records a job's submission
time in whole milliseconds, so the named span must hold that time give
or take one millisecond. A job whose group names no such span (for
example one submitted from a thread pool inside the engine, whose JVM
thread does not inherit the caller's local properties) is counted as
``untagged`` and goes to the innermost span whose time window holds its
submission time. Layer calls run one at a time, so that window is
unambiguous. Each task follows its stage's job.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from measure import Span


@dataclass
class SpanCounters:
    jobs: int = 0
    untagged_jobs: int = 0
    failed_tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    bytes_written: int = 0
    task_intervals: list[tuple[float, float]] = field(default_factory=list)


def read_events(log_dir: str) -> list[dict]:
    """Events of the single application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1 or names[0].endswith((".inprogress", ".zstd", ".lz4", ".snappy")):
        raise RuntimeError(f"expected one finished uncompressed event log, found {names}")
    with open(os.path.join(log_dir, names[0])) as fh:
        return [json.loads(line) for line in fh if line.strip()]


#: resolution of Spark's event-log timestamps, in seconds
_TICK = 0.001


def _innermost(spans: list[Span], t: float, slack: float = 0.0) -> Span | None:
    best = None
    for s in spans:
        if s.start - slack <= t <= s.end + slack and (
            best is None or s.end - s.start < best.end - best.start
        ):
            best = s
    return best


def _job_span(spans: list[Span], t: float, group: str | None) -> tuple[Span | None, bool]:
    """The span a job submitted at ``t`` under job group ``group`` belongs
    to, and whether its group named that span."""
    named = _innermost([s for s in spans if s.name == group], t, _TICK)
    if named is not None:
        return named, True
    return _innermost(spans, t), False


def fold(events: list[dict], spans: list[Span]) -> dict[int, SpanCounters]:
    """Counters keyed by ``id()`` of each span in ``spans``."""
    out = {id(s): SpanCounters() for s in spans}
    job_span: dict[int, Span] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span, tagged = _job_span(spans, ev["Submission Time"] / 1000.0, group)
            if span is None:
                continue
            job = ev["Job ID"]
            job_span[job] = span
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, job)
            c = out[id(span)]
            c.jobs += 1
            c.untagged_jobs += not tagged
        elif kind == "SparkListenerTaskEnd":
            span = job_span.get(stage_job.get(ev["Stage ID"], -1))
            if span is None:
                continue
            c = out[id(span)]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            c.failed_tasks += bool(info.get("Failed") or info.get("Killed"))
            c.task_intervals.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
            c.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def covered_seconds(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

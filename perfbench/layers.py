"""Per-layer metrics of a traced run, and the check that a run publishes
exactly the metrics ``BENCHMARK.json`` names.

Span nesting is pass -> layer call -> (construct | exec for query keys).
A metric named ``<layer>.<call>.<metric>`` is summed over the calls of
one pass, then the median over the timed passes is reported.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from eventlog import SpanCounters, covered_seconds
from measure import Span

#: layer prefixes each workload exercises; other layers publish 0
OWNED = {
    "migrate": ("plans.", "sources.", "transfer.", "validation."),
    "queries": ("query.",),
}


def _call_metrics(m: dict, s: Span, c: SpanCounters) -> None:
    wall = s.end - s.start
    driver = wall - covered_seconds(c.task_intervals, s.start, s.end)
    layer, _, rest = s.name.partition(".")
    if layer == "transfer":
        for k, v in (("wall_s", wall), ("jobs", c.jobs), ("task_cpu_s", c.task_cpu_s),
                     ("driver_s", driver), ("bytes_written", c.bytes_written)):
            m[f"{s.name}.{k}"] += v
    elif layer == "validation":
        for k, v in (("wall_s", wall), ("jobs", c.jobs), ("input_records", c.input_records),
                     ("driver_s", driver)):
            m[f"{s.name}.{k}"] += v
        m["validation.input_records"] += c.input_records
    elif layer == "query" and rest.endswith((".construct", ".exec")):
        key, _, phase = rest.rpartition(".")
        m[f"query.{key}.{phase}_s"] += wall
        m[f"query.{key}.task_cpu_s"] += c.task_cpu_s
        m[f"query.{key}.shuffle_write_bytes"] += c.shuffle_write_bytes
        m[f"query.{key}.spill_bytes"] += c.spill_bytes
    elif layer in ("plans", "sources"):
        m[f"{s.name}_s"] += wall


def per_layer(
    spans: list[Span],
    counters: dict[int, SpanCounters],
    passes: list[dict],
    session_s: float,
    peak_rss_mb: float,
) -> dict[str, float]:
    pass_spans = sorted((s for s in spans if s.name == "pass"), key=lambda s: s.start)
    if len(pass_spans) != len(passes):
        raise RuntimeError(f"{len(pass_spans)} pass spans for {len(passes)} passes")
    per_pass: list[dict[str, float]] = []
    tasks_failed = 0
    for p, run in zip(pass_spans, passes):
        m: dict[str, float] = defaultdict(float)
        inside = [s for s in spans if s is not p and p.start <= s.start and s.end <= p.end]
        for s in inside + [p]:
            c = counters[id(s)]
            tasks_failed += c.failed_tasks
            m["trace.jobs_untagged"] += c.untagged_jobs
            if s is not p:
                _call_metrics(m, s, c)
        m.update(run["tally"].counters)
        rows = m.pop("validation.rows", 0)
        records = m.pop("validation.input_records", 0)
        if rows:
            m["validation.scan_amplification"] = records / rows
        m["trace.pass_s"] = p.end - p.start
        m["trace.layer_sum_s"] = sum(s.end - s.start for s in inside if s.parent == "pass")
        m["jvm.gc_s"] = run["gc_s"]
        per_pass.append(m)
    names = set().union(*per_pass)
    out = {n: statistics.median(m.get(n, 0.0) for m in per_pass) for n in names}
    out.update({
        "session.start_s": session_s,
        "jvm.peak_rss_mb": peak_rss_mb,
        "tasks_failed": tasks_failed,
    })
    return out


def publish(
    values: dict[str, float], wanted: list[dict], owned: tuple[str, ...] | None
) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every metric in ``wanted``.

    A computed metric that ``wanted`` does not name is an error, and so
    is a wanted metric the run did not compute, except a layer metric
    outside the workload's ``owned`` prefixes, which publishes 0."""
    units = {w["name"]: w["unit"] for w in wanted}
    unknown = sorted(set(values) - set(units))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    out = {}
    for name, unit in units.items():
        if name in values:
            value = values[name]
        elif owned is not None and name.startswith(_all_owned()) and not name.startswith(owned):
            value = 0
        else:
            raise RuntimeError(f"run did not compute metric {name}")
        out[name] = {"value": value, "unit": unit}
    return out


def _all_owned() -> tuple[str, ...]:
    return tuple(p for prefixes in OWNED.values() for p in prefixes)

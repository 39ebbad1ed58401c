"""Stdlib-only reader of an uncompressed Spark event log.

The log is one JSON object per line. Jobs and stages carry the
`spark.jobGroup.id` local property, which the traced run sets to the layer
being called; task-end events carry the run, GC, spill and shuffle metrics.
Summaries are totals per job group, plus the job spans needed for a layer's
driver gap (its wall time minus the union of its job spans).
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"


@dataclass
class LayerStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    job_spans: list[tuple[float, float]] = field(default_factory=list)  # epoch seconds


def read_events(path: str) -> Iterator[dict]:
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def summarize(events: Iterable[dict]) -> dict[str, LayerStats]:
    """Totals per job group; jobs without a group fall under ''."""
    out: dict[str, LayerStats] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}

    def stats(group: str | None) -> LayerStats:
        return out.setdefault(group or "", LayerStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP) or ""
            job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1000)
            stats(group).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            started = job_start.pop(ev["Job ID"], None)
            if started is not None:
                group, t0 = started
                stats(group).job_spans.append((t0, ev["Completion Time"] / 1000))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(GROUP)
            if group is not None:
                stage_group[info["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            stats(stage_group.get(ev["Stage Info"]["Stage ID"])).stages += 1
        elif kind == "SparkListenerTaskEnd":
            s = stats(stage_group.get(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            s.tasks += 1
            s.task_s += m.get("Executor Run Time", 0) / 1000
            s.gc_s += m.get("JVM GC Time", 0) / 1000
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return out


def union_within(spans: Iterable[tuple[float, float]], windows: Iterable[tuple[float, float]]) -> float:
    """Length of the union of `spans`, clipped to the union of `windows`."""
    clipped = sorted(
        (max(a, wa), min(b, wb))
        for wa, wb in windows
        for a, b in spans
        if min(b, wb) > max(a, wa)
    )
    total, end = 0.0, float("-inf")
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def driver_gap(windows: list[tuple[float, float]], job_spans: list[tuple[float, float]]) -> float:
    """Wall time of the layer's calls not covered by any of its jobs."""
    return sum(b - a for a, b in windows) - union_within(job_spans, windows)

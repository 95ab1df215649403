"""Attribute a Spark event log to job groups (standard library only).

With ``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false`` and
rolling off, Spark writes one JSON object per line. Jobs and stages carry the
submitting thread's local properties, so the job group set before a call
(see :class:`linkbench.trace.Tracer`) tags every job and stage that call
runs; tasks are tied to their stage by id.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from dataclasses import dataclass, field, fields

GROUP = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    empty_tasks: int = 0  # read no input or shuffle record
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    executor_run_ms: int = 0
    deserialize_ms: int = 0
    gc_ms: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled
    stage_spans: list[tuple[int, int]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> "GroupStats":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get(GROUP)


def parse(lines: Iterable[str]) -> dict[str | None, GroupStats]:
    """Per job group totals; jobs submitted with no group key under None."""
    out: dict[str | None, GroupStats] = {}
    stage_group: dict[tuple[int, int], str | None] = {}

    def stats(group: str | None) -> GroupStats:
        return out.setdefault(group, GroupStats())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            stats(_group(ev)).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_group[key] = _group(ev)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            s = stats(stage_group.get(key))
            s.stages += 1
            if info.get("Submission Time") and info.get("Completion Time"):
                s.stage_spans.append(
                    (info["Submission Time"], info["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            _add_task(stats(stage_group.get(key)), ev)
    return out


def _add_task(s: GroupStats, ev: dict) -> None:
    s.tasks += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        s.failed_tasks += 1
    m = ev.get("Task Metrics")
    if not m:  # a task that failed before reporting metrics
        return
    rd = m["Shuffle Read Metrics"]
    wr = m["Shuffle Write Metrics"]
    if rd["Total Records Read"] + m["Input Metrics"]["Records Read"] == 0:
        s.empty_tasks += 1
    s.shuffle_write_bytes += wr["Shuffle Bytes Written"]
    s.shuffle_read_bytes += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
    s.executor_run_ms += m["Executor Run Time"]
    s.deserialize_ms += m["Executor Deserialize Time"]
    s.gc_ms += m["JVM GC Time"]
    s.fetch_wait_ms += rd["Fetch Wait Time"]
    s.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]


def covered_ms(spans: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, reach = 0, lo
    for a, b in sorted(spans):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def driver_gap_s(stats: GroupStats, start_s: float, end_s: float) -> float:
    """Span wall minus the time some stage of the span was running."""
    lo, hi = int(start_s * 1000), int(end_s * 1000)
    return (hi - lo - covered_ms(stats.stage_spans, lo, hi)) / 1000.0


def read(path: str) -> dict[str | None, GroupStats]:
    with open(path) as f:
        return parse(f)

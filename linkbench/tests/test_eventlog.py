"""The event-log parser on a small committed Spark 4 event log.

``fixtures/eventlog_small.jsonl`` is a real ``local[2]`` event log cut down to
the fields the parser reads. The run set three job groups:

- ``g-count``: two ``range(100).count()`` calls with a 0.5 s sleep between;
- ``g-shuffle``: a three-key ``groupBy().count().collect()``;
- ``g-empty``: ``range(0, 2)`` over four partitions, so two tasks read nothing.

Jobs run before the first group and after the last one carry no group.

Run with ``python3 -m pytest linkbench/tests``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(__file__))))

from linkbench import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")

# wall-clock (start, end) of each group, as the run that wrote the log took it
SPANS = {
    "g-count": (1792225716.3955827, 1792225717.3858607),
    "g-shuffle": (1792225717.385865, 1792225718.7244477),
    "g-empty": (1792225718.7244499, 1792225719.028129),
}


def test_counts_per_job_group():
    groups = eventlog.read(FIXTURE)
    assert set(groups) == {None, "g-count", "g-shuffle", "g-empty"}
    got = {
        g: (s.jobs, s.stages, s.tasks, s.empty_tasks, s.failed_tasks)
        for g, s in groups.items()
    }
    assert got == {
        None: (4, 4, 6, 0, 0),
        "g-count": (4, 4, 6, 0, 0),
        "g-shuffle": (2, 2, 3, 0, 0),
        "g-empty": (2, 2, 5, 2, 0),
    }


def test_bytes_and_times_per_job_group():
    groups = eventlog.read(FIXTURE)
    shuffle = {g: (s.shuffle_write_bytes, s.shuffle_read_bytes) for g, s in groups.items()}
    assert shuffle == {
        None: (236, 236),
        "g-count": (236, 236),
        "g-shuffle": (266, 266),
        "g-empty": (230, 230),
    }
    assert groups["g-shuffle"].executor_run_ms == 343
    assert groups["g-count"].deserialize_ms == 27
    assert all(s.spill_bytes == 0 for s in groups.values())


def test_driver_gap_is_wall_minus_stage_time():
    groups = eventlog.read(FIXTURE)
    # 990 ms of wall, four stages running 113 + 35 + 41 + 29 ms
    gap = eventlog.driver_gap_s(groups["g-count"], *SPANS["g-count"])
    assert abs(gap - 0.772) < 1e-9
    assert gap > 0.5  # the sleep between the two jobs is driver-only time
    for name, (start, end) in SPANS.items():
        assert 0.0 <= eventlog.driver_gap_s(groups[name], start, end) <= end - start


def test_covered_ms_merges_overlaps_and_clips():
    spans = [(0, 10), (5, 20), (30, 40), (35, 36)]
    assert eventlog.covered_ms(spans, 0, 100) == 30
    assert eventlog.covered_ms(spans, 8, 32) == 14
    assert eventlog.covered_ms([], 0, 100) == 0


def test_group_stats_add():
    groups = eventlog.read(FIXTURE)
    total = eventlog.GroupStats()
    for s in groups.values():
        total.add(s)
    assert total.jobs == 12 and total.tasks == 20
    assert len(total.stage_spans) == total.stages == 12

"""The stdlib event-log reader totals a small recorded log correctly.

`data/small.eventlog` was recorded from Spark 4.1 with
`spark.eventLog.compress=false` and trimmed to the job, stage and task
events. It holds one 4-partition noop write under job group `scan`, and an
aggregation plus a count under job group `agg`."""

from __future__ import annotations

import os

import eventlog
import pytest

LOG = os.path.join(os.path.dirname(__file__), "data", "small.eventlog")


def test_totals_per_group():
    stats = eventlog.summarize(eventlog.read_events(LOG))
    assert set(stats) == {"scan", "agg"}
    scan, agg = stats["scan"], stats["agg"]
    assert (scan.jobs, scan.stages, scan.tasks) == (1, 1, 4)
    assert (agg.jobs, agg.stages, agg.tasks) == (4, 4, 7)
    assert scan.task_s == pytest.approx(0.163)
    assert agg.task_s == pytest.approx(0.990)
    assert agg.gc_s == pytest.approx(0.056)
    assert (scan.shuffle_write_bytes, agg.shuffle_write_bytes) == (0, 973)
    assert scan.spill_bytes == agg.spill_bytes == 0
    assert len(scan.job_spans) == 1 and len(agg.job_spans) == 4
    assert all(b >= a for a, b in scan.job_spans + agg.job_spans)


def test_driver_gap_is_wall_minus_union_of_jobs():
    windows = [(0.0, 10.0), (20.0, 25.0)]
    jobs = [(1.0, 3.0), (2.0, 4.0), (9.0, 21.0), (30.0, 31.0)]
    # covered: [1,4] + [9,10] + [20,21] = 5 of 15 seconds
    assert eventlog.union_within(jobs, windows) == pytest.approx(5.0)
    assert eventlog.driver_gap(windows, jobs) == pytest.approx(10.0)
    assert eventlog.driver_gap(windows, []) == pytest.approx(15.0)

"""Pins the event-log parser against a small committed log.

``fixtures/eventlog`` is a real Spark 4.1 event log, trimmed to the events
and fields the parser reads and rolled into two parts.  It covers, in one
application: a job before any query window, the batch query
``q6_revenue_forecast`` at scale factor 0.001, and the stream drain
``streaming_click_attribution``, whose two micro-batch jobs carry the
stream's run id as their job group.  The second part ends in a partial
line, as a log that is still being written does.  ``fixtures/windows.json``
holds the query windows the harness recorded.

Run with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import json
import os

import pytest

from eventlog import EventLog, Window, combine

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def log():
    return EventLog.load(os.path.join(FIXTURES, "eventlog"))


@pytest.fixture(scope="module")
def windows():
    with open(os.path.join(FIXTURES, "windows.json")) as f:
        return [Window(w["key"], w["start"], w["build_end"], w["end"]) for w in json.load(f)]


def test_reads_every_part_and_stops_at_partial_line(log):
    assert sorted(log.jobs) == list(range(9))
    assert all(job["end"] is not None for job in log.jobs.values())


def test_attributes_jobs_by_window_not_job_group(log, windows):
    jobs = log.attribute(windows)
    assert jobs == {
        "q6_revenue_forecast": [2, 3, 4],
        "streaming_click_attribution": [5, 6, 7, 8],
    }


def test_gap_plus_job_spans_equals_wall(log, windows):
    jobs = log.attribute(windows)
    for w in windows:
        m = log.window_metrics(w, jobs[w.key])
        assert m["check.gap_ok"] == 1.0, w.key
        assert m["driver.gap_s"] + m["check.job_spans_s"] == pytest.approx(w.wall_s, abs=0.01)
        assert 0 < m["driver.gap_s"] < w.wall_s


def test_batch_query_counters(log, windows):
    q6 = windows[0]
    m = log.window_metrics(q6, log.attribute(windows)[q6.key])
    assert (m["driver.jobs"], m["driver.stages"], m["driver.tasks"]) == (3, 3, 3)
    assert m["operators.build_jobs"] == 1
    assert m["sources.input_rows"] == 6000  # lineitem at scale factor 0.001
    assert m["sources.scan_s"] > 0 and m["operators.agg_build_s"] > 0
    assert m["shuffle.write_bytes"] == m["shuffle.read_bytes"] > 0
    assert m["functions.py_run_s"] == 0


def test_stream_drain_counters(log, windows):
    drain = windows[1]
    m = log.window_metrics(drain, log.attribute(windows)[drain.key])
    assert (m["driver.jobs"], m["operators.build_jobs"]) == (4, 3)
    assert m["driver.stages"] == m["driver.tasks"] == 6
    assert m["executor.run_s"] > m["executor.cpu_s"] > 0


def test_combine_sums_and_takes_max_of_skew():
    total = combine({
        "a": {"driver.jobs": 2, "shuffle.skew": 1.5},
        "b": {"driver.jobs": 3, "shuffle.skew": 4.0},
    })
    assert total == {"driver.jobs": 5, "shuffle.skew": 4.0}

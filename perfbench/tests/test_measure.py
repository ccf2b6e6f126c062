"""Unit tests of the benchmark's measurement helpers: the tail
percentile rule, span self time and the event-log parser.

    python3 -m pytest perfbench/tests/test_measure.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import (  # noqa: E402
    Span,
    job_totals,
    parse_event_log,
    self_times,
    tail,
    tail_percentile,
)


@pytest.mark.parametrize("n, p", [(48, 79), (18, 44), (25, 60), (1000, 99),
                                  (11, 9), (10, 0), (1, 0)])
def test_tail_percentile_known_values(n, p):
    assert tail_percentile(n) == p


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(11, 400):
        p = tail_percentile(n)
        assert n - math.ceil(p * n / 100) >= 10
        if p < 99:
            assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_value_and_small_samples():
    values = [float(v) for v in range(48, 0, -1)]  # 48 samples, unsorted
    v, p, n = tail(values)
    assert (p, n) == (79, 48)
    assert v == 38.0  # nearest rank ceil(.79 * 48) = 38
    assert sum(x > v for x in values) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def test_self_times_subtract_union_of_children():
    spans = [
        Span("root", "bench", 0.0, 10.0),
        Span("a", "queries", 1.0, 5.0, parent=0),
        Span("b", "queries", 4.0, 6.0, parent=0),  # overlaps a
        Span("c", "queries", 9.0, 12.0, parent=0),  # clipped to root
        Span("job", "spark", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3.0, 2.0, 3.0, 1.0])


def _log(*events) -> list[str]:
    return [json.dumps(e) for e in events]


def _task(stage, run_ms, cpu_ns, accs=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": list(accs)},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5, "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10,
                                     "Local Bytes Read": 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
        },
    }


def test_parse_event_log_jobs_tasks_and_python_metrics():
    plan = {
        "nodeName": "MapInPandas",
        "metrics": [
            {"name": "time to start Python workers", "accumulatorId": 101,
             "metricType": "nsTiming"},
            {"name": "time to run Python workers", "accumulatorId": 102,
             "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 103,
             "metricType": "size"},
        ],
        "children": [{"nodeName": "Scan", "metrics": [], "children": []}],
    }
    lines = _log(
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "3:q1:build"}},
        _task(0, 100, 2_000_000_000, accs=[
            {"ID": 101, "Name": "time to start Python workers", "Update": 5e8},
            {"ID": 102, "Name": "time to run Python workers", "Update": 250},
            {"ID": 103, "Name": "data sent to Python workers", "Update": 4096},
            {"ID": 999, "Name": "number of output rows", "Update": 12},
        ]),
        _task(1, 300, 1_000_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 50, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    ) + [""]
    jobs = parse_event_log(lines)
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0.group == "3:q1:build" and j1.group is None
    assert (j0.submit_s, j0.end_s) == (1.0, 1.5)
    assert j0.tasks == 2 and j0.stages == [0, 1]
    assert j0.run_s == pytest.approx(0.4)
    assert j0.cpu_s == pytest.approx(3.0)
    assert j0.gc_s == pytest.approx(0.01)
    assert (j0.shuffle_read, j0.shuffle_write, j0.spill) == (60, 80, 16)
    assert j0.python == pytest.approx({
        "python.boot_s": 0.5, "python.run_s": 0.25, "python.bytes_sent": 4096,
    })

    totals = job_totals(jobs, slots=4)
    assert totals["spark.jobs"] == 2
    assert totals["spark.stages"] == 3
    assert totals["spark.tasks"] == 3
    # idle = wall * slots - run: (0.5 * 4 - 0.4) + (0.1 * 4 - 0.05)
    assert totals["spark.idle_s"] == pytest.approx(1.6 + 0.35)
    assert totals["python.boot_s"] == pytest.approx(0.5)
    assert totals["python.init_s"] == 0.0


def test_parse_event_log_ignores_tasks_of_unknown_stages():
    lines = _log(_task(7, 100, 0))
    assert parse_event_log(lines) == []

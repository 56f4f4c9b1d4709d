"""Tests of the event-log folder against a small committed Spark log.

``data/small_eventlog.jsonl`` is a real Spark 4.1 event log cut down to
the four event kinds the folder reads. It holds four job groups:
``g1`` (an aggregate: two jobs, one with a shuffle), ``g2`` (a
``mapInPandas`` job), ``g3`` (a job that failed) and ``g4`` (a Parquet
write).

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.fold_file(LOG)


def test_jobs_stages_and_tasks_per_group(groups):
    assert sorted(groups) == ["g1", "g2", "g3", "g4"]
    assert [(groups[g].jobs, groups[g].stages, groups[g].tasks) for g in sorted(groups)] == [
        (2, 2, 5), (1, 1, 4), (1, 1, 4), (1, 1, 4)]


def test_failed_job_is_counted_with_its_message(groups):
    g3 = groups["g3"]
    assert g3.failed_jobs == 1
    assert g3.failures == ["[USER_RAISED_EXCEPTION] boom SQLSTATE: P0001"]
    assert g3.failed_tasks == 4
    assert all(groups[g].failed_jobs == 0 for g in ("g1", "g2", "g4"))


def test_task_metrics(groups):
    g1, g2, g4 = groups["g1"], groups["g2"], groups["g4"]
    assert (g1.shuffle_read_bytes, g1.shuffle_write_bytes) == (921, 921)
    assert g1.executor_run_s == pytest.approx(1.412)
    assert g1.executor_cpu_s == pytest.approx(0.573212969)
    assert g4.output_bytes == 21972
    assert g4.gc_s == pytest.approx(0.108)
    # four tasks, each sending 392 and receiving 376 bytes of Arrow data
    assert g2.python_bytes == 4 * (392 + 376)
    assert g1.python_bytes == g4.python_bytes == 0


def test_job_intervals_come_from_submission_and_completion(groups):
    assert groups["g1"].job_intervals == [
        (1792207476.971, 1792207477.607), (1792207477.77, 1792207478.028)]


def test_jobs_without_a_group():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 7, "Submission Time": 1000,
                    "Stage IDs": [3], "Properties": {}}),
        json.dumps({"Event": "SparkListenerStageSubmitted",
                    "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0}, "Properties": {}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
                    "Task End Reason": {"Reason": "Success"},
                    "Task Metrics": {"Executor Run Time": 250}}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 7, "Completion Time": 1500,
                    "Job Result": {"Result": "JobSucceeded"}}),
        "",
    ]
    g = eventlog.fold(lines)[eventlog.NO_GROUP]
    assert (g.jobs, g.stages, g.tasks, g.executor_run_s) == (1, 1, 1, 0.25)
    assert g.job_intervals == [(1.0, 1.5)]


def test_uncovered_time():
    # jobs [1,3] and [2,4] overlap; [6,7] lies inside; [9,12] crosses the end
    intervals = [(2.0, 4.0), (1.0, 3.0), (6.0, 7.0), (9.0, 12.0)]
    assert eventlog.uncovered_s(0.0, 10.0, intervals) == pytest.approx(10 - 3 - 1 - 1)
    assert eventlog.uncovered_s(0.0, 10.0, []) == 10.0
    assert eventlog.uncovered_s(5.0, 6.5, intervals) == pytest.approx(1.0)

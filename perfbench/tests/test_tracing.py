"""Tests of the span recorder and its per-call job groups, with a stand-in
for the SparkContext.

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import IDLE_GROUP, Tracer  # noqa: E402


class FakeContext:
    """Records the current job group; every ``run_job`` lands in it."""

    def __init__(self):
        self.group = IDLE_GROUP
        self.jobs: dict[str, list[int]] = {}

    def setJobGroup(self, group, description):
        self.group = group

    def run_job(self):
        ids = self.jobs.setdefault(self.group, [])
        ids.append(sum(len(v) for v in self.jobs.values()))

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return list(self.jobs.get(group, []))


def test_nested_groups_are_unique_restored_and_counted():
    sc = FakeContext()
    tracer = Tracer(sc, enabled=True)
    for _ in range(2):  # the same label twice must not share a group
        with tracer.span("op", group="p1:q") as op:
            sc.run_job()
            with tracer.span("quality.validate", group="quality.validate") as inner:
                sc.run_job()
                sc.run_job()
            assert sc.group == op.groups[0]  # the outer group is back
            sc.run_job()
        assert sc.group == IDLE_GROUP
        assert inner.attrs["jobs"] == 2
        assert op.attrs["jobs"] == 4
    first, second = tracer.spans[0], tracer.spans[2]
    assert first.groups[0] != second.groups[0]
    assert [s.name for s in tracer.spans] == ["op", "quality.validate"] * 2
    assert tracer.spans[1].parent == 0 and tracer.spans[3].parent == 2


def test_untraced_run_keeps_groups_but_records_no_spans():
    sc = FakeContext()
    tracer = Tracer(sc, enabled=False)
    with tracer.span("op", group="p1:q") as op:
        sc.run_job()
    assert op.attrs["jobs"] == 1 and op.seconds >= 0
    assert tracer.spans == []

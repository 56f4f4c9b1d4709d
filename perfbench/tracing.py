"""Spans around the benchmark's calls into the program, and job groups.

Every operation the benchmark runs gets its own Spark job group, named
uniquely per call (``<seq>|<label>``), so job counts read right after the
call from ``statusTracker().getJobIdsForGroup`` never mix passes and never
depend on how many jobs Spark still retains. Spans (name, start, end,
parent) are kept in memory only when tracing is on; job groups are always
set, because job counts are part of every run record.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

IDLE_GROUP = "0|idle"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    #: index of the enclosing span in :attr:`Tracer.spans`
    parent: int | None = None
    #: job groups opened inside this span, its own first
    groups: list[str] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Per-call job groups, and spans when ``enabled``."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[tuple[Span, int | None]] = []
        self._groups: list[str] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Time ``name``. With ``group``, its Spark jobs run under a fresh
        job group ``<seq>|<group>``, restored to the enclosing group after.
        Yields the span; it is recorded only when tracing is on."""
        parent = self._open[-1][1] if self._open else None
        span = Span(name, time.time(), parent=parent, attrs=attrs)
        index = None
        if self.enabled:
            self.spans.append(span)
            index = len(self.spans) - 1
        if group is not None:
            self._seq += 1
            gid = f"{self._seq}|{group}"
            for outer, _ in self._open:
                outer.groups.append(gid)
            span.groups.append(gid)
            self._groups.append(gid)
            self.sc.setJobGroup(gid, group)
        self._open.append((span, index))
        try:
            yield span
        finally:
            span.end = time.time()
            self._open.pop()
            if group is not None:
                self._groups.pop()
                self.sc.setJobGroup(self._groups[-1] if self._groups else IDLE_GROUP, "")
                span.attrs["jobs"] = self.jobs(span)

    def jobs(self, span: Span) -> int:
        """Jobs Spark ran under the groups opened inside ``span``, read
        right after it ends (before Spark can drop them from its list of
        retained jobs)."""
        tracker = self.sc.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g)) for g in span.groups)

    def total(self, name: str) -> float:
        """Seconds spent in spans called ``name``."""
        return sum(s.seconds for s in self.spans if s.name == name)

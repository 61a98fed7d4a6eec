"""In-memory spans for the traced run.

Each span records a name, start and end (``time.perf_counter`` seconds),
its parent span id, the op it belongs to, and the Spark jobs, stages and
tasks that ran under it. Counts come from ``sparkContext.statusTracker()``
under a job group the tracer sets around the call, so they are measured
where the work happens. Setting the group and counting are inside the
span's start and end. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Records spans around calls into the program's layers."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            op=op if op is not None else (parent.op if parent else None),
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        group = f"perfbench-{s.id}"
        self.sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            self._count(s, group)
            # hand the job group back to the enclosing span, if any
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            # the tracer's own calls fall inside the span, so a span's
            # time includes what tracing it cost
            s.end = time.perf_counter()
            self.spans.append(s)

    def _count(self, s: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    s.stages += 1
                    s.tasks += st.numTasks
        # a child's jobs ran under the child's group, so add them up
        for child in self.spans:
            if child.parent == s.id:
                s.jobs += child.jobs
                s.stages += child.stages
                s.tasks += child.tasks

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

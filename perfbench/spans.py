"""Spans around the calls into each layer, with Spark work attributed.

A span records name, start, end, parent and op id. While a span is
open its id is the SparkContext job group, so every job launched
inside it (on this thread, or on threads Spark SQL starts for it) is
charged to the innermost open span; ``attribute`` then reads jobs,
stages and tasks back from the status tracker. Spans stay in memory
and are written out when the run ends.

A disabled tracer records nothing and never touches Spark: the
untraced run measures the end-to-end numbers, the traced run the
per-layer ones, and the difference between the two is the cost of
tracing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    attributed: bool = False
    #: Wall covered by direct child spans.
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part covered by direct child spans."""
        return self.duration - self.child_s


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._sc = None
        self._marks = 0
        #: Wall spent inside the tracer itself (job groups, status reads).
        self.bookkeeping_s = 0.0

    def attach(self, spark) -> None:
        """Attribute jobs from now on to spans, on ``spark``'s context."""
        if self.enabled:
            self._sc = spark.sparkContext

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._open[-1] if self._open else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, op, parent.id if parent else None, t0)
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if parent is not None:
                parent.child_s += s.duration
            self._set_group(parent)
            self.bookkeeping_s += time.perf_counter() - s.end

    def _drain(self) -> None:
        # The status store is fed by the asynchronous listener bus; wait
        # until it has seen every event of the jobs just finished.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def attribute(self, spans: list[Span]) -> None:
        """Fill jobs/stages/tasks of ``spans`` (once each) from the
        status tracker."""
        spans = [s for s in spans if not s.attributed]
        if self._sc is None or not spans:
            return
        t0 = time.perf_counter()
        self._drain()
        st = self._sc.statusTracker()
        for s in spans:
            s.attributed = True
            job_ids = st.getJobIdsForGroup(f"{GROUP_PREFIX}{s.id}")
            stage_ids: set[int] = set()
            for j in job_ids:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            s.jobs = len(job_ids)
            for sid in stage_ids:
                info = st.getStageInfo(sid)
                # a skipped stage (its shuffle output reused) ran no task
                if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                    continue
                s.stages += 1
                s.tasks += info.numCompletedTasks
                s.tasks_failed += info.numFailedTasks
        self.bookkeeping_s += time.perf_counter() - t0

    def job_mark(self) -> int:
        """Run one tiny job in a group of its own and return its job id.

        Job ids come from one counter, so the jobs between two marks are
        every job launched in between, attributed or not.
        """
        self._marks += 1
        group = f"{GROUP_PREFIX}mark-{self._marks}"
        self._sc.setJobGroup(group, "job mark")
        try:
            self._sc.parallelize([0], 1).count()
        finally:
            self._set_group(self._open[-1] if self._open else None)
        self._drain()
        return max(self._sc.statusTracker().getJobIdsForGroup(group))

    def unattributed_jobs(self, mark: int, first_span: int) -> int:
        """Jobs launched after ``mark`` that no span from ``first_span``
        on claims; 0 when every job of the phase is attributed."""
        end = self.job_mark()
        spans = self.spans[first_span:]
        self.attribute(spans)
        return (end - mark - 1) - sum(s.jobs for s in spans)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

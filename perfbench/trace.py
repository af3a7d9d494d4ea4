"""Spans recorded from outside the program, around calls into its layers.

``Tracer.install`` swaps a module attribute for a wrapper that opens a
span around each call; ``Tracer.uninstall`` puts the originals back.
A span sets its own Spark job group for its duration (restoring the
caller's on exit), so the jobs, stages and tasks launched while it is
open are read back per span from the status tracker. Spans are kept in
memory; ``Tracer.dump`` writes them once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    external: bool = False

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self.run_id}-{span.id}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = sorted(
                self._sc.statusTracker().getJobIdsForGroup(f"{self.run_id}-{s.id}")
            )
            self._stack.pop()
            self._group(parent)

    def install(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def uninstall(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def add_external(self, name: str, start: float, end: float) -> None:
        """Record work done outside this process (an LLM call in a Python
        worker) as a child of the innermost ``span()`` open when it
        started; overlapping external spans are siblings, never nested."""
        parent = None
        for s in self.spans:
            if (
                not s.external
                and s.start <= start <= s.end
                and (parent is None or s.start >= parent.start)
            ):
                parent = s
        if parent is not None:
            span = Span(len(self.spans), name, parent.id, self.run_id, start, end,
                        external=True)
            self.spans.append(span)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover; children
        may overlap (concurrent LLM calls), so their union is taken."""
        covered, hi = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, end = max(c.start, hi), min(c.end, span.end)
            if end > lo:
                covered += end - lo
                hi = end
        return span.duration - covered

    def all_jobs(self, span: Span) -> list[int]:
        """Jobs launched while the span was open, its children's included."""
        return sorted(j for s in [span, *self.descendants(span)] for j in s.jobs)

    def stages_and_tasks(self, jobs: list[int]) -> tuple[int, int]:
        """Stages that ran tasks for these jobs (a stage reused from an
        earlier job is skipped and not counted) and the tasks they ran."""
        tracker = self._sc.statusTracker()
        stage_ids = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for stage_id in stage_ids:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
        return stages, tasks

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

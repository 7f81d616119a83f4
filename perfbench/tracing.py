"""Spans for the traced benchmark run, recorded from outside the program.

The traced run replaces public entry points of the program's layers with
wrappers that open a span around the original call; the package itself
is not edited. Spans (name, start, end, parent) stay in memory and are
written out once at the end. Each span runs its Spark jobs under a job
group of its own, so ``statusTracker()`` attributes jobs and tasks to the
span that launched them.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _group(self, span_id: int | None) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span_id}", self.spans[span_id].name)

    @contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.id)
        self._group(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, name: str, kind=None) -> None:
        """Replace ``owner.attr`` with a wrapper that spans each call.
        ``kind`` is ``staticmethod`` for class-level callables looked up
        through the class (classmethods bound to it)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, kind(wrapper) if kind else wrapper)

    def collect_jobs(self) -> None:
        """Attach job ids and task counts to every span."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(st.getJobIdsForGroup(f"perfbench-{sp.id}"))
            for j in sp.jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    sp.tasks += stage.numTasks if stage else 0

    # -- aggregation -----------------------------------------------------

    def subtree(self, root: Span) -> list[Span]:
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(children.get(sp.id, ()))
        return out

    def self_time(self, sp: Span) -> float:
        """Duration minus the time its direct children cover (children of
        one span never overlap: the program is called from one thread)."""
        return sp.duration - sum(c.duration for c in self.spans if c.parent == sp.id)

    def under(self, root: Span, name: str) -> list[Span]:
        return [sp for sp in self.subtree(root) if sp.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in self.spans], fh)

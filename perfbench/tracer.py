"""Spans around public calls into the engine, recorded from outside it.

Nothing inside the package is instrumented: :class:`Tracer` replaces a
module attribute or class method with a timing wrapper while tracing
is installed and puts the original back afterwards. Each span sets its
own Spark job group, so the jobs, stages, tasks and shuffle bytes run
during the span are read back from the status tracker and status
store after the op. Spans are kept in memory; the caller reduces them
to per-op numbers once the op has finished.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    op: int
    group: str
    parent: int | None
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, object]] = []
        self._ids = itertools.count()
        self.op = -1

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span called ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig, traced))

    def wrap_everywhere(self, fn, name: str, package: str) -> None:
        """Wrap ``fn`` in every loaded module of ``package`` that binds it
        by name, including the module that defines it (function-level
        ``from .x import fn`` imports read that attribute at call time)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(package) and mod is not None:
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self.wrap(mod, attr, name)

    def install(self) -> None:
        for owner, attr, _orig, traced in self._patches:
            setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, orig, _traced in self._patches:
            setattr(owner, attr, orig)

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the body; yields the span's index."""
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"perfbench-{next(self._ids)}"
        sp = Span(name, time.perf_counter(), self.op, group, parent)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield idx
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_time(self, idx: int) -> float:
        """Span duration minus the time its (sequential) children cover."""
        sp = self.spans[idx]
        return sp.duration - sum(self.spans[c].duration for c in sp.children)

    def subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.spans[i].children)
        return out

    # -- Spark counters --------------------------------------------------
    def counters(self, idx: int) -> dict[int, dict[str, int]]:
        """Jobs, stages run, tasks and shuffle-write bytes per span in the
        subtree of ``idx``, keyed by span index. Call right after the op,
        before the status store's retention limit can evict its jobs."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out: dict[int, dict[str, int]] = {}
        for i in self.subtree(idx):
            c = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0}
            for job_id in tracker.getJobIdsForGroup(self.spans[i].group):
                c["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # never attempted: skipped via shuffle reuse
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
            out[i] = c
        return out

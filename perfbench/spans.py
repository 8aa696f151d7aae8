"""Spans around the benchmark's own calls into each layer of the program.

A span records its name, start, end, parent span and query id, and,
when asked, the number of Spark jobs started while it was open (counted
from outside the program: each such span runs under its own Spark job
group, read back through the status tracker). Spans stay in memory and
are written out once, when the workload ends. The layer of a span is the
part of its name before the first dot.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "name", "parent", "qid", "t0", "t1", "jobs", "child_jobs", "attrs")

    def __init__(self, sid, name, parent, qid, t0):
        self.sid, self.name, self.parent, self.qid, self.t0 = sid, name, parent, qid, t0
        self.t1 = None
        self.jobs = None
        self.child_jobs = 0
        self.attrs: dict = {}

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """``enabled=False`` makes every call a no-op, so workloads share one
    code path between the traced and untraced runs. Job counting starts
    once ``sc`` (the SparkContext) is set."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: dict[int, str] = {}
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, qid=None, jobs: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if qid is None and parent is not None:
            qid = parent.qid
        sp = Span(len(self.spans), name, parent.sid if parent else None, qid, 0.0)
        sp.attrs.update(attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        counting = jobs and self.sc is not None
        if counting:
            group = f"bench-span-{sp.sid}"
            self._groups[sp.sid] = group
            self.sc.setJobGroup(group, name)
        sp.t0 = time.perf_counter()
        self.bookkeeping_s += sp.t0 - b0
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if counting:
                own = len(self.sc.statusTracker().getJobIdsForGroup(self._groups[sp.sid]))
                sp.jobs = own + sp.child_jobs
                # jobs after this span belong to the enclosing counted span
                enclosing = next(
                    (s for s in reversed(self._stack) if s.sid in self._groups), None
                )
                if enclosing is not None:
                    enclosing.child_jobs += sp.jobs
                    self.sc.setJobGroup(self._groups[enclosing.sid], enclosing.name)
                else:
                    self.sc.setJobGroup("bench-untraced", "outside counted spans")
            self.bookkeeping_s += time.perf_counter() - sp.t1

    # ---------------------------------------------------------- reports
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.t1 is not None]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it
        covered by its child spans (children never overlap: the
        benchmark is one thread)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and s.t1 is not None:
                child_s[s.parent] += s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            if s.t1 is not None:
                out[s.layer] = out.get(s.layer, 0.0) + s.dur - child_s[s.sid]
        return out

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "summary": summary,
                    "spans": [
                        {
                            "id": s.sid, "name": s.name, "parent": s.parent,
                            "qid": s.qid, "start": s.t0, "end": s.t1,
                            "jobs": s.jobs, **s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                f,
            )

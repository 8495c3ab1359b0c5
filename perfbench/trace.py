"""Spans recorded from the benchmark's own files, around the program's
public functions.

A wrapper is installed on the name the caller actually looks up (a
module attribute read at call time), so the program runs unchanged.
Spans are kept in memory: (name, start, end, parent, request id),
and ``dump()`` writes them out when the run ends.
A span's self time is its duration minus the part of it its children
cover. A lazy function's span measures only plan construction; the
execution it describes lands in the span of the action that forces it.
"""

from __future__ import annotations

import functools
import threading
from dataclasses import dataclass, field

from perfbench.measure import JobRecord, now

PACKAGE = "ds_caselaw_ingester_spark."


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "int | None" = None
    request: "int | None" = None
    result: object = None  # kept only where asked: DataFrames would pin checkpoints
    children: "list[int]" = field(default_factory=list)
    jobs: "list[JobRecord]" = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.request: "int | None" = None
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, _keep: bool = False, **kwargs):
        stack = self._stack()
        span = Span(name, now(), parent=stack[-1] if stack else None,
                    request=self.request)
        idx = len(self.spans)
        self.spans.append(span)
        if span.parent is not None:
            self.spans[span.parent].children.append(idx)
        stack.append(idx)
        try:
            result = fn(*args, **kwargs)
            if _keep:
                span.result = result
            return result
        finally:
            stack.pop()
            span.end = now()

    def wrap(self, owner, attr: str, name: "str | None" = None, keep_result: bool = False) -> None:
        original = getattr(owner, attr)
        if name is None:
            name = f"{original.__module__.removeprefix(PACKAGE)}.{original.__name__}"

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, *args, _keep=keep_result, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def wrap_parquet_writes(self, namer) -> None:
        """Span every DataFrameWriter.parquet call, named by namer(path)."""
        from pyspark.sql.readwriter import DataFrameWriter

        original = DataFrameWriter.parquet
        tracer = self

        @functools.wraps(original)
        def traced(writer, path, *args, **kwargs):
            return tracer.call(namer(path), original, writer, path, *args, **kwargs)

        self._patched.append((DataFrameWriter, "parquet", original))
        DataFrameWriter.parquet = traced

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def add(self, name: str, start: float, end: float, request=None) -> int:
        """Record a span measured elsewhere (e.g. from streaming progress)."""
        self.spans.append(Span(name, start, end, request=request))
        return len(self.spans) - 1

    # -- analysis --------------------------------------------------------

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted((self.spans[c].start, self.spans[c].end) for c in s.children):
            a, b = max(a, s.start), min(b, s.end)
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return max(0.0, s.duration - covered)

    def attach_jobs(self, jobs: "list[JobRecord]", roots: "list[int]") -> None:
        """Give each job to the innermost span of `roots`' trees whose
        interval holds the job's submission time."""
        for job in jobs:
            best = None
            todo = list(roots)
            while todo:
                i = todo.pop()
                s = self.spans[i]
                if s.start <= job.submitted_s <= s.end:
                    best = i
                    todo = list(s.children)
            if best is not None:
                self.spans[best].jobs.append(job)

    def subtree(self, i: int) -> "list[int]":
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(self.spans[j].children)
        return out

    def adopt(self, parent: int, candidates: "list[int]") -> None:
        """Make top-level spans inside `parent`'s interval its children
        (spans recorded on a callback thread inside an epoch). The 5 ms
        slack covers the millisecond resolution of the JVM's timestamps."""
        p = self.spans[parent]
        for i in candidates:
            s = self.spans[i]
            if i != parent and s.parent is None and p.start - 0.005 <= s.start and s.end <= p.end + 0.005:
                s.parent = parent
                s.request = p.request
                p.children.append(i)
                for j in self.subtree(i):
                    self.spans[j].request = p.request

    def dump(self) -> "list[dict]":
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "request": s.request, "jobs": [j.job_id for j in s.jobs]}
            for s in self.spans
        ]

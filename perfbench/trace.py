"""Spans around the benchmark's calls into webindex_spark, attributed to
Spark jobs through job groups.

A span records name, start, end, parent, thread and run id, and is kept
in memory.  Entering a span sets the Spark job group of the *current
thread* to the span's id (PySpark pins each Python thread to its own JVM
thread) and restores the thread's previous group when it ends, so jobs
submitted from a worker thread - ``page_stream``'s
concurrent table commits, the HTTP server's request threads - carry the
id of the span that thread is in.  A span opened on a thread with no
open span takes as parent the most recently started span still open on
any thread, other than one of its own name (``_open_parent``).

``attribute`` joins an event log (``eventlog.EventLog``) to the spans:
each job goes to the span whose id is its job group; a job with a group
no span owns (Structured Streaming's own jobs) goes to the innermost
span of the root thread that was open when it was submitted.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the local properties setJobGroup sets, restored when a span ends (a
# thread may already carry a group, e.g. a streaming query's run id)
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


@dataclass
class Span:
    sid: str
    name: str
    start: float
    parent: str | None
    thread: int
    run: str
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run = run_id
        self.spans: list[Span] = []
        self._by_id: dict[str, Span] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root_thread = threading.get_ident()
        self._root_stack: list[Span] = []
        self._patches: list[tuple] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._root_thread:
            return self._root_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _group(self) -> tuple:
        return tuple(self.sc.getLocalProperty(k) for k in _GROUP_KEYS)

    def _set_group(self, values: tuple) -> None:
        for k, v in zip(_GROUP_KEYS, values):
            self.sc.setLocalProperty(k, v)

    def _open_parent(self, name: str) -> Span | None:
        """Parent for a span opened on a thread with no open span: the
        most recently started open span of any thread, skipping spans of
        the same name (concurrent siblings such as parallel commits)."""
        for s in reversed(self.spans):
            if s.end is None and s.name != name:
                return s
        return None

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else self._open_parent(name)
            sid = f"{self.run}:{len(self.spans)}"
            s = Span(sid, name, time.time(), parent.sid if parent else None,
                     threading.get_ident(), self.run)
            self.spans.append(s)
            self._by_id[sid] = s
        stack.append(s)
        prev = self._group()
        self._set_group((sid, name))
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(prev)

    # ------------------------------------------------------------ wrapping

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        by a wrapper that runs it inside span ``name``; modules that
        imported the same function object by name are patched too.
        ``on_call(span, args, kwargs, result)`` may record attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, kwargs, out)
                return out

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if n.startswith("webindex_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patches.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def wrap_module(self, module, layer: str, names) -> None:
        """Wrap the functions ``names`` of ``module`` as spans
        ``<layer>.<function>``."""
        for attr in names:
            self.wrap(module, attr, f"{layer}.{attr}")

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --------------------------------------------------------- attribution

    def attribute(self, log) -> dict:
        """job_id -> span id for every job of ``log`` inside the run."""
        root_spans = [s for s in self.spans if s.thread == self._root_thread]
        out = {}
        for job in log.jobs.values():
            if job.group in self._by_id:
                out[job.job_id] = job.group
                continue
            t = job.submit_ms / 1000.0
            best = None
            for s in root_spans:
                if s.start <= t <= (s.end or t) and (best is None or s.start >= best.start):
                    best = s
            if best is not None:
                out[job.job_id] = best.sid
        return out

    def children(self) -> dict:
        kids: dict[str, list] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        return kids

    def subtree(self, span: Span, kids: dict | None = None) -> list[Span]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    def self_time(self, span: Span, kids: dict | None = None) -> float:
        """Span duration minus the part of it its children cover."""
        kids = kids if kids is not None else self.children()
        return span.dur - _covered(
            [(c.start, c.end or c.start) for c in kids.get(span.sid, [])],
            span.start, span.end or span.start,
        )

    def outermost(self, pred) -> list[Span]:
        """Spans matching ``pred`` with no matching ancestor."""
        def has_matching_ancestor(s):
            p = self._by_id.get(s.parent)
            while p is not None:
                if pred(p):
                    return True
                p = self._by_id.get(p.parent)
            return False

        return [s for s in self.spans if pred(s) and not has_matching_ancestor(s)]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total

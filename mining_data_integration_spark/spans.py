"""Stage spans: the wall time, Spark jobs and fallbacks of one run, as
one record.

`span(name)` (a context manager or a decorator) times one stage. Spans
nest; when the outermost (root) span closes, the handle's `record` is

    {"mode", "spans": {"name", "wall_s", "self_s", "jobs", "children"},
     "fallbacks": [{"kind", "detail", "span"}, ...]}

and it is logged as one JSON line (INFO, this module's logger).
`self_s` is the time no child covered (concurrent children count
once); a span's `jobs` include its children's. Each span tags the jobs
its thread submits (`SparkContext.addJobTag`); the root reads their ids
from the status tracker once, after the listener bus drains. The layer
launches no Spark job and never sets the job group. A new thread has
no open span: run pool work through `inherit(fn)`.
"""

from __future__ import annotations

import contextlib
import contextvars
import itertools
import json
import logging
import time

from py4j.protocol import Py4JError
from pyspark import SparkContext

_log = logging.getLogger(__name__)
_current: contextvars.ContextVar = contextvars.ContextVar(
    "span", default=None)
_ids = itertools.count()


class Span:
    def __init__(self, name: str, parent: Span | None):
        self.name, self.parent = name, parent
        self.root = parent.root if parent is not None else self
        self.tag = f"mdis-span-{next(_ids)}"
        self.children: list[Span] = []
        self.start, self.end = time.perf_counter(), None
        self.mode, self.fallbacks, self.record = None, [], None
        if parent is not None:
            parent.children.append(self)


@contextlib.contextmanager
def _tagged(tag: str):
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.addJobTag(tag)
    try:
        yield
    finally:
        if sc is not None:
            sc.removeJobTag(tag)


@contextlib.contextmanager
def span(name: str):
    """Time `name` under the open span, or as a new root."""
    s = Span(name, _current.get())
    token = _current.set(s)
    try:
        with _tagged(s.tag):
            yield s
    finally:
        s.end = time.perf_counter()
        _current.reset(token)
        if s.parent is None:
            s.record = _record(s)
            _log.info(json.dumps(s.record))


@contextlib.contextmanager
def root(name: str):
    """`span(name)` when no span is open; otherwise nothing, so the
    stages inside join the caller's record."""
    if _current.get() is not None:
        yield _current.get()
        return
    with span(name) as s:
        yield s


def inherit(fn):
    """`fn` run under the caller's open span, from another thread."""
    parent = _current.get()
    if parent is None:
        return fn

    def run(*args, **kwargs):
        token = _current.set(parent)
        try:
            with _tagged(parent.tag):
                return fn(*args, **kwargs)
        finally:
            _current.reset(token)
    return run


def mode(m: str) -> None:
    """Set the open record's mode ('cold', 'warm', 'windowed', ...)."""
    if _current.get() is not None:
        _current.get().root.mode = m


def note(kind: str, detail: str) -> None:
    """Record a fallback or guard trip in the open record; with none
    open, log it alone as one JSON line."""
    s = _current.get()
    entry = {"kind": kind, "detail": detail,
             "span": s.name if s is not None else None}
    if s is None:
        _log.info(json.dumps({"fallbacks": [entry]}))
    else:
        s.root.fallbacks.append(entry)


def stages(record: dict) -> dict[str, float]:
    """{span name: wall seconds summed over occurrences} below the root."""
    out: dict[str, float] = {}

    def walk(node: dict) -> None:
        for c in node["children"]:
            out[c["name"]] = round(out.get(c["name"], 0.0) + c["wall_s"], 3)
            walk(c)
    walk(record["spans"])
    return out


def _tracker(root_span: Span):
    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sc._jsc.sc().statusTracker()
    except (AttributeError, Py4JError) as e:   # stopped context, bus timeout
        root_span.fallbacks.append({"kind": "job_ids_unread",
                                    "detail": str(e)[:200],
                                    "span": root_span.name})
        return None


def _record(root_span: Span) -> dict:
    tracker = _tracker(root_span)

    def node(s: Span) -> dict:
        end = s.end or root_span.end
        kids = [node(c) for c in s.children]
        covered, reach = 0.0, s.start
        for a, b in sorted((c.start, c.end or end) for c in s.children):
            a, b = max(a, reach), min(b, end)
            if b > a:
                covered, reach = covered + b - a, b
        ids = set(tracker.getJobIdsForTag(s.tag) if tracker else ())
        return {"name": s.name, "wall_s": round(end - s.start, 3),
                "self_s": round(end - s.start - covered, 3),
                "jobs": sorted(ids.union(*(k["jobs"] for k in kids))),
                "children": kids}
    return {"mode": root_span.mode, "spans": node(root_span),
            "fallbacks": root_span.fallbacks}

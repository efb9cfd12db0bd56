"""Spans around the program's public functions, recorded from outside.

:class:`Hooks` replaces each traced function at the name its callers
look up (``structa_spark.analyze``, ``sources.reader.open_source``, ...)
with a wrapper. A wrapper always passes the call through. While a
request is traced it also records a span: name, start, end, parent and
request, plus the status-store stage watermark, the codegen counters
and the driver's CPU time at both ends. Spans stay in memory until
:meth:`Hooks.dump` writes them out.

A span's self time is its duration minus the durations of its child
spans. Within one request the spans nest and run on one thread, so the
self times of all spans of a request add up to the request's wall time.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

#: (module path, attribute, span name). The callers in the program look
#: these names up at call time, so replacing the attribute traces them.
TRACED = (
    ("structa_spark", "analyze", "analyzer.analyze"),
    ("structa_spark", "merge_to_fixpoint", "model.merge"),
    ("structa_spark.sources.reader", "open_sources", "sources.read"),
    ("structa_spark.sources.reader", "open_source", "sources.read"),
    ("structa_spark.sources.reader", "sniff_file", "sources.sniff"),
    ("structa_spark.operators.text", "gopher_quality_flags",
     "operators.screen"),
    ("structa_spark.operators.dedup", "dedup_corpus", "operators.dedup"),
    ("structa_spark.operators.text", "contamination_hits",
     "operators.decontam"),
    ("structa_spark.operators.text", "pack_sequences", "operators.pack"),
    ("structa_spark.sources.sinks", "write_sized", "sinks.write"),
)

#: results the correctness check reads; captured on every request
CAPTURED = ("analyzer.analyze", "model.merge")

RENDER = "model.render"


class Span:
    __slots__ = ("idx", "name", "req", "parent", "start", "end", "wm", "cg",
                 "cpu")

    def __init__(self, idx, name, req, parent):
        self.idx, self.name, self.req, self.parent = idx, name, req, parent
        self.start = self.end = 0.0
        self.wm = [None, None]       # newest stage id at start / end
        self.cg = [None, None]       # (compiles, compile seconds)
        self.cpu = [0.0, 0.0]        # driver process CPU seconds

    def as_dict(self):
        return {"id": self.idx, "name": self.name, "req": self.req,
                "parent": self.parent, "start": self.start,
                "end": self.end, "stage_wm": self.wm}


class Hooks:
    """Installs the wrappers and records spans while :attr:`tracing`."""

    def __init__(self, counters=None):
        self.counters = counters     # SparkCounters, or None: no spans
        self.tracing = False
        self.spans = []
        self.captured = {}
        self.bookkeeping_s = 0.0     # time spent recording spans
        self._stack = []
        self._req = None
        self._restore = []

    # -- installation -------------------------------------------------

    def install(self, traced: bool) -> None:
        import importlib

        import structa_spark.model as model

        for mod, attr, name in TRACED:
            if traced or name in CAPTURED:
                self._wrap(importlib.import_module(mod), attr, name)
        if traced:
            for cls in vars(model).values():
                if (isinstance(cls, type) and issubclass(cls, model.Node)
                        and "render" in vars(cls)):
                    self._wrap(cls, "render", RENDER)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def _wrap(self, owner, attr, name) -> None:
        orig = vars(owner)[attr]
        hooks = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # render recurses through the tree: one span per top call
            if (not hooks.tracing or hooks._req is None
                    or (name == RENDER and hooks._stack
                        and hooks._stack[-1].name == RENDER)):
                out = orig(*args, **kwargs)
            else:
                with hooks._span(name):
                    out = orig(*args, **kwargs)
            if name in CAPTURED:
                hooks.captured[name] = out
            return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    # -- spans ----------------------------------------------------------

    def _mark(self, span, end: int) -> None:
        c = self.counters
        c.drain()
        span.wm[end] = c.watermark()
        span.cg[end] = c.codegen()
        span.cpu[end] = time.process_time()

    @contextmanager
    def _span(self, name):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, self._req,
                    None if parent is None else parent.idx)
        self._mark(span, 0)
        self.spans.append(span)
        self._stack.append(span)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t0
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._mark(span, 1)
            self.bookkeeping_s += time.perf_counter() - span.end

    @contextmanager
    def request(self, req: int, traced: bool):
        """Scope one request; it is the root span when ``traced``."""
        self.captured = {}
        self._req = req
        self.tracing = traced and self.counters is not None
        try:
            if self.tracing:
                with self._span("request") as span:
                    yield span
            else:
                yield None
        finally:
            self.tracing = False
            self._req = None

    # -- read-out -------------------------------------------------------

    def request_spans(self, req: int) -> list:
        return [s for s in self.spans if s.req == req]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()))
                f.write("\n")


def self_times(spans: list) -> dict:
    """Self seconds per span name over ``spans`` (one request)."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.end - s.start
    out = {}
    for s in spans:
        own = (s.end - s.start) - child.get(s.idx, 0.0)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def stage_totals(spans: list, stages: list) -> dict:
    """Stage totals per span name over ``spans``, each stage counted for
    the innermost span it was submitted in. ``stages`` is the output of
    ``SparkCounters.stages_since``."""
    out = {}
    for sid, tot in stages:
        owner = None
        for s in spans:             # spans are in start order, so the
            if s.wm[0] < sid <= s.wm[1]:   # last match is innermost
                owner = s
        if owner is None:
            continue
        acc = out.setdefault(owner.name, {"stages": 0})
        acc["stages"] += 1
        for k, v in tot.items():
            acc[k] = acc.get(k, 0.0) + v
    return out

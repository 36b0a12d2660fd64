"""Span recorder for the traced benchmark run.

The recorder wraps the public functions of each package layer from
the outside (module attributes and class methods are replaced by
timing wrappers); the package itself is not modified. Spans live in
memory, each tagged with the op that was running, and are written as
JSON when the run ends.

A span's parent is the innermost open span of its own thread. A span
opened in a thread that has no open span (an ``Engine.load_all``
worker, an operator's thread pool) takes the innermost open span of
the main thread as its parent, which is the call that is waiting for
the pool.

Self time is a span's duration minus the part of its interval that
its child spans cover (the union of the children's intervals, so two
overlapping children are not subtracted twice).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass

PKG = "nycdb_k8s_loader_spark"

#: layer name -> package module whose public functions are wrapped
OPERATOR_LAYERS = {
    f"operators.{m}": f"{PKG}.operators.{m}"
    for m in (
        "geo", "graph", "dedup", "similarity", "textops", "sampling",
        "relational",
    )
}

#: span name -> (module, class, method) for the engine-side layers
METHOD_SPANS = {
    "state.check": ("state.lastmod", "UrlModTracker", "check"),
    "publish.stage_write": (
        "publish.protocol", "Publisher", "write_staging_table",
    ),
    "publish.swap": ("publish.protocol", "Publisher", "publish_tables"),
    "publish.sql": ("publish.resolver", "SearchPathResolver", "sql"),
    "functions.materialize": (
        "functions.registry", "FunctionRegistry",
        "materialize_table_fn_calls",
    ),
    "functions.apply": ("functions.registry", "FunctionRegistry", "apply"),
    "engine.dataset": ("engine", "Engine", "load"),
    "engine.load_all": ("engine", "Engine", "load_all"),
}

#: span name -> (module, function) for module-level engine-side calls
FUNCTION_SPANS = {
    "sources.read": ("sources.readers", "read_source_table"),
    "publish.validate": ("publish.validate", "validate_or_raise"),
    "engine.builder": ("datasets", "build_wow"),
    "session.start": ("session", "get_spark"),
}


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: str | None
    thread: int
    t0: float
    t1: float = 0.0
    extra: float = 0.0


class Tracer:
    """In-memory span store. ``enabled`` switches recording off
    without unwrapping, so one process can time ops both ways."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()

    def _parent(self, tid: int) -> int | None:
        stack = self._stacks.get(tid) or self._stacks.get(self._main)
        return stack[-1].sid if stack else None

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        tid = threading.get_ident()
        with self._lock:
            span = Span(
                next(self._ids), self._parent(tid), name, self.op, tid,
                time.perf_counter(),
            )
            self._stacks.setdefault(tid, []).append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.t1 = time.perf_counter()
        with self._lock:
            stack = self._stacks[span.thread]
            stack.remove(span)
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, name: str, fn, after=None):
        """Timing wrapper around ``fn``; ``after(result, args)`` may
        attach a number to the span (bytes written, ...)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(span)
            if span is not None and after is not None:
                span.extra = after(result, args)
            return result

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def maybe_span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or a no-op context without a tracer."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's
    intervals clipped to its own interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        end = s.t0
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.t0):
            lo, hi = max(c.t0, end), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s.sid] = (s.t1 - s.t0) - covered
    return out


def _public_functions(module):
    for name, obj in vars(module).items():
        if (
            not name.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == module.__name__
        ):
            yield name, obj


def _kv_file_size(store) -> int:
    return os.path.getsize(store.path) if os.path.exists(store.path) else 0


def install(tracer: Tracer) -> None:
    """Wrap every layer's public functions. Call before the query
    modules under ``plans`` are imported: they bind operator names at
    import time. Names that other package modules already imported
    are re-pointed at the wrappers as well."""
    import importlib

    wrappers: dict[int, object] = {}  # id(original) -> its wrapper

    def patch_attr(owner, attr: str, span_name: str, after=None) -> None:
        fn = getattr(owner, attr)
        wrapped = tracer.wrap(span_name, fn, after)
        wrappers[id(fn)] = wrapped
        setattr(owner, attr, wrapped)

    for layer, modname in OPERATOR_LAYERS.items():
        module = importlib.import_module(modname)
        for name, _fn in list(_public_functions(module)):
            patch_attr(module, name, f"{layer}.{name}")
    for span_name, (mod, cls, meth) in METHOD_SPANS.items():
        owner = getattr(importlib.import_module(f"{PKG}.{mod}"), cls)
        patch_attr(owner, meth, span_name)
    for span_name, (mod, fn) in FUNCTION_SPANS.items():
        patch_attr(importlib.import_module(f"{PKG}.{mod}"), fn, span_name)
    kvstore = importlib.import_module(f"{PKG}.state.kvstore")
    patch_attr(
        kvstore.ParquetKVStore, "_flush", "state.kv_write",
        after=lambda _r, args: _kv_file_size(args[0]),
    )
    importlib.import_module(f"{PKG}.plans.catalog").queries()
    for modname, module in list(sys.modules.items()):
        if modname.startswith(PKG) and module is not None:
            for name, obj in list(vars(module).items()):
                if id(obj) in wrappers and inspect.isfunction(obj):
                    setattr(module, name, wrappers[id(obj)])

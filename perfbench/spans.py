"""In-memory spans around the calls into the engine's layers.

A span is ``(id, name, start, end, parent, thread)``. Spans live in a list in
memory and are written out once, when the run ends (``Tracer.dump``).

``Tracer.install`` wraps every public function of the given engine modules,
in every loaded ``asf_tools_spark`` module that holds a reference to it, so a
call made from inside the engine is traced too. While a traced call runs, its
span id is the Spark local property ``perfbench.span`` of the calling thread,
so the jobs it launches can be attributed to it from the event log.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


def _resolve(module: str, qualname: str):
    """Unpickle target of a traced function: the original, by import path.
    Python workers never see the wrappers."""
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return getattr(obj, "__wrapped__", obj)


class _Traced:
    """Callable that runs ``fn`` inside a span named ``name``."""

    def __init__(self, tracer: "Tracer", fn, name: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name = tracer, fn, name

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return _resolve, (self._fn.__module__, self._fn.__qualname__)


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._restore: list[tuple] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a pool thread's first span hangs under whatever the main thread
        # has open, so a plan's self time excludes its helper threads' work
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.time(), "end": None,
                   "parent": parent, "thread": threading.current_thread().name}
            self.spans.append(rec)
        stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, str(stack[-1]) if stack else None)

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + value

    def install(self, layers: dict[str, str]) -> None:
        """Wrap the public functions of each module in ``layers`` (module ->
        layer name)."""
        originals = {}
        for module, layer in layers.items():
            mod = importlib.import_module(module)
            for attr, fn in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != module:
                    continue
                originals[id(fn)] = _Traced(self, fn, f"{layer}.{attr}")
        for mod in engine_modules():
            for attr, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None:
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._restore):
            setattr(mod, attr, val)
        self._restore.clear()

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters, **(extra or {})}, f)


def engine_modules() -> list:
    """Every loaded ``asf_tools_spark`` module."""
    return [m for m in list(sys.modules.values()) if getattr(m, "__name__", "").startswith("asf_tools_spark")]


def layer_of(span_name: str) -> str:
    """``operators.tiling.select_hand_tiles`` -> ``operators.tiling``."""
    return span_name.rsplit(".", 1)[0]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals; empty ones add nothing."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent; overlapping
    children from helper threads are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        clipped = [(max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], []) if min(b, hi) > max(a, lo)]
        out[s["id"]] = (hi - lo) - union_length(clipped)
    return out


def layer_wall(spans: list[dict], layer: str) -> float:
    """Wall time during which at least one span of ``layer`` was open
    (nested and concurrent spans of the same layer are counted once)."""
    return union_length([(s["start"], s["end"]) for s in spans if layer_of(s["name"]) == layer])


def layer_self(spans: list[dict], layer: str) -> float:
    """Summed self time of the spans of ``layer``."""
    st = self_times(spans)
    return sum(st[s["id"]] for s in spans if layer_of(s["name"]) == layer)


def ancestors(spans: list[dict], sid: int | None) -> list[int]:
    """``sid`` and every span above it."""
    out = []
    while sid is not None:
        out.append(sid)
        sid = spans[sid]["parent"]
    return out

"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, a start and end (epoch seconds, comparable with the
Spark event log's millisecond timestamps), the span that was open when it
began (its parent) and the operation it belongs to. While a span is open it
is also the Spark job group, so every job Spark runs inside it carries the
span id in the event log and can be attributed to it afterwards.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans; `enabled=False` gives the same API recording nothing,
    so the untraced run executes the same workload code."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Tag Spark jobs with the open span through this SparkContext."""
        self._sc = sc

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(span["id"], span["name"], False)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self.op, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> its duration minus the part its child spans cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def instrument(tracer: Tracer, modules: dict) -> callable:
    """Wrap every public function defined in each module so a call opens a
    span named "<layer>.<function>". Returns a function that restores the
    originals. Callers that reach the function through the module attribute
    (`spatial.pip_broadcast(...)`) see the wrapper; Python workers import
    the modules afresh and run the originals."""
    saved = []
    for layer, mod in modules.items():
        for name, fn in list(vars(mod).items()):
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__):
                continue

            def wrapper(*args, __fn=fn, __name=f"{layer}.{name}", **kw):
                with tracer.span(__name):
                    return __fn(*args, **kw)

            saved.append((mod, name, fn))
            setattr(mod, name, functools.wraps(fn)(wrapper))

    def restore():
        for mod, name, fn in saved:
            setattr(mod, name, fn)

    return restore

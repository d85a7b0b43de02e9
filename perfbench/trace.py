"""Spans around the engine's public functions, recorded from outside.

The tracer replaces public functions and methods of the layer modules
with wrappers that record a span (name, start, end, parent span,
operation id) while tracing is on. It is installed only in a traced
run. Spans stay in memory and are written out when the run ends. A
wrapper keeps the original's module and qualified name, so a Spark
closure that captures one still pickles by reference and the Python
workers run the original.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time

# layer name -> modules whose public functions and classes form it
LAYERS = {
    "api": ["vearch_spark.api"],
    "space": ["vearch_spark.space"],
    "filters": ["vearch_spark.filters"],
    "topk": ["vearch_spark.operators.topk"],
    "ivf": ["vearch_spark.operators.ivf"],
    "hnsw": ["vearch_spark.operators.hnsw"],
    "vamana": ["vearch_spark.operators.vamana"],
    "sort": ["vearch_spark.operators.sort"],
    "fusion": ["vearch_spark.operators.fusion"],
    "dedup": ["vearch_spark.operators.dedup"],
    "functions": [
        "vearch_spark.functions.distance",
        "vearch_spark.functions.media",
        "vearch_spark.functions.pdf",
        "vearch_spark.functions.robots",
        "vearch_spark.functions.text",
    ],
    "realtime": ["vearch_spark.streaming.realtime"],
}

# private methods that are a layer's own unit of work
EXTRA = {"Space._commit", "IVFFlatIndex._swap_assigned"}


class Tracer:
    def __init__(self):
        self.on = False
        self.op: int | None = None
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        # perf_counter -> wall clock, to line spans up with Spark jobs
        self.wall0 = time.time() - time.perf_counter()
        self.installed: list[tuple[object, str, object]] = []

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on or threading.get_ident() != tracer._thread:
                return fn(*args, **kwargs)
            parent = tracer._stack[-1] if tracer._stack else None
            rec = [name, time.perf_counter(), None, parent, tracer.op]
            tracer._stack.append(len(tracer.spans))
            tracer.spans.append(rec)
            try:
                return fn(*args, **kwargs)
            finally:
                rec[2] = time.perf_counter()
                tracer._stack.pop()

        return traced

    def install(self) -> None:
        """Wrap every public function and method of the layer modules,
        in every loaded module that holds a reference to it."""
        swaps: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for modname in mods:
                mod = importlib.import_module(modname)
                for attr, obj in list(vars(mod).items()):
                    if getattr(obj, "__module__", None) != modname:
                        continue
                    if inspect.isclass(obj):
                        for mname, m in list(vars(obj).items()):
                            if not inspect.isfunction(m) or inspect.isgeneratorfunction(m):
                                continue
                            if mname.startswith("_") and f"{attr}.{mname}" not in EXTRA:
                                continue
                            w = self._wrap(f"{layer}.{attr}.{mname}", m)
                            setattr(obj, mname, w)
                            self.installed.append((obj, mname, m))
                    elif (inspect.isfunction(obj) and not attr.startswith("_")
                          and not inspect.isgeneratorfunction(obj)):
                        swaps[id(obj)] = self._wrap(f"{layer}.{attr}", obj)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith("vearch_spark")
                                   or modname == "__spark_entry__"):
                continue
            for attr, obj in list(vars(mod).items()):
                w = swaps.get(id(obj))
                if w is not None:
                    setattr(mod, attr, w)
                    self.installed.append((mod, attr, obj))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self.installed):
            setattr(owner, attr, orig)
        self.installed.clear()

    def calibrate(self, n: int = 20000) -> float:
        """Seconds one span adds to the call it wraps, timed on a no-op."""

        def noop():
            return None

        traced = self._wrap("calibrate", noop)
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        raw = time.perf_counter() - t0
        mark, self.on = len(self.spans), True
        t0 = time.perf_counter()
        for _ in range(n):
            traced()
        spent = time.perf_counter() - t0
        self.on = False
        del self.spans[mark:]
        return max(0.0, (spent - raw) / n)

    def self_times(self, ops: set[int] | None = None) -> dict[str, float]:
        """Seconds of self time per span name: a span's duration minus
        the durations of its direct children (spans are properly nested
        on one thread, so children never overlap)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, op in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if t1 is None or (ops is not None and op not in ops):
                continue
            out[name] = out.get(name, 0.0) + (t1 - t0) - child[i]
        return out

    def attribute_jobs(self, op: int, intervals: list[tuple[float, float]]) -> dict[int, int]:
        """Assign each Spark job of ``op`` to the innermost span open at
        its submission (the latest-started one, as spans nest); returns
        span index -> job count."""
        spans = [
            (t0 + self.wall0, t1 + self.wall0, i)
            for i, (_n, t0, t1, _p, o) in enumerate(self.spans)
            if o == op and t1 is not None
        ]
        out: dict[int, int] = {}
        for start, _end in intervals:
            inside = [s for s in spans if s[0] <= start <= s[1]]
            if inside:
                i = max(inside)[2]
                out[i] = out.get(i, 0) + 1
        return out

    def dump(self, path: str, jobs: dict[int, int]) -> None:
        rows = [
            {"name": n, "start": t0 + self.wall0, "end": t1 + self.wall0 if t1 else None,
             "parent": p, "op": o, "jobs": jobs.get(i, 0)}
            for i, (n, t0, t1, p, o) in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


"""In-memory span tracing around the engine's public functions.

A :class:`Tracer` replaces each public function of the instrumented
modules with a wrapper that records one span per call: name, layer,
start, end, parent span and the operation it ran under. Spans nest by
thread: a call made while another span is open on the same thread
becomes its child; a call on a worker thread hangs off the operation's
root span. Spans stay in memory and are written out once, at the end.

Self time is a span's duration minus the time its children cover
(:func:`self_times`), so a layer's self time is the work done in that
layer and not in the layers it calls.
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

PACKAGE = "dask_awkward_spark"

#: module -> layer name used in span names and the per-layer table
LAYERS = {
    "dask_awkward_spark.session": "session",
    "dask_awkward_spark.sources.tables": "sources.tables",
    "dask_awkward_spark.operators.structure": "operators",
    "dask_awkward_spark.operators.reducers": "operators",
    "dask_awkward_spark.functions.strings": "functions.strings",
    "dask_awkward_spark.functions.curation": "functions.curation",
    "dask_awkward_spark.functions.timeseries": "functions.timeseries",
    "dask_awkward_spark.functions.sketches": "functions.sketches",
    "dask_awkward_spark.functions.hist": "functions.sketches",
    "dask_awkward_spark.functions.simindex": "functions.simindex",
    "dask_awkward_spark.functions.pq": "functions.pq",
    "dask_awkward_spark.sources.snapshot": "sources.snapshot",
    "dask_awkward_spark.sources.catalog": "sources.catalog",
    "dask_awkward_spark.sources.sqlface": "sources.sqlface",
}


class Tracer:
    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: "list[dict]" = []
        self.op: "str | None" = None
        self._op_root: "int | None" = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: "list[tuple]" = []

    # ---- recording ----
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        st = self._stack()
        parent = st[-1] if st else self._op_root
        rec = {"name": name, "layer": layer, "parent": parent, "op": self.op,
               "start": self.clock(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self.clock()
            st.pop()

    @contextmanager
    def operation(self, op_id: str, kind: str):
        """Root span of one workload operation; every span opened inside
        (on any thread) carries ``op_id``."""
        self.op = op_id
        with self.span(f"op.{kind}", "op") as rec:
            self._op_root = rec["id"]
            try:
                yield rec
            finally:
                self._op_root = None
        self.op = None

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    # ---- instrumentation ----
    def instrument(self, layers: "dict[str, str]" = LAYERS) -> None:
        """Wrap every public function defined in each module of
        ``layers``, and rebind every module-level alias of it that other
        loaded modules of the package imported by name."""
        swapped: "dict[int, object]" = {}
        for mod_name, layer in layers.items():
            mod = importlib.import_module(mod_name)
            for attr, obj in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != mod_name
                        or getattr(obj, "__wrapped_by_tracer__", False)):
                    continue
                wrapped = self.wrap(obj, f"{layer}.{attr}", layer)
                swapped[id(obj)] = (obj, wrapped)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = swapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._restore.append((mod, attr, obj))
                    setattr(mod, attr, hit[1])

    def uninstrument(self) -> None:
        for mod, attr, obj in reversed(self._restore):
            setattr(mod, attr, obj)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: "list[dict]") -> "dict[int, float]":
    """span id -> duration minus the union of its children's intervals
    (clipped to the parent, so overlapping children count once)."""
    children: "dict[int, list]" = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            (max(c["start"], lo), min(c["end"], hi)) for c in children.get(s["id"], ())
        )
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_self_times(spans: "list[dict]", ops: "set[str] | None" = None) -> "dict[str, float]":
    """Total self time per layer, over the spans of ``ops`` (all when None)."""
    st = self_times(spans)
    out: "dict[str, float]" = {}
    for s in spans:
        if ops is None or s["op"] in ops:
            out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
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

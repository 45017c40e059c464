"""Spans around calls into the engine's layers, recorded from outside.

``Tracer.install`` wraps every public function of the engine's layer
modules and rebinds each reference to it across the package, so calls
that go through a name bound at import time (``from ...sources.tables
import load_table``) are seen too. A call opens a span only when it
crosses a module boundary; calls within one module stay inside the
caller's span. Spans are kept in memory and written out at the end.

Spans opened on another thread (stream callbacks) hang under the span
the op's own thread is blocked in at that moment. A span's self time
is its duration minus the part covered by its children.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from dataclasses import asdict, dataclass

PACKAGE = "epe_data_wrangling_spark"
#: layers whose public functions get spans; the catalog layer is timed
#: by the harness around each query's build and sink instead
WRAPPED_LAYERS = ("session", "sources", "plans", "operators", "functions", "multimodal", "streaming")


@dataclass
class Span:
    id: int
    name: str  # "<module>.<function>", module relative to the package
    module: str  # e.g. "operators.dedup"; the first dotted part is the layer
    start: float  # epoch seconds, comparable with Spark's job times
    end: float
    parent: int  # -1 at top level
    op: int
    main: bool  # opened on the op's own thread

    @property
    def layer(self) -> str:
        return self.module.split(".", 1)[0]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            kids.setdefault(p.id, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.id: (s.end - s.start) - union_length([iv for iv in kids.get(s.id, ()) if iv[1] > iv[0]])
        for s in spans
    }


class Tracer:
    """Records spans while ``enabled``; costs one flag test per call
    otherwise."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._ids = itertools.count()
        self._py4j = itertools.count()
        self._py4j_base = 0
        self.tag = None  # callable(span id or None): tags the thread's Spark jobs

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, module: str) -> Span | None:
        """Open a span unless the innermost one is in the same module."""
        st = self._stack()
        main = st is self._main_stack
        if st and st[-1].module == module:
            return None
        if st:
            parent = st[-1].id
        else:  # a callback thread: hang it under what the op's thread is in
            parent = self._main_stack[-1].id if self._main_stack and not main else -1
        span = Span(next(self._ids), name, module, time.time(), 0.0, parent, self.op, main)
        self.spans.append(span)
        st.append(span)
        if main and self.tag is not None:
            self.tag(span.id)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        st = self._stack()
        st.pop()
        if span.main and self.tag is not None:
            self.tag(st[-1].id if st else None)

    def wrap(self, fn, module: str):
        name = f"{module}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name, module)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        traced.__bench_original__ = fn
        return traced

    def install(self) -> int:
        """Wrap the public functions of ``WRAPPED_LAYERS`` and rebind
        every reference to them in the package's loaded modules. Call it
        before the catalog is imported; ``rebind`` again after. Returns
        the number of functions wrapped."""
        wrappers: dict[int, object] = {}
        for layer in WRAPPED_LAYERS:
            top = importlib.import_module(f"{PACKAGE}.{layer}")
            mods = [top]
            if hasattr(top, "__path__"):
                mods += [
                    importlib.import_module(m.name)
                    for m in pkgutil.walk_packages(top.__path__, top.__name__ + ".")
                ]
            for mod in mods:
                rel = mod.__name__[len(PACKAGE) + 1:]
                for name, obj in list(vars(mod).items()):
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__
                        or inspect.isgeneratorfunction(obj)
                    ):
                        continue
                    wrappers[id(obj)] = self.wrap(obj, rel)
        self._wrappers = wrappers
        self.rebind()
        self._wrap_spark()
        return len(wrappers)

    def rebind(self) -> None:
        """Point every package-module name bound to a wrapped function at
        its wrapper."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                w = self._wrappers.get(id(obj))
                if w is not None and w.__bench_original__ is obj:
                    setattr(mod, name, w)

    def _wrap_spark(self) -> None:
        """Count py4j round trips; give ``localCheckpoint`` a span of its
        own in the caller's layer (``plans.checkpoint``)."""
        from py4j.java_gateway import GatewayClient
        from pyspark.sql.classic.dataframe import DataFrame

        send = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            if tracer.enabled:
                next(tracer._py4j)
            return send(client, *args, **kwargs)

        GatewayClient.send_command = send_command
        checkpoint = DataFrame.localCheckpoint

        def local_checkpoint(df, *args, **kwargs):
            if not tracer.enabled:
                return checkpoint(df, *args, **kwargs)
            st = tracer._stack()
            layer = st[-1].layer if st else "harness"
            span = tracer.open(f"{layer}.checkpoint", f"{layer}.checkpoint")
            try:
                return checkpoint(df, *args, **kwargs)
            finally:
                tracer.close(span)

        DataFrame.localCheckpoint = local_checkpoint

    def py4j_calls(self) -> int:
        """Gateway round trips since the last call."""
        n = next(self._py4j)  # the probe itself takes one value
        out, self._py4j_base = n - self._py4j_base, n + 1
        return out

    def dump(self, path: str, jobs_by_span: dict[int, list[int]]) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), jobs=jobs_by_span.get(s.id, [])) for s in self.spans], f
            )


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> dict[int, list[int]]:
    """Span id -> Spark job ids. A job tagged ``span-<id>`` belongs to
    that span; an untagged one (a stream's own job group) to the
    innermost span of the op's thread open at its submission time."""
    out: dict[int, list[int]] = {}
    main = sorted((s for s in spans if s.main), key=lambda s: s.start)
    for job in jobs:
        group = job.get("jobGroup") or ""
        if group.startswith("span-"):
            sid = int(group[5:])
        else:
            t = (job.get("submissionTime") or 0) / 1000
            cands = [s for s in main if s.start <= t < s.end]
            sid = max(cands, key=lambda s: s.start).id if cands else -1
        out.setdefault(sid, []).append(job["jobId"])
    return out

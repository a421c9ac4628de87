"""In-memory spans around the engine's public entry points.

The traced run patches a small set of functions and methods from the
benchmark's side (nothing in the engine changes) and records one span
per call: name, start, end, parent. Spans stay in memory; per-layer
metrics are computed from them when the run ends.

Self time of a span is its duration minus the time its direct children
cover. Work the tracer itself does inside a span (reading a manifest to
count live files, listing a table directory to count bytes written) is
recorded as a ``trace.bookkeeping`` child, so it is excluded from every
self time and from the net durations reported here.

Spark work is counted per operation with ``statusTracker`` job groups:
each operation sets its own group, and the jobs, stages and completed
tasks of that group are read back when it ends.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from contextlib import contextmanager

BOOKKEEPING = "trace.bookkeeping"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self._tls = threading.local()
        self._op_span: dict | None = None
        self._next = 0
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            self._next += 1
            sp = {"id": self._next, "name": name,
                  "parent": parent["id"] if parent else None,
                  "op": parent["op"] if parent else None,
                  "t0": time.perf_counter(), "t1": None}
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            stack.pop()

    @contextmanager
    def op(self, kind: str):
        """One benchmark operation: the root span plus its job group."""
        sc = self.spark.sparkContext
        group = f"perfbench-{self._next + 1}"
        sc.setJobGroup(group, kind)
        with self.span(f"op.{kind}") as sp:
            sp["op"] = sp["id"]
            self._op_span = sp
            try:
                yield sp
            finally:
                self._op_span = None
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                sinfo = st.getStageInfo(s)
                if sinfo is not None and sinfo.numCompletedTasks:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        sp.update(jobs=len(jobs), stages=stages, tasks=tasks)
        sc.setJobGroup("perfbench-idle", "between operations")

    def sample(self, name: str, value: float) -> None:
        with self._lock:
            self.samples.setdefault(name, []).append(float(value))

    # -- patching -------------------------------------------------------

    def wrap(self, owner, attr: str, name, before=None, after=None):
        """Replace ``owner.attr`` by a traced wrapper. ``name`` is the
        span name or a function of the call's arguments. ``before(args,
        kwargs)`` returns a state handed to ``after(state, args, kwargs,
        result)``; both run as bookkeeping."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            state = None
            if before is not None:
                with tracer.span(BOOKKEEPING):
                    state = before(args, kwargs)
            label = name(args, kwargs) if callable(name) else name
            with tracer.span(label):
                result = orig(*args, **kwargs)
            if after is not None:
                with tracer.span(BOOKKEEPING):
                    after(state, args, kwargs, result)
            return result

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- reduction ------------------------------------------------------

    def in_stack(self, names) -> bool:
        """Is a span with one of ``names`` open in this thread?"""
        return any(sp["name"] in names for sp in self._stack())

    def durations(self) -> dict[str, list[tuple[float, float]]]:
        """name -> [(net duration, self time)] over the closed spans
        that belong to an operation (checks run outside operations)."""
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None and sp["t1"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)

        def book(sp) -> float:
            return sum(
                (k["t1"] - k["t0"]) if k["name"] == BOOKKEEPING else book(k)
                for k in kids.get(sp["id"], ())
            )

        out: dict[str, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp["t1"] is None or sp["op"] is None or sp["name"] == BOOKKEEPING:
                continue
            dur = sp["t1"] - sp["t0"]
            child = sum(k["t1"] - k["t0"] for k in kids.get(sp["id"], ()))
            out.setdefault(sp["name"], []).append((dur - book(sp), dur - child))
        return out


def median_count(values: list[float]) -> tuple[float, int]:
    return (statistics.median(values) if values else 0.0), len(values)


def tree_files(root: str) -> dict[str, int]:
    """path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out

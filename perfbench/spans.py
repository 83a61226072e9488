"""Spans, layer wrappers and plan metrics for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
the wrappers below time calls into the engine's public functions, and
the executed plan's SQL metrics are read from the DataFrame's own
QueryExecution after the pass. Nothing here changes what the engine
computes; an untraced run installs none of it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    """In-memory span recorder. A span is (id, parent, name, op, start,
    end); ``op`` is the query or micro-batch the span belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the ``with`` body as a span under the current parent."""
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "parent": parent, "name": name, "op": op,
                               "start": start, "end": time.perf_counter()})

    def add(self, name: str, start: float, end: float, op: str | None = None,
            parent: int | None = None) -> int:
        """Record an already-timed span, by default under the current
        parent; returns its id."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = next(self._ids)
        self.spans.append({"id": sid, "parent": parent, "name": name, "op": op,
                           "start": start, "end": end})
        return sid

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of it that its
        children cover."""
        children: dict[int, list] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            inside = [(max(a, s["start"]), min(b, s["end"])) for a, b in children[s["id"]]]
            out[s["name"]] += (s["end"] - s["start"]) - _covered([(a, b) for a, b in inside if a < b])
        return dict(out)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps({"spans": self.spans, "self_s": self.self_times(),
                                    "counts": self.counts}))


def _covered(intervals: list) -> float:
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


def _wrap(tracer: Tracer, name: str, fn, on_call=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if on_call is not None:
            on_call(args, kwargs)
        tracer.counts[f"{name}.calls"] += 1
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def install(tracer: Tracer):
    """Wrap the catalog reads and the persist-once cache wherever they
    are bound, and return a function that puts the originals back.
    Operator modules import them by name (``from ..catalog import
    table``), so patching the defining module alone would leave those
    call sites unwrapped and ``catalog.*`` would read zero: every loaded
    engine module gets its binding replaced."""
    from bitcoinminingetl_spark import catalog
    from bitcoinminingetl_spark.functions import cache

    def cache_probe(args, kwargs):
        store, key = args[0], args[1]
        tracer.counts["cache.hits" if key in store else "cache.builds"] += 1

    targets = {
        id(catalog.table): _wrap(tracer, "catalog", catalog.table),
        id(catalog.events_in_range): _wrap(tracer, "catalog", catalog.events_in_range),
        id(cache.lru_persisted): _wrap(tracer, "cache", cache.lru_persisted, cache_probe),
    }
    replaced = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("bitcoinminingetl_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in targets:
                replaced.append((mod, attr, val))
                setattr(mod, attr, targets[id(val)])

    def restore() -> None:
        for mod, attr, val in replaced:
            setattr(mod, attr, val)

    return restore


def _scala_map(m) -> dict:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _plan_nodes(node, seen: set):
    """Every executed SparkPlan node once, descending through the AQE
    wrappers (final plan, query stages, reused exchanges) and each
    node's expression subqueries."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan(), seen)
        return
    if node.id() in seen:
        return
    seen.add(node.id())
    yield cls, node
    subs = node.subqueries()
    for i in range(subs.size()):
        yield from _plan_nodes(subs.apply(i), seen)
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan(), seen)
        return
    if cls == "ReusedExchangeExec":
        yield from _plan_nodes(node.child(), seen)
        return
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i), seen)


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "PythonMapInArrow")


def query_metrics(df) -> dict:
    """Catalyst phase times and summed SQL metrics of an executed
    DataFrame, read from its own QueryExecution."""
    qe = df._jdf.queryExecution()
    phases = {k: v.durationMs() / 1000.0 for k, v in _scala_map(qe.tracker().phases()).items()}
    m = defaultdict(float)
    for cls, node in _plan_nodes(qe.executedPlan(), set()):
        vals = {k: v.value() for k, v in _scala_map(node.metrics()).items()}
        m["shuffle_write_bytes"] += vals.get("shuffleBytesWritten", 0)
        m["spill_bytes"] += vals.get("spillSize", 0)
        m["peak_memory_bytes"] += vals.get("peakMemory", 0)
        if cls == "BroadcastExchangeExec":
            m["broadcast_rows"] += vals.get("numOutputRows", 0)
        if cls.startswith(PYTHON_NODES):
            m["python_rows"] += vals.get("pythonNumRowsReceived", vals.get("numOutputRows", 0))
    return {"analysis_s": phases.get("analysis", 0.0),
            "optimization_s": phases.get("optimization", 0.0),
            "planning_s": phases.get("planning", 0.0), **m}

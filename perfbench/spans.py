"""Span tracing from outside the engine package.

The engine is not modified. :func:`install` replaces the public functions
of each layer module with wrappers that open a span, and also rebinds the
names other package modules imported with ``from .x import y``. While a
span is open, Spark jobs carry its run and span id as their job group, so the
Spark driver's status store can charge every job's stage metrics to the span
that submitted it.

Known limit: Spark plans run lazily, so the work of a lazy plan is charged
to the span whose action triggers it, not to the span that built the plan.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import time
from dataclasses import dataclass, field

PKG = "azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark"

#: the package modules measured as layers, by their module names
LAYERS = [
    "session", "sources.io", "plans.medallion", "plans.star", "plans.scd",
    "plans.versioned", "operators.relational", "operators.fastagg",
    "operators.asof", "operators.sessionize", "functions.text",
    "operators.dedup", "operators.components", "operators.similarity",
    "catalog",
]

#: per-layer counters; zero-in-every-workload ones are left out of
#: BENCHMARK.json
COUNTERS = ["calls", "self_s", "jobs", "task_s", "core_util", "shuffle_bytes",
            "output_bytes", "spill_bytes"]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children_s


@dataclass
class Recorder:
    """In-memory span recorder. Spans carry name, start, end, parent and a
    run id; they are only written out (:meth:`dump`) when the run ends."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    sc: object = None  # SparkContext, once the session exists
    #: seconds spent in the recorder itself (span bookkeeping plus the
    #: job-group calls into the JVM): the in-process tracing overhead
    overhead_s: float = 0.0
    #: off while the benchmark probes counters after the run
    enabled: bool = True

    def open(self, name: str, layer: str) -> int:
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(sid, name, layer, parent, self.run_id, 0.0))
        self.stack.append(sid)
        self._tag(sid)
        t1 = time.perf_counter()
        self.spans[sid].start = t1
        self.overhead_s += t1 - t0
        return sid

    def close(self, sid: int) -> None:
        t0 = time.perf_counter()
        sp = self.spans[sid]
        sp.end = t0
        self.stack.pop()
        if sp.parent is not None:
            self.spans[sp.parent].children_s += sp.end - sp.start
        self._tag(self.stack[-1] if self.stack else None)
        self.overhead_s += time.perf_counter() - t0

    def group(self, sid: int) -> str:
        """The Spark job group of span ``sid``."""
        return f"{self.run_id}/{sid}"

    def reset(self, run_id: str) -> None:
        """Start a new run on the same wrappers: drop the spans, keep the
        recorder object the installed wrappers point at."""
        self.run_id, self.spans, self.stack, self.overhead_s = run_id, [], [], 0.0

    def _tag(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(self.group(sid), self.spans[sid].name)

    def span(self, name: str, layer: str = "bench") -> "_SpanCtx":
        return _SpanCtx(self, name, layer)

    @contextlib.contextmanager
    def paused(self):
        """Run engine calls without recording spans."""
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = True

    def dump(self, path: str) -> None:
        """Append the spans as JSON lines."""
        import json

        with open(path, "a", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                    "run_id": s.run_id, "start": s.start, "end": s.end,
                }) + "\n")


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str, layer: str):
        self.rec, self.name, self.layer = rec, name, layer

    def __enter__(self) -> int:
        self.sid = self.rec.open(self.name, self.layer)
        return self.sid

    def __exit__(self, *exc) -> None:
        self.rec.close(self.sid)


class NullRecorder:
    """Stand-in for untraced runs: spans cost one context-manager call."""

    def span(self, name: str, layer: str = "bench") -> "_NullCtx":
        return _NULL


class _NullCtx:
    def __enter__(self) -> None:
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL = _NullCtx()


def _wrap(fn, layer: str, rec: Recorder):
    name = f"{layer}.{fn.__name__}"

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not rec.enabled:
            return fn(*args, **kwargs)
        sid = rec.open(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            rec.close(sid)

    return traced


def install(rec: Recorder, layers: list[str] = LAYERS) -> int:
    """Wrap every public function defined in each layer module, then rebind
    the same function objects wherever another package module imported
    them by name. ``catalog`` is a layer of spans the benchmark opens per
    query, so its functions are left alone. Returns the number of
    functions wrapped."""
    wrapped: dict[int, object] = {}
    for layer in layers:
        if layer == "catalog":
            continue
        mod = importlib.import_module(f"{PKG}.{layer}")
        for attr, obj in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
            ):
                continue
            w = _wrap(obj, layer, rec)
            wrapped[id(obj)] = w
            setattr(mod, attr, w)
    for mname, mod in list(sys.modules.items()):
        if mod is None or not mname.startswith(PKG):
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)
    return len(wrapped)


def stage_metrics_by_group(sc) -> dict[str, dict[str, float]]:
    """Sum the stage metrics of every finished job per job group, read
    from the Spark driver's status store. A stage shared by several jobs is
    charged once, to the first job listing it."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    stages = {}
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for st in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        agg = stages.setdefault(int(st.stageId()), [0, 0, 0, 0, 0])
        agg[0] += st.executorRunTime()
        agg[1] += st.shuffleWriteBytes()
        agg[2] += st.outputBytes()
        agg[3] += st.diskBytesSpilled()
        agg[4] += st.outputRecords()
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    for job in sorted(conv.asJava(store.jobsList(None)), key=lambda j: j.jobId()):
        g = job.jobGroup()
        group = g.get() if g.isDefined() else ""
        m = out.setdefault(group, {"jobs": 0, "task_s": 0.0, "shuffle_bytes": 0,
                                   "output_bytes": 0, "spill_bytes": 0, "output_records": 0})
        m["jobs"] += 1
        for sid in conv.asJava(job.stageIds()):
            sid = int(sid)
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            run_ms, shuf, outb, spill, recs = stages[sid]
            m["task_s"] += run_ms / 1000.0
            m["shuffle_bytes"] += shuf
            m["output_bytes"] += outb
            m["spill_bytes"] += spill
            m["output_records"] += recs
    return out


def layer_metrics(rec: Recorder, by_group: dict, cores: int) -> dict[str, float]:
    """Per-layer counters: calls, self time, Spark jobs and their summed
    executor run time, core utilisation over self time, shuffle, output
    and spill bytes."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        for c in COUNTERS:
            out[f"{layer}.{c}"] = 0.0
    for sp in rec.spans:
        if sp.layer not in LAYERS:
            continue
        out[f"{sp.layer}.calls"] += 1
        out[f"{sp.layer}.self_s"] += sp.self_s
        g = by_group.get(rec.group(sp.id))
        if g:
            out[f"{sp.layer}.jobs"] += g["jobs"]
            out[f"{sp.layer}.task_s"] += g["task_s"]
            out[f"{sp.layer}.shuffle_bytes"] += g["shuffle_bytes"]
            out[f"{sp.layer}.output_bytes"] += g["output_bytes"]
            out[f"{sp.layer}.spill_bytes"] += g["spill_bytes"]
            out[f"{sp.layer}.output_records"] = (
                out.get(f"{sp.layer}.output_records", 0) + g["output_records"]
            )
    for layer in LAYERS:
        self_s = out[f"{layer}.self_s"]
        out[f"{layer}.core_util"] = (
            out[f"{layer}.task_s"] / (self_s * cores) if self_s > 0 else 0.0
        )
    return out


def subtree(rec: Recorder, root: int) -> list[Span]:
    """The spans opened (transitively) under ``root``, root excluded."""
    inside = {root}
    out = []
    for sp in rec.spans[root + 1:]:
        if sp.parent in inside:
            inside.add(sp.id)
            out.append(sp)
    return out

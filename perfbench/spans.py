"""Traced-run instrumentation: spans, counts and per-layer wrappers.

Everything here is installed only for a traced pass and removed after it,
so an untraced pass runs the engine exactly as a user would.

Spans form the tree workload > pass > query > {build, sink} > layer call.
Each span records its name, start, end, parent and the id of the query
execution it belongs to. Spark jobs are attributed to spans afterwards by
their submission time, which also catches jobs that Structured Streaming
submits from its own micro-batch thread.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

# (module, attribute, layer name) of every engine function the traced run
# times. Each is rebound in every loaded ``semantic_cpp_spark`` module that
# imported it by name, not only in its home module.
LAYER_FUNCTIONS = [
    ("semantic_cpp_spark.indexing", "with_ordinal", "indexing.with_ordinal"),
    (
        "semantic_cpp_spark.functions.stats",
        "percentiles_exact_sorted",
        "stats.percentiles_exact_sorted",
    ),
    ("semantic_cpp_spark.streaming.ops", "run_to_memory", "streaming.run_to_memory"),
]

# DataFrame methods that materialise an intermediate.
MATERIALIZE_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")

ENGINE_PACKAGE = "semantic_cpp_spark"


class Tracer:
    """In-memory span and count recorder; dumped when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, exec_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "exec": exec_id or (parent["exec"] if parent else None),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n


def _layer_wrapper(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer.count(f"{layer}.calls")
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return traced


def _materialize_wrapper(tracer: Tracer, method: str, fn):
    @functools.wraps(fn)
    def traced(self, *args, **kwargs):
        cur = tracer.current()
        if cur is not None and cur["name"] == "materialize":
            return fn(self, *args, **kwargs)
        tracer.count("materialize.calls")
        tracer.count(f"materialize.{method}.calls")
        with tracer.span("materialize"):
            return fn(self, *args, **kwargs)

    return traced


class Instrumentation:
    """Installs the layer and materialisation wrappers; ``restore()``
    puts back every original object it replaced."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        try:
            for modname, attr, layer in LAYER_FUNCTIONS:
                original = getattr(importlib.import_module(modname), attr)
                wrapper = _layer_wrapper(self.tracer, layer, original)
                for mod in list(sys.modules.values()):
                    name = getattr(mod, "__name__", "")
                    if name != ENGINE_PACKAGE and not name.startswith(ENGINE_PACKAGE + "."):
                        continue
                    for key, value in list(vars(mod).items()):
                        if value is original:
                            self._set(mod, key, wrapper)
            for method in MATERIALIZE_METHODS:
                original = ClassicDataFrame.__dict__[method]
                self._set(
                    ClassicDataFrame,
                    method,
                    _materialize_wrapper(self.tracer, method, original),
                )
        except BaseException:
            self.restore()
            raise

    def _set(self, owner: object, attr: str, value: object) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def __enter__(self) -> "Instrumentation":
        self.install()
        return self

    def __exit__(self, *exc) -> None:
        self.restore()


def _innermost(spans: list[dict], t: float) -> dict | None:
    """The deepest span whose interval holds time ``t`` (spans come from a
    single thread, so intervals either nest or are disjoint)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, set[str]]:
    """For each job, the set of span names on the chain from the innermost
    span holding its submission time up to the root. Keyed by job id."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, set[str]] = {}
    for job in jobs:
        sub = job.get("submissionTime")
        if sub is None:
            continue
        span = _innermost(spans, sub / 1000.0)
        names: set[str] = set()
        while span is not None:
            names.add(span["name"])
            span["jobs"] = span.get("jobs", 0) + 1
            span = by_id.get(span["parent"])
        out[job["jobId"]] = names
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Summed self time per span name: duration minus the union of the
    direct children's intervals (children never overlap each other)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def outermost_time(spans: list[dict], name: str) -> float:
    """Wall time covered by spans called ``name``, not counting a span
    nested in another span of the same name twice."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        if p is None:
            total += s["end"] - s["start"]
    return total

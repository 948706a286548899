"""Span tracing from outside the program.

:class:`Tracer` wraps, at run time, the public functions (and public
methods of public classes) of each layer module, and rebinds every name
another module of the package imported from those modules.  While a
pass is traced each wrapped call

* records a :class:`Span` (name, start, end, parent, pass id) in memory;
* sets a Spark job group unique to the span, so the status store can
  attribute jobs, task time and shuffle bytes to it;
* at the outermost call into a module (no enclosing span of the same
  module), counts the DataFrames it returns under that job group — lazy
  work is then charged to the layer that planned it instead of the
  first action downstream.

The caller still receives the frames the program built, so every plan
downstream is the program's own: work the program recomputes is
recomputed in the traced pass too.  The counts are extra jobs, and they
are what the traced pass adds to the untraced pass time.

The program's files are not modified; the wrappers are removed by
:meth:`Tracer.uninstall`.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import inspect
import itertools
import sys
import threading
import time

from pyspark.sql import DataFrame

from engine import covered_seconds

PACKAGE = "puma_matcher_spark"

LAYERS = (
    "pipeline",
    "operators.matcher",
    "operators.scorer",
    "operators.filters",
    "operators.normaliser",
    "operators.persister",
    "operators.stats",
    "operators.weights",
    "operators.dedup",
    "operators.graph",
    "llmdata.pipeline",
    "llmdata.dedup",
    "llmdata.textstats",
)

SPAN_METRICS = (
    ("calls", "count"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("task_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("rows_out", "rows"),
)

#: curate_documents' default near-duplicate threshold: a candidate pair
#: at or above it is a verified near duplicate
JACCARD_THRESHOLD = 0.8

_JOB_GROUP = "spark.jobGroup.id"
_OVERHEAD_GROUP = "perfbench-overhead"


@dataclasses.dataclass
class Span:
    id: int
    name: str
    layer: str
    pass_id: int
    parent: Span | None
    start: float = 0.0
    end: float = 0.0
    rows_out: int = 0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "layer": self.layer,
            "pass_id": self.pass_id,
            "parent": self.parent.id if self.parent else None,
            "start": self.start,
            "end": self.end,
            "rows_out": self.rows_out,
        }


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover
    (children may overlap when they ran on several threads)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent.id, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = (s.end - s.start) - covered_seconds(kids)
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.pass_id = 0
        self.active = False
        self.filter_rows_in = 0
        self.filter_rows_out = 0
        self.lsh_candidates = 0
        self.lsh_verified = 0
        self.cache_calls = 0
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- installation -----------------------------------------------------

    def install(self) -> None:
        wrappers: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
                    wrapped = self._wrap(obj, layer, f"{layer}.{name}")
                    wrappers[id(obj)] = wrapped
                    self._set(mod, name, wrapped)
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and inspect.isfunction(meth):
                            self._set(
                                obj,
                                mname,
                                self._wrap(meth, layer, f"{layer}.{name}.{mname}"),
                            )
        caching = importlib.import_module(f"{PACKAGE}.functions.caching")
        original = caching.persist_rotating
        wrappers[id(original)] = self._count_calls(original)
        self._set(caching, "persist_rotating", wrappers[id(original)])
        # names other modules imported with ``from <layer> import f``
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrappers and obj is not wrappers[id(obj)]:
                    self._set(mod, name, wrappers[id(obj)])

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._restore):
            setattr(owner, name, original)
        self._restore.clear()

    def _set(self, owner, name: str, value) -> None:
        self._restore.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    # -- passes -----------------------------------------------------------

    def begin_pass(self, pass_id: int) -> None:
        self.pass_id = pass_id
        self._main = threading.get_ident()
        self.active = True

    def end_pass(self) -> None:
        self.active = False

    # -- wrapped calls ----------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[Span]) -> Span | None:
        if stack:
            return stack[-1]
        # a worker thread's first call hangs under the call that was
        # open on the pass's thread when it started (Pipeline.run)
        return self._main_stack[-1] if self._main_stack else None

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            return tracer._call(fn, layer, name, args, kwargs)

        return wrapper

    def _call(self, fn, layer, name, args, kwargs):
        stack = self._stack()
        parent = self._parent(stack)
        outermost = True
        p = parent
        while p is not None:
            if p.layer == layer:
                outermost = False
                break
            p = p.parent
        rows_in = None
        if outermost and layer == "operators.filters":
            rows_in = self._overhead_count(
                next((a for a in args if isinstance(a, DataFrame)), None)
            )
        with self._lock:
            span = Span(next(self._ids), name, layer, self.pass_id, parent)
        previous_group = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, span.group)
        stack.append(span)
        span.start = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            if outermost:
                self._count_outputs(result, span)
        finally:
            span.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, previous_group)
            with self._lock:
                self.spans.append(span)
        if rows_in is not None:
            with self._lock:
                self.filter_rows_in += rows_in
                self.filter_rows_out += span.rows_out
        if outermost and name == "llmdata.dedup.jaccard_for_pairs":
            verified = self._overhead_count(
                result.where(result["jaccard"] >= JACCARD_THRESHOLD)
            )
            with self._lock:
                self.lsh_candidates += span.rows_out
                self.lsh_verified += verified
        return result

    def _count_outputs(self, result, span: Span) -> None:
        """Count every DataFrame in ``result`` (a frame, or a dict or
        dataclass holding frames) into ``span.rows_out``."""
        if isinstance(result, DataFrame):
            if not result.isStreaming:
                span.rows_out += result.count()
        elif isinstance(result, dict):
            for v in result.values():
                self._count_outputs(v, span)
        elif dataclasses.is_dataclass(result) and not isinstance(result, type):
            for f in dataclasses.fields(result):
                if isinstance(getattr(result, f.name), DataFrame):
                    self._count_outputs(getattr(result, f.name), span)

    def _overhead_count(self, df: DataFrame | None) -> int | None:
        """Count outside any span, under a job group no layer owns."""
        if df is None:
            return None
        previous_group = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, _OVERHEAD_GROUP)
        try:
            return df.count()
        finally:
            self.sc.setLocalProperty(_JOB_GROUP, previous_group)

    def _count_calls(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.active:
                with tracer._lock:
                    tracer.cache_calls += 1
            return fn(*args, **kwargs)

        return wrapper

    # -- results ----------------------------------------------------------

    def layer_metrics(self, group_totals: dict[str, dict]) -> dict[str, float]:
        """``<layer>.<metric>`` for every layer, zero where a layer was
        not called; ``group_totals`` comes from
        :func:`engine.group_totals`."""
        selfs = self_times(self.spans)
        out = {f"{layer}.{m}": 0 for layer in LAYERS for m, _ in SPAN_METRICS}
        for s in self.spans:
            g = group_totals.get(s.group, {})
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.self_s"] += selfs[s.id]
            out[f"{s.layer}.jobs"] += g.get("jobs", 0)
            out[f"{s.layer}.task_s"] += g.get("task_s", 0.0)
            out[f"{s.layer}.shuffle_write_bytes"] += g.get("shuffle_write_bytes", 0)
            out[f"{s.layer}.rows_out"] += s.rows_out
        out["operators.filters.pass_ratio"] = (
            self.filter_rows_out / self.filter_rows_in if self.filter_rows_in else 0.0
        )
        out["llmdata.dedup.lsh_precision"] = (
            self.lsh_verified / self.lsh_candidates if self.lsh_candidates else 0.0
        )
        out["functions.caching.calls"] = self.cache_calls
        return out

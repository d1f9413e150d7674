"""Layer spans recorded from outside the program, plus event-log parsing.

:class:`Tracer` wraps the public functions of each layer module in a
span (name, start, end, parent). While a span is open on the driver
thread its id is the SparkContext local property ``bench.span``, which
Spark copies into every job's properties; the event log then says
which span submitted each job, and a job is attributed to the
innermost span open when it was submitted. Spans live in memory and
are summarised when the run ends.

Wrapping replaces every binding of the original function across the
loaded ``mozart_etl_spark`` modules (``from ..io import table`` copies
the function into each query module), and :meth:`Tracer.uninstall`
puts the originals back, so untraced passes run the unmodified code.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

SPAN_PROP = "bench.span"

#: span name -> (module, attribute); ``Class.method`` attributes wrap
#: the method on the class
LAYER_FUNCTIONS: dict[str, tuple[str, str]] = {
    "pipeline.ingest": ("mozart_etl_spark.pipeline", "TenantPipeline.ingest"),
    "sources.extract_table": ("mozart_etl_spark.sources.reader", "extract_table"),
    "writers.full_replace": ("mozart_etl_spark.writers", "full_replace"),
    "writers.merge_upsert": ("mozart_etl_spark.writers", "merge_upsert"),
    "writers.append": ("mozart_etl_spark.writers", "append"),
    "plans.graph": ("mozart_etl_spark.plans.graph", "ModelGraph.from_dir"),
    "plans.render_model": ("mozart_etl_spark.plans.render", "render_model"),
    "plans.runner": ("mozart_etl_spark.plans.runner", "ModelRunner.run"),
    "cursor.get": ("mozart_etl_spark.cursor", "CursorStore.get"),
    "cursor.set": ("mozart_etl_spark.cursor", "CursorStore.set"),
    "io.table": ("mozart_etl_spark.io", "table"),
    "streaming.run_to_memory": ("mozart_etl_spark.streaming.events", "run_to_memory"),
    "streaming.stream_merge_to_table": ("mozart_etl_spark.streaming.sink", "stream_merge_to_table"),
}

#: every public function defined in these modules is wrapped under one
#: span name per module; only the outermost call is recorded, since the
#: operators call each other
OPERATOR_MODULES = ("dedup", "similarity", "text", "corpus", "multimodal")

#: spans opened by the benchmark itself around each query
HARNESS_SPANS = ("querybank.build", "catalyst.plan", "query.execute")

#: physical operators that run Python workers
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonRDD",
    "PythonUDTF",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _originals: list[tuple[object, str, object]] = field(default_factory=list)
    _next_id: int = 1
    _main: int = field(default_factory=threading.get_ident)
    #: add to a perf_counter reading to get epoch seconds
    epoch_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())

    # -- spans --------------------------------------------------------------

    def open(self, name: str) -> Span:
        on_main = threading.get_ident() == self._main
        parent = self._stack[-1].id if self._stack else None
        span = Span(self._next_id, name, parent, time.perf_counter())
        self._next_id += 1
        self.spans.append(span)
        if on_main:
            self._stack.append(span)
            _set_span_prop(span.id)
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        if threading.get_ident() == self._main and self._stack and self._stack[-1] is span:
            self._stack.pop()
            _set_span_prop(self._stack[-1].id if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.open(name)
        try:
            yield span
        finally:
            self.close(span)

    def _inside(self, prefix: str) -> bool:
        return any(s.name.startswith(prefix) for s in self._stack)

    # -- wrapping -----------------------------------------------------------

    def _wrap(self, fn, name: str, outermost: bool = False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if outermost and tracer._inside("operators."):
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _rebind(self, original, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("mozart_etl_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._originals.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        for name, (mod_name, attr) in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = inspect.getattr_static(cls, meth)
                if isinstance(raw, classmethod):
                    new = classmethod(self._wrap(raw.__func__, name))
                else:
                    new = self._wrap(raw, name)
                self._originals.append((cls, meth, raw))
                setattr(cls, meth, new)
            else:
                original = getattr(mod, attr)
                self._rebind(original, self._wrap(original, name))
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"mozart_etl_spark.operators.{short}")
            for attr, value in list(vars(mod).items()):
                if (
                    inspect.isfunction(value)
                    and not attr.startswith("_")
                    and value.__module__ == mod.__name__
                ):
                    self._rebind(value, self._wrap(value, f"operators.{short}", outermost=True))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._originals):
            setattr(owner, attr, original)
        self._originals.clear()


def _set_span_prop(span_id: int | None) -> None:
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(SPAN_PROP, None if span_id is None else str(span_id))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class EventLog:
    """Jobs, tasks and streaming progress read from Spark's event log."""

    jobs: dict[int, dict] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_t0: dict[int, float] = field(default_factory=dict)
    python_stages: set[int] = field(default_factory=set)
    tasks: list[dict] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path) as f:
            for line in f:
                log._add(json.loads(line))
        return log

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get(SPAN_PROP)
            self.jobs[e["Job ID"]] = {
                "t0": e["Submission Time"] / 1000.0,
                "span": int(span) if span else None,
            }
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["t1"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if "Submission Time" in info:
                self.stage_t0[info["Stage ID"]] = info["Submission Time"] / 1000.0
            text = " ".join(
                f"{r.get('Name', '')} {r.get('Scope', '')} {r.get('Callsite', '')}"
                for r in info.get("RDD Info", [])
            )
            if any(node in text for node in PYTHON_NODES):
                self.python_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(e)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            self.progress.append(e["progress"])


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total

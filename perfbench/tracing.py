"""Per-layer tracing from outside the program.

``Tracer.install`` replaces the public functions of each layer with
timing wrappers, at every module attribute that holds them, because
callers resolve names differently: ``queries`` imports ``load_table``
by name while the plans import operator modules whole. ``uninstall``
puts the originals back, so untraced passes run the program as
shipped. Wrappers copy the original's ``__module__``/``__qualname__``
(``functools.wraps``) and the patched module attribute is the wrapper
itself, so cloudpickle still ships a wrapped function to Python
workers by reference and the worker imports the original.

Spans live in memory (name, layer, start, end, parent) and are written
once at the end of the run. Spark work is credited to each benchmark
operation through a job tag the benchmark adds around it; the tag's
jobs, stages and task metrics are read back after the pass, untimed,
from ``statusTracker()`` and the REST API at ``sc.uiWebUrl``.
Tracing never issues a Spark job: it only reads row counts of
collected results and the status of finished jobs.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

PKG = "climate_data_pipelines_spark"
OPERATOR_MODULES = ["dedup", "similarity", "textops", "training", "classifier"]
PLAN_STAGES = [
    "neardup_dedup", "url_dedup_keep", "c4_scrub_stage", "domain_gate_drop",
    "containment_dedup", "cluster_mix_stage", "_write_dedup_index",
    "_write_packing", "curate_corpus", "curate_increment",
]
DATAFRAME_METHODS = {
    "localCheckpoint": "materialize",
    "checkpoint": "materialize",
    "collect": "driver",
    "toPandas": "driver",
}


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    rows: int | None = None


@dataclass
class OpSpark:
    """Spark work of a set of benchmark operations."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    active: bool = False
    sink_dirs: list[str] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)

    # ---- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, layer: str, name: str) -> Span:
        stack = self._stack()
        span = Span(len(self.spans), stack[-1].sid if stack else None,
                    layer, name, time.perf_counter())
        self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        self._stack().pop()

    def _wrap(self, orig, layer: str, name: str, rows: bool = False):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            if layer == "sinks":
                # bytes and files are counted after the pass, not
                # inside the span
                out_dir = kwargs.get("out_dir", args[1] if len(args) > 1 else None)
                tracer.sink_dirs.append(f"{out_dir}/shards")
            span = tracer.begin(layer, name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.end(span)
            if rows:
                span.rows = len(result)
            return result

        return wrapper

    # ---- patching ------------------------------------------------------
    def _patch_everywhere(self, orig, wrapper) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, orig))

    def install(self) -> None:
        from climate_data_pipelines_spark import catalog, session, sinks
        from climate_data_pipelines_spark.plans import llm_curation
        from pyspark.sql.classic.dataframe import DataFrame

        targets = [
            (session.get_spark, "session", "get_spark"),
            (catalog.load_table, "catalog", "load_table"),
            (sinks.write_training_shards, "sinks", "write_training_shards"),
        ]
        for stage in PLAN_STAGES:
            targets.append((getattr(llm_curation, stage), "plans", stage.lstrip("_")))
        for short in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{short}")
            for attr, value in vars(mod).items():
                if (inspect.isfunction(value) and not attr.startswith("_")
                        and value.__module__ == mod.__name__):
                    targets.append((value, f"operators.{short}", attr))
        for orig, layer, name in targets:
            self._patch_everywhere(orig, self._wrap(orig, layer, name))
        for meth, layer in DATAFRAME_METHODS.items():
            orig = getattr(DataFrame, meth)
            setattr(DataFrame, meth,
                    self._wrap(orig, layer, meth, rows=layer == "driver"))
            self._patched.append((DataFrame, meth, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- Spark accounting ---------------------------------------------
    def job_ids(self, tag: str) -> list[int]:
        tracker = self.spark.sparkContext._jsc.sc().statusTracker()
        return sorted(tracker.getJobIdsForTag(tag))

    def drain_listener(self) -> None:
        """Wait until the UI has seen every finished task, so the REST
        metrics of the last stages are complete."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_metrics(self) -> dict[int, dict]:
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
        with urllib.request.urlopen(url, timeout=30) as resp:
            stages = json.load(resp)
        return {s["stageId"]: s for s in stages if s["status"] == "COMPLETE"}

    def spark_work(self, tags: list[str], stages: dict[int, dict]) -> OpSpark:
        """Jobs, completed stages and task metrics under ``tags``."""
        tracker = self.spark.sparkContext.statusTracker()
        out = OpSpark()
        for job in sorted({j for tag in tags for j in self.job_ids(tag)}):
            out.jobs += 1
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for sid in info.stageIds:
                s = stages.get(sid)
                if s is None:  # skipped: its shuffle output was reused
                    continue
                out.stages += 1
                out.tasks += s["numCompleteTasks"]
                out.task_s += s["executorRunTime"] / 1e3
                out.task_cpu_s += s["executorCpuTime"] / 1e9
                out.gc_s += s["jvmGcTime"] / 1e3
                out.shuffle_read_bytes += s["shuffleReadBytes"]
                out.shuffle_write_bytes += s["shuffleWriteBytes"]
        return out

    # ---- summaries -----------------------------------------------------
    def layer_totals(self, since: int = 0) -> dict[str, tuple[float, int, int]]:
        """(seconds, calls, rows) per layer over spans recorded from
        index ``since``: a call counts once per layer, at its outermost
        span, so a layer function calling another of the same layer is
        not counted twice."""
        spans = self.spans[since:]
        by_id = {s.sid: s for s in spans}
        out: dict[str, tuple[float, int, int]] = {}
        for s in spans:
            p = by_id.get(s.parent)
            nested = False
            while p is not None:
                if p.layer == s.layer:
                    nested = True
                    break
                p = by_id.get(p.parent)
            if nested:
                continue
            sec, calls, rows = out.get(s.layer, (0.0, 0, 0))
            out[s.layer] = (sec + s.t1 - s.t0, calls + 1, rows + (s.rows or 0))
        return out

    def name_totals(self, layer: str, since: int = 0) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans[since:]:
            if s.layer == layer:
                out[s.name] = out.get(s.name, 0.0) + s.t1 - s.t0
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({
                **extra,
                "spans": [
                    [s.sid, s.parent, s.layer, s.name, round(s.t0, 6),
                     round(s.t1, 6), s.rows]
                    for s in self.spans
                ],
                "span_fields": ["id", "parent", "layer", "name", "t0", "t1", "rows"],
            }, fh)

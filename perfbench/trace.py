"""Spans around the engine's public functions, from outside the engine.

A :class:`Tracer` patches the public functions of the engine's modules
(module functions and class methods) with wrappers that open a span per
call. Each span sets its own Spark job group, so the jobs a call starts are
attributed to that span through Spark's status store, which works with the
UI disabled. Spans stay in memory; :func:`layer_metrics` turns them into the
per-layer metrics once the traced iteration is over.

A layer's self time is its spans' durations minus the part of each interval
that child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import inspect
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

ENGINE = "metadata_driven_etl_spark"
OPERATOR_MODULES = (
    "aggregations", "cooccur", "decontam", "dedup", "filters", "graph",
    "joins", "merge", "multimodal", "profiling", "projections", "sampling",
    "setops", "similarity", "sorts", "spatial", "temporal", "text", "windows",
)
METADATA_CALLS = (
    "audit.flush", "control.update_run", "control.get_last_run_date",
    "dictionary.register", "dq_metrics.record",
)
IO_CALLS = ("append", "overwrite", "overwrite_partitions", "merge")
PIPELINE_LAYERS = ("bronze", "silver", "gold", "corpus")  # also their databases
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


@dataclass
class Span:
    id: int
    name: str  # e.g. "metadata.control.update_run", "operators.dedup"
    layer: str  # first component of name
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[dict] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= reach:
            continue
        total += hi - max(lo, reach)
        reach = hi
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.duration - covered(children[s.id]) for s in spans}


class Tracer:
    """Records spans; :meth:`install` patches the engine, :meth:`uninstall`
    puts every original back."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.own_s = 0.0  # time spent opening and closing spans

    # -- spans --------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            span = Span(next(self._ids), name, name.split(".")[0],
                        stack[-1].id if stack else None, 0.0)
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        span.start = time.perf_counter()
        with self._lock:
            self.own_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self._set_group(stack[-1] if stack else None)
        with self._lock:
            self.own_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- patching -----------------------------------------------------------

    def _patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def _patch_function(self, fn, name: str) -> None:
        self._patches += rebind(fn, self.wrap(fn, name))

    def install(self) -> None:
        from metadata_driven_etl_spark import catalog
        from metadata_driven_etl_spark.dq.engine import DataQualityEngine
        from metadata_driven_etl_spark.io.writer import TableFormat
        from metadata_driven_etl_spark.metadata.audit import AuditLogger
        from metadata_driven_etl_spark.metadata.control import ControlTable
        from metadata_driven_etl_spark.metadata.metrics import (
            DataDictionary,
            DQMetricsStore,
        )
        from metadata_driven_etl_spark.plans import pipeline, runner
        from metadata_driven_etl_spark.plans.corpus import CorpusLayer
        from metadata_driven_etl_spark.sources import readers

        for cls, attr, name in (
            (AuditLogger, "flush", "metadata.audit.flush"),
            (ControlTable, "update_run", "metadata.control.update_run"),
            (ControlTable, "get_last_run_date", "metadata.control.get_last_run_date"),
            (DataDictionary, "register", "metadata.dictionary.register"),
            (DQMetricsStore, "record", "metadata.dq_metrics.record"),
            (AuditLogger, "__init__", "metadata.init"),
            (ControlTable, "__init__", "metadata.init"),
            (DataDictionary, "__init__", "metadata.init"),
            (DQMetricsStore, "__init__", "metadata.init"),
            (DataQualityEngine, "apply", "dq.apply"),
            (pipeline.BronzeLayer, "run", "plans.bronze"),
            (pipeline.SilverLayer, "run", "plans.silver"),
            (pipeline.GoldLayer, "run", "plans.gold"),
            (CorpusLayer, "run", "plans.corpus"),
        ):
            self._patch(cls, attr, name)
        for op in IO_CALLS:
            self._patch(TableFormat, op, f"io.{op}")
        self._patch_function(runner.run_pipeline, "plans.pipeline")
        self._patch_function(readers.read_file_source, "sources.read_file_source")
        self._patch_function(catalog.load_table, "catalog.load_table")
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{ENGINE}.operators.{mod_name}")
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                    and not attr.startswith("_")
                ):
                    self._patch_function(fn, f"operators.{mod_name}")

    def uninstall(self) -> None:
        restore(self._patches)
        self._patches.clear()


def rebind(fn, replacement) -> list[tuple[object, str, object]]:
    """Replace ``fn`` in every loaded engine module that binds it, so
    ``from x import fn`` call sites see ``replacement`` too. Returns what
    :func:`restore` needs to undo it."""
    patches = []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname.startswith(ENGINE) or modname == "__spark_entry__"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is fn:
                patches.append((mod, attr, fn))
                setattr(mod, attr, replacement)
    return patches


def restore(patches: list[tuple[object, str, object]]) -> None:
    for owner, attr, original in reversed(patches):
        setattr(owner, attr, original)


# -- Spark status store ----------------------------------------------------


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def attach_jobs(spark_context, spans: list[Span]) -> None:
    """Attach each Spark job, with the metrics of the stages it ran, to the
    span whose job group it ran under. A stage that several jobs share is
    counted once, for the first job that lists it."""
    by_group = {f"perfbench-{s.id}": s for s in spans}
    store = spark_context._jsc.sc().statusStore()
    seen: set[int] = set()
    jobs = sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId())
    for job in jobs:
        group = job.jobGroup()
        if not group.isDefined() or group.get() not in by_group:
            continue
        rec = dict.fromkeys(SPARK_COUNTERS, 0)
        rec["jobs"] = 1
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            rec["executor_run_s"] += st.executorRunTime() / 1e3
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_read_bytes"] += (
                st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
            )
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["input_bytes"] += st.inputBytes()
        by_group[group.get()].jobs.append(rec)


# -- per-layer metrics ------------------------------------------------------


def _under(span: Span, index: dict[int, Span], prefix: str) -> bool:
    """True if an ancestor of ``span`` has a name starting with ``prefix``."""
    p = span.parent
    while p is not None:
        if index[p].name.startswith(prefix):
            return True
        p = index[p].parent
    return False


def inclusive_jobs(spans: list[Span]) -> dict[int, int]:
    """Span id -> jobs run under the span or any of its descendants."""
    total = {s.id: len(s.jobs) for s in spans}
    for s in sorted(spans, key=lambda s: s.id, reverse=True):  # children first
        if s.parent is not None:
            total[s.parent] += total[s.id]
    return total


def layer_metrics(spans: list[Span], wall_s: float) -> dict[str, float]:
    """Per-layer metrics of one traced iteration lasting ``wall_s``."""
    index = {s.id: s for s in spans}
    own = self_times(spans)
    incl = inclusive_jobs(spans)
    m: dict[str, float] = defaultdict(float)
    metadata_s = 0.0
    for s in spans:
        if s.layer == "metadata" and not _under(s, index, "metadata."):
            metadata_s += s.duration  # outermost metadata-plane calls
        if s.name.startswith("metadata.") and s.name != "metadata.init":
            m[f"{s.name}.calls"] += 1
            m[f"{s.name}.s"] += s.duration
            m[f"{s.name}.jobs"] += incl[s.id]
        if s.layer == "io" and not _under(s, index, "io."):
            m[f"{s.name}.calls"] += 1
            m[f"{s.name}.s"] += s.duration
            kind = "meta_write" if _under(s, index, "metadata.") else "data_write"
            m[f"io.{kind}.s"] += s.duration
        if s.name in ("dq.apply", "sources.read_file_source", "catalog.load_table"):
            m[f"{s.name}.calls"] += 1
            m[f"{s.name}.s"] += s.duration
        if s.layer == "plans":
            if s.name != "plans.pipeline":
                m[f"{s.name}.s"] += s.duration
            m["plans.self_s"] += own[s.id]
        if s.layer == "operators":
            m[f"{s.name}.calls"] += 1
            m[f"{s.name}.s"] += own[s.id]
            m[f"{s.name}.jobs"] += len(s.jobs)
        if s.name == "workloads.build":
            m["workloads.build_s"] += s.duration
            m["workloads.build_jobs"] += incl[s.id]
        for j in s.jobs:
            for k in SPARK_COUNTERS:
                m[f"spark.{k}"] += j[k]
    m["metadata.share"] = metadata_s / wall_s if wall_s else 0.0
    return dict(m)

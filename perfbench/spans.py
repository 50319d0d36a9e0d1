"""Spans and counters for the traced run.

Spans are recorded only from the benchmark's side, around calls into each
layer's public functions: the harness opens spans around the calls it makes
(``get_spark``, ``Database.run``, ``QuerySpec.build``, ``plan_report``, the
action, ``release_caches``), and ``patch_layers`` wraps the functions that
``queries`` reaches in ``operators`` and ``functions``. Every span gets its
own Spark job group, so Spark's status tracker attributes each job to the
span that launched it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import copy
import functools
import importlib
import inspect
import itertools
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# modules whose public functions get one span per call: name -> layer
FUNCTION_MODULES = {
    "sql_query_engine_rs_spark.functions.dedup": "functions.dedup",
    "sql_query_engine_rs_spark.functions.similarity": "functions.similarity",
    "sql_query_engine_rs_spark.functions.text": "functions.text",
    "sql_query_engine_rs_spark.functions.arrow_kernels": "functions.arrow_kernels",
}
ROOT_SPAN = "op"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # set once the session exists; spans then get job groups
        self.op = "setup"
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.id if parent else None, self.op, 0.0)
        if self.sc is not None:
            s.group = f"pb-{s.id}"
            self.sc.setLocalProperty("spark.jobGroup.id", s.group)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", parent.group if parent else None)
            self.spans.append(s)

    def resolve_jobs(self, spans: list[Span]) -> None:
        """Fill each span's job ids from the status tracker."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for s in spans:
            if s.group is not None:
                s.jobs = list(tracker.getJobIdsForGroup(s.group))

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start, "end": s.end, "jobs": s.jobs,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    ids, out = {root.id}, [root]
    for s in sorted(spans, key=lambda s: s.start):
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


class _Traced:
    """A module function wrapped in a span.

    Pickles as the function it wraps, so Python workers that receive it
    (pandas UDF closures) run the plain function and never see the tracer."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        functools.update_wrapper(self, fn)
        self.__signature__ = inspect.signature(fn)
        self._fn, self._layer, self._tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return copy.copy, (self._fn,)


def patch_layers(tracer: Tracer) -> None:
    """Wrap the layer entry points ``queries`` calls, for this process."""

    def wrap(mod, name: str, layer: str) -> None:
        setattr(mod, name, _Traced(getattr(mod, name), layer, tracer))

    queries = importlib.import_module("sql_query_engine_rs_spark.queries")
    wrap(queries, "parquet_scan", "operators.scan")
    for mod_name, layer in FUNCTION_MODULES.items():
        mod = importlib.import_module(mod_name)
        for name, fn in list(vars(mod).items()):
            if inspect.isfunction(fn) and fn.__module__ == mod_name and not name.startswith("_"):
                wrap(mod, name, layer)


class StreamStats(StreamingQueryListener):
    """Totals of Structured Streaming progress events, per run phase.

    ``onQueryStarted`` is delivered synchronously inside ``start()``, so a
    query is tagged with the phase that was current when it started; its
    later progress events count toward that phase."""

    KEYS = ("batches", "input_rows", "trigger_ms", "planning_ms", "add_batch_ms",
            "wal_commit_ms", "state_rows_updated", "state_commit_ms", "state_memory_bytes")

    def __init__(self):
        super().__init__()
        self.phase = "setup"
        self._lock = threading.Lock()
        self._run_phase: dict[str, str] = {}
        self.totals: dict[str, dict[str, float]] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self._run_phase[str(event.runId)] = self.phase

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        states = p.stateOperators
        with self._lock:
            phase = self._run_phase.get(str(p.runId), self.phase)
            t = self.totals.setdefault(phase, dict.fromkeys(self.KEYS, 0.0))
            t["batches"] += 1
            t["input_rows"] += p.numInputRows
            t["trigger_ms"] += d.get("triggerExecution", 0)
            t["planning_ms"] += d.get("queryPlanning", 0)
            t["add_batch_ms"] += d.get("addBatch", 0)
            t["wal_commit_ms"] += d.get("walCommit", 0)
            t["state_rows_updated"] += sum(s.numRowsUpdated for s in states)
            t["state_commit_ms"] += sum(s.commitTimeMs for s in states)
            t["state_memory_bytes"] = max(
                t["state_memory_bytes"], sum(s.memoryUsedBytes for s in states)
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class JvmProbe:
    """Process-wide JVM counters: GC time, codegen, bytes written, peak RSS."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def _proc(self, name: str, key: str) -> int:
        with open(f"/proc/{self.pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
        raise KeyError(key)

    def peak_rss_mb(self) -> float:
        return self._proc("status", "VmHWM:") / 1024.0

    def sample(self) -> dict[str, float]:
        n = self._codegen.getCount()
        snap = self._codegen.getSnapshot()
        # the reservoir keeps every sample until it holds 1028 of them; past
        # that only an estimate from the (time-weighted) mean is left
        ms = sum(snap.getValues()) if snap.size() >= n else snap.getMean() * n
        return {
            "gc_ms": float(sum(b.getCollectionTime() for b in self._gc)),
            "codegen_compiles": float(n),
            "codegen_compile_ms": float(ms),
            "write_bytes": float(self._proc("io", "wchar:")),
        }

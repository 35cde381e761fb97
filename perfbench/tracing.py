"""Traced-run tooling: span recorder, Spark counter reader, self-time roll-up.

The recorder wraps public functions of the program's modules from
outside (module attributes are swapped; no program file changes). Each
call records one span: name, start, end, parent span and operation id.
Spans stay in memory until ``Tracer.dump`` writes them out at exit.

Counters come from the engine itself, read at the same boundaries:
codegen compiles and compile time (``CodegenMetrics`` and
``CodeGenerator.compileTime``), GC time (the JVM's GC MXBeans), and per
operation the job/stage/task totals of Spark's status store.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "big_data_analytics_final_project_spark"

# Counters read at every span boundary (cheap: a few py4j calls).
CHEAP = ("codegen.compiles", "codegen.compile_ms", "spark.gc_ms")
# Counters read at operation boundaries from the status store.
STORE = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.tasks_failed",
    "spark.task_s",
    "spark.input_bytes",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
)


class SparkCounters:
    """Cumulative engine counters of one SparkSession."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._seen_stages: set[int] = set()
        self._next_job = 0
        self._pending_jobs: list[int] = []
        self._totals = dict.fromkeys(STORE, 0.0)

    def cheap(self) -> dict[str, float]:
        return {
            "codegen.compiles": float(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            "codegen.compile_ms": self._generator.compileTime() / 1e6,
            "spark.gc_ms": float(sum(b.getCollectionTime() for b in self._gc_beans)),
        }

    def snapshot(self) -> dict[str, float]:
        return {**self.cheap(), **self.store()}

    def store(self) -> dict[str, float]:
        """Totals over every finished job, and every stage of those jobs
        that ran, seen so far; each is counted once. Drains the listener
        bus first, so the status store has seen every finished task."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        t = self._totals
        # Job ids are consecutive; every submitted job is in the store
        # once the bus is drained.
        while True:
            try:
                self._store.job(self._next_job)
            except Py4JJavaError:
                break
            self._pending_jobs.append(self._next_job)
            self._next_job += 1
        for jid in list(self._pending_jobs):
            job = self._store.job(jid)
            if job.status().toString() == "RUNNING":
                continue
            self._pending_jobs.remove(jid)
            t["spark.jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                t["spark.stages"] += 1
                t["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                t["spark.tasks_failed"] += st.numFailedTasks()
                t["spark.task_s"] += st.executorRunTime() / 1e3
                t["spark.input_bytes"] += st.inputBytes()
                t["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                t["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        return dict(t)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans nest per thread (Structured
    Streaming calls ``foreachBatch`` on a py4j callback thread)."""

    enabled = True

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[Span] = []
        self.op_counters: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent reading counters

    def _read(self, fn) -> dict[str, float]:
        t = time.perf_counter()
        out = fn()
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - t
        return out

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.op = None
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        before = self._read(self.counters.cheap)
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(),
                      stack[-1].sid if stack else None, self._local.op)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            after = self._read(self.counters.cheap)
            sp.counters = {k: after[k] - before[k] for k in after}

    @contextmanager
    def op(self, op_id: str, name: str):
        """One benchmark operation (a query run, or a micro-batch cycle):
        a root span plus the status-store deltas across it."""
        self._stack()
        self._local.op = op_id
        before = self._read(self.counters.store)
        try:
            with self.span(name) as sp:
                yield sp
        finally:
            self._local.op = None
            after = self._read(self.counters.store)
            self.op_counters.append(
                {"op": op_id, "name": name, **{k: after[k] - before[k] for k in after}}
            )

    def wrap(self, name: str, fn, on_return=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_return is not None:
                on_return(args, out)
            return out
        return traced

    def patch(self, fn, name: str, on_return=None) -> None:
        """Replace ``fn`` by a traced wrapper wherever a loaded module of
        the program binds it (the defining module and every importer)."""
        wrapper = self.wrap(name, fn, on_return)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def patch_module_functions(self, module, layer: str) -> None:
        """Trace every public function defined in ``module``."""
        for attr, val in list(vars(module).items()):
            if (
                inspect.isfunction(val)
                and not attr.startswith("_")
                and val.__module__ == module.__name__
            ):
                self.patch(val, f"{layer}.{attr}")

    def unpatch(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "ops": self.op_counters},
                f,
            )


class NullTracer:
    """The untraced run: the same call sites, no recording."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None

    @contextmanager
    def op(self, op_id: str, name: str):
        yield None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its children cover. Children run on
    their parent's thread, one after another, inside the parent."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
    return {s.sid: (s.end - s.start) - covered.get(s.sid, 0.0) for s in spans}


def rollup(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time (``<layer>.self_s``) and per-name total time
    (``<name>_s``) over the spans of benchmark operations; spans outside
    any operation are left out. The layer is the name's first component."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if s.op is None:
            continue
        layer = s.name.split(".", 1)[0] + ".self_s"
        out[layer] = out.get(layer, 0.0) + st[s.sid]
        out[f"{s.name}_s"] = out.get(f"{s.name}_s", 0.0) + (s.end - s.start)
    return out

"""Per-layer metrics of the traced window.

``install`` wraps the program's public functions layer by layer;
``metrics`` turns the spans and counter deltas of one traced window
into per-pass (reference_reports) or per-micro-batch (event_ingest)
figures. Every metric is printed for every workload; a layer that is
not on a workload's path reads 0 there.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import statistics

import gen
import tracing
from workloads import REFERENCE_QUERIES

COUNT, SEC = "count", "s"
PER_LAYER: dict[str, str] = {
    "session.start_s": SEC,
    "session.cold_pass_s": SEC,
    "session.peak_rss_mb": "MB",
    "sources.load_s": SEC,
    "sources.load_calls": COUNT,
    "sources.cache_hit_ratio": "ratio",
    "sources.self_s": SEC,
    "queries.plan_s": SEC,
    "queries.exec_s": SEC,
    **{f"queries.{q}_s": SEC for q in REFERENCE_QUERIES},
    "queries.self_s": SEC,
    "operators.self_s": SEC,
    "codegen.compiles": COUNT,
    "codegen.compile_ms": "ms",
    "spark.jobs": COUNT,
    "spark.stages": COUNT,
    "spark.tasks": COUNT,
    "spark.tasks_failed": COUNT,
    "spark.task_s": SEC,
    "spark.busy_share": "ratio",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "streaming.fold_s": SEC,
    "streaming.trigger_overhead_s": SEC,
    "streaming.read_rollup_s": SEC,
    "streaming.score_s": SEC,
    "streaming.monitor_read_s": SEC,
    "streaming.self_s": SEC,
    "sinks.upsert_s": SEC,
    "sinks.write_zone_s": SEC,
    "sinks.zone_probe_s": SEC,
    "sinks.zone_files": COUNT,
    "sinks.self_s": SEC,
    "oracle.checked": COUNT,
    "oracle.failed": COUNT,
    "trace.overhead": "ratio",
    "trace.bookkeeping_s": SEC,
}

# Span name -> per-layer metric (summed per unit of work).
SPAN_TIMES = {
    "sources.load_table_s": "sources.load_s",
    "queries.plan_s": "queries.plan_s",
    "queries.exec_s": "queries.exec_s",
    **{f"queries.{q}_s": f"queries.{q}_s" for q in REFERENCE_QUERIES},
    "streaming.fold_hourly_batch_s": "streaming.fold_s",
    "streaming.read_hourly_rollup_s": "streaming.read_rollup_s",
    "streaming.score_hourly_anomalies_s": "streaming.score_s",
    "sinks.upsert_zone_s": "sinks.upsert_s",
    "sinks.write_zone_s": "sinks.write_zone_s",
    "sinks.has_committed_files_s": "sinks.zone_probe_s",
    **{f"{layer}.self_s": f"{layer}.self_s" for layer in ("sources", "queries", "operators", "streaming", "sinks")},
}


class LoadHits:
    """A hit is ``load_table`` returning the very DataFrame object it
    returned before for the same directory and table."""

    def __init__(self):
        self.calls = 0
        self.hits = 0
        self._last: dict[tuple[str, str], object] = {}

    def seed(self, load_table, spark, data_dir: str, tables) -> None:
        """Record what each table's load returns before tracing starts."""
        for t in tables:
            self._last[(os.path.realpath(data_dir), t)] = load_table(spark, data_dir, t)

    def __call__(self, args, out) -> None:
        key = (os.path.realpath(args[1]), args[2])
        self.calls += 1
        self.hits += self._last.get(key) is out
        self._last[key] = out


def install(tracer: tracing.Tracer, spark, wl) -> LoadHits:
    from big_data_analytics_final_project_spark import operators, sinks, sources, streaming
    from big_data_analytics_final_project_spark.streaming import fold, rollup

    hits = LoadHits()
    if hasattr(wl, "data"):
        hits.seed(sources.load_table, spark, wl.data, gen.ROWS)
    tracer.patch(sources.load_table, "sources.load_table", on_return=hits)
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        tracer.patch_module_functions(mod, f"operators.{info.name}")
    for fn in (
        streaming.read_event_stream,
        rollup.fold_hourly_batch,
        fold.retry_guarded_fold,
        rollup.read_hourly_rollup,
        rollup.score_hourly_anomalies,
    ):
        tracer.patch(fn, f"streaming.{fn.__name__}")
    for fn in (sinks.upsert_zone, sinks.write_zone, sinks.has_committed_files):
        tracer.patch(fn, f"sinks.{fn.__name__}")
    return hits


def metrics(wl, win, plain, tracer, hits: LoadHits, totals: dict[str, float], cores: int,
            setup: dict[str, float], oracle_counts: tuple[int, int]) -> dict[str, tuple[float, str]]:
    """Per unit of work: a pass of all queries, or one micro-batch."""
    units = len(win.passes) if wl.name == "reference_reports" else max(1, win.attempted)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(setup)
    spans = tracing.rollup(tracer.spans)
    for span_key, name in SPAN_TIMES.items():
        out[name] = spans.get(span_key, 0.0) / units
    for name in tracing.CHEAP + tracing.STORE:
        out[name] = totals[name] / units
    out["sources.load_calls"] = hits.calls / units
    out["sources.cache_hit_ratio"] = hits.hits / hits.calls if hits.calls else 0.0
    out["spark.busy_share"] = totals["spark.task_s"] / (win.wall * cores)
    extra = win.extra
    if extra:
        out["streaming.trigger_overhead_s"] = sum(extra["trigger_overhead_s"]) / units
        out["streaming.monitor_read_s"] = statistics.median(extra["monitor_read_s"])
        out["sinks.zone_files"] = statistics.median(extra["zone_files"])
    out["oracle.checked"], out["oracle.failed"] = oracle_counts
    out["trace.overhead"] = statistics.median(win.latencies) / statistics.median(plain.latencies)
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s / units
    return {k: (float(out[k]), PER_LAYER[k]) for k in PER_LAYER}

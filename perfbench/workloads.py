"""The benchmark's workloads: closed loops with one client.

Each workload makes its inputs from the seed (untimed), then
``register`` and ``cold`` make up the set-up a user pays once per job,
``measure`` runs whole operations until ``seconds`` have passed, and
``check`` compares outputs with DuckDB outside every timed window.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import gen
import oracle

# The reference's own analytics, with the tables each one reads (rows read
# by a pass are the generated row counts of these tables).
REFERENCE_QUERIES: dict[str, tuple[str, ...]] = {
    "pricing_summary": ("lineitem",),
    "revenue_by_brand": ("lineitem", "part"),
    "top_spenders": ("customer", "lineitem", "orders"),
    "product_popularity": ("lineitem",),
    "also_bought_pairs": ("lineitem",),
    "engagement_vs_spend": ("events", "orders"),
    "segment_counts": ("events", "orders"),
    "user_engagement": ("events",),
    "user_spend": ("orders",),
    "customer_order_history": ("orders",),
    "events_sessionized": ("events",),
    "daily_active_users": ("events",),
}

# Drops of the stream drained untimed, as set-up, before each timed drain.
WARM_FILES = 2
DRAIN_TIMEOUT_S = 150


@dataclass
class Window:
    """What one timed window measured."""

    wall: float = 0.0
    passes: list[float] = field(default_factory=list)  # pass or drain walls
    latencies: list[float] = field(default_factory=list)  # one per operation
    attempted: int = 0
    failed: int = 0
    extra: dict[str, list[float]] = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ReferenceReports:
    """The twelve reference analytics on sf0.1-shaped tables, one pass
    after another; an operation is one query forced by a ``noop`` write."""

    name = "reference_reports"

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "data")
        self.seed = seed
        self.results: dict[str, oracle.Collected] = {}
        self.errors: dict[str, str] = {}
        self.samples: dict[str, int] = dict.fromkeys(REFERENCE_QUERIES, 0)

    def make_inputs(self) -> None:
        self.rows = gen.write_tables(self.data, self.seed)
        self.rows_per_pass = sum(
            self.rows[t] for tables in REFERENCE_QUERIES.values() for t in tables
        )

    def register(self, spark) -> None:
        from big_data_analytics_final_project_spark.sources import load_table

        for t in gen.ROWS:
            load_table(spark, self.data, t)

    def prepare(self, spark) -> None:
        """Nothing to reset between timed windows."""

    def cold(self, spark) -> None:
        """The untimed first pass; its results are what ``check`` compares."""
        from big_data_analytics_final_project_spark.queries import all_queries

        self.specs = {q: all_queries()[q] for q in REFERENCE_QUERIES}
        for q, spec in self.specs.items():
            try:
                self.results[q] = oracle.Collected(spec.fn(spark, self.data))
            except Exception as e:  # reported by check()
                self.errors[q] = f"{type(e).__name__}: {e}"

    def measure(self, spark, seconds: float, tracer) -> Window:
        win = Window()
        t0 = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            for q, spec in self.specs.items():
                n = len(win.passes)
                with tracer.op(f"pass{n}/{q}", f"queries.{q}"):
                    s0 = time.perf_counter()
                    try:
                        with tracer.span("queries.plan"):
                            df = spec.fn(spark, self.data)
                            if tracer.enabled:
                                df._jdf.queryExecution().executedPlan()
                        with tracer.span("queries.exec"):
                            _noop(df)
                    except Exception:
                        win.failed += 1
                    win.latencies.append(time.perf_counter() - s0)
                win.attempted += 1
                self.samples[q] += 1
            win.passes.append(time.perf_counter() - p0)
            if time.perf_counter() - t0 >= seconds:
                break
        win.wall = time.perf_counter() - t0
        return win

    def rows_per_s(self, win: Window) -> float:
        return self.rows_per_pass / statistics.median(win.passes)

    def check(self, spark, threads: int) -> tuple[int, int, list[str]]:
        """(checks made, operations failed by them, reasons)."""
        con = oracle.connect(self.data, gen.ROWS, threads)
        failed, reasons = 0, []
        try:
            for q, spec in self.specs.items():
                why = self.errors.get(q) or oracle.check(self.results[q], con, spec.sql)
                if why:
                    failed += self.samples[q]
                    reasons.append(f"{q}: {why}")
        finally:
            con.close()
        return len(self.specs), failed, reasons


class EventIngest:
    """The time-ordered event log, split into file drops and drained by
    ``read_event_stream(max_files=1)`` under ``availableNow`` into a fresh
    hourly rollup zone. Each micro-batch is folded by ``fold_hourly_batch``
    and then read back by the anomaly monitor; an operation is one such
    cycle (commit, then the monitor sees it). The first WARM_FILES drops
    are drained untimed, as set-up; the timed window restarts the same
    query from its checkpoint once the remaining drops have landed."""

    name = "event_ingest"

    def __init__(self, work: str, seed: int):
        self.root = os.path.join(work, "ingest")
        self.seed = seed
        self.drains: list[tuple[str, int]] = []  # (zone, timed batches)
        self._ready: str | None = None  # a drain whose warm drops are folded
        self._warm_failures = 0

    def make_inputs(self) -> None:
        info = gen.write_event_stream(self.root, self.seed)
        self.files = info["files"]
        self.timed_events = sum(info["file_rows"][WARM_FILES:])

    def register(self, spark) -> None:
        """The stream source is defined when a drain starts."""

    def _land(self, tag: str, files: list[str]) -> None:
        src = os.path.join(self.root, f"src-{tag}")
        os.makedirs(src, exist_ok=True)
        for path in files:  # a hard link keeps the drop's modification time
            os.link(path, os.path.join(src, os.path.basename(path)))

    def _stream(self, spark, tag: str, tracer, cycles: list, failures: list) -> bool:
        """Run the query of drain ``tag`` until its landed drops are
        folded; True when it finished cleanly."""
        from big_data_analytics_final_project_spark.streaming import read_event_stream
        from big_data_analytics_final_project_spark.streaming.rollup import (
            fold_hourly_batch,
            read_hourly_rollup,
            score_hourly_anomalies,
        )

        zone = os.path.join(self.root, f"zone-{tag}")

        def on_batch(batch_df, batch_id):
            with tracer.op(f"{tag}/batch{batch_id}", "streaming.cycle"):
                c0 = time.perf_counter()
                try:
                    fold_hourly_batch(batch_df, batch_id, zone)
                except Exception:
                    failures[0] += 1
                c1 = time.perf_counter()
                try:
                    with tracer.span("streaming.monitor"):
                        _noop(score_hourly_anomalies(read_hourly_rollup(spark, zone)))
                except Exception:
                    failures[0] += 1
                cycles.append((c0, c1, time.perf_counter()))

        query = (
            read_event_stream(spark, os.path.join(self.root, f"src-{tag}"), max_files=1)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(self.root, f"ckpt-{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        finished = query.awaitTermination(DRAIN_TIMEOUT_S)
        if not finished:
            query.stop()
        return finished and query.exception() is None

    def prepare(self, spark) -> None:
        """Untimed: a fresh zone and checkpoint, with the warm drops folded."""
        from tracing import NullTracer

        tag = f"drain{len(self.drains)}"
        self._land(tag, self.files[:WARM_FILES])
        failures = [0]
        ok = self._stream(spark, tag, NullTracer(), [], failures)
        self._warm_failures += failures[0] + (not ok)
        self._ready = tag

    def cold(self, spark) -> None:
        self.prepare(spark)

    def measure(self, spark, seconds: float, tracer) -> Window:
        win = Window()
        t0 = time.perf_counter()
        while True:
            if self._ready is None:
                self.prepare(spark)
            tag, self._ready = self._ready, None
            self._land(tag, self.files[WARM_FILES:])
            cycles: list[tuple[float, float, float]] = []
            failures = [self._warm_failures]
            self._warm_failures = 0
            d0 = time.perf_counter()
            ok = self._stream(spark, tag, tracer, cycles, failures)
            wall = time.perf_counter() - d0
            zone = os.path.join(self.root, f"zone-{tag}")
            win.passes.append(wall)
            win.latencies.extend(c2 - c0 for c0, _, c2 in cycles)
            win.extra.setdefault("monitor_read_s", []).extend(c2 - c1 for _, c1, c2 in cycles)
            win.extra.setdefault("trigger_overhead_s", []).append(
                wall - sum(c2 - c0 for c0, _, c2 in cycles)
            )
            win.extra.setdefault("zone_files", []).append(
                sum(f.endswith(".parquet") for _, _, fs in os.walk(zone) for f in fs)
            )
            win.attempted += len(cycles)
            win.failed += failures[0] + (not ok)
            self.drains.append((zone, len(cycles)))
            if time.perf_counter() - t0 >= seconds:
                break
        win.wall = time.perf_counter() - t0
        return win

    def rows_per_s(self, win: Window) -> float:
        return self.timed_events / statistics.median(win.passes)

    def check(self, spark, threads: int) -> tuple[int, int, list[str]]:
        """Each drained zone must equal the batch hourly rollup of all
        events, and the monitor's final scores must equal the
        ``events_hourly_anomaly`` oracle on the same events."""
        from big_data_analytics_final_project_spark.queries import all_queries
        from big_data_analytics_final_project_spark.streaming.rollup import (
            read_hourly_rollup,
            score_hourly_anomalies,
        )

        anomaly_sql = all_queries()["events_hourly_anomaly"].sql
        con = oracle.connect(self.root, ["events"], threads)
        checked, failed, reasons = 0, 0, []
        try:
            for zone, batches in self.drains:
                tag = os.path.basename(zone)
                hourly = read_hourly_rollup(spark, zone)
                why = oracle.check(oracle.Collected(hourly), con, oracle.HOURLY_SQL)
                if why:
                    failed += batches
                    reasons.append(f"{tag} rollup: {why}")
                why = oracle.check(
                    oracle.Collected(score_hourly_anomalies(hourly)), con, anomaly_sql
                )
                if why:
                    failed += 1
                    reasons.append(f"{tag} monitor: {why}")
                checked += 2
        finally:
            con.close()
        return checked, failed, reasons


WORKLOADS = {w.name: w for w in (ReferenceReports, EventIngest)}

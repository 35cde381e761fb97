"""Benchmark entry point.

    python3 perfbench/run.py --workload reference_reports --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Makes the workload's inputs from
``--seed`` under ``.perfbench_work/``, builds one SparkSession on
``local[<cores>]``, runs the untimed set-up (session, inputs registered,
one cold pass or cold drain), measures whole operations for
``--seconds``, checks every output against DuckDB, and prints one JSON
line last: the end-to-end metrics with ``--trace 0``, or with
``--trace 1`` the per-layer metrics of a separate traced window (spans
are written to ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Exit without a result well inside the 180 s a run may take.
WATCHDOG_S = 170


def pin_environment(work: str, cores: int) -> None:
    """What the program is sensitive to, pinned before pyspark loads."""
    for d in ("local", "tmp", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="4g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        # load_table's zone-scan cache serves the generated tables as it
        # serves the read-only data root.
        SPARK_GRAFT_DATA_ROOT=os.path.join(work, "data"),
        # Spark's Python workers import the program.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        # spark-submit's launcher JVM: no perf-counter file, temp files here.
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        TMPDIR=os.path.join(work, "tmp"),
        TZ="UTC",
    )
    time.tzset()
    sys.path.insert(0, ROOT)


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # Temp files stay in the work dir; -XX:-UsePerfData keeps the JVM
        # from writing its perf-counter file to the system temp dir.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM child the py4j gateway launched."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def end_to_end(wl, win, setup_s: float) -> dict[str, tuple[float, str]]:
    """A run yields about a dozen operations, too few for any tail
    percentile to have ten samples beyond it, so latency is reported as
    the median alone."""
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (wl.rows_per_s(win), "1/s"),
        "op_p50_s": (statistics.median(win.latencies), "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, tracing.PKG, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "parity.py")
    ):
        print(f"{tracing.PKG}/ and tests/parity.py must be in {ROOT}", file=sys.stderr)
        return 2

    watchdog = threading.Timer(WATCHDOG_S, lambda: (print("watchdog: run too long", file=sys.stderr), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cores)
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.make_inputs()

    t0 = time.perf_counter()
    from big_data_analytics_final_project_spark import get_session

    spark = get_session(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work))
    start_s = time.perf_counter() - t0
    try:
        wl.register(spark)
        c0 = time.perf_counter()
        wl.cold(spark)
        cold_s = time.perf_counter() - c0
        setup_s = time.perf_counter() - t0

        if args.trace:
            plain = wl.measure(spark, args.seconds, tracing.NullTracer())
            wl.prepare(spark)
            import perlayer

            counters = tracing.SparkCounters(spark)
            tracer = tracing.Tracer(counters)
            hits = perlayer.install(tracer, spark, wl)
            before = counters.snapshot()
            win = wl.measure(spark, args.seconds, tracer)
            after = counters.snapshot()
            tracer.unpatch()
        else:
            win = wl.measure(spark, args.seconds, tracing.NullTracer())
        checked, check_failed, reasons = wl.check(spark, cores)
        rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for r in reasons:
        print(f"CHECK FAILED {r}", file=sys.stderr)
    failed = min(win.attempted, win.failed + check_failed)
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        metrics = perlayer.metrics(
            wl, win, plain, tracer, hits, {k: after[k] - before[k] for k in after}, cores,
            setup={"session.start_s": start_s, "session.cold_pass_s": cold_s, "session.peak_rss_mb": rss_mb},
            oracle_counts=(checked, len(reasons)),
        )
    else:
        metrics = end_to_end(wl, win, setup_s)
    print(json.dumps({
        "correct": not reasons and failed == 0,
        "attempted": win.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

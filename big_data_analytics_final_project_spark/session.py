"""SparkSession factory.

Replaces the reference's hand-tuned ``local[2]`` /
``spark.sql.shuffle.partitions=8`` session (reference
spark_analysis.py:15-21) with an AQE-first configuration: let adaptive
execution pick post-shuffle partition counts, handle skew joins, and
demote sort-merge joins to broadcast when runtime stats allow. These
settings are the ones that transfer to a 1000-executor cluster — the
only local-mode-specific knob is the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for cluster-transferability:
#  - AQE owns shuffle-partition sizing (initialPartitionNum is an upper
#    bound AQE coalesces down from; at 100 TB you raise it, AQE still
#    right-sizes every exchange).
#  - skewJoin splits hot keys at runtime instead of manual salting for
#    the common case (manual salting helpers live in operators/ for the
#    pathological ones).
#  - Arrow on: every applyInPandas / pandas_udf crossing is batched.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Some zones carry TIMESTAMP(NANOS) parquet columns, which Spark
    # cannot map; read them as raw nanos and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Every SQL execution renders its plan description for the status
    # store when it starts and at each adaptive re-plan. Spark's default
    # mode, formatted, adds a detail section that reprints every node's
    # expressions (the exact-sum CASE texts are long). Only the
    # executed-scan audit reads that format, and
    # plans.executed_scan_counts switches to it for its own run.
    "spark.sql.ui.explainMode": "simple",
    # InferFiltersFromGenerate turns every explode(f(x)) into a pushed
    # Filter(size(f(x))>0) that re-inlines f — for computed arrays
    # (shingles, band keys) that doubles the most expensive expression
    # in the plan and anchors it below any repartition, serializing it
    # onto the scan task. Our generated arrays are non-empty by
    # construction, so the inferred filter is pure overhead.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Spark's generated-class cache is an LRU of 100 entries. A warm
    # reference pass (the 12 report queries) needs about 160 distinct
    # classes and an ingest batch about 25. Swept in a cycle larger
    # than its capacity an LRU hits nothing, so at the default every
    # pass compiles every class again. Above the working set the cache
    # holds only the classes that were actually compiled, so its memory
    # is bounded by the plans that ran. Static conf: it takes effect
    # only when get_session builds the first context; a plain driver
    # session keeps Spark's default.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Python workers (mapInPandas, UDFs) must import this package. In
    # local mode they start in the driver's working directory, so a
    # driver launched from elsewhere would fail with ModuleNotFoundError.
    # Put the directory that contains the package on the workers'
    # path; Spark merges this value with its own path and the worker's
    # PYTHONPATH. Like the codegen cache it reaches only the first
    # context get_session builds.
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
    # Columnar shuffle/scan defaults are already on in Spark 4; listed
    # knobs above are the ones we actively depend on.
}


def default_cpus() -> int:
    """Cores this process may run on (``SPARK_GRAFT_CPUS`` overrides)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def default_driver_memory() -> str:
    """Half of physical memory, capped at 16g; the other half stays free
    for Spark's Python workers (``SPARK_GRAFT_DRIVER_MEM`` overrides)."""
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(phys_mb // 2, 16 * 1024)}m"


def default_master() -> str:
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_cpus()}]")


def get_session(
    app_name: str = "big-data-analytics-final-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` sets the *initial* shuffle parallelism; AQE
    coalesces from there, so oversizing is safe and undersizing is the
    only real mistake at scale.
    """
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    # Local mode runs the driver and one executor thread per core in ONE
    # JVM; Spark's 1g default heap is sized for a thin cluster driver,
    # not for a task per core sorting/aggregating plus cached frames
    # (the pagerank edge cache OOM'd it at sf0.1). On a real cluster
    # executor memory is provisioned by the resource manager and this
    # knob only feeds the (thin again) driver. Env-overridable;
    # extra_conf still wins (tests pin 8g).
    builder = builder.config("spark.driver.memory", default_driver_memory())
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    n_shuffle = shuffle_partitions or default_cpus()
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # The monitors' bounded ORDER BY-only hourly window (the allowlisted
    # pattern in plans/lint.py) makes WindowExec warn "No Partition
    # Defined" on every plan of it — over a hundred lines per ingest
    # run. Raise that one logger to ERROR; every other warning stays.
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark

"""Session factory: plan reuse through the generated-class cache, and
defaults that follow the machine."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from big_data_analytics_final_project_spark import session

# Spark's default generated-class cache holds 100 entries; each plan
# below compiles at least one class of its own.
DISTINCT_PLANS = 120


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_plans(spark) -> None:
    base = spark.range(1, numPartitions=1)
    for i in range(DISTINCT_PLANS):
        # A distinct literal is inlined into the generated code, so each
        # plan is its own class.
        base.select((F.col("id") * 7 + F.lit(i)).alias("x")).write.format(
            "noop"
        ).mode("overwrite").save()


def test_repeated_plans_reuse_generated_classes(spark):
    _run_plans(spark)
    first = _compiles(spark)
    _run_plans(spark)
    assert _compiles(spark) == first


def test_defaults_follow_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    cpus = len(os.sched_getaffinity(0))
    assert session.default_cpus() == cpus
    assert session.default_master() == f"local[{cpus}]"

    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    assert session.default_driver_memory() == f"{min(phys_mb // 2, 16 * 1024)}m"


def test_env_vars_override_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.default_cpus() == 3
    assert session.default_master() == "local[3]"
    assert session.default_driver_memory() == "2g"

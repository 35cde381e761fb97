"""Session factory: plan reuse through the generated-class cache,
defaults that follow the machine, and Python workers that import the
package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from big_data_analytics_final_project_spark import session

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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


# A driver that finds the package through sys.path only, as
# tests/conftest.py does; its Python workers inherit neither.
_WORKER_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
from big_data_analytics_final_project_spark import get_session
from big_data_analytics_final_project_spark.queries import all_queries
spark = get_session(
    master="local[2]",
    shuffle_partitions=2,
    extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "1g"},
)
print("ROWS", all_queries()["corpus_bpe_encode"].fn(spark, sys.argv[2]).count())
spark.stop()
"""


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """`corpus_bpe_encode` runs a mapInPandas fold, so its Python
    workers import the package. Started outside the repo with no
    PYTHONPATH, they find it only through the session's conf."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_DRIVER, REPO, SF_SMOKE],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
        env=env,
    )
    tail = proc.stdout[-2000:] + "\n" + proc.stderr[-4000:]
    assert proc.returncode == 0, tail
    assert "ROWS 500" in proc.stdout, tail

"""Plain-session entry point over the named-query registry.

``entry(spark)`` runs the flagship query, ``queries()`` maps every
registered name to its ``(spark, sf_dir) -> DataFrame`` callable and
``oracle_sql()`` maps every query that has one to its DuckDB oracle,
all in ``all_queries()`` order. `scripts/driver_posture_smoke.py`
drives these on a plain session (no tuned configuration) to check
that each query runs and returns hashable rows.

The real registry lives in
``big_data_analytics_final_project_spark.queries``; this module only
adapts it to that shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from big_data_analytics_final_project_spark.queries import all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing_summary vertical slice) on sf0.001."""
    return all_queries()["pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.sql
        for name, spec in all_queries().items()
        if spec.sql is not None
    }

"""Named-query registry.

Every capability from SURVEY.md §2 (plus the large-scale pipeline
extensions) is exposed as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible, a DuckDB
oracle string with identical column aliases. `all_queries()` merges
the family modules in a fixed order; `__spark_entry__` exposes that
order unchanged.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One named analytic: Spark implementation + optional SQL oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None


def all_queries() -> dict[str, QuerySpec]:
    from . import (
        batch,
        curation,
        dedup,
        drift,
        generated,
        integrated,
        json_nested,
        maintenance,
        multimodal,
        quality,
        similarity,
        text,
        windows,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        batch,
        integrated,
        windows,
        text,
        dedup,
        similarity,
        multimodal,
        json_nested,
        generated,
        maintenance,
        curation,
        quality,
        drift,
    ):
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = spec
    return merged


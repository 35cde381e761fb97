"""Input-layout heal (operators/spread.py): the gate must fire only on
scan layouts whose effective split count is below half the cores, the
heal must be row-identical, and healthy layouts must pass through with
an unchanged plan."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from big_data_analytics_final_project_spark.operators.spread import (
    effective_scan_splits,
    heal_scan_width,
)


def _write_parquet(path: str, n_rows: int, rows_per_group: int) -> None:
    table = pa.table(
        {
            "k": pa.array(range(n_rows), type=pa.int64()),
            "v": pa.array([f"v{i}" for i in range(n_rows)]),
        }
    )
    pq.write_table(table, path, row_group_size=rows_per_group)


@pytest.fixture(scope="module")
def narrow_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("spread") / "narrow.parquet")
    _write_parquet(p, 1000, rows_per_group=1000)  # ONE row group
    return p


@pytest.fixture(scope="module")
def wide_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("spread") / "wide.parquet")
    _write_parquet(p, 1000, rows_per_group=50)  # 20 row groups
    return p


def test_effective_splits_counts_row_groups(spark, narrow_path, wide_path):
    assert effective_scan_splits(spark.read.parquet(narrow_path)) == 1
    assert effective_scan_splits(spark.read.parquet(wide_path)) == 20


def test_effective_splits_none_for_non_scan(spark):
    local = spark.createDataFrame([(1,)], "a: bigint")
    assert effective_scan_splits(local) is None
    # behind an exchange the frame still resolves its input files —
    # the heal is documented for use immediately after the read
    assert effective_scan_splits(local.repartition(2)) is None


def test_heal_fires_on_narrow_layout(spark, narrow_path):
    df = spark.read.parquet(narrow_path)
    healed = heal_scan_width(df)
    n = spark.sparkContext.defaultParallelism
    assert "Exchange RoundRobinPartitioning" in healed._jdf.queryExecution().toString() or (
        f"rebalance" in healed._jdf.queryExecution().toString().lower()
        or healed.rdd.getNumPartitions() == n
    )
    # row-identical
    assert sorted(r.k for r in healed.collect()) == list(range(1000))


def test_heal_passthrough_on_wide_layout(spark, wide_path):
    df = spark.read.parquet(wide_path)
    healed = heal_scan_width(df)
    assert healed is df  # untouched frame, not just an equal plan
    assert heal_scan_width(df, "k") is df


def test_heal_passthrough_on_non_scan(spark):
    local = spark.createDataFrame([(1,)], "a: bigint")
    assert heal_scan_width(local) is local


def test_keyed_heal_hashes_on_the_key(spark, narrow_path):
    """A keyed heal spreads by a hash on the key the next operator
    shuffles on, so that operator needs no exchange of its own; it
    plans no round-robin (whose retry-safety sort is its main cost)."""
    df = spark.read.parquet(narrow_path)
    healed = heal_scan_width(df, "k")
    n = spark.sparkContext.defaultParallelism
    plan = healed._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"Exchange hashpartitioning\(k#\d+L, {n}\)", plan), plan
    assert "RoundRobinPartitioning" not in plan
    agg = healed.groupBy("k", "v").count()
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", agg_plan)) == 1, agg_plan
    assert sorted(r.k for r in healed.collect()) == list(range(1000))

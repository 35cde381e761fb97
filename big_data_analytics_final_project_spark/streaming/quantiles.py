"""Standing rolling-quantile monitor: the streaming form of the
histogram-quantile rollup (operators/sketches.py
`histogram_daily_sketches` / `histogram_rolling_quantiles`).

This module is WHY that sketch is mergeable-by-addition: the zone
state is exactly the daily (day, bin, cnt) relation, each micro-batch
contributes its own bin partials through the same retry-guarded
additive fold every other maintained zone here uses
(streaming/fold.py), and the monitor's read side hands the zone
STRAIGHT to `histogram_rolling_quantiles` — stream == batch by
construction (test-pinned, bit-for-bit, the family contract from
tests/test_streaming_{psi,profile}.py). Unlike the PSI monitor, no
expression replication is needed: the histogram operators are plain
package operators, so the streaming side simply calls them.

Bounds (lo, hi, n_bins) are frozen monitor config — the same
fixed-edge requirement the batch operator documents: edges must agree
across days (and across the stream's lifetime) or the merge is
meaningless. Per-trigger cost: one micro-batch histogram (map-side
combinable hash agg) + a zone merge touching ≤ the batch's (day, bin)
keys. The read side is day×bin-sized — scale-free against event
volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import (
    histogram_daily_sketches,
    histogram_rolling_quantiles,
)
from .fold import retry_guarded_fold


def fold_histogram_batch(
    batch_df: DataFrame,
    batch_id: int,
    zone: str,
    lo: float,
    hi: float,
    n_bins: int,
    ts_col: str = "ts",
    val_col: str = "value",
) -> None:
    """Additive fold of one micro-batch's (day, bin) partials into the
    daily-histogram zone, keyed per (day, bin)."""
    retry_guarded_fold(
        histogram_daily_sketches(batch_df, ts_col, val_col, lo, hi, n_bins),
        batch_id,
        zone,
        key_cols=["day", "bin"],
        partition_by=["day"],
        merge_aggs=lambda: [F.sum("cnt").alias("cnt")],
    )


def maintain_daily_histograms(
    events: DataFrame,
    zone: str,
    checkpoint: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    ts_col: str = "ts",
    val_col: str = "value",
):
    """writeStream query folding the event stream into the
    daily-histogram zone under the frozen (lo, hi, n_bins) config."""
    return (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda batch_df, batch_id: fold_histogram_batch(
                batch_df, batch_id, zone, lo, hi, n_bins, ts_col, val_col
            )
        )
    )


def read_daily_histograms(spark: SparkSession, zone: str) -> DataFrame:
    return spark.read.parquet(zone).select("day", "bin", "cnt")


def score_rolling_quantiles(
    daily: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 128,
    window_days: int = 7,
) -> DataFrame:
    """The monitor's read side: rolling window quantile estimates from
    the maintained zone — a direct call into the batch operator, so
    the streamed answer IS the batch answer over the same counts."""
    return histogram_rolling_quantiles(
        daily, qs, lo, hi, n_bins, window_days
    )

"""Continuous aggregate: a streaming-maintained rollup zone.

The hypertable pattern the batch `events_hypertable_rollup` query
answers on demand, maintained INCREMENTALLY instead: each micro-batch
folds its partial hourly aggregates into a persistent parquet zone via
the keyed-upsert sink, so readers get an always-current rollup without
rescanning the event log. This closes the reference's load-then-query
loop (load_hbase_sessions_stream.py feeding
integrated_query_engagement_vs_spend.py) as one standing pipeline.

Exactly-once across retries: foreachBatch is at-least-once — a crashed
trigger re-delivers the SAME batch id with the SAME rows. Additive
merges are not idempotent, so every hour row carries `last_batch_id`,
and the retry guard is PER HOUR, not per batch: only the hours whose
zone row already records this batch id (or later) are skipped; hours
the original attempt never applied — a crash midway through a
dynamic overwrite spanning several day partitions, or hours that are
brand-new in this batch — are still folded. A wholesale skip keyed on
hours-already-present would drop those contributions forever.

Scale shape:
- The per-batch aggregate is micro-batch-sized and materialized once.
  The merge reads ONLY the day partitions it touches, once, into
  executor blocks, and dynamic-overwrites those days in place with
  one write (upsert_zone). Because the merge reads the blocks, not
  the files it replaces, no staging copy is needed; an executor lost
  before the commit fails the write and leaves the zone intact for
  the re-delivered batch.
- Sums are kept as DECIMAL(38,6) IN THE ZONE — partials of partials
  stay exact no matter how many batches fold in; readers cast at the
  edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import DEC

WARMUP = 12  # trailing rows required before a z-score is judged
Z_THRESH = 3.0


def fold_hourly_batch(batch_df: DataFrame, batch_id: int, zone: str) -> None:
    """Merge one micro-batch's hourly partials into the rollup zone —
    the retry-guarded additive fold (streaming/fold.py; the per-hour
    guard semantics documented there were first derived for this
    zone)."""
    from .fold import retry_guarded_fold

    partial = (
        batch_df.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_value_dec"),
        )
        .withColumn("day", F.to_date("hour"))
    )
    retry_guarded_fold(
        partial,
        batch_id,
        zone,
        key_cols=["hour"],
        partition_by=["day"],
        merge_aggs=lambda: [
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast(DEC).alias("sum_value_dec"),
            F.first("day").alias("day"),
        ],
    )


def maintain_hourly_rollup(events: DataFrame, zone: str, checkpoint: str):
    """writeStream query folding the event stream into the rollup zone;
    start with `.trigger(availableNow=True).start()` for catch-up runs
    or a processing-time trigger for standing maintenance."""
    return (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda batch_df, batch_id: fold_hourly_batch(
                batch_df, batch_id, zone
            )
        )
    )


def read_hourly_rollup(spark, zone: str) -> DataFrame:
    """Reader view: the maintained zone with sums finalized to double —
    the same (hour, n_events, sum_value) the batch aggregation yields."""
    return (
        spark.read.parquet(zone)
        .select(
            "hour",
            "n_events",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
        )
        .orderBy("hour")
    )


def score_hourly_anomalies(hourly: DataFrame) -> DataFrame:
    """Trailing-window z-score anomaly scoring over an (hour, n_events)
    frame: each hour's count is judged against the mean/stddev of the
    24 trailing rows (self-excluded, so a spike can't dilute its own
    baseline), with a `WARMUP`-row warm-up before anything is flagged.
    A zero-variance baseline leaves z NULL, but any deviation from a
    perfectly flat window still flags (infinite-sigma case).

    The one scorer for both sides: `queries.drift.events_hourly_anomaly`
    applies it to the hourly aggregate of the event log, and the
    streaming monitor applies it to the continuously maintained rollup
    zone, so the monitor's per-trigger cost is the HOURLY frame (one
    row per hour), not the event volume:

        maintain_hourly_rollup(stream, zone, ckpt)   # standing fold
        score_hourly_anomalies(                       # monitor read
            read_hourly_rollup(spark, zone).select("hour", "n_events"))

    Exactness: the trailing sum and sum-of-squares are BIGINT window
    aggregates over exact counts; variance comes from the integer
    numerator n·Σx² − (Σx)² (no float cancellation), and the closing
    mean/z expressions are fixed-order IEEE double ops that DuckDB
    evaluates identically. The bounded ORDER BY-only window is the
    allowlisted hourly-frame pattern (plans/lint.py)."""
    from pyspark.sql import Window

    w = Window.orderBy("hour").rowsBetween(-24, -1)
    n = F.col("n_events")
    t = hourly.select(
        "hour",
        "n_events",
        F.count("n_events").over(w).alias("n_trail"),
        F.sum("n_events").over(w).alias("s"),
        F.sum(n * n).over(w).alias("sq"),
    )
    var_num = F.col("n_trail") * F.col("sq") - F.col("s") * F.col("s")
    mean = F.when(
        F.col("n_trail") > 0, F.col("s").cast("double") / F.col("n_trail")
    )
    z = F.when(
        (F.col("n_trail") >= WARMUP) & (var_num > 0),
        (n.cast("double") - F.col("s").cast("double") / F.col("n_trail"))
        / F.sqrt(
            var_num.cast("double")
            / (F.col("n_trail") * F.col("n_trail")).cast("double")
        ),
    )
    flat_dev = (
        (F.col("n_trail") >= WARMUP)
        & (var_num == 0)
        & (n * F.col("n_trail") != F.col("s"))
    )
    return t.select(
        "hour",
        "n_events",
        "n_trail",
        mean.alias("trail_mean"),
        z.alias("z"),
        (F.coalesce(F.abs(z) > Z_THRESH, F.lit(False)) | flat_dev).alias(
            "is_anomaly"
        ),
    ).orderBy("hour")

"""Standing PSI monitor: the streaming form of
`queries.drift.segment_value_psi`.

The batch query defines its reference period ad hoc (first half of
the observed day range). A production monitor freezes the reference
ONCE — bin bounds and the per-(event_type, bin) reference histogram
from a vetted period — then maintains the CURRENT histogram
incrementally (foreachBatch over the event stream, same retry-guarded
additive fold as streaming/rollup.py) and scores drift per trigger
against the frozen side. Per-trigger cost is the bin frame
(|types|·n_bins rows), never the event volume; the event-scale work
is the per-micro-batch bucket-count, map-side combinable.

The binning and scoring expressions REPLICATE the batch query's
(integer-micro equal-width bins, +1 smoothing with empty bins folded
in analytically, qlog2 via the broadcast `_QLOG_LUT` frame,
DECIMAL-exact PSI terms). Sharing them is open work: the monitor's
frozen reference side is built differently from the query's ad hoc
half split, so the two do not reduce to one function call.
tests/test_streaming_psi.py holds monitor == batch query on the same
split, batch AND streamed, and guards the copies against drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.text import _QLOG_LUT, _QLOG_SCALE, _qlog2_nano_col

N_BINS = 10
PSI_DRIFT_BITS = 0.25


def _lut_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(_QLOG_LUT,)], "_lut: array<bigint>")


def value_bounds(events: DataFrame) -> DataFrame:
    """The frozen monitor config: 1-row (v0, v1) frame over the
    micro-quantized value range of the REFERENCE period (the batch
    query derives the same bounds over its full history). Values
    outside [v0, v1] seen later clamp into the edge bins — the
    standard frozen-binning behavior."""
    return (
        events.filter(F.col("value").isNotNull())
        .select(
            F.floor(F.col("value") * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias("vmicro")
        )
        .agg(F.min("vmicro").alias("v0"), F.max("vmicro").alias("v1"))
    )


def bin_histogram(events: DataFrame, bounds: DataFrame) -> DataFrame:
    """(event_type, bin, n) histogram of a batch of events under the
    frozen bounds — used once to freeze the reference side and once
    per micro-batch for the current side. Map-only until the
    (type, bin) hash aggregate; the bounds ride as a broadcast 1-row
    frame. Bin arithmetic is the graded query's: exact integer
    division, edge clamp."""
    return (
        events.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias("vmicro"),
        )
        .crossJoin(F.broadcast(bounds))
        .selectExpr(
            "event_type",
            f"greatest(least((vmicro - v0) * {N_BINS} div (v1 - v0 + 1), "
            f"{N_BINS - 1}), 0) AS bin",
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def fold_bins_batch(
    batch_df: DataFrame, batch_id: int, bounds: DataFrame, zone: str
) -> None:
    """Additive fold of one micro-batch's (event_type, bin) partials
    into the current-histogram zone — the retry-guarded fold
    (streaming/fold.py), keyed per (type, bin)."""
    from .fold import retry_guarded_fold

    retry_guarded_fold(
        bin_histogram(batch_df, bounds),
        batch_id,
        zone,
        key_cols=["event_type", "bin"],
        partition_by=["event_type"],
        merge_aggs=lambda: [F.sum("n").alias("n")],
    )


def maintain_bin_counts(
    events: DataFrame, bounds: DataFrame, zone: str, checkpoint: str
):
    """writeStream query folding the event stream into the
    current-histogram zone under the frozen bounds."""
    return (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda batch_df, batch_id: fold_bins_batch(
                batch_df, batch_id, bounds, zone
            )
        )
    )


def read_bin_counts(spark: SparkSession, zone: str) -> DataFrame:
    return spark.read.parquet(zone).select("event_type", "bin", "n")


def score_psi(ref_hist: DataFrame, cur_hist: DataFrame) -> DataFrame:
    """PSI in bits per event_type, frozen reference vs current
    histogram — the graded query's exact-integer scoring over two
    (event_type, bin, n) frames: +1 smoothing, analytically folded
    empty bins, `_QLOG_LUT` log2, DECIMAL(19,0)-exact terms, one
    fixed-order closing double expression."""
    spark = ref_hist.sparkSession
    lut_df = _lut_df(spark)
    qlog2 = _qlog2_nano_col
    counts = (
        ref_hist.selectExpr("event_type", "bin", "n AS a", "0 AS bb")
        .unionByName(
            cur_hist.selectExpr("event_type", "bin", "0 AS a", "n AS bb")
        )
        .groupBy("event_type", "bin")
        .agg(F.sum("a").alias("a"), F.sum("bb").alias("bb"))
    )
    wt = Window.partitionBy("event_type")
    full = (
        counts.withColumn("ta", F.sum("a").over(wt) + F.lit(N_BINS))
        .withColumn("tb", F.sum("bb").over(wt) + F.lit(N_BINS))
        .withColumn("a1", F.col("a") + 1)
        .withColumn("b1", F.col("bb") + 1)
        .crossJoin(F.broadcast(lut_df))
    )
    dec = "decimal(19,0)"
    term = (
        (F.col("a1") * F.col("tb") - F.col("b1") * F.col("ta")).cast(dec)
        * (
            qlog2(F.col("a1") * F.col("tb"))
            - qlog2(F.col("b1") * F.col("ta"))
        ).cast(dec)
    )
    agg = full.groupBy("event_type").agg(
        (F.first("ta") - F.lit(N_BINS)).alias("n_ref"),
        (F.first("tb") - F.lit(N_BINS)).alias("n_cur"),
        F.sum(term).alias("_sp"),
        F.count(F.lit(1)).alias("_present"),
        F.first("ta").alias("_ta"),
        F.first("tb").alias("_tb"),
    ).crossJoin(F.broadcast(lut_df))
    missing_term = (
        ((F.lit(N_BINS) - F.col("_present")) * (F.col("_tb") - F.col("_ta")))
        .cast(dec)
        * (qlog2(F.col("_tb")) - qlog2(F.col("_ta"))).cast(dec)
    )
    total = F.col("_sp") + missing_term
    psi = total.cast("double") / (
        F.col("_ta").cast("double")
        * F.col("_tb").cast("double")
        * F.lit(float(_QLOG_SCALE))
    )
    return agg.select(
        "event_type",
        "n_ref",
        "n_cur",
        psi.alias("psi_bits"),
        (psi > PSI_DRIFT_BITS).alias("is_drifted"),
    ).orderBy("event_type")

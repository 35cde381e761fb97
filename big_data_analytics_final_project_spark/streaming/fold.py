"""The retry-guarded additive zone fold — the one foreachBatch merge
discipline behind every streaming-maintained zone here (hourly rollup,
PSI bin counts, profile stats).

foreachBatch is at-least-once: a crashed trigger re-delivers the SAME
batch id with the SAME rows, and additive merges are not idempotent.
The guard is PER KEY, not per batch: each zone row carries
`last_batch_id`, and only the keys whose zone row already records this
batch id (or later) are skipped — keys the original attempt never
applied (a crash midway through a dynamic overwrite spanning several
partitions, or keys brand-new in this batch) are still folded. A
wholesale skip keyed on keys-already-present would drop those
contributions forever (streaming/rollup.py's original analysis).

Scale: the fold is a merge policy on `sinks.upsert_zone`, so each batch
does each piece of work once — the partial is materialized once, the
zone is probed once, only the partitions the partial touches are read
(once, materialized), and one dynamic overwrite lands them. The guard
and the additive merge run against those materialized rows, not the
zone files, which is what lets the overwrite replace the partitions in
place: an executor lost mid-fold fails the write before it commits,
the zone stays intact, and the re-delivered batch folds normally.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sinks import upsert_zone


def retry_guarded_fold(
    partial: DataFrame,
    batch_id: int,
    zone: str,
    key_cols: list[str],
    partition_by: list[str],
    merge_aggs: Callable[[], list[Column]],
) -> None:
    """Fold one micro-batch's `partial` aggregate frame (keyed by
    `key_cols`, WITHOUT a last_batch_id column — added here) into the
    parquet zone at `zone`. `merge_aggs` builds the additive aggregate
    list that merges an existing zone row with a new partial row for
    the same key (called lazily — aggregate constructors may need an
    active session).

    An empty partial writes nothing, and a zone without committed data
    (missing, or only a crashed first write's _temporary/ debris)
    takes the partial as its first write — both decided inside
    `upsert_zone`, with the same committed-data probe."""

    def guarded_merge(touched: DataFrame, partial: DataFrame) -> DataFrame:
        # One row per partial key: its zone row (if any) merged with its
        # partial row, unless the zone row already records this batch
        # (or later) — then the partial row is dropped and the zone row
        # passes through alone. One shuffle on the key serves both the
        # guard's window and the merge's aggregate.
        rows = (
            touched.join(
                F.broadcast(partial.select(*key_cols)), key_cols, "left_semi"
            )
            .withColumn("_new", F.lit(False))
            .unionByName(partial.withColumn("_new", F.lit(True)))
        )
        applied = F.max(F.when(~F.col("_new"), F.col("last_batch_id"))).over(
            Window.partitionBy(*key_cols)
        )
        return (
            rows.withColumn("_applied", F.coalesce(applied, F.lit(-1)))
            .filter(~F.col("_new") | (F.col("_applied") < batch_id))
            .groupBy(*key_cols)
            .agg(*merge_aggs(), F.max("last_batch_id").alias("last_batch_id"))
        )

    upsert_zone(
        partial.sparkSession,
        partial.withColumn("last_batch_id", F.lit(batch_id).cast("bigint")),
        zone,
        key_cols=key_cols,
        partition_by=partition_by,
        merge=guarded_merge,
    )

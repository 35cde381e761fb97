"""The standing PSI monitor (streaming/psi.py): its frozen-reference
binning + scoring replicate the batch `segment_value_psi` (see the
module docstring), so these tests are the anti-drift guard:

1. batch pin: freeze bounds + reference histogram from the batch
   query's own reference half, bin the current half batch-side, score
   — row-identical (floats included) to the batch query;
2. end-to-end: stream the current half in 3 file drops through the
   retry-guarded additive fold, score the maintained zone — identical
   again; and a re-delivered final batch must change nothing.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.queries.drift import (
    segment_value_psi,
)
from big_data_analytics_final_project_spark.sources import load_table
from big_data_analytics_final_project_spark.streaming import (
    EVENT_SCHEMA,
    read_event_stream,
)
from big_data_analytics_final_project_spark.streaming.psi import (
    bin_histogram,
    fold_bins_batch,
    maintain_bin_counts,
    read_bin_counts,
    score_psi,
    value_bounds,
)

from .conftest import SF_SMOKE


def _rows(df):
    return [
        (r["event_type"], r["n_ref"], r["n_cur"], r["psi_bits"], r["is_drifted"])
        for r in df.orderBy("event_type").collect()
    ]


@pytest.fixture(scope="module")
def split(spark):
    """The graded query's own split: bounds over value-notnull events,
    mid_day = d0 + (d1-d0) div 2, reference = day < mid_day."""
    ev = load_table(spark, SF_SMOKE, "events").filter(
        F.col("value").isNotNull()
    )
    mid = (
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"),
            F.max(F.to_date("ts")).alias("d1"),
        )
        .selectExpr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT)) AS m")
        .collect()[0]["m"]
    )
    ref = ev.filter(F.to_date("ts") < F.lit(mid))
    cur = ev.filter(F.to_date("ts") >= F.lit(mid))
    bounds = value_bounds(ev)  # graded derives v0/v1 over the full history
    return ref, cur, bounds


@pytest.fixture(scope="module")
def graded(spark):
    return _rows(segment_value_psi(spark, SF_SMOKE))


def test_monitor_matches_graded_query_batch(spark, split, graded):
    ref, cur, bounds = split
    got = _rows(
        score_psi(bin_histogram(ref, bounds), bin_histogram(cur, bounds))
    )
    assert got == graded
    assert len(got) > 0


def test_streamed_zone_scores_match_and_retry_is_noop(spark, split, graded):
    ref, cur, bounds = split
    root = tempfile.mkdtemp(prefix="stream_psi_")
    try:
        src = f"{root}/src"
        chunked = cur.select(
            *[f.name for f in EVENT_SCHEMA.fields]
        ).withColumn(
            "_chunk", F.ntile(3).over(Window.orderBy("ts", "event_id"))
        )
        for c in (1, 2, 3):
            chunked.filter(F.col("_chunk") == c).drop("_chunk").coalesce(
                1
            ).write.mode("append").parquet(src)
        zone = f"{root}/zone"
        q = (
            maintain_bin_counts(
                read_event_stream(spark, src), bounds, zone, f"{root}/ckpt"
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"
        ref_hist = bin_histogram(ref, bounds)
        got = _rows(score_psi(ref_hist, read_bin_counts(spark, zone)))
        assert got == graded

        # foreachBatch retry semantics: re-delivering the last batch
        # must be a no-op (per-(type,bin) batch-id high-water mark)
        zone_df = spark.read.parquet(zone)
        bmax = zone_df.agg(F.max("last_batch_id")).collect()[0][0]
        last_chunk = chunked.filter(F.col("_chunk") == 3).drop("_chunk")
        fold_bins_batch(last_chunk, bmax, bounds, zone)
        again = _rows(score_psi(ref_hist, read_bin_counts(spark, zone)))
        assert again == graded
    finally:
        shutil.rmtree(root, ignore_errors=True)

"""The streaming-maintained anomaly monitor (streaming/rollup.py
`score_hourly_anomalies`): `events_hourly_anomaly` is the same scorer
applied to the batch hourly aggregate, so scoring the streamed rollup
zone must be row-identical to the batch query — the full standing
pipeline: file-drop stream → foreachBatch zone fold → monitor read
(end-to-end stream==batch).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.queries.drift import (
    events_hourly_anomaly,
)
from big_data_analytics_final_project_spark.sources import load_table
from big_data_analytics_final_project_spark.streaming import (
    EVENT_SCHEMA,
    read_event_stream,
)
from big_data_analytics_final_project_spark.streaming.rollup import (
    maintain_hourly_rollup,
    read_hourly_rollup,
    score_hourly_anomalies,
)

from .conftest import SF_SMOKE


def _rows(df):
    return [
        (
            r["hour"],
            r["n_events"],
            r["n_trail"],
            r["trail_mean"],
            r["z"],
            r["is_anomaly"],
        )
        for r in df.orderBy("hour").collect()
    ]


def test_streamed_zone_scores_match_batch_query(spark):
    """End-to-end: stream the event log in 3 chronological file drops,
    fold into the rollup zone, score the zone — row-identical to the
    batch query over the same events."""
    root = tempfile.mkdtemp(prefix="stream_anom_")
    try:
        src = f"{root}/src"
        events = (
            load_table(spark, SF_SMOKE, "events")
            .select(*[f.name for f in EVENT_SCHEMA.fields])
            .withColumn(
                "_chunk", F.ntile(3).over(Window.orderBy("ts", "event_id"))
            )
        )
        for c in (1, 2, 3):
            events.filter(F.col("_chunk") == c).drop("_chunk").coalesce(
                1
            ).write.mode("append").parquet(src)
        zone = f"{root}/zone"
        q = (
            maintain_hourly_rollup(
                read_event_stream(spark, src), zone, f"{root}/ckpt"
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"
        scored = score_hourly_anomalies(
            read_hourly_rollup(spark, zone).select("hour", "n_events")
        )
        assert _rows(scored) == _rows(events_hourly_anomaly(spark, SF_SMOKE))
    finally:
        shutil.rmtree(root, ignore_errors=True)

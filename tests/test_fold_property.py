"""Property test for the shared retry-guarded zone fold
(streaming/fold.py): under ARBITRARY at-least-once delivery schedules
— every batch delivered once in order, plus hypothesis-chosen
re-deliveries of earlier batches interleaved afterward — the zone
must equal the clean once-each fold (which itself must equal a pure
dict reference). This is the exactly-once-effective contract all
three streaming monitors inherit."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.streaming.fold import (
    retry_guarded_fold,
)
from .conftest import require_classic

# batches: list of batches; each batch is a list of (key, value) rows.
# Keys overlap across batches so merges genuinely accumulate.
_batches = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=4,
)


@given(
    data=_batches,
    redeliver=st.lists(
        st.integers(min_value=0, max_value=3), min_size=0, max_size=3
    ),
)
@settings(
    max_examples=6,  # each example folds two real parquet zones
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
def test_redelivery_never_changes_the_zone(spark, data, redeliver):
    def fold_schedule(schedule, zone):
        for bid in schedule:
            rows = data[bid]
            partial = (
                spark.createDataFrame(rows, "k: bigint, v: bigint")
                .groupBy("k")
                .agg(F.sum("v").alias("v"), F.count(F.lit(1)).alias("n"))
            )
            retry_guarded_fold(
                partial,
                bid,
                zone,
                key_cols=["k"],
                partition_by=["k"],
                merge_aggs=lambda: [
                    F.sum("v").alias("v"),
                    F.sum("n").alias("n"),
                ],
            )

    def zone_state(zone):
        return {
            r["k"]: (r["v"], r["n"])
            for r in spark.read.parquet(zone).collect()
        }

    root = tempfile.mkdtemp(prefix="fold_prop_")
    try:
        clean, noisy = f"{root}/clean", f"{root}/noisy"
        once = list(range(len(data)))
        fold_schedule(once, clean)
        # re-deliveries reference only batches that were delivered
        replays = [b for b in redeliver if b < len(data)]
        fold_schedule(once + replays, noisy)
        want = {}
        for rows in data:
            for k, v in rows:
                pv, pn = want.get(k, (0, 0))
                want[k] = (pv + v, pn + 1)
        assert zone_state(clean) == want
        assert zone_state(noisy) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_crashed_first_write_self_heals(spark):
    """A crashed FIRST write leaves the zone dir holding only
    _temporary/ attempt debris. The fold must treat that as 'no zone
    yet' and degrade to a plain first write — a bare fs.exists probe
    would route every retry into reading an empty parquet zone and
    wedge the stream permanently (the upsert_zone self-heal case,
    now shared via sinks.has_committed_files)."""
    root = tempfile.mkdtemp(prefix="fold_crash_")
    try:
        zone = f"{root}/zone"
        debris = f"{zone}/_temporary/0/task_0"
        os.makedirs(debris)
        with open(f"{debris}/part-00000.parquet", "wb") as f:
            f.write(b"not a parquet file")
        partial = (
            spark.createDataFrame([(1, 5), (2, 7)], "k: bigint, v: bigint")
            .groupBy("k")
            .agg(F.sum("v").alias("v"), F.count(F.lit(1)).alias("n"))
        )
        retry_guarded_fold(
            partial,
            0,
            zone,
            key_cols=["k"],
            partition_by=["k"],
            merge_aggs=lambda: [F.sum("v").alias("v"), F.sum("n").alias("n")],
        )
        got = {
            r["k"]: (r["v"], r["n"])
            for r in spark.read.parquet(zone).collect()
        }
        assert got == {1: (5, 1), 2: (7, 1)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- fault injection at the fold's commit points ---------------------
#
# One fold = materialize the partial, probe the zone, read the touched
# partitions (materialized), ONE dynamic overwrite. These cases crash
# the fold at each point where the zone could be left half-applied and
# check that re-delivery of the same batch still folds it exactly once.


def _hourly_events(spark, rows):
    """(ts, value) events from ('YYYY-MM-DD HH:MM:SS', value) pairs,
    parsed in the session time zone."""
    return spark.createDataFrame(rows, "t string, value double").select(
        F.to_timestamp("t").alias("ts"), "value"
    )


# two batches, each touching the same two day partitions
_DAY_BATCHES = [
    [("2024-01-01 03:10:00", 1.0), ("2024-01-01 03:40:00", 2.0),
     ("2024-01-02 05:00:00", 4.0)],
    [("2024-01-01 03:20:00", 8.0), ("2024-01-01 07:00:00", 16.0),
     ("2024-01-02 05:30:00", 32.0), ("2024-01-02 09:00:00", 64.0)],
]


def _zone_rows(spark, zone):
    return sorted(
        (r["hour"], r["n_events"], r["sum_value_dec"], r["last_batch_id"])
        for r in spark.read.parquet(zone).collect()
    )


def _zone_bytes(zone):
    out = {}
    for d, _dirs, files in os.walk(zone):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, zone)] = fh.read()
    return out


def _clean_zone(spark, zone):
    from big_data_analytics_final_project_spark.streaming.rollup import (
        fold_hourly_batch,
    )

    for bid, rows in enumerate(_DAY_BATCHES):
        fold_hourly_batch(_hourly_events(spark, rows), bid, zone)
    return _zone_rows(spark, zone)


def test_crash_after_touched_read_before_write(spark, monkeypatch):
    """(a) The touched partitions are read and materialized, then the
    fold dies before its one write. Nothing was committed, so the
    re-delivered batch must fold exactly once."""
    from big_data_analytics_final_project_spark import sinks
    from big_data_analytics_final_project_spark.streaming.rollup import (
        fold_hourly_batch,
    )

    root = tempfile.mkdtemp(prefix="fold_fault_a_")
    try:
        want = _clean_zone(spark, f"{root}/clean")
        zone = f"{root}/zone"
        fold_hourly_batch(_hourly_events(spark, _DAY_BATCHES[0]), 0, zone)
        before = _zone_bytes(zone)
        real_write = sinks.write_zone

        def crash(df, path, *args, **kwargs):
            raise RuntimeError("injected crash before the write")

        monkeypatch.setattr(sinks, "write_zone", crash)
        batch = _hourly_events(spark, _DAY_BATCHES[1])
        with pytest.raises(RuntimeError, match="injected"):
            fold_hourly_batch(batch, 1, zone)
        assert _zone_bytes(zone) == before
        monkeypatch.setattr(sinks, "write_zone", real_write)
        fold_hourly_batch(batch, 1, zone)  # re-delivery
        assert _zone_rows(spark, zone) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_crash_between_day_partitions_of_one_overwrite(spark):
    """(b) A dynamic overwrite replaces its partitions one directory at
    a time when the job commits. A crash between them leaves a zone
    where batch 1 landed in one day and not the other — built here
    directly by copying the clean zone's second day over a batch-0
    zone. The per-hour guard must fold the missing day on re-delivery
    and skip the committed one."""
    from big_data_analytics_final_project_spark.streaming.rollup import (
        fold_hourly_batch,
    )

    root = tempfile.mkdtemp(prefix="fold_fault_b_")
    try:
        clean = f"{root}/clean"
        want = _clean_zone(spark, clean)
        zone = f"{root}/zone"
        fold_hourly_batch(_hourly_events(spark, _DAY_BATCHES[0]), 0, zone)
        day = "day=2024-01-02"
        shutil.rmtree(os.path.join(zone, day))
        shutil.copytree(os.path.join(clean, day), os.path.join(zone, day))
        half = _zone_rows(spark, zone)
        assert half != want
        assert {r[3] for r in half} == {0, 1}  # one day per batch
        fold_hourly_batch(_hourly_events(spark, _DAY_BATCHES[1]), 1, zone)
        assert _zone_rows(spark, zone) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_lost_checkpoint_blocks_fail_before_commit(spark, monkeypatch):
    """(c) The merge reads executor blocks (the materialized partial
    and touched partitions), not the zone. If those blocks are lost
    before the write, the fold must raise and leave the zone byte for
    byte as it was — never commit a merge with rows missing. The
    re-delivered batch then folds normally."""
    from big_data_analytics_final_project_spark import sinks
    from big_data_analytics_final_project_spark.streaming.rollup import (
        fold_hourly_batch,
    )

    require_classic(spark)
    root = tempfile.mkdtemp(prefix="fold_fault_c_")
    try:
        want = _clean_zone(spark, f"{root}/clean")
        zone = f"{root}/zone"
        fold_hourly_batch(_hourly_events(spark, _DAY_BATCHES[0]), 0, zone)
        before = _zone_bytes(zone)
        batch = _hourly_events(spark, _DAY_BATCHES[1])
        frame_cls = type(batch)  # the backend's concrete DataFrame
        checkpoints = []
        real_ckpt = frame_cls.localCheckpoint
        real_write = sinks.write_zone

        def recording_ckpt(self, *args, **kwargs):
            out = real_ckpt(self, *args, **kwargs)
            checkpoints.append(out)
            return out

        def lose_blocks_then_write(df, path, *args, **kwargs):
            # blocking removal: the blocks are gone before the write runs
            for c in checkpoints:
                c._jdf.queryExecution().analyzed().rdd().unpersist(True)
            return real_write(df, path, *args, **kwargs)

        monkeypatch.setattr(frame_cls, "localCheckpoint", recording_ckpt)
        monkeypatch.setattr(sinks, "write_zone", lose_blocks_then_write)
        with pytest.raises(Exception, match="(?i)checkpoint block"):
            fold_hourly_batch(batch, 1, zone)
        assert len(checkpoints) == 2  # the partial and the touched days
        assert _zone_bytes(zone) == before
        monkeypatch.undo()
        fold_hourly_batch(batch, 1, zone)  # re-delivery
        assert _zone_rows(spark, zone) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Spark jobs one merge batch of the fold runs (measured, local mode):
# the partial's shuffle map stage and its checkpoint, the touched
# partitions' schema inference and checkpoint, the broadcast of the
# partial's keys, the map stages of the merge shuffle and of the
# rebalance on the day partitions, and the write. A re-added emptiness
# `take(1)`, a second zone read or a staging copy each push it over.
FOLD_MERGE_JOB_BUDGET = 8


def test_merge_batch_job_budget(spark):
    """One merge batch of retry_guarded_fold, run under its own job
    group, launches at most FOLD_MERGE_JOB_BUDGET Spark jobs."""
    from big_data_analytics_final_project_spark.streaming.rollup import (
        fold_hourly_batch,
    )

    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="fold_jobs_")
    group = f"fold-job-budget-{root.rsplit('_', 1)[-1]}"
    try:
        zone = f"{root}/zone"
        fold_hourly_batch(_hourly_events(spark, _DAY_BATCHES[0]), 0, zone)
        batch = _hourly_events(spark, _DAY_BATCHES[1])
        sc.setJobGroup(group, "fold job budget")
        try:
            fold_hourly_batch(batch, 1, zone)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= FOLD_MERGE_JOB_BUDGET, len(jobs)
        assert _zone_rows(spark, zone) == _clean_zone(spark, f"{root}/clean")
    finally:
        shutil.rmtree(root, ignore_errors=True)

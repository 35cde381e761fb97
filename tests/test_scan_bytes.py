"""Hadoop-FS byte-counter regression pins for the five queries whose
executed-scan text audit truncates at the ``nested_adaptive`` parser
pathology (r14 verdict finding #1: deep cache chains outdent nested
adaptive plan markers past indentation-parseability, so their scan
baselines rested on ONE-TIME measurements recorded in
scripts/scan_audit.py comments — a future hidden rescan could hide
behind the stale comment).

Instrument: ``FileSystem.getGlobalStorageStatistics().get("file")
.getLong("bytesRead")`` — the ground-truth counter the scan audit's
byte-counter notes use. Parquet data pages are read through a mmap'd /
vectored path that bypasses the counter, but every scan task's FOOTER
open registers (~2-6 KB per table at single-partition SF), so at
SF_SMOKE the delta divided by an in-process calibrated one-scan cost
counts scans exactly. Calibration happens per test run — the ground
truth re-measures on every pytest run instead of living in a comment.

The JSON-ingest pair reads its scratch JSON drop through the same
counter (text sources are NOT mmap'd — the full drop registers), so
those two pin the ratio of total bytes read to the drop's on-disk
size instead: a future edit that re-reads the drop jumps the ratio by
a full unit.

These tests reach JVM internals and assume the session is otherwise
idle (the counter is global) — serial pytest only, like the
persistent-RDD accounting tests.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.queries import all_queries

from .conftest import SF_SMOKE, require_classic


def _bytes_read(spark) -> int:
    jvm = spark.sparkContext._jvm
    st = (
        jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics()
        .get("file")
    )
    return 0 if st is None else st.getLong("bytesRead")


def _delta(spark, fn) -> int:
    spark.catalog.clearCache()
    before = _bytes_read(spark)
    fn()
    return _bytes_read(spark) - before


@pytest.fixture(scope="module")
def one_scan_bytes(spark):
    """Per-table cost of exactly ONE parquet scan, calibrated in this
    process: a whole-column aggregate that cannot be answered from
    footer stats (sum of hash) forces the real scan path."""
    require_classic(spark)

    def calib(table: str) -> int:
        path = f"{SF_SMOKE}/{table}.parquet"
        df = spark.read.parquet(path)
        col = df.columns[0]
        d = _delta(
            spark,
            lambda: df.agg(F.sum(F.hash(F.col(col)))).collect(),
        )
        assert d > 0, f"byte counter registered nothing for {table}"
        return d

    return {t: calib(t) for t in ("lineitem", "embeddings")}


def _scan_ratio(spark, name: str, table: str, one_scan: int) -> float:
    d = _delta(spark, lambda: all_queries()[name].fn(spark, SF_SMOKE).collect())
    return d / one_scan


# expected = measured STEADY-STATE footer opens in one-scan units
# (r15 calibration; min-of-2 runs drops the cold-only schema-probe
# open, which costs exactly one extra unit on a query's first touch
# of a table in a session). part_pagerank's 2 matches the r14
# byte-counter ground truth exactly (scripts/scan_audit.py baseline);
# part_triangle_count's 1 likewise (ReusedExchange collapses the edge
# self-join inside the persist fill); embedding_kmeans measures 3
# warm (seed collect + persist fill + post-release final assignment —
# one more than the text parser's truncated 2, which the audit
# baseline allows). Tolerance 0.75 of one unit: measured ratios are
# exact integers, and a hidden EXTRA corpus scan moves the ratio by
# a full 1.0.
_CASES = [
    ("embedding_kmeans", "embeddings", 3),
    ("part_pagerank", "lineitem", 2),
    ("part_triangle_count", "lineitem", 1),
]


@pytest.mark.parametrize("name,table,expected", _CASES)
def test_nested_adaptive_scan_bytes(spark, one_scan_bytes, name, table, expected):
    # two runs, keep the min: first-touch listing/schema caches can
    # only ADD bytes to a cold run, never remove a real scan
    ratio = min(
        _scan_ratio(spark, name, table, one_scan_bytes[table])
        for _ in range(2)
    )
    assert abs(ratio - expected) < 0.75, (
        f"{name}: measured {ratio:.2f} {table} scans by byte counter, "
        f"baseline says {expected} — a rescan is hiding behind the "
        f"nested_adaptive parser truncation (scripts/scan_audit.py)"
    )


def _drop_bytes(tag: str) -> int:
    """On-disk size of the query's scratch JSON drop (written fresh by
    the run just measured — the _RUN_TOKEN suffix is stable within a
    process, so the newest matching dir is this run's)."""
    import glob
    import tempfile

    dirs = glob.glob(os.path.join(tempfile.gettempdir(), f"bdafp_{tag}_*"))
    assert dirs, f"no scratch drop for {tag}"
    newest = max(dirs, key=os.path.getmtime)
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(newest)
        for f in fs
    )


_JSON_CASES = [
    # measured r15: the PERMISSIVE ingest reads the drop exactly ONCE
    # (ratio 1.06 / 1.03 — the excess is the events parquet footer +
    # schema probes); a second pass over the drop jumps the ratio past
    # 2, far outside the band
    ("json_ingest_roundtrip", "json_drop"),
    ("json_ingest_with_errors", "json_errs"),
]


@pytest.mark.parametrize("name,tag", _JSON_CASES)
def test_json_ingest_drop_read_bytes(spark, name, tag):
    require_classic(spark)
    d = _delta(spark, lambda: all_queries()[name].fn(spark, SF_SMOKE).collect())
    drop = _drop_bytes(tag)
    ratio = d / drop
    assert 0.9 <= ratio <= 1.5, (
        f"{name}: bytes-read delta is {ratio:.2f}x the JSON drop size "
        f"(expected one read, measured 1.03-1.06x) — the ingest path "
        f"grew or lost a pass over the drop"
    )

"""The per-session zone-scan cache (sources/__init__.py): reads of the
driver-owned read-only data root reuse one resolved DataFrame per
(session, sf_dir, table) — ~100ms of parquet footer/schema resolution
per skipped call — while any path OUTSIDE the data root re-resolves
every call (test fixtures write their own sf_dirs and may rewrite
them)."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.sources import load_table

from .conftest import SF_SMOKE


def test_data_root_reads_are_cached(spark):
    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE, "orders")
    assert a is b
    # distinct zones / sf_dirs get distinct entries
    c = load_table(spark, SF_SMOKE, "lineitem")
    assert c is not a


def test_cache_key_is_spelling_insensitive(spark):
    """Different spellings of the same cacheable directory (trailing
    slash, /./ segments) must share ONE cache entry — the key is the
    realpath already computed for the boundary check, not the raw
    sf_dir string (r10 advice: duplicate entries = duplicate reads)."""
    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE + "/", "orders")
    c = load_table(spark, SF_SMOKE + "/./", "orders")
    assert a is b is c


def test_outside_data_root_never_cached(spark, tmp_path):
    src = load_table(spark, SF_SMOKE, "orders").limit(5)
    p = str(tmp_path / "orders.parquet")
    src.write.parquet(p)
    a = load_table(spark, str(tmp_path), "orders")
    b = load_table(spark, str(tmp_path), "orders")
    assert a is not b  # fresh resolution per call
    # and a rewrite is actually observed (the property caching would break)
    assert a.count() == 5
    shutil.rmtree(p)
    src.limit(2).write.parquet(p)
    assert load_table(spark, str(tmp_path), "orders").count() == 2


def test_sibling_of_data_root_never_cached(spark, tmp_path, monkeypatch):
    """A SIBLING of the data root (/root/testdata_tmp next to
    /root/testdata) must not be treated as inside it: the eligibility
    check is bounded at a directory boundary, not a raw prefix — a
    prefix match would serve stale cached frames after a fixture
    rewrite."""
    import big_data_analytics_final_project_spark.sources as sources

    root = tmp_path / "data"
    sibling = tmp_path / "data_tmp"
    sibling.mkdir()
    monkeypatch.setattr(sources, "_DATA_ROOT", str(root))
    src = load_table(spark, SF_SMOKE, "orders").limit(5)
    src.write.parquet(str(sibling / "orders.parquet"))
    a = load_table(spark, str(sibling), "orders")
    b = load_table(spark, str(sibling), "orders")
    assert a is not b  # prefix-sibling is NOT cacheable
    # the root itself and children of it ARE cacheable
    (root / "sf").mkdir(parents=True)
    src.write.parquet(str(root / "sf" / "orders.parquet"))
    c = load_table(spark, str(root / "sf"), "orders")
    d = load_table(spark, str(root / "sf"), "orders")
    assert c is d


def test_cached_events_frame_keeps_ts_normalization(spark):
    df = load_table(spark, SF_SMOKE, "events")
    again = load_table(spark, SF_SMOKE, "events")
    assert again is df
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.agg(F.min("ts")).collect()[0][0] is not None


def test_rewritten_zone_under_data_root_is_seen(spark, tmp_path, monkeypatch):
    """A zone rewritten in place under the data root must be resolved
    again: the cache key carries the zone file's size and mtime, so a
    cached frame never serves the old file listing."""
    import duckdb

    import big_data_analytics_final_project_spark.sources as sources

    monkeypatch.setattr(sources, "_DATA_ROOT", str(tmp_path))
    zone = tmp_path / "orders.parquet"

    def write(n: int) -> None:
        duckdb.sql(
            f"COPY (SELECT range AS o_orderkey FROM range({n})) TO '{zone}' (FORMAT parquet)"
        )

    write(5)
    a = load_table(spark, str(tmp_path), "orders")
    assert a is load_table(spark, str(tmp_path), "orders")
    assert a.count() == 5
    write(3)
    b = load_table(spark, str(tmp_path), "orders")
    assert b is not a
    assert sorted(r.o_orderkey for r in b.collect()) == [0, 1, 2]

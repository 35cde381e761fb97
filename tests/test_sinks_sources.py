"""Sink/source round-trips and the partitioned-zone prefix-scan layout.

Covers the reference's output surface (SNK-2 report CSV, SNK-1 zone
writes, SNK-4 summary) and the SRC-4/OPT-3 claim: a user-partitioned,
time-sorted parquet zone answers the HBase rowkey-prefix scan with
partition pruning instead of a custom store.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.plans import (
    count_shuffles,
    physical_plan,
)
from big_data_analytics_final_project_spark.queries import all_queries
from big_data_analytics_final_project_spark.sinks import (
    compact_zone,
    upsert_zone,
    write_bucketed_table,
    write_report_csv,
    write_summary_txt,
    write_zone,
)
from big_data_analytics_final_project_spark.sources import (
    load_table,
    read_csv_zone,
    read_json_zone_with_skips,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def tmp_root():
    root = tempfile.mkdtemp(prefix="sink_test_")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_report_csv_roundtrip(spark, tmp_root):
    """SNK-2: single-file CSV with header; read-back (SRC-6) preserves
    rows and values."""
    top = all_queries()["top_spenders"].fn(spark, SF_SMOKE)
    path = f"{tmp_root}/top_spenders_csv"
    write_report_csv(top, path)
    back = read_csv_zone(spark, path)
    want = [(r["o_custkey"], r["num_orders"]) for r in top.collect()]
    got = [(r["o_custkey"], r["num_orders"]) for r in back.collect()]
    assert sorted(got) == sorted(want)
    # single file per the report contract
    parts = [f for f in spark.read.format("csv").load(path).inputFiles()]
    assert len(parts) == 1


def test_zone_write_partition_pruning(spark, tmp_root):
    """SNK-1/OPT-3: events written partitioned by user bucket, sorted
    by ts within files. A single-user lookup must scan ONE partition
    (partition filters in the plan, no post-scan user filter work) and
    return time-ordered rows — the HBase prefix-scan parity claim."""
    events = load_table(spark, SF_SMOKE, "events")
    zone = f"{tmp_root}/sessions_zone"
    write_zone(
        events.withColumn("user_bucket", F.pmod(F.col("user_id"), F.lit(16))),
        zone,
        partition_by=["user_bucket"],
        sort_within_partitions=["user_id", "ts"],
    )
    zdf = spark.read.parquet(zone)
    lookup = (
        zdf.filter(
            (F.col("user_bucket") == 42 % 16) & (F.col("user_id") == 42)
        )
        .select("event_id", "ts", "event_type", "value")
        .orderBy("ts", "event_id")
        .limit(5)
    )
    plan = physical_plan(lookup)
    assert "PartitionFilters: [isnotnull(user_bucket" in plan
    # same rows as the unpartitioned-path query
    want = (
        events.filter(F.col("user_id") == 42)
        .select("event_id", "ts", "event_type", "value")
        .orderBy("ts", "event_id")
        .limit(5)
        .collect()
    )
    assert lookup.collect() == want


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    """orders and customer persisted as 8-bucket tables on the join
    key (custkey) — the pay-the-shuffle-once-at-ingest layout."""
    write_bucketed_table(
        load_table(spark, SF_SMOKE, "orders"), "orders_bkt", 8, ["o_custkey"]
    )
    write_bucketed_table(
        load_table(spark, SF_SMOKE, "customer"), "customer_bkt", 8, ["c_custkey"]
    )
    yield
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_bucketed_join_is_colocated(spark, bucketed_tables):
    """Joining two tables bucketed on the join key must be a
    SortMergeJoin with ZERO shuffle exchanges — both sides read
    pre-partitioned. (Broadcast is disabled so the tiny sf0.001 dim
    can't mask the co-location; values are checked against the
    plain-parquet join.)"""
    prior_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("orders_bkt")
            .join(
                spark.table("customer_bkt"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan, plan
        # one exchange for the final groupBy on a non-bucket key; the
        # JOIN itself must add none
        assert count_shuffles(joined) <= 1, plan

        want = sorted(
            (r["c_mktsegment"], r["n_orders"])
            for r in load_table(spark, SF_SMOKE, "orders")
            .join(
                load_table(spark, SF_SMOKE, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .collect()
        )
        got = sorted((r["c_mktsegment"], r["n_orders"]) for r in joined.collect())
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_threshold)


def test_bucketed_agg_needs_no_shuffle(spark, bucketed_tables):
    """A groupBy on the bucket key reads pre-partitioned data: zero
    exchanges in the whole aggregate plan."""
    agg = (
        spark.table("orders_bkt")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert count_shuffles(agg) == 0, physical_plan(agg)
    # values match the unbucketed path
    want = (
        load_table(spark, SF_SMOKE, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, want))


def test_json_ingest_with_skips(spark, tmp_root):
    """Reference-loader error path (skip malformed rows, report
    inserted/skipped): 3 good lines + 2 broken ones land as a 3-row
    frame with exact counters."""
    from pyspark.sql import types as T

    path = f"{tmp_root}/dirty_json"
    import os

    os.makedirs(path, exist_ok=True)
    with open(f"{path}/part-0.json", "w") as f:
        f.write(
            '{"user_id": 1, "city": "a"}\n'
            "{not json at all\n"
            '{"user_id": 2, "city": "b"}\n'
            '{"user_id": "also-bad-type-but-parseable", "city": "c"}\n'
            '{"user_id": 3, "city": "d"}\n'
        )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("city", T.StringType()),
        ]
    )
    def n_persistent():
        # None on non-classic backends (Spark Connect): the block-
        # hygiene accounting is a classic-mode optimization check,
        # the ingest semantics above stay asserted everywhere
        # (conftest.require_classic rationale).
        try:
            return spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        except Exception:  # noqa: BLE001
            return None

    before = n_persistent()
    good, counters = read_json_zone_with_skips(spark, path, schema)
    rows = {(r["user_id"], r["city"]) for r in good.collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "d")}
    assert counters == {"ingested": 3, "skipped": 2}
    # lineage-free return: bare count() works (no corrupt-only-query
    # restriction) and the raw parse cache was released
    assert good.count() == 3
    # block hygiene (operators/checkpoints.py rationale): only the
    # checkpoint backing the returned clean frame may remain; the raw
    # parse cache must not survive the call
    after = n_persistent()
    if before is not None and after is not None:
        assert after <= before + 1


def test_dynamic_partition_overwrite(spark, tmp_root):
    """Incremental load semantics: overwriting with one day's rows in
    dynamic mode replaces only that day's partition; static mode would
    truncate the whole zone."""
    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts")
    )
    days = [r["day"] for r in events.select("day").distinct().orderBy("day").limit(2).collect()]
    assert len(days) == 2
    zone = f"{tmp_root}/daily_zone"
    write_zone(events.filter(F.col("day").isin(days)), zone, partition_by=["day"])
    day1_before = spark.read.parquet(zone).filter(F.col("day") == days[0]).count()
    # backfill day2 with a filtered subset (simulating a corrected load)
    corrected = events.filter(
        (F.col("day") == days[1]) & (F.col("event_type") == "click")
    )
    write_zone(corrected, zone, partition_by=["day"], dynamic_overwrite=True)
    after = spark.read.parquet(zone)
    assert after.filter(F.col("day") == days[0]).count() == day1_before
    assert after.filter(F.col("day") == days[1]).count() == corrected.count()


def test_upsert_zone(spark, tmp_root):
    """Keyed upsert: an updated row replaces its key, a new row lands,
    untouched partitions and non-colliding rows survive byte-for-byte."""
    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts")
    )
    days = [
        r["day"]
        for r in events.select("day").distinct().orderBy("day").limit(2).collect()
    ]
    zone = f"{tmp_root}/upsert_zone"
    base = events.filter(F.col("day").isin(days))
    write_zone(base, zone, partition_by=["day"])
    day1_rows = sorted(
        map(tuple, spark.read.parquet(zone).filter(F.col("day") == days[0]).collect())
    )
    # one corrected existing event + one brand-new event, both in day 2
    victim = base.filter(F.col("day") == days[1]).limit(1)
    corrected = victim.withColumn("value", F.lit(9999.0))
    new_row = victim.withColumn(
        "event_id", F.col("event_id") + 10_000_000
    ).withColumn("value", F.lit(-1.0))
    upsert_zone(
        spark,
        corrected.unionByName(new_row),
        zone,
        key_cols=["event_id"],
        partition_by=["day"],
    )
    after = spark.read.parquet(zone)
    assert (
        sorted(map(tuple, after.filter(F.col("day") == days[0]).collect()))
        == day1_rows
    )
    vid = victim.collect()[0]["event_id"]
    assert after.filter(F.col("event_id") == vid).collect()[0]["value"] == 9999.0
    assert after.filter(F.col("event_id") == vid + 10_000_000).count() == 1
    assert after.count() == base.count() + 1


def test_compact_zone(spark, tmp_root):
    """A fragmented zone (64 one-partition appends' worth of files)
    compacts to the computed file count with every row preserved."""
    events = load_table(spark, SF_SMOKE, "events")
    frag = f"{tmp_root}/fragmented"
    events.repartition(64).write.mode("overwrite").parquet(frag)
    n_before = len(spark.read.parquet(frag).inputFiles())
    assert n_before >= 64
    dst = f"{tmp_root}/compacted"
    compact_zone(frag, spark, dst, target_file_bytes=4 << 20)
    back = spark.read.parquet(dst)
    assert len(back.inputFiles()) < n_before
    assert back.count() == events.count()
    # deterministic override path
    assert compact_zone(frag, spark, f"{tmp_root}/c2", num_files=3) == 3
    assert len(spark.read.parquet(f"{tmp_root}/c2").inputFiles()) == 3
    # partitioned compaction keeps the layout (and its pruning)
    part_src = f"{tmp_root}/part_src"
    events.withColumn("day", F.to_date("ts")).repartition(16).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(part_src)
    part_dst = f"{tmp_root}/part_dst"
    compact_zone(part_src, spark, part_dst, num_files=1, partition_by=["day"])
    back2 = spark.read.parquet(part_dst)
    assert back2.count() == events.count()
    assert "day=" in back2.inputFiles()[0]


def test_compact_zone_spreads_hot_partitions(spark, tmp_root):
    """Partitioned compaction honors files-per-partition: the spreader
    fans each partition value across ~num_files tasks instead of
    funneling a hot partition into one oversized file."""
    df = (
        spark.range(20_000)
        .withColumn("p", (F.col("id") % 3).cast("int"))
        .withColumn("v", F.col("id") * 2)
    )
    dst = f"{tmp_root}/spread_dst"
    got = compact_zone(df, spark, dst, num_files=6, partition_by=["p"])
    assert got == 6
    files = spark.read.parquet(dst).inputFiles()
    per_part: dict[str, int] = {}
    for f in files:
        key = [seg for seg in f.split("/") if seg.startswith("p=")][0]
        per_part[key] = per_part.get(key, 0) + 1
    assert set(per_part) == {"p=0", "p=1", "p=2"}
    # hash collisions can merge a couple of spreader groups, but every
    # partition must clearly fan out past the old one-file behavior
    assert all(3 <= n <= 6 for n in per_part.values()), per_part
    assert spark.read.parquet(dst).count() == 20_000


def test_upsert_zone_first_write(spark, tmp_root):
    """Upserting into a not-yet-existing zone degrades to a plain first
    write instead of failing on the read."""
    zone = f"{tmp_root}/upsert_fresh"
    df = (
        spark.range(100)
        .withColumn("p", (F.col("id") % 2).cast("int"))
        .withColumn("v", F.lit(1))
    )
    upsert_zone(spark, df, zone, key_cols=["id"], partition_by=["p"])
    assert spark.read.parquet(zone).count() == 100
    # second upsert exercises the merge path: the touched partitions are
    # read once, materialized, and overwritten in place — no staging copy
    upd = (
        spark.range(40)
        .withColumn("p", (F.col("id") % 2).cast("int"))
        .withColumn("v", F.lit(9))
    )
    upsert_zone(spark, upd, zone, key_cols=["id"], partition_by=["p"])
    back = spark.read.parquet(zone)
    assert back.count() == 100
    assert back.filter(F.col("v") == 9).count() == 40
    import os

    assert not os.path.exists(f"{zone}__upsert_staging")


def test_load_table_normalizes_every_ts_layout(spark, tmp_root):
    """The events zone's physical `ts` type has shifted across testdata
    generations — TIMESTAMP(NANOS) (readable only as raw int64 nanos)
    and timezone-less TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ, which
    `unix_micros` rejects: the round-3 breaker). load_table must hand
    every consumer plain TimestampType with identical UTC instants
    regardless of layout."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analytics_final_project_spark.operators.sessionize import (
        sessionize,
    )

    micros = [1_700_000_000_000_000, 1_700_000_004_000_000]
    layouts = {
        "ntz_us": pa.array(micros, type=pa.timestamp("us")),
        "nanos": pa.array([m * 1000 for m in micros], type=pa.timestamp("ns")),
        "tz_us": pa.array(micros, type=pa.timestamp("us", tz="UTC")),
    }
    for tag, ts_arr in layouts.items():
        zone = f"{tmp_root}/layout_{tag}"
        os.makedirs(zone, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1, 2], type=pa.int64()),
                    "ts": ts_arr,
                    "user_id": pa.array([7, 7], type=pa.int64()),
                }
            ),
            f"{zone}/events.parquet",
        )
        df = load_table(spark, zone, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (tag, df.dtypes)
        sessions = sessionize(df, gap_seconds=1).collect()
        assert len(sessions) == 2, (tag, sessions)  # 4s gap > 1s splits
        assert sessions[0]["session_start"].timestamp() == 1_700_000_000.0, tag


def test_upsert_zone_self_heals_crashed_first_write(spark, tmp_root):
    """A zone directory left by a crashed first write (exists, but holds
    only _temporary/ debris — including task-attempt parquet files — and
    no committed data) must degrade to a fresh first write, not wedge
    the upsert on an unreadable read."""
    import os

    zone = f"{tmp_root}/upsert_crashed"
    debris = f"{zone}/_temporary/0/task_0/part-00000.parquet"
    os.makedirs(os.path.dirname(debris))
    with open(debris, "wb") as f:
        f.write(b"not a real footer")
    df = (
        spark.range(10)
        .withColumn("p", (F.col("id") % 2).cast("int"))
        .withColumn("v", F.lit(1))
    )
    upsert_zone(spark, df, zone, key_cols=["id"], partition_by=["p"])
    assert spark.read.parquet(zone).count() == 10


def test_zorder_zone_prunes_both_dimensions(spark, tmp_root):
    """Morton clustering must let file-level min/max stats prune scans
    on EITHER z-order column; a linear sort only prunes its leading
    column. Measured directly from the parquet footers."""
    import pyarrow.parquet as pq
    from big_data_analytics_final_project_spark.sinks import zorder_zone

    n, card = 40_000, 200
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") % card).cast("bigint"))
        .withColumn("y", ((F.col("id") * 7919) % card).cast("bigint"))
    )

    def hits(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
        """(row groups overlapping [lo, hi], total row groups)."""
        overlap = total = 0
        zone = spark.read.parquet(path)
        for f in zone.inputFiles():
            meta = pq.ParquetFile(f.removeprefix("file:")).metadata
            idx = meta.schema.names.index(col)
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                total += 1
                if st.min <= hi and st.max >= lo:
                    overlap += 1
        return overlap, total

    linear = f"{tmp_root}/linear_xy"
    (
        df.repartitionByRange(16, F.col("x"))
        .sortWithinPartitions("x", "y")
        .write.mode("overwrite")
        .parquet(linear)
    )
    zoned = f"{tmp_root}/zorder_xy"
    zorder_zone(df, zoned, ["x", "y"], num_files=16)

    assert spark.read.parquet(zoned).count() == n

    lo, hi = 40, 49  # 5% band
    lin_y, lin_total = hits(linear, "y", lo, hi)
    z_y, z_total = hits(zoned, "y", lo, hi)
    z_x, _ = hits(zoned, "x", lo, hi)
    # linear layout: y is unsorted within every x-run — no pruning
    assert lin_y == lin_total
    # z-order: the y band touches a strict subset on BOTH dimensions
    assert z_y <= z_total // 2, (z_y, z_total)
    assert z_x <= z_total // 2, (z_x, z_total)


def test_summary_txt(tmp_root):
    """SNK-4: scalar summary artifact."""
    path = f"{tmp_root}/summary.txt"
    write_summary_txt({"corr_spend_sessions": 0.42, "n_users": 150}, path)
    with open(path) as f:
        content = f.read()
    assert "corr_spend_sessions: 0.42" in content
    assert "n_users: 150" in content


def test_orc_zone_roundtrip_matches_parquet(spark, tmp_root):
    """write_zone(format='orc'): same partition/sort machinery, same
    rows back — an ORC-standardized lake swaps one argument."""
    df = spark.createDataFrame(
        [(d % 3, i, float(i) / 7) for d in range(3) for i in range(50)],
        "day: int, k: int, v: double",
    )
    pq, orc = f"{tmp_root}/zone_pq", f"{tmp_root}/zone_orc"
    write_zone(df, pq, partition_by=["day"], sort_within_partitions=["k"])
    write_zone(
        df,
        orc,
        partition_by=["day"],
        sort_within_partitions=["k"],
        format="orc",
    )
    got_pq = sorted(
        (r.day, r.k, r.v) for r in spark.read.parquet(pq).collect()
    )
    got_orc = sorted(
        (r.day, r.k, r.v) for r in spark.read.orc(orc).collect()
    )
    assert got_orc == got_pq and len(got_orc) == 150
    with pytest.raises(ValueError):
        write_zone(df, f"{tmp_root}/zone_bad", format="avro")


def test_zone_zorder_prune_matches_oracle(spark):
    """The r16-queued graded surface at the registry bar: the z-order
    write -> 2-D-band read-back -> aggregate cycle must hash-match the
    same aggregate computed directly on the source at BOTH grading
    scales, with every return flag present (non-degeneracy: a band
    that selects nothing would grade an empty relation)."""
    import duckdb

    from big_data_analytics_final_project_spark.queries.maintenance import (
        ZONE_ZORDER_PRUNE_SQL,
        zone_zorder_prune,
    )

    from .conftest import SF_CORRECT, SF_SMOKE
    from .parity import compare

    for sf in (SF_SMOKE, SF_CORRECT):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'"
        )
        res = zone_zorder_prune(spark, sf)
        compare(res, con.sql(ZONE_ZORDER_PRUNE_SQL))
        con.close()
        rows = res.collect()
        assert len(rows) == 3  # A, N, R all selected by the band
        assert all(r["n_items"] > 0 and r["revenue"] > 0 for r in rows)


def test_zone_compaction_roundtrip_matches_oracle(spark):
    """The r18-queued graded surface at the registry bar: fragment ->
    compact_zone -> read-back -> aggregate must hash-match the same
    aggregate computed directly on the parquet source at BOTH grading
    scales (the query itself asserts the file count actually shrank,
    so a silently non-compacting rewrite fails before the compare)."""
    import duckdb

    from big_data_analytics_final_project_spark.queries.maintenance import (
        ZONE_COMPACTION_ROUNDTRIP_SQL,
        zone_compaction_roundtrip,
    )

    from .conftest import SF_CORRECT, SF_SMOKE
    from .parity import compare

    for sf in (SF_SMOKE, SF_CORRECT):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
        )
        res = zone_compaction_roundtrip(spark, sf)
        compare(res, con.sql(ZONE_COMPACTION_ROUNDTRIP_SQL))
        con.close()
        rows = res.collect()
        assert len(rows) >= 3  # every event type survives the cycle
        assert all(r["n_events"] > 0 and r["n_days"] > 0 for r in rows)


def test_bucketed_segment_spend_matches_oracle(spark):
    """The r19-queued graded surface at the registry bar: the
    bucketed-ingest -> merge-hinted co-located join -> segment rollup
    must hash-match the direct-on-source aggregate at BOTH grading
    scales (the query itself asserts SMJ + <=2 exchanges inline — the
    segment rollup's hash exchange and the final ORDER BY's range
    exchange; the join adds none — so a lost co-location fails before
    the compare)."""
    import duckdb

    from big_data_analytics_final_project_spark.queries.maintenance import (
        BUCKETED_SEGMENT_SPEND_SQL,
        bucketed_segment_spend,
    )

    from .conftest import SF_CORRECT, SF_SMOKE
    from .parity import compare

    for sf in (SF_SMOKE, SF_CORRECT):
        con = duckdb.connect()
        for t in ("customer", "orders"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        res = bucketed_segment_spend(spark, sf)
        compare(res, con.sql(BUCKETED_SEGMENT_SPEND_SQL))
        con.close()
        rows = res.collect()
        assert len(rows) == 5  # every TPC-H market segment buys
        assert all(r["n_orders"] >= r["n_customers"] > 0 for r in rows)


def test_zone_orc_roundtrip_matches_oracle(spark):
    """The r20-queued graded surface at the registry bar: the ORC zone
    write -> partition -> sort-within -> band-predicate read-back ->
    aggregate must hash-match the direct-on-parquet-source aggregate
    at BOTH grading scales (sinks.write_zone(format='orc') was
    previously pinned only by the format-equality unit test above)."""
    import duckdb

    from big_data_analytics_final_project_spark.queries.maintenance import (
        ZONE_ORC_ROUNDTRIP_SQL,
        zone_orc_roundtrip,
    )

    from .conftest import SF_CORRECT, SF_SMOKE
    from .parity import compare

    for sf in (SF_SMOKE, SF_CORRECT):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'"
        )
        res = zone_orc_roundtrip(spark, sf)
        compare(res, con.sql(ZONE_ORC_ROUNDTRIP_SQL))
        con.close()
        rows = res.collect()
        # the band predicate keeps every (returnflag, linestatus) combo
        # populated at both grading scales
        assert len(rows) >= 3
        assert all(r["n_items"] > 0 and r["revenue"] > 0 for r in rows)

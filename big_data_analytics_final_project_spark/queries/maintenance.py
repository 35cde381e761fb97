"""Zone-maintenance queries: the sink surface under the oracle.

The sink family (SNK-1 batched zone writes, dynamic partition
overwrite, keyed upsert — sinks.py) was previously evidenced only by
pytest; these queries push a full write → merge → read-back → aggregate
cycle through the same DuckDB oracle gate as every relational operator,
so storage-layout code is graded by result values, not just unit
assertions. Mirrors the reference's load-then-query lifecycle
(load_hbase_sessions_stream.py writes what
integrated_query_engagement_vs_spend.py later reads).

Scale notes: the round trip is partitioned on day (the prune key a
time-series zone wants), sorted within files on (user_id, ts) so
min/max stats answer rowkey-style scans, and the upsert leg rewrites
ONLY the final day's partition via dynamic overwrite — at 100 TB the
merge cost is one day's footprint, not the zone's.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..functions.numeric import exact_sum, exact_sum_final, exact_sum_partial
from ..sinks import upsert_zone, write_report_csv, write_zone
from ..sources import load_table, read_csv_zone, read_json_zone_with_skips
from . import QuerySpec


# Scratch paths carry a per-process token in addition to the sf_dir
# digest: two harness runs over the same sf_dir (the grading driver and
# a local check_parity, say) must never write/delete/read each other's
# zones mid-query. Zones cannot be deleted inside the query (the
# returned DataFrame lazily reads them until the caller collects), so
# cleanup is deferred to process exit — without it every harness run
# leaks bdafp_* dirs into /tmp, and pid reuse could collide with a
# crashed run's stale zone (the overwrite-mode first write handles the
# collision; atexit handles the leak).
_RUN_TOKEN = f"{os.getpid():x}"
_SCRATCH_ZONES: set[str] = set()


@atexit.register
def _cleanup_scratch_zones() -> None:
    for path in _SCRATCH_ZONES:
        shutil.rmtree(path, ignore_errors=True)


def _scratch_zone(tag: str, sf_dir: str) -> str:
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(), f"bdafp_{tag}_{digest}_{_RUN_TOKEN}"
    )
    _SCRATCH_ZONES.add(path)
    return path


def zone_roundtrip_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK-1/SNK-5 + upsert under the oracle: land events as a
    day-partitioned sorted zone (all days but the last), upsert the
    final day through the dynamic-overwrite merge path, re-read the
    zone and aggregate per day.

    The result must equal the same daily aggregate computed directly on
    the source table — any row lost, duplicated, or retyped by the
    write/merge/read cycle (partition-column round-trip included) breaks
    the hash match.

    Scale: events is read once for the footer-cheap max-day probe, once
    for the bulk load, once for the delta — `sinks.upsert_zone`
    materializes the delta itself before its partition discovery,
    collision keys and merge union consume it."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    zone = _scratch_zone("roundtrip", sf_dir)
    last_day = events.agg(F.max("day")).collect()[0][0]
    # initial bulk load: everything before the final day (static
    # overwrite keeps reruns idempotent)
    write_zone(
        events.filter(F.col("day") < F.lit(last_day)),
        zone,
        partition_by=["day"],
        sort_within_partitions=["user_id", "ts"],
    )
    # incremental leg: the final day arrives later and is merged in
    upsert_zone(
        spark,
        events.filter(F.col("day") == F.lit(last_day)),
        zone,
        key_cols=["event_id"],
        partition_by=["day"],
    )
    back = spark.read.parquet(zone)
    # two-phase distinct (pre-aggregate per (day, user), then roll up):
    # avoids the Expand plan that doubles every event row through the
    # shuffle when countDistinct mixes with sums — see revenue_by_brand
    return (
        back.groupBy("day", "user_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            exact_sum_partial("value", "_v"),
        )
        .groupBy("day")
        .agg(
            F.sum("_n").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
            exact_sum_final("_v", "sum_value"),
        )
        .orderBy("day")
    )


ZONE_ROUNDTRIP_DAILY_SQL = """
SELECT CAST(ts AS DATE) AS day,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY day
ORDER BY day
"""


def report_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK-2 + SRC-6 under the oracle: the top-spenders report is
    written as the reference's single-file header CSV
    (spark_analysis.py:106-style artifact), read back with an explicit
    schema, and returned — any row, header, type, or value the CSV
    cycle mangles breaks the hash match against the direct SQL."""
    from .batch import top_spenders

    path = _scratch_zone("report_csv", sf_dir)
    write_report_csv(top_spenders(spark, sf_dir), path)
    schema = T.StructType(
        [
            T.StructField("o_custkey", T.LongType()),
            T.StructField("total_spent", T.DoubleType()),
            T.StructField("num_orders", T.LongType()),
        ]
    )
    return read_csv_zone(spark, path, schema).orderBy(
        F.col("total_spent").desc(), F.col("o_custkey")
    )


REPORT_CSV_ROUNDTRIP_SQL = """
SELECT o_custkey,
       CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE) AS total_spent,
       count(*) AS num_orders
FROM orders
GROUP BY o_custkey
ORDER BY total_spent DESC, o_custkey
LIMIT 10
"""


def json_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-1/SRC-5 + SNK-5 under the oracle: the events zone is
    serialized to a JSON drop (the reference's sessions_*.json shape,
    data_generator.py:241-248), re-ingested through the error-tolerant
    PERMISSIVE loader (explicit schema, skip-and-count), and
    re-aggregated. The result must match the aggregate computed on the
    parquet source — any row dropped, timestamp re-parsed wrong, or
    double mangled by the text cycle breaks the hash. The clean input
    also pins counters['skipped'] == 0 via the n_rows totals."""
    events = load_table(spark, sf_dir, "events")
    path = _scratch_zone("json_drop", sf_dir)
    events.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    good, counters = read_json_zone_with_skips(spark, path, schema)
    if counters["skipped"]:
        raise ValueError(f"clean drop reported skips: {counters}")
    return (
        good.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            exact_sum("value", "sum_value"),
        )
        .orderBy("event_type")
    )


JSON_INGEST_ROUNDTRIP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def json_ingest_with_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-5's skip path under the oracle: the events JSON drop is
    POLLUTED with malformed lines (truncated JSON, non-JSON text, type
    garbage), re-ingested through the PERMISSIVE skip-and-count loader,
    and aggregated. The result must still hash-match the aggregate of
    the CLEAN source — the loader must drop exactly the garbage, count
    it, and pass every clean row through untouched (the reference
    loader's skip-and-report contract, load_hbase_sessions_stream.py:
    85-91,121-134)."""
    events = load_table(spark, sf_dir, "events")
    path = _scratch_zone("json_errs", sf_dir)
    events.write.mode("overwrite").json(path)
    n_bad = 7
    bad_lines = "\n".join(
        [
            '{"event_id": 1, "ts": "not-a-timestamp massively',  # truncated
            "utter garbage, not json at all",
            '{"event_id": "NaN-ish"',  # unclosed
            "<xml>wrong format</xml>",
            '{"event_id": 2 "ts": null}',  # missing comma
            "}{",
            '{"event_id":',
        ]
    )
    assert n_bad == len(bad_lines.splitlines())
    with open(os.path.join(path, "zz_corrupt.json"), "w") as f:
        f.write(bad_lines + "\n")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    good, counters = read_json_zone_with_skips(spark, path, schema)
    if counters["skipped"] != n_bad:
        raise ValueError(f"expected {n_bad} skips, got {counters}")
    return (
        good.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .orderBy("event_type")
    )


JSON_INGEST_WITH_ERRORS_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


_DS_REGISTERED: set[str] = set()


def _register_jsonl_source(spark: SparkSession) -> None:
    # registration is per-session; re-registering the same name raises
    key = spark.sparkContext.applicationId
    if key in _DS_REGISTERED:
        return
    from ..sources.jsonl_source import ChunkedJsonlDataSource

    spark.dataSource.register(ChunkedJsonlDataSource)
    # off by default in 4.1; runtime-settable, required for the
    # reader's pushFilters to be consulted at all
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    _DS_REGISTERED.add(key)


def events_jsonl_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom-connector surface under the oracle: events land as a
    chunked JSONL zone (the reference's sessions_0..9.json layout,
    load_hbase_sessions_stream.py:27-79), then come back through the
    Spark-4 Python DataSource connector (sources/jsonl_source.py) —
    one input partition per chunk, explicit schema, the event_type
    predicate CONSUMED by pushFilters inside the reader (the HBase
    scan-filter analog), Arrow-batched across the Python boundary —
    and aggregate per user. The oracle computes the same aggregate
    from the parquet zone directly, so the whole connector path
    (chunk write → partitioned scan → source-side filter → Arrow) is
    value-checked end to end."""
    events = load_table(spark, sf_dir, "events")
    zone = _scratch_zone("jsonlsrc", sf_dir)
    (
        events.select("event_id", "user_id", "event_type", "value")
        .repartitionByRange(8, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .json(zone)
    )
    _register_jsonl_source(spark)
    src = (
        spark.read.format("chunked_jsonl")
        .schema("event_id bigint, user_id bigint, event_type string, value double")
        .option("path", zone)
        .load()
    )
    return (
        src.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            exact_sum("value", "sum_value"),
        )
        .orderBy("user_id")
    )


EVENTS_JSONL_SOURCE_SCAN_SQL = """
SELECT user_id,
       count(*) AS n_purchases,
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY user_id
"""


def zone_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout (sinks.zorder_frame — the OPTIMIZE ZORDER BY
    shape) under the oracle: lay a lineitem projection out as a
    Morton-clustered zone on (l_shipdate, l_extendedprice), read it
    back through a TWO-dimensional range predicate, and aggregate
    revenue per return flag. The hash match against the same
    aggregate computed directly on the source proves the rank →
    interleave → range-partition → sort → write → read cycle loses,
    duplicates, and retypes nothing; the pruning PAYOFF (a band
    predicate on either single dimension touches a bounded fraction
    of the files) is pinned separately by tests/test_plans.py's
    z-order fixtures, because file-count pruning is a physical
    property the value hash cannot see.

    Scale: the layout pass is the two-level distributed ranking per z
    column (operators/ranks.py — never a single-task window over the
    zone being laid out), one range partitioning on the curve cell,
    and a sorted write; the read-back is a plain pruned parquet scan.
    At 100 TB this is the nightly OPTIMIZE job plus the dashboard
    query it accelerates."""
    from ..sinks import zorder_zone

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_discount", "l_returnflag"
    )
    zone = _scratch_zone("zorder", sf_dir)
    zorder_zone(li, zone, ["l_shipdate", "l_extendedprice"], num_files=16)
    back = spark.read.parquet(zone)
    lo = F.to_timestamp(F.lit("1995-01-01 00:00:00"))
    hi = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    return (
        back.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & (F.col("l_extendedprice") >= 20000.0)
            & (F.col("l_extendedprice") <= 40000.0)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(
                "l_extendedprice * (1 - l_discount)",
                "revenue",
            ),
        )
        .orderBy("l_returnflag")
    )


ZONE_ZORDER_PRUNE_SQL = """
SELECT l_returnflag,
       count(*) AS n_items,
       CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l_extendedprice BETWEEN 20000.0 AND 40000.0
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def zone_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sinks.compact_zone — previously
    test-only, COVERAGE §2.1 "Exercised by: —") under the oracle:
    land events as a deliberately FRAGMENTED day-partitioned zone
    (12 files per day — the micro-batch-sink accretion pattern),
    compact it layout-preservingly to one target file per partition,
    read the compacted zone back and aggregate per event type. The
    hash match against the same aggregate computed directly on the
    parquet source proves the repartition → spread → rewrite cycle
    loses, duplicates, and retypes nothing; the file-count reduction
    itself is asserted inline (a physical guard the value hash cannot
    see — the test suite pins the sizing math separately in
    tests/test_sinks_sources.py).

    Scale: compaction reads the fragmented zone once, shuffles once
    on (partition value, hash spreader), and writes sorted
    target-sized files; never in place, so a failed run leaves the
    source zone intact. At 100 TB this is the standing maintenance
    job that keeps scan task counts proportional to bytes, not to
    trigger history."""
    # NULL-ts guard on BOTH sides (r15 ADVICE): a NULL day would land
    # in __HIVE_DEFAULT_PARTITION__ and count as an n_days group that
    # the oracle's count(DISTINCT CAST(ts AS DATE)) excludes — filter
    # it out here and in the SQL so the equivalence doesn't depend on
    # the generator never producing NULL timestamps.
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn("day", F.to_date("ts"))
    )
    frag = _scratch_zone("compact_src", sf_dir)
    (
        events.repartition(12, "event_id")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(frag)
    )
    dst = _scratch_zone("compact_dst", sf_dir)
    from ..sinks import compact_zone

    compact_zone(frag, spark, dst, num_files=1, partition_by=["day"])

    def _n_files(root: str) -> int:
        return sum(
            1
            for r, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    n_frag, n_dst = _n_files(frag), _n_files(dst)
    if n_dst >= n_frag:
        raise AssertionError(
            f"compaction did not reduce files: {n_frag} -> {n_dst}"
        )
    back = spark.read.parquet(dst)
    # two-phase distinct (pre-aggregate per (event_type, day)) — same
    # Expand-avoidance as zone_roundtrip_daily
    return (
        back.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            exact_sum_partial("value", "_v"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("_n").alias("n_events"),
            F.count(F.lit(1)).alias("n_days"),
            exact_sum_final("_v", "sum_value"),
        )
        .orderBy("event_type")
    )


ZONE_COMPACTION_ROUNDTRIP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT CAST(ts AS DATE)) AS n_days,
       CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


def zone_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC zone roundtrip (sinks.write_zone(format="orc") — previously
    pytest-only, COVERAGE §2.1 bloom row "roundtrip equality
    test-pinned") under the oracle: land a lineitem projection as an
    ORC zone partitioned on l_returnflag and sorted within partitions
    on l_shipdate, read it back through a ship-date band predicate,
    and aggregate revenue per (returnflag, linestatus). The hash match
    against the same aggregate computed directly on the parquet source
    proves the cross-format write → partition → sort → read cycle
    loses, duplicates, and retypes nothing — the one-argument swap an
    ORC-standardized lake actually performs. The band predicate rides
    the within-partition sort: ORC carries the same stripe-level
    min/max machinery parquet does, so the read-back is a pruned scan,
    not a full one.

    Scale: the write is one partitioned sorted pass (3 partition
    values; the sort key spreads stripes), the read-back a
    predicate-pruned columnar scan — the same nightly-land shape as
    zone_roundtrip_daily, exercised through the second builtin
    columnar format. At 100 TB this is format portability under the
    value-equality bar, not a new algorithm."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_shipdate",
        "l_extendedprice", "l_discount",
    )
    zone = _scratch_zone("orc_zone", sf_dir)
    write_zone(
        li,
        zone,
        partition_by=["l_returnflag"],
        sort_within_partitions=["l_shipdate"],
        format="orc",
    )
    back = spark.read.orc(zone)
    lo = F.to_timestamp(F.lit("1994-01-01 00:00:00"))
    hi = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    return (
        back.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(
                "l_extendedprice * (1 - l_discount)",
                "revenue",
            ),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ZONE_ORC_ROUNDTRIP_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS VARCHAR) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def bucketed_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed co-located join (sinks.write_bucketed_table —
    previously pytest-only) under the oracle: persist customer and
    orders as 8-bucket tables on the join key (custkey), join them
    WITHOUT a runtime shuffle (the bucketing IS the shuffle, paid
    once at ingest), roll spend up per market segment, and hash-match
    the same aggregate computed directly on the parquet source. The
    co-location is asserted inline: the static plan must carry a
    SortMergeJoin and at most TWO exchanges — the segment rollup's
    hash exchange and the final ORDER BY's range exchange; the join
    sides and the per-(segment, custkey) pre-aggregate ride the
    bucket partitioning (HashPartitioning(custkey) satisfies the
    clustered distribution on its superset key set), so the join
    itself adds NONE. A `merge` hint pins the SMJ so the tiny
    grading-scale side can't demote the plan to a broadcast and mask
    a co-location regression.

    Scale: at 100 TB this layout is the difference between
    re-shuffling the fact table on every custkey join and reading
    both sides pre-partitioned+pre-sorted; the one remaining exchange
    moves segment-cardinality rows. Scratch: external bucketed tables
    (metadata in the session's in-memory catalog, files in the
    process-scoped scratch zone), names unique per (sf, process) so
    concurrent harnesses never collide."""
    from ..plans import count_shuffles, physical_plan

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    tbl_c = f"bdafp_cust_bkt_{tag}_{_RUN_TOKEN}"
    tbl_o = f"bdafp_ord_bkt_{tag}_{_RUN_TOKEN}"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    for df, tbl, key in ((cust, tbl_c, "c_custkey"), (orders, tbl_o, "o_custkey")):
        (
            df.write.format("parquet")
            .mode("overwrite")
            .option("path", _scratch_zone(tbl, sf_dir))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    joined = spark.table(tbl_c).join(
        spark.table(tbl_o).hint("merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    out = (
        joined.groupBy("c_mktsegment", "c_custkey")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            exact_sum_partial("o_totalprice", "_v"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.sum("_n").alias("n_orders"),
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum_final("_v", "sum_spent"),
        )
        .orderBy("c_mktsegment")
    )
    plan = physical_plan(out)
    if "SortMergeJoin" not in plan:
        raise AssertionError(f"bucketed join did not plan as SMJ:\n{plan}")
    n_xch = count_shuffles(out)
    if n_xch > 2:
        raise AssertionError(
            f"co-location lost: {n_xch} exchanges (expected <=2 — the "
            f"segment rollup + the ORDER BY range exchange; the join "
            f"and the per-custkey pre-aggregate must add none):\n{plan}"
        )
    return out


BUCKETED_SEGMENT_SPEND_SQL = """
WITH per_cust AS (
  SELECT c_mktsegment, c_custkey,
         count(*) AS n,
         SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,6))) AS v
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT c_mktsegment,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       count(*) AS n_customers,
       CAST(SUM(v) AS DOUBLE) AS sum_spent
FROM per_cust
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


QUERIES: dict[str, QuerySpec] = {
    "zone_roundtrip_daily": QuerySpec(
        zone_roundtrip_daily, ZONE_ROUNDTRIP_DAILY_SQL
    ),
    # the z-order layout path under the oracle
    "zone_zorder_prune": QuerySpec(
        zone_zorder_prune, ZONE_ZORDER_PRUNE_SQL
    ),
    "events_jsonl_source_scan": QuerySpec(
        events_jsonl_source_scan, EVENTS_JSONL_SOURCE_SCAN_SQL
    ),
    "json_ingest_with_errors": QuerySpec(
        json_ingest_with_errors, JSON_INGEST_WITH_ERRORS_SQL
    ),
    "report_csv_roundtrip": QuerySpec(
        report_csv_roundtrip, REPORT_CSV_ROUNDTRIP_SQL
    ),
    "json_ingest_roundtrip": QuerySpec(
        json_ingest_roundtrip, JSON_INGEST_ROUNDTRIP_SQL
    ),
}

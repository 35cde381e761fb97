"""Sources: parquet storage zones + view registration.

The reference spread its data model across MongoDB collections, HBase
wide-column tables, and raw JSON files (SURVEY.md §1.1, reference
README.md:12-16). Here every entity is a columnar Parquet "zone" read
through one API; predicate pushdown, column pruning and partition
pruning then come from Catalyst instead of per-store client code
(e.g. the hand-rolled HBase column projection at reference
integrated_query_engagement_vs_spend.py:44-57 is just ``df.select``).

JSON/CSV readers are kept for ingest parity with the reference's
``read.json`` surface (reference spark_analysis.py:42,46) but with
explicit schemas — inference is a full extra pass over 100 TB.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import expr

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# (region/nation are fixed-cardinality; part/customer/supplier grow with
# SF but stay dim-sized relative to the fact tables).
BROADCASTABLE = {"region", "nation", "part", "customer", "supplier"}

# Zone-scan cache: `spark.read.parquet` costs ~100ms of driver-side
# footer/schema resolution PER CALL, and a benchmark pass calls
# `load_table` 100+ times on the same handful of zones — a real
# engine's catalog caches this metadata once. The cache is scoped per
# SparkSession (weak — dies with the session) and restricted to the
# data root, so test fixtures that write their own sf_dirs under tmp
# paths always re-resolve. A cached frame holds the file listing of
# the zone it was resolved from, so each entry is keyed on the zone's
# (st_size, st_mtime_ns) as well: a rewritten zone (new file, or files
# added to or removed from a zone directory) is resolved again.
_DATA_ROOT = os.environ.get("SPARK_GRAFT_DATA_ROOT", "/root/testdata")
_ZONE_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one zone; Catalyst prunes columns/filters.

    The `events` zone's `ts` physical type has varied across testdata
    generations — TIMESTAMP(NANOS) (which Spark can only read as raw
    nanos via `nanosAsLong`) and plain TIMESTAMP(MICROS) with no
    timezone (which Spark reads as TIMESTAMP_NTZ). Normalize both to
    microsecond TimestampType HERE so every downstream consumer
    (`unix_micros`, window gaps, as-of joins) sees one type. The NTZ
    cast is value-preserving because the session timezone is pinned
    UTC — the same instant DuckDB's naive `epoch_us` computes.

    Confs are set at runtime HERE, not only in session.py: callers
    (driver harnesses, notebooks) hand us arbitrary plain
    SparkSessions, and both confs are runtime-settable, so the read
    must not depend on how the session was built.
    """
    # Bound the cacheable root at a DIRECTORY boundary: a bare
    # startswith would treat siblings like /root/testdata_tmp (where
    # fixtures may write and rewrite) as the read-only root and serve
    # stale cached frames after a rewrite.
    real = os.path.realpath(sf_dir)
    root = os.path.realpath(_DATA_ROOT)
    cacheable = real == root or real.startswith(root + os.sep)
    if cacheable:
        # Key on the REALPATH (already computed for the boundary
        # check), not the raw sf_dir string: trailing slashes,
        # symlinks, and relative spellings of the same directory must
        # share one cache entry, not trigger duplicate reads.
        per_session = _ZONE_CACHE.setdefault(spark, {})
        st = os.stat(f"{real}/{name}.parquet")
        version = (st.st_size, st.st_mtime_ns)
        cached = per_session.get((real, name))
        if cached is not None and cached[0] == version:
            return cached[1]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if cacheable:
        per_session[(real, name)] = (version, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every zone as a temp view so `spark.sql` works alongside
    the DataFrame API (both build the same Catalyst plans)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_json_zone(spark: SparkSession, path: str, schema) -> DataFrame:
    """Ingest-parity reader for JSON drops (reference SRC-1/SRC-5,
    spark_analysis.py:42 and load_hbase_sessions_stream.py:32) with an
    explicit schema instead of inference."""
    return spark.read.schema(schema).json(path)


def read_json_zone_with_skips(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, dict[str, int]]:
    """Error-tolerant ingest with load accounting — the engine's twin
    of the reference loader's skip-and-count error path
    (load_hbase_sessions_stream.py:85-91: malformed rows are skipped,
    inserted/skipped totals reported, :121-134).

    PERMISSIVE parsing routes unparseable lines into a corrupt-record
    column; the zone is parsed ONCE into cache, counted, and the clean
    rows are eagerly local-checkpointed before the raw cache (parse
    results + corrupt strings) is released — nothing outlives the call
    but the clean payload the caller consumes, and the returned frame
    is lineage-free (no corrupt-only-query restriction, no re-parse on
    reuse). DROPMALFORMED would be wrong here: its row-drop decisions
    depend on which columns a query reads (a pruned count() skips type
    checks), so the counters would disagree with full reads."""
    from pyspark.sql import types as T

    corrupt = "_corrupt_record"
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType())]
    )
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
    ).cache()
    try:
        counts_row = raw.agg(
            F.count(F.lit(1)).alias("total"),
            F.count(corrupt).alias("skipped"),
        ).collect()[0]
        good = (
            raw.filter(F.col(corrupt).isNull())
            .drop(corrupt)
            .localCheckpoint(eager=True)
        )
    finally:
        raw.unpersist()
    counters = {
        "ingested": counts_row["total"] - counts_row["skipped"],
        "skipped": counts_row["skipped"],
    }
    return good, counters


def read_csv_zone(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV read-back (reference SRC-6, plots_from_spark_outputs.py:10-14)."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)

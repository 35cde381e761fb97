"""JSON, nested array-of-struct, and map-typed operators.

The reference's data model is document-shaped: transactions carry an
`items` array of structs, sessions carry a `cart_contents` map and
JSON-serialized cells in HBase (SURVEY.md §1.2, §2.3; reference
data_generator.py:353-364,315 and load_hbase_sessions_stream.py:69-70).
The TPC-H-ish zones are flat, so these queries BUILD the nested shapes
relationally (collect_list(struct), map_from_entries), operate on them
with array/map/JSON primitives (EXP-1, ARR-1..4, FN-14), and reduce
back to scalars the DuckDB oracle can check.

Scale: the nested build is one hash aggregation on the order key —
the same single shuffle the flat aggregate needs; everything after is
per-row array work inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import DEC, dec2dbl_sql
from ..sources import load_table
from . import QuerySpec


def events_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON `props` column (`{"k": N}`) with from_json and
    aggregate the extracted field — reference FN-14's decode direction
    (from_json of the HBase events:page_views_json cell)."""
    events = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_PROPS_PARSE_SQL = """
SELECT event_type,
       count(*) AS n_events,
       -- CAST: DuckDB SUM(int) yields HUGEINT; Spark sum(int) is BIGINT
       CAST(SUM(CAST(json_extract_string(props, 'k') AS INT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, 'k') AS INT)) AS min_k,
       MAX(CAST(json_extract_string(props, 'k') AS INT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-4 VARIANT path for semi-structured data: parse_json →
    binary variant → typed variant_get extraction — the
    schema-on-read upgrade over `events_props_parse`'s from_json
    (which needs the schema up front and re-parses text per access).
    At 100 TB the variant encodes ONCE into a compact binary and every
    field access is an O(fields) binary probe, which is why lakehouse
    formats adopted it for JSON columns.

    Shares `events_props_parse`'s oracle verbatim — a differential
    proof that the variant path computes exactly what the from_json
    path computes (the pairs_via_hof pattern)."""
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def events_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json → restructure → to_json: the serialize direction of
    FN-14 (reference json.dumps of nested page_views into one cell).
    Spark and DuckDB emit the same compact `{"a":1,...}` form, so the
    serialized string itself is oracle-checked."""
    events = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return events.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_id"), F.col("event_type"), k.alias("k")
            )
        ).alias("payload_json"),
    ).orderBy("event_id")


EVENTS_JSON_ROUNDTRIP_SQL = """
SELECT event_id,
       to_json(struct_pack(
         event_id := event_id,
         event_type := event_type,
         k := CAST(json_extract_string(props, 'k') AS INT)
       )) AS payload_json
FROM events
ORDER BY event_id
"""


def nested_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild the reference's transaction shape — an `items` array of
    structs per order (data_generator.py:353-364) — then consume it
    with array primitives: size (ARR-3), field-path extraction
    (ARR-1), and an exact decimal fold for the order total (the
    aggregate(items, ...) form of AGG-14).

    collect_list is order-nondeterministic across partitions, so the
    array is sort_array'd (struct compare: first field `ln`) — the
    deterministic-layout rule every nested build at scale needs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.col("l_partkey").alias("pk"),
                    F.col("l_quantity").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                )
            )
        ).alias("items")
    )
    total = F.aggregate(
        F.col("items"),
        F.lit(0).cast(DEC),
        lambda acc, x: acc + x["price"].cast(DEC),
    ).cast("double")
    # part_keys is serialized (array_join), not emitted as a raw array:
    # a pandas canonicalization cannot sort/hash list cells
    # ("unhashable type: list"), and a delimited
    # string proves the same ARR-1 field-path extraction.
    return nested.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        F.array_join(
            F.transform(F.col("items"), lambda x: x["pk"]), ","
        ).alias("part_keys"),
        total.alias("order_total"),
        F.array_max(F.transform(F.col("items"), lambda x: x["qty"])).alias("max_qty"),
    ).orderBy("l_orderkey")


NESTED_ORDER_ITEMS_SQL = f"""
WITH nested AS (
  SELECT l_orderkey,
         list(struct_pack(
           ln := l_linenumber, pk := l_partkey,
           qty := l_quantity, price := l_extendedprice
         ) ORDER BY l_linenumber, l_partkey, l_quantity, l_extendedprice) AS items
  FROM lineitem
  GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(items) AS n_items,
       array_to_string(list_transform(items, x -> x.pk), ',') AS part_keys,
       {dec2dbl_sql("list_aggregate(list_transform(items, x -> CAST(CAST(x.price AS VARCHAR) AS DECIMAL(38,6))), 'sum')")}
         AS order_total,
       list_max(list_transform(items, x -> x.qty)) AS max_qty
FROM nested
ORDER BY l_orderkey
"""


def order_cart_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `cart_contents` map shape (MapType keyed by
    product, data_generator.py:315) rebuilt per order, consumed with
    map primitives (cardinality, map_keys, element_at) and reduced to
    oracle-checkable scalars."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_orderkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    carts = per_part.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("l_partkey"), F.col("qty"))))
        ).alias("cart")
    )
    first_part = F.array_min(F.map_keys(F.col("cart")))
    return carts.select(
        "l_orderkey",
        F.size("cart").alias("n_distinct_parts"),
        first_part.alias("first_part"),
        F.element_at(F.col("cart"), first_part).alias("first_part_qty"),
    ).orderBy("l_orderkey")


ORDER_CART_MAP_SQL = """
WITH per_part AS (
  SELECT l_orderkey, l_partkey, SUM(l_quantity) AS qty
  FROM lineitem GROUP BY l_orderkey, l_partkey
),
carts AS (
  SELECT l_orderkey,
         map_from_entries(list(struct_pack(k := l_partkey, v := qty)
                          ORDER BY l_partkey)) AS cart
  FROM per_part GROUP BY l_orderkey
)
SELECT l_orderkey,
       -- CAST: DuckDB cardinality() yields UBIGINT; Spark size() is INT
       CAST(cardinality(cart) AS INT) AS n_distinct_parts,
       list_min(map_keys(cart)) AS first_part,
       element_at(cart, list_min(map_keys(cart)))[1] AS first_part_qty
FROM carts
ORDER BY l_orderkey
"""


def events_rowkey_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-column export rows: rebuild the reference loader's composite
    rowkey ``user_id|start_time|session_id`` (FN-6 concat, reference
    load_hbase_sessions_stream.py:38) from the event log, with the same
    cell-prep scalar pipeline: FN-7 strip/newline cleanup
    (load_hbase:20-22), FN-12 ISO-8601 timestamp serialization
    (data_generator.py:127-130), FN-8 truncate+ellipsis
    (plots_from_spark_outputs.py:17-20), FN-9 safe numeric parse with
    default (integrated:26-34). user_id is zero-padded to 6 digits to
    mirror the generator's ``user_%06d`` fixed-width ids — which is
    what makes rowkey-range scans meaningful.

    Scale: pure per-row projection — no shuffle except the final
    top-100 (TakeOrderedAndProject); at 100 TB this is the map-only
    export stage feeding a sorted bulk load.
    """
    ev = load_table(spark, sf_dir, "events")
    ts_iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    return (
        ev.select(
            F.concat_ws(
                "|", F.lpad(F.col("user_id"), 6, "0"), ts_iso, F.col("event_id")
            ).alias("rowkey"),
            F.regexp_replace(F.trim(F.col("event_type")), "[\\n\\r]", "").alias(
                "event_type"
            ),
            ts_iso.alias("ts_iso"),
            F.when(
                F.length("props") > 12,
                F.concat(F.substring("props", 1, 12), F.lit("...")),
            )
            .otherwise(F.col("props"))
            .alias("props_short"),
            F.coalesce(
                F.get_json_object("props", "$.k").cast("long"), F.lit(0)
            ).alias("prop_k"),
        )
        .orderBy("rowkey")
        .limit(100)
    )


EVENTS_ROWKEY_EXPORT_SQL = """
SELECT concat_ws('|', lpad(CAST(user_id AS VARCHAR), 6, '0'),
                 strftime(ts, '%Y-%m-%dT%H:%M:%S'),
                 CAST(event_id AS VARCHAR)) AS rowkey,
       regexp_replace(trim(event_type), '[\\n\\r]', '', 'g') AS event_type,
       strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso,
       CASE WHEN length(props) > 12
            THEN substring(props, 1, 12) || '...' ELSE props END AS props_short,
       COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS prop_k
FROM events
ORDER BY rowkey
LIMIT 100
"""


QUERIES: dict[str, QuerySpec] = {
    "events_rowkey_export": QuerySpec(events_rowkey_export, EVENTS_ROWKEY_EXPORT_SQL),
    "events_props_parse": QuerySpec(events_props_parse, EVENTS_PROPS_PARSE_SQL),
    "events_props_variant": QuerySpec(
        events_props_variant, EVENTS_PROPS_PARSE_SQL
    ),
    "events_json_roundtrip": QuerySpec(events_json_roundtrip, EVENTS_JSON_ROUNDTRIP_SQL),
    "nested_order_items": QuerySpec(nested_order_items, NESTED_ORDER_ITEMS_SQL),
    "order_cart_map": QuerySpec(order_cart_map, ORDER_CART_MAP_SQL),
}

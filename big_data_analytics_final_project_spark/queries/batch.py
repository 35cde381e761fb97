"""Flagship batch analytics.

Re-expresses the reference's batch surface (reference
spark_analysis.py:49-143, TOP10.py, `PRODUCTS BOUGHT IN PAIRS  MOST
FREQUENTLY`, PDF §7.2) over the engine's columnar zones. Operator IDs
in docstrings refer to SURVEY.md §2.

Scale notes (100 TB):
- Dim joins (part/customer/nation/region) are explicit `broadcast()` —
  no shuffle of the fact side (SURVEY OPT-14).
- Fact-side aggregations are single-shuffle hash aggregates with
  map-side partials (Spark does partial+final automatically).
- Top-K uses orderBy+limit which Catalyst plans as
  TakeOrderedAndProject — per-partition heaps + driver merge, never a
  full global sort (SURVEY OPT-9).
- Where a fact scan is spread (operators/spread.py), the spread hashes
  on the key of the operator that follows, so each fact row crosses
  one exchange: `revenue_by_brand` hashes lineitem on `l_orderkey`,
  the key of its per-(brand, order) aggregate.
- The pair self-join hashes the (order, product) items on the order
  key once; the dedup and both join sides share that partitioning.
  Per-order fan-out is bounded (dedup first — SURVEY OPT-4), and AQE
  skew-join splits any hot order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import (
    exact_sum,
    exact_sum_final,
    exact_sum_over,
    exact_sum_partial,
    exact_sum_sql,
)
from ..operators.pairs import copurchase_pairs, copurchase_pairs_hof
from ..operators.ranks import with_global_ntile
from ..sources import load_table
from . import QuerySpec

# Summed expressions as SQL text, shared by the Spark plans and their
# DuckDB twins.
_REVENUE = "l_extendedprice * (1 - l_discount)"
_PROMO_REVENUE = f"CASE WHEN p_type = 'PROMO' THEN {_REVENUE} ELSE 0.0 END"
_PROFIT = "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1"


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary — the engine's vertical slice
    (scan → pushed filter → hash agg with exact scaled-long sums →
    sort; functions/numeric.py).

    Subsumes reference AGG-1's sum/count shape (spark_analysis.py:70-79)
    on a flat fact table.

    r18 note: a width-heal of the scan (operators/spread.py) was
    tried and REVERTED — for a pure scan→partial-agg plan the heal
    moves raw rows across an exchange that map-side aggregation
    otherwise avoids (guide §2.3 "aggregate before you shuffle"):
    interleaved A/B measured only 0.94x head/control against +1
    exchange and a broken ≤2-exchange plan pin. The heal stays on
    plans where real per-row work FOLLOWS the scan (revenue_by_brand's
    join, the bloom probe, the KMV fold).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.to_timestamp(F.lit("1998-09-02 00:00:00"))
    out = (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", "sum_qty"),
            exact_sum("l_extendedprice", "sum_base_price"),
            exact_sum(_REVENUE, "sum_disc_price"),
            exact_sum(_REVENUE + " * (1 + l_tax)", "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {exact_sum_sql("l_quantity", "sum_qty")},
       {exact_sum_sql("l_extendedprice", "sum_base_price")},
       {exact_sum_sql(_REVENUE, "sum_disc_price")},
       {exact_sum_sql(_REVENUE + " * (1 + l_tax)", "sum_charge")},
       count(*) AS count_order,
       CAST(CAST(SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def revenue_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by product group — reference "revenue by category"
    (AGG-1 + JOIN-1 + SRT-1, spark_analysis.py:49-83; Mongo variant
    AGG-5, PDF §7.2(A)).

    Left join keeps fact rows with no matching dim (null brand group),
    matching the reference's left-join semantics
    (spark_analysis.py:72-73). Dim side is broadcast: zero shuffle of
    the 100 TB fact side.

    The distinct order count is TWO-PHASE — pre-aggregate by
    (brand, orderkey), then roll up — instead of countDistinct mixed
    into the sums, which plans an Expand that doubles every fact row
    through the shuffle. The first phase partial-aggregates map-side
    (duplicate (brand, orderkey) pairs collapse before shuffling), and
    summing the per-order exact-sum partials (`exact_sum_partial`, two
    LONG limbs and a count) is exactly the overall sum. l_orderkey is
    non-null, so count(*) over the pre-aggregate equals countDistinct.
    Measured 16% faster at sf0.1; at 100 TB it also removes the
    low-cardinality-key expanded shuffle.

    Layout heal (operators/spread.py): a single-row-group lineitem
    file would run the broadcast join and the per-order partial
    aggregation on one core, so on that layout the scan is spread by
    a hash on ``l_orderkey``. The hash also satisfies the
    per-(brand, order) aggregate, which then needs no exchange of its
    own: the plan shuffles the fact rows once, on the key the
    aggregate needs. Multi-row-group zones are untouched, and there
    the aggregate's own exchange is the one shuffle."""
    from ..operators.spread import heal_scan_width

    li = heal_scan_width(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
        ),
        "l_orderkey",
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return _brand_rollup(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left")
    )


def _brand_rollup(lines: DataFrame) -> DataFrame:
    """revenue_by_brand's two-phase aggregate over brand-joined lines:
    per-(brand, order) exact-sum partials, then the brand rollup."""
    return (
        lines.groupBy("p_brand", "l_orderkey")
        .agg(
            exact_sum_partial(_REVENUE, "_rev"),
            exact_sum_partial("l_quantity", "_qty"),
        )
        .groupBy("p_brand")
        .agg(
            exact_sum_final("_rev", "revenue"),
            exact_sum_final("_qty", "units_sold"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("p_brand"))
    )


REVENUE_BY_BRAND_SQL = f"""
SELECT p_brand,
       {exact_sum_sql(_REVENUE, "revenue")},
       {exact_sum_sql("l_quantity", "units_sold")},
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY revenue DESC, p_brand
"""


def pricing_summary_sparksql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pricing_summary through the engine's OTHER front door: a Spark
    SQL string over registered views (`register_views`) instead of the
    DataFrame API. Shares pricing_summary's oracle — both entries must
    produce bit-identical results because they build the same Catalyst
    plan (the unified-frontend claim, SURVEY.md §1.2, verified rather
    than asserted)."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               sum_qty, sum_base_price, sum_disc_price, sum_charge,
               count_order,
               sum_qty / count_order AS avg_qty,
               sum_base_price / count_order AS avg_price
        FROM (
          SELECT l_returnflag, l_linestatus,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
                 count(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          GROUP BY l_returnflag, l_linestatus
        )
        ORDER BY l_returnflag, l_linestatus
    """)


def revenue_by_brand_sparksql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """revenue_by_brand as Spark SQL with an explicit BROADCAST hint —
    the SQL-dialect spelling of the DataFrame `broadcast(part)` call,
    sharing the same oracle."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT /*+ BROADCAST(part) */ p_brand,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS units_sold,
               count(DISTINCT l_orderkey) AS n_orders
        FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY revenue DESC, p_brand
    """)


def revenue_by_brand_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """revenue_by_brand through the salted-join path (operators/
    skew.py): fact salted on row identity, dim replicated per salt,
    join on (key, salt). Shares revenue_by_brand's oracle — the hash
    match proves salting is a pure shuffle re-distribution, invisible
    in results. This is the plan for the case the broadcast version
    can't serve: a dim too big to broadcast AND a pathologically hot
    fact key that AQE's skew split can't fully flatten."""
    from ..operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").alias("p_partkey"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return _brand_rollup(
        salted_join(
            li,
            part,
            on=["p_partkey"],
            n_salts=8,
            identity_cols=["l_orderkey", "p_partkey"],
            how="left",
        )
    )


def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend deciles: customers ranked by lifetime spend, cut into 10
    ntile buckets, one summary row per decile — the distribution view
    behind 'top 10% of customers drive X% of revenue'.

    Scale: customer aggregates are "post-shuffle small" but still
    10^8+ rows at 100 TB, so the decile assignment uses the
    distributed two-level ntile (operators/ranks.py) — bit-identical
    to `ntile(10) OVER (ORDER BY ...)` without funnelling every
    customer through one ranking task. A unique tiebreak key
    (o_custkey) makes the total order — and every bucket —
    deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        exact_sum("o_totalprice", "total_spent")
    )
    tiled = with_global_ntile(
        per_cust,
        10,
        [F.col("total_spent").desc(), F.col("o_custkey")],
        out_col="decile",
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("total_spent", "decile_spend"),
        )
        .orderBy("decile")
    )


CUSTOMER_SPEND_DECILES_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey, {exact_sum_sql("o_totalprice", "total_spent")}
  FROM orders GROUP BY o_custkey
)
SELECT decile, count(*) AS n_customers,
       {exact_sum_sql("total_spent", "decile_spend")}
FROM (
  SELECT total_spent,
         ntile(10) OVER (ORDER BY total_spent DESC, o_custkey) AS decile
  FROM per_cust
)
GROUP BY decile
ORDER BY decile
"""


def orders_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two independent dimensions (status × priority): all
    four grouping sets — both, each alone, grand total — in ONE pass.
    Completes the grouping-sets family next to ROLLUP
    (`revenue_rollup`, time hierarchy) and pivot (`event_type_pivot`).

    Scale: like ROLLUP, Spark expands the grouping sets map-side into
    a single shuffle with partial aggregation — 4 reports for the scan
    cost of one."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("_gid"),
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", "total_price"),
        )
        .select(
            F.when(F.col("_gid") == 3, F.lit("total"))
            .when(F.col("_gid") == 2, F.lit("priority"))
            .when(F.col("_gid") == 1, F.lit("status"))
            .otherwise(F.lit("status_priority"))
            .alias("grain"),
            "o_orderstatus",
            "o_orderpriority",
            "n_orders",
            "total_price",
        )
        .orderBy(
            "grain",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ORDERS_STATUS_PRIORITY_CUBE_SQL = f"""
SELECT CASE grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
         WHEN 3 THEN 'total'
         WHEN 2 THEN 'priority'
         WHEN 1 THEN 'status'
         ELSE 'status_priority' END AS grain,
       o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       {exact_sum_sql("o_totalprice", "total_price")}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY grain, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by spend — reference AGG-2/SRT-1
    (spark_analysis.py:90-106) and Mongo AGG-4 (TOP10.py).

    orderBy+limit plans as TakeOrderedAndProject (no global sort).
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            exact_sum("o_totalprice", "total_spent"),
            F.count(F.lit(1)).alias("num_orders"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("o_custkey"))
        .limit(10)
    )


TOP_SPENDERS_SQL = f"""
SELECT o_custkey,
       {exact_sum_sql("o_totalprice", "total_spent")},
       count(*) AS num_orders
FROM orders
GROUP BY o_custkey
ORDER BY total_spent DESC, o_custkey
LIMIT 10
"""


def top_customers_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 spenders with customer attributes — reference PDF §8.2
    Table 2 shape (agg then broadcast dim join for the name)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    agg = orders.groupBy("o_custkey").agg(
        exact_sum("o_totalprice", "total_spent"),
        F.count(F.lit(1)).alias("num_orders"),
    )
    return (
        agg.join(F.broadcast(cust), agg.o_custkey == cust.c_custkey, "inner")
        .select("o_custkey", "c_name", "total_spent", "num_orders")
        .orderBy(F.col("total_spent").desc(), F.col("o_custkey"))
        .limit(5)
    )


TOP_CUSTOMERS_TOP5_SQL = f"""
SELECT o_custkey, c_name,
       {exact_sum_sql("o_totalprice", "total_spent")},
       count(*) AS num_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY o_custkey, c_name
ORDER BY total_spent DESC, o_custkey
LIMIT 5
"""


def product_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 products by units sold — reference AGG-6 (PDF §7.2(B))."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            exact_sum("l_quantity", "units_sold"),
            exact_sum(_REVENUE, "revenue"),
        )
        .orderBy(F.col("units_sold").desc(), F.col("l_partkey"))
        .limit(10)
    )


PRODUCT_POPULARITY_SQL = f"""
SELECT l_partkey,
       {exact_sum_sql("l_quantity", "units_sold")},
       {exact_sum_sql(_REVENUE, "revenue")}
FROM lineitem
GROUP BY l_partkey
ORDER BY units_sold DESC, l_partkey
LIMIT 10
"""


def also_bought_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-purchased product pairs via dedup + self-join
    (reference DED-1/JOIN-2/FLT-2/AGG-3/SRT-2,
    spark_analysis.py:113-143)."""
    li = load_table(spark, sf_dir, "lineitem")
    return copurchase_pairs(li, limit=50)


def pairs_via_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pair mining via array higher-order functions — the Mongo
    `$reduce`/`$map` formulation (reference ARR-2, `PRODUCTS BOUGHT IN
    PAIRS  MOST FREQUENTLY`:15-39) re-expressed with
    transform/slice/flatten. Oracle is the SAME SQL as the self-join
    path: differential proof the two formulations agree
    (SURVEY.md §5 practice 4)."""
    li = load_table(spark, sf_dir, "lineitem")
    return copurchase_pairs_hof(li, limit=50)


ALSO_BOUGHT_PAIRS_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS product_x, b.l_partkey AS product_y,
       count(*) AS co_purchase_count
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY product_x, product_y
ORDER BY co_purchase_count DESC, product_x, product_y
LIMIT 50
"""


def order_item_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order basket stats — reference ARR-3 `size()` family
    (load_hbase_sessions_stream.py:64-66) over relational line items."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("l_partkey").alias("n_distinct_parts"),
            exact_sum("l_quantity", "total_qty"),
        )
        .orderBy("l_orderkey")
    )


ORDER_ITEM_STATS_SQL = f"""
SELECT l_orderkey,
       count(*) AS n_items,
       count(DISTINCT l_partkey) AS n_distinct_parts,
       {exact_sum_sql("l_quantity", "total_qty")}
FROM lineitem
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (capability upgrade; reference has no anti join —
    SURVEY.md §2.4 'not present'): customers with NO orders in 1995.

    The order side is year-restricted because the driver's testdata
    gives every customer at least one lifetime order — the unfiltered
    form was vacuously green on 0 rows in round 5; this form keeps
    34/326/3305 rows at sf0.001/0.01/0.1, so the LEFT ANTI actually
    filters. The year predicate sits UNDER the anti join (pushed to
    the orders scan), shrinking the build side before the join."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1995)
        .select("o_custkey")
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").orderBy(
        "c_custkey"
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1995
)
ORDER BY c_custkey
"""


def segment_purchasing_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join + agg: market segments of customers who ordered."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal", "sum_acctbal"),
        )
        .withColumn("avg_acctbal", F.col("sum_acctbal") / F.col("n_customers"))
        .orderBy("c_mktsegment")
    )


SEGMENT_PURCHASING_POWER_SQL = f"""
SELECT c_mktsegment,
       count(*) AS n_customers,
       {exact_sum_sql("c_acctbal", "sum_acctbal")},
       CAST(CAST(SUM(CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_acctbal
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (capability upgrade over the reference's
    single-level group-bys)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(exact_sum(_REVENUE, "revenue"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


REVENUE_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {exact_sum_sql(_REVENUE, "revenue")},
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def international_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop dim join chain (lineitem→supplier→nation→region),
    every dim broadcast — the 100 TB-safe star-join shape."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(exact_sum(_REVENUE, "revenue"))
        .orderBy("r_name", "n_name")
    )


INTERNATIONAL_REVENUE_SQL = f"""
SELECT r_name, n_name, {exact_sum_sql(_REVENUE, "revenue")}
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def customer_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set operations (capability upgrade — SURVEY.md §2.8:
    the reference has no UNION/INTERSECT/EXCEPT): 1995-vs-1996 buyer
    cohorts via intersect / subtract, tagged and unioned.

    Scale: each year's DISTINCT buyer list is eagerly checkpointed
    before the set algebra — the three INTERSECT/EXCEPT branches each
    consume both lists, and per-branch optimization defeats exchange
    reuse, so without the checkpoint the executed plan re-read the
    year-filtered fact five times (the r13 scan audit's find; at
    100 TB that is 5 fact scans for a customer-cardinality result).
    Checkpointed, orders is scanned exactly twice (once per disjoint
    year filter); the lists and the result are customer-sized. The
    pre-`distinct` is semantics-free — INTERSECT/EXCEPT are set ops
    already — and dedups each list once instead of inside every
    branch. `lazy_results()` keeps the lazy plan."""
    from ..operators.checkpoints import (
        resolve_materialize,
        unpersist_local_checkpoint,
    )

    mat = resolve_materialize()
    orders = load_table(spark, sf_dir, "orders")
    y95 = (
        orders.filter(F.year("o_orderdate") == 1995)
        .select("o_custkey")
        .distinct()
    )
    y96 = (
        orders.filter(F.year("o_orderdate") == 1996)
        .select("o_custkey")
        .distinct()
    )
    if mat:
        y95 = y95.localCheckpoint(eager=True)
        y96 = y96.localCheckpoint(eager=True)
    both = y95.intersect(y96).withColumn("cohort", F.lit("both"))
    only95 = y95.subtract(y96).withColumn("cohort", F.lit("only_1995"))
    only96 = y96.subtract(y95).withColumn("cohort", F.lit("only_1996"))
    out = (
        both.unionByName(only95)
        .unionByName(only96)
        .select("cohort", "o_custkey")
        .orderBy("cohort", "o_custkey")
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(y95)
        unpersist_local_checkpoint(y96)
    return out


CUSTOMER_COHORT_SETOPS_SQL = """
WITH y95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
y96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT 'both' AS cohort, o_custkey FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
UNION ALL
SELECT 'only_1995', o_custkey FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
UNION ALL
SELECT 'only_1996', o_custkey FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
ORDER BY cohort, o_custkey
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (capability upgrade): per-user event-type counts as
    columns. Explicit value list so the plan needs no discovery pass."""
    events = load_table(spark, sf_dir, "events")
    piv = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    out = piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )
    return out.orderBy("user_id")


EVENT_TYPE_PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'error') AS n_error,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup') AS n_signup,
       count(*) FILTER (event_type = 'view') AS n_view
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped shipping priority: unshipped revenue of
    BUILDING-segment orders placed before / shipped after a cutoff,
    top 10 orders by revenue (reference JOIN-1/AGG-1/SRT-2 composed on
    a 3-table star, spark_analysis.py:70-101's join+agg+top-N shape at
    multi-join depth).

    Scale: both big sides (lineitem, orders) carry pushed-down date
    filters into the scan; the orders↔customer and lineitem↔orders
    joins shuffle on their keys (customer is NOT broadcast — at 100 TB
    a 1/5-segment slice of customers is still billions of rows; AQE
    may still pick broadcast from runtime stats). Top-10 plans as
    TakeOrderedAndProject."""
    cutoff = F.to_timestamp(F.lit("1998-06-01 00:00:00"))
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum(_REVENUE, "revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {exact_sum_sql(_REVENUE, "revenue")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped local-supplier volume: revenue from ASIA
    customers served by suppliers in the SAME nation, one year of
    orders, by nation — the deepest join in the registry (6 tables)
    and the canonical star-join broadcast test.

    Scale: lineitem↔orders shuffle on orderkey and orders↔customer on
    custkey (both sides unbounded); supplier/nation/region are
    broadcast dims, so the nation-equality residual
    (c_nationkey = s_nationkey) evaluates map-side with no extra
    shuffle."""
    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(exact_sum(_REVENUE, "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


REGIONAL_SUPPLIER_VOLUME_SQL = f"""
SELECT n_name, {exact_sum_sql(_REVENUE, "revenue")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped promo share: percentage of one month's revenue
    from PROMO-type parts — conditional aggregation over a broadcast
    dim join, one output row.

    Scale: the month filter is pushed to the lineitem scan; part is a
    broadcast dim; promo/total are two conditional exact sums
    in ONE aggregation pass (no second scan, no self-join)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01 00:00:00")))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            exact_sum(_PROMO_REVENUE, "promo_revenue"),
            exact_sum(_REVENUE, "total_revenue"),
        )
        .withColumn(
            "promo_share",
            100.0 * F.col("promo_revenue") / F.col("total_revenue"),
        )
    )


PROMO_REVENUE_SHARE_SQL = f"""
SELECT promo_revenue, total_revenue,
       100.0 * promo_revenue / total_revenue AS promo_share
FROM (
  SELECT
    {exact_sum_sql(_PROMO_REVENUE, "promo_revenue")},
    {exact_sum_sql(_REVENUE, "total_revenue")}
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
)
"""


def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL front door: independent per-status
    and per-priority rollups plus the grand total in ONE pass —
    completing the multi-level-aggregate family next to CUBE
    (orders_status_priority_cube) and ROLLUP (revenue_rollup).

    Scale: Spark plans grouping sets as a single Expand + one hash
    aggregate — one shuffle regardless of how many sets, vs one
    scan+shuffle per set if issued separately. grouping() disambiguates
    the level, replacing NULL-ambiguity."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT CASE WHEN grouping(o_orderstatus) = 0 THEN 'by_status'
                    WHEN grouping(o_orderpriority) = 0 THEN 'by_priority'
                    ELSE 'total' END AS level,
               o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                 AS sum_total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY level, o_orderstatus, o_orderpriority
    """)


ORDERS_GROUPING_SETS_SQL = """
SELECT CASE WHEN grouping(o_orderstatus) = 0 THEN 'by_status'
            WHEN grouping(o_orderpriority) = 0 THEN 'by_priority'
            ELSE 'total' END AS level,
       o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
         AS sum_total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY level, o_orderstatus, o_orderpriority
"""


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the co-purchase graph (3 damped
    rounds): which products sit at the CENTER of basket co-occurrence,
    not merely in the most frequent single pair — the graph upgrade of
    `also_bought_pairs`. See operators/pagerank.py for the exact-
    arithmetic iteration discipline (quantized integer contribution
    sums; bit-reproducible across partitionings and engines).

    Scale: edge build is the bounded-basket pair self-join (dedup
    before join); each round is one src-join shuffle + one dst-keyed
    exact aggregate; rank state never leaves the cluster. Top-100 via
    TakeOrderedAndProject."""
    from ..operators.pagerank import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("product_id"),
    ).dropDuplicates()
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(b, F.col("a.order_id") == F.col("b.order_id"))
        .where(F.col("a.product_id") < F.col("b.product_id"))
        .select(
            F.col("a.product_id").alias("pa"),
            F.col("b.product_id").alias("pb"),
        )
        .dropDuplicates()
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    return (
        pagerank(edges, n_iters=3, damping=0.85)
        .orderBy(F.col("pagerank").desc(), "node")
        .limit(100)
    )


def _part_pagerank_sql() -> str:
    from ..operators.pagerank import pagerank_sql

    edges_cte = """
  WITH items AS (
    SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
    FROM lineitem
  ),
  pairs AS (
    SELECT a.product_id AS pa, b.product_id AS pb
    FROM items a JOIN items b
      ON a.order_id = b.order_id AND a.product_id < b.product_id
    GROUP BY pa, pb
  )
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL
  SELECT pb AS src, pa AS dst FROM pairs
"""
    return (
        pagerank_sql(edges_cte, n_iters=3, damping=0.85)
        + "\nORDER BY pagerank DESC, node\nLIMIT 100"
    )


def order_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped priority check: orders with at least one
    RETURNED line item, counted per priority — the EXISTS-subquery
    front door, planned as a LEFT SEMI join (the one §2.4 join flavor
    no other registry query exercised).

    Scale: the returned-lines side carries its filter into the scan and
    projects to the bare key before the semi join; a semi join never
    fans out (at most one output row per order) so no dedup of the
    many-per-order match side is needed, and both sides shuffle once
    on orderkey. The post-join aggregate is 5 groups."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_RETURNS_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def late_shipments_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped shipping-lateness report (shipmode column does
    not exist in this data model, so the Q12 split runs on lateness
    instead): per order priority, how many line items shipped more than
    a year after the order date, split urgent-vs-low (reference FN-4's
    CASE bucketing, integrated_query_engagement_vs_spend.py:161-170,
    composed with a fact-fact join).

    Scale: lineitem↔orders is a fact-fact equi-join — both sides
    shuffle on orderkey (neither is broadcastable); the lateness
    predicate needs both sides so it evaluates post-join (no pushdown
    possible, by construction); the final aggregate is 5 groups with
    map-side partials."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 365 DAYS"
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(late.cast("bigint")).alias("n_late"),
            F.sum((late & urgent).cast("bigint")).alias("n_late_urgent"),
            F.sum((late & ~urgent).cast("bigint")).alias("n_late_low"),
        )
        .orderBy("o_orderpriority")
    )


LATE_SHIPMENTS_BY_PRIORITY_SQL = """
SELECT o_orderpriority,
       count(*) AS n_lines,
       CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
                      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_urgent,
       CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
                      AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_low
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped customer distribution: histogram of customers
    by how many orders they placed (0-order customers included via the
    outer join — reference JOIN-3's null-fill shape,
    integrated_query_engagement_vs_spend.py:104-111, re-aggregated).

    Scale: two cascading aggregates — (custkey) then (order count) —
    each a single shuffle; the second input is one row per customer and
    the output is bounded by the max order count. The left outer join
    keeps customers with no orders (count 0), which an inner-join
    formulation silently drops."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, count(*) AS n_customers
FROM per_cust
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume customers: orders whose total
    quantity tops 250 units, with the customer who placed them — the
    HAVING-on-aggregate + join-back shape.

    Scale: one (orderkey) aggregate over lineitem with map-side
    partials, the HAVING filter collapses it to the rare heavy tail
    (~1% of orders), and only THEN do the orders/customer joins run —
    joining fully-aggregated-then-filtered data, so the expensive
    3-table join touches a sliver of the fact table. AQE sees the
    post-filter size and broadcasts the tiny side at runtime."""
    qty = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        qty.join(orders, qty.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("sum_qty").desc(), "o_orderkey")
    )


LARGE_VOLUME_CUSTOMERS_SQL = f"""
WITH qty AS (
  SELECT l_orderkey, {exact_sum_sql("l_quantity", "sum_qty")}
  FROM lineitem
  GROUP BY l_orderkey
  HAVING CAST(CAST(SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR)
              AS DOUBLE) > 250.0
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM qty
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey
"""


def dormant_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped dormant-account report: customers whose balance
    beats the positive-balance average but who placed NO order in the
    final year of the data, rolled up per market segment — the
    scalar-subquery-threshold + NOT EXISTS anti-join shape.

    Scale: the threshold is a 1-row aggregate attached by broadcast
    (never a driver round-trip); the anti join shuffles on custkey with
    the recent-orders side pre-projected to the bare key; the segment
    rollup is 5 groups. All three patterns survive a 1000-executor
    scale-up unchanged."""
    cutoff = F.to_timestamp(F.lit("2000-09-01 00:00:00"))
    cust = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= cutoff)
        .select("o_custkey")
    )
    # exact-decimal sum / count, NOT each engine's native decimal AVG
    # (whose internal rounding differs) — the threshold double is then
    # bit-identical across engines and partitionings, so boundary
    # membership cannot flip.
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            exact_sum("c_acctbal", "_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select((F.col("_s") / F.col("_n")).alias("_avg_bal"))
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            recent, cust.c_custkey == recent.o_custkey, "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal", "sum_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


DORMANT_HIGH_VALUE_CUSTOMERS_SQL = f"""
SELECT c_mktsegment,
       count(*) AS n_customers,
       {exact_sum_sql("c_acctbal", "sum_acctbal")}
FROM customer
WHERE c_acctbal > (
        SELECT CAST(CAST(SUM(CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR)
                    AS DOUBLE) / count(*)
        FROM customer WHERE c_acctbal > 0.0
      )
  AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-09-01 00:00:00'
      )
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped small-order revenue: for one brand's parts,
    the yearly revenue locked in orders below 20% of that part's
    average order quantity — the CORRELATED per-group threshold shape,
    decorrelated into a pre-aggregate + join (the rewrite Catalyst
    itself applies to correlated scalar subqueries, stated here
    explicitly so the plan is one aggregate + two joins, never a
    per-row re-scan).

    Scale: the per-part threshold aggregate shuffles lineitem once on
    partkey (map-side partials); the brand slice of `part` is a
    pushed-down filter and joins without a forced hint (a brand's
    parts are still millions of rows at 100 TB — AQE broadcasts from
    runtime stats when small). Threshold arithmetic is exact-decimal
    sum / count * 0.2, identically ordered in both engines, so
    boundary membership never flips."""
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    thr = (
        li.groupBy("l_partkey")
        .agg(
            exact_sum("l_quantity", "_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            F.col("l_partkey").alias("t_partkey"),
            (F.col("_s") / F.col("_n") * F.lit(0.2)).alias("qty_thr"),
        )
    )
    return (
        li.join(brand_parts, li.l_partkey == brand_parts.p_partkey)
        .join(thr, li.l_partkey == thr.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum("l_extendedprice", "_sum_price"),
        )
        .select(
            "n_lines",
            (F.col("_sum_price") / 7.0).alias("avg_yearly"),
        )
    )


SMALL_ORDER_REVENUE_SQL = """
WITH thr AS (
  SELECT l_partkey AS t_partkey,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR)
              AS DOUBLE) / count(*) * 0.2 AS qty_thr
  FROM lineitem
  GROUP BY l_partkey
)
SELECT count(*) AS n_lines,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR)
            AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN thr ON l_partkey = t_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < qty_thr
"""


def promo_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunctive predicate: revenue from three OR'd
    brand/size/quantity bands — the shape that tests whether the
    planner handles OR-of-ANDs well. The common conjunct (p_size >= 1,
    quantity bounds) is written OUTSIDE the disjunction so it pushes
    into both scans; the residual OR evaluates post-join in one pass
    (Catalyst also extracts common factors itself, but stating them
    keeps the pushdown independent of CNF-conversion limits).

    Scale: one lineitem↔part join; the part side carries the pushed
    size bound; no per-branch re-scan — three bands, one plan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 1) & (F.col("p_size") <= 15)
    )
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 5)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("l_quantity") >= 20)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum(_REVENUE, "revenue"),
        )
    )


PROMO_DISJUNCTIVE_REVENUE_SQL = f"""
SELECT count(*) AS n_lines,
       {exact_sum_sql(_REVENUE, "revenue")}
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_quantity >= 1 AND l_quantity <= 30
  AND p_size >= 1 AND p_size <= 15
  AND (
        (p_brand = 'Brand#1' AND p_size <= 5 AND l_quantity <= 11)
     OR (p_brand = 'Brand#2' AND p_size <= 10
         AND l_quantity >= 10 AND l_quantity <= 20)
     OR (p_brand = 'Brand#3' AND l_quantity >= 20)
  )
"""


def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report: top 20 customers by
    revenue lost to returns in one quarter, with their nation — the
    classic "who should customer service call" star query.

    Scale: the quarter filter pushes into the orders scan and the
    returnflag filter into lineitem; the lineitem↔orders and
    orders↔customer joins shuffle on their keys (both unbounded);
    nation broadcasts; top-20 is TakeOrderedAndProject."""
    cutoff_lo = F.to_timestamp(F.lit("2000-10-01 00:00:00"))
    cutoff_hi = F.to_timestamp(F.lit("2001-01-01 00:00:00"))
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= cutoff_lo)
            & (F.col("o_orderdate") < cutoff_hi)
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(exact_sum(_REVENUE, "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


RETURNED_ITEM_CUSTOMERS_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {exact_sum_sql(_REVENUE, "revenue")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '2000-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '2001-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped top supplier: suppliers whose quarterly
    shipped revenue equals the maximum over all suppliers — the
    max-over-aggregate + equality join-back shape (returns ALL tied
    suppliers, which is why it is not a LIMIT 1).

    Scale: one (suppkey) aggregate over the date-filtered lineitem;
    the max collapses that to one broadcast row; the equality
    join-back and supplier-name join touch only the winners. The
    revenue equality compare is safe because both sides are the SAME
    exact-decimal double, not a recomputation."""
    cutoff_lo = F.to_timestamp(F.lit("2001-01-01 00:00:00"))
    cutoff_hi = F.to_timestamp(F.lit("2001-04-01 00:00:00"))
    rev = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= cutoff_lo)
            & (F.col("l_shipdate") < cutoff_hi)
        )
        .groupBy("l_suppkey")
        .agg(exact_sum(_REVENUE, "total_revenue"))
    )
    best = rev.agg(F.max("total_revenue").alias("_best"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("_best"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


TOP_SUPPLIER_BY_REVENUE_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, {exact_sum_sql(_REVENUE, "total_revenue")}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '2001-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def important_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped important stock: parts whose shipped value
    exceeds a FRACTION of the corpus-wide total — the
    global-scalar-inside-HAVING shape (Q22 compares each ROW to a
    scalar; here the scalar gates post-aggregate GROUPS).

    Scale: one (partkey) aggregate; the global total derives from a
    second pass over the same pre-aggregated frame (not the raw fact
    table) and attaches as a broadcast row; the HAVING filter then
    keeps the heavy tail only. Both sides of the threshold compare are
    exact-decimal doubles with identical arithmetic in both engines.

    The threshold is CORPUS-RELATIVE — 1.5× the mean per-part value,
    i.e. fraction 1.5/n_parts of the total — so the HAVING keeps a
    real heavy tail at EVERY scale factor (TPC-H Q11's own
    0.0001/SF scaling). Round 5 proved a fixed fraction vacuous: at
    sf0.01 no part reaches 0.1% of a 2,000-part near-uniform corpus,
    so the query was green on 0 rows — this form keeps 4/49/514 rows
    at sf0.001/0.01/0.1."""
    part_val = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(exact_sum("l_extendedprice * l_quantity", "value"))
    )
    total = part_val.agg(
        exact_sum("value", "_total"),
        F.count(F.lit(1)).alias("_nparts"),
    )
    return (
        part_val.join(F.broadcast(total))
        .filter(F.col("value") > F.col("_total") * 1.5 / F.col("_nparts"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), "l_partkey")
    )


IMPORTANT_PART_SHARE_SQL = """
WITH part_val AS (
  SELECT l_partkey,
         CAST(CAST(SUM(CAST(CAST(l_extendedprice * l_quantity AS VARCHAR) AS DECIMAL(38,6)))
              AS VARCHAR) AS DOUBLE) AS value
  FROM lineitem
  GROUP BY l_partkey
),
tot AS (
  SELECT CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
           AS _total,
         count(*) AS _nparts
  FROM part_val
)
SELECT l_partkey, value
FROM part_val CROSS JOIN tot
WHERE value > _total * 1.5 / _nparts
ORDER BY value DESC, l_partkey
"""


def supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped supplier census: how many DISTINCT suppliers
    ship each (brand, size band), excluding a denylisted supplier set
    — the NOT-IN anti-join + per-group distinct-count shape.

    Scale: the denylist (complaint suppliers — here the bottom
    acctbal decile shipped as an explicit frame) anti-joins BEFORE
    aggregation so excluded rows never enter the shuffle; the distinct
    count is a two-phase (keys, suppkey) pre-aggregate — no Expand,
    partials combine map-side."""
    supp_bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select(F.col("s_suppkey").alias("bad_suppkey"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", (F.col("p_size") % 5).alias("size_band")
    )
    return (
        li.join(supp_bad, li.l_suppkey == supp_bad.bad_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .select("p_brand", "size_band", "l_suppkey")
        .dropDuplicates()
        .groupBy("p_brand", "size_band")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "size_band")
    )


SUPPLIER_COUNT_BY_PART_SQL = """
SELECT p_brand, size_band, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN (SELECT p_partkey, p_brand, p_size % 5 AS size_band FROM part) p
  ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY p_brand, size_band
ORDER BY supplier_cnt DESC, p_brand, size_band
"""


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped trade volume: yearly revenue flowing between
    two nations (NATION_1/NATION_2 in this data model) in BOTH directions (supplier nation ≠ customer
    nation) — the deepest symmetric star join (lineitem, orders,
    customer, supplier, nation×2) with a disjunctive nation-pair
    residual.

    Scale: the two fact-fact joins (lineitem↔orders on orderkey,
    orders↔customer on custkey) shuffle on their keys; supplier and
    both nation legs broadcast; the nation-pair residual and year
    extraction evaluate map-side post-join. Output is 2 nations × 2
    directions × years — tiny."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.sn_key)
        .join(F.broadcast(n2), cust.c_nationkey == n2.cn_key)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(exact_sum(_REVENUE, "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


NATION_TRADE_VOLUME_SQL = f"""
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {exact_sum_sql(_REVENUE, "revenue")}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def top_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL derived table with LIMIT — top-2 orders per
    BUILDING-segment customer — the SQL-dialect spelling of
    top-N-per-group (the window formulation is
    `top_order_per_customer`; this verifies the LATERAL front door
    decorrelates to the same partitioned-window plan instead of a
    per-customer re-scan).

    Scale: Catalyst rewrites the correlated LIMIT subquery into a
    rank-filter over a window PARTITIONED by custkey — one shuffle on
    the join key, per-group frames bounded by that customer's orders,
    never a nested loop."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """)


TOP_ORDERS_LATERAL_SQL = """
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


def part_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph: how many part triples
    are pairwise co-purchased — the graph-cohesion statistic next to
    `part_pagerank` (centrality) and `dedup_clusters` (connectivity).
    See operators/triangles.py for the degree-ordered orientation that
    makes the wedge join skew-proof at 100 TB.

    Edge build is the same bounded-basket dedup-then-self-join as
    `also_bought_pairs` (operators/pairs.py, reference `PRODUCTS BOUGHT
    IN PAIRS  MOST FREQUENTLY`:1-40)."""
    from ..operators.triangles import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("product_id"),
    ).dropDuplicates()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(b, F.col("a.order_id") == F.col("b.order_id"))
        .where(F.col("a.product_id") < F.col("b.product_id"))
        .select(
            F.col("a.product_id").alias("u"),
            F.col("b.product_id").alias("v"),
        )
        .dropDuplicates()
    )
    return triangle_count(edges)


PART_TRIANGLE_COUNT_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
  FROM lineitem
),
edges AS (
  SELECT DISTINCT a.product_id AS u, b.product_id AS v
  FROM items a JOIN items b
    ON a.order_id = b.order_id AND a.product_id < b.product_id
)
SELECT
  (SELECT count(*) FROM (
     SELECT u AS n FROM edges UNION SELECT v FROM edges)) AS n_nodes,
  (SELECT count(*) FROM edges) AS n_edges,
  (SELECT count(*) FROM edges e1
     JOIN edges e2 ON e2.u = e1.v
     JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
"""


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped min-cost supplier: for every part, the
    ASIA-region supplier(s) achieving the lowest observed unit cost —
    the CORRELATED SCALAR SUBQUERY shape (cost = min cost for that
    part), the last distinctive TPC-H plan form absent from the
    registry. The testdata has no partsupp table, so unit cost is
    observed from shipments: min(l_extendedprice / l_quantity) per
    (part, supplier).

    Spark spells the decorrelation explicitly: aggregate once per
    (part, supplier), derive the per-part min from that SAME
    pre-aggregated frame (not a second fact scan), and join back on
    (partkey, cost) — while the oracle keeps the textbook correlated
    `WHERE cost = (SELECT min ...)` spelling, proving the join-back
    rewrite equals the correlated spec. Region/nation/supplier legs
    broadcast; the only fact shuffle is the (part, supplier)
    aggregate; the join-back keys on partkey, which AQE plans off the
    small aggregated frames. Unit cost is a single IEEE divide and
    `min` is order-independent, so doubles match bit-for-bit without
    decimal accumulators."""
    supp_asia = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    cost = (
        li.join(F.broadcast(supp_asia), li.l_suppkey == supp_asia.s_suppkey)
        .groupBy("l_partkey", "s_suppkey", "s_name")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    best = cost.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.min("unit_cost").alias("_best")
    )
    return (
        cost.join(
            best,
            (cost.l_partkey == best._pk) & (cost.unit_cost == best._best),
        )
        .select("l_partkey", "s_suppkey", "s_name", "unit_cost")
        .orderBy("l_partkey", "s_suppkey")
    )


MIN_COST_SUPPLIER_SQL = """
WITH cost AS (
  SELECT l_partkey, s_suppkey, s_name,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY l_partkey, s_suppkey, s_name
)
SELECT l_partkey, s_suppkey, s_name, unit_cost
FROM cost c
WHERE unit_cost = (
    SELECT min(unit_cost) FROM cost c2 WHERE c2.l_partkey = c.l_partkey
  )
ORDER BY l_partkey, s_suppkey
"""


def waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped waiting-supplier census: suppliers who were
    the SOLE late shipper in a finished multi-supplier order — the
    EXISTS + NOT EXISTS double-correlation shape (Spark plans it as a
    left-semi then left-anti self-join). The testdata has no
    commit/receipt dates, so "late" is a ship lag: l_shipdate more
    than 90 days after o_orderdate.

    Scale: all three legs (late lines, other-supplier probe,
    other-late-supplier probe) derive from ONE lineitem⋈orders frame,
    keyed on l_orderkey — the semi and anti joins shuffle on the same
    key as the base join, so the exchange is reused, and per-order
    group sizes are bounded by lines-per-order (≤7 here), so there is
    no skew risk. The final per-supplier count is a tiny aggregate
    with a broadcast name join."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    l1 = base.filter(F.col("late")).alias("l1")
    l2 = base.alias("l2")
    l3 = base.filter(F.col("late")).alias("l3")
    sole_late = (
        l1.join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
    )


WAITING_SUPPLIER_SQL = """
WITH li AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM li l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM li l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM li l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l3.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
"""


def discount_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped what-if: revenue the company would gain by
    eliminating a band of small discounts on small-quantity lines in
    one year — the pure SCAN + CONJUNCTIVE FILTER + SINGLE-ROW
    AGGREGATE shape, deliberately join-free.

    Scale: the year bound and quantity bound push into the parquet
    scan (row-group min/max skipping); the discount band is a
    scan-side filter too; what's left is one map-side partial sum —
    the cheapest possible full-table statistic at 100 TB. Completes
    the TPC-H shape census alongside Q1's grouped variant."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(
                "l_extendedprice * l_discount",
                "revenue_delta",
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


DISCOUNT_REVENUE_DELTA_SQL = f"""
SELECT {exact_sum_sql("l_extendedprice * l_discount", "revenue_delta")},
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.02 AND l_discount <= 0.05
  AND l_quantity < 24
"""


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped market share: of all revenue shipped to
    ASIA-region customers, the fraction supplied by NATION_1's
    suppliers, per order year — the CONDITIONAL-NUMERATOR RATIO shape
    (sum(CASE)/sum) over the deepest star join in the registry
    (lineitem, orders, customer, nation×2, region, supplier).

    Scale: the two fact joins shuffle on orderkey/custkey; supplier,
    both nation legs, and region broadcast; the CASE numerator rides
    the SAME aggregate as the denominator (one shuffle, no second
    pass). Both sums are exact-decimal, so the closing double divide
    is bit-identical across engines."""
    cust_asia = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    supp_nat = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_asia, orders.o_custkey == cust_asia.c_custkey)
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            exact_sum(
                f"CASE WHEN supp_nation = 'NATION_1' THEN {_REVENUE} ELSE 0.0 END",
                "nation_revenue",
            ),
            exact_sum(_REVENUE, "total_revenue"),
        )
        .withColumn(
            "mkt_share", F.col("nation_revenue") / F.col("total_revenue")
        )
        .orderBy("o_year")
    )


NATION_MARKET_SHARE_SQL = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       {exact_sum_sql(
           "CASE WHEN sn.n_name = 'NATION_1' THEN " + _REVENUE + " ELSE 0.0 END",
           "nation_revenue",
       )},
       {exact_sum_sql(_REVENUE, "total_revenue")},
       CAST(CAST(SUM(CAST(CAST(CASE WHEN sn.n_name = 'NATION_1' THEN {_REVENUE}
                          ELSE 0.0 END AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(CAST(CAST({_REVENUE} AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
         AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY o_year
ORDER BY o_year
"""


def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped profit rollup: per supplier nation and order
    year, total margin on widget-family parts — the COMPUTED-MEASURE
    star aggregate whose per-row expression spans THREE tables
    (lineitem price/discount/quantity, part retail price). The
    testdata has no partsupp.ps_supplycost, so unit cost is proxied
    as 10% of the part's retail price (deterministic, documented):
    amount = l_extendedprice·(1−l_discount) − p_retailprice·l_quantity·0.1.

    Scale: part (filtered to the name family BEFORE the join) and
    supplier/nation broadcast; lineitem⋈orders shuffles on orderkey;
    one aggregate shuffle on (nation, year). The amount expression is
    written with identical association in both engines and
    accumulated exactly (functions/numeric.py)."""
    part_w = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    supp_nat = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "nation")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
        "l_discount",
        "l_quantity",
    )
    return (
        li.join(F.broadcast(part_w), li.l_partkey == part_w.p_partkey)
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(exact_sum(_PROFIT, "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


PRODUCT_PROFIT_BY_NATION_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       {exact_sum_sql(_PROFIT, "sum_profit")}
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped dominant-supplier screen: suppliers that ship
    a DISPROPORTIONATE share of at least one part — more than 3× the
    mean per-supplier quantity for that part — the NESTED-AGGREGATE +
    SEMI-JOIN-CHAIN shape (Q20 compares a supplier's stock of a part
    to half that part's shipped volume; without partsupp the same
    chain runs on shipped quantities, with the 3×-mean threshold
    chosen non-vacuous at every testdata SF: keeps 3/99/544
    suppliers, and the semi join actually filters at each).

    Scale: one (part, supplier) aggregate over one lineitem scan,
    then the part-level mean as a WINDOW over that aggregate — the
    per-part total/count ride the same partkey partitioning the
    aggregate already established, so nothing rescans the fact table
    and nothing joins back (the original agg-then-join-back form
    consumed the (part, supplier) frame twice, and per-branch column
    pruning defeated exchange reuse: the executed plan scanned
    lineitem twice — the r13 scan audit's find). Then a LEFT SEMI
    into the supplier dim. Quantities accumulate exactly so
    the 3×-mean comparison sees identical doubles on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        exact_sum("l_quantity", "qty")
    )
    by_part = "PARTITION BY l_partkey"
    dominant = (
        ps.withColumn("total", exact_sum_over("qty", by_part, "total"))
        .withColumn("nsupp", F.expr(f"count(1) OVER ({by_part})"))
        .filter(
            F.col("qty") > F.lit(3.0) * F.col("total") / F.col("nsupp")
        )
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        supp.join(
            dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi"
        )
        .orderBy("s_suppkey")
    )


DOMINANT_PART_SUPPLIERS_SQL = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, {exact_sum_sql("l_quantity", "qty")}
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
),
pt AS (
  SELECT l_partkey, {exact_sum_sql("qty", "total")},
         count(*) AS nsupp
  FROM ps
  GROUP BY l_partkey
)
SELECT s_suppkey, s_name
FROM supplier
WHERE EXISTS (
  SELECT 1 FROM ps JOIN pt USING (l_partkey)
  WHERE ps.l_suppkey = s_suppkey AND ps.qty > 3.0 * pt.total / pt.nsupp
)
ORDER BY s_suppkey
"""


# selects ~10% of orders (p90 of o_totalprice ≈ 447–450k across SFs) —
# a build side small enough to bloom but, at 100 TB, far too large to
# broadcast as a hash relation: exactly bloom_semi_join's niche
_BLOOM_HV_CUTOFF = 450_000.0


def bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filtered fact aggregation through the explicit bloom
    semi-join (operators/bloomjoin.py `bloom_semi_join`): revenue of
    lineitems belonging to HIGH-VALUE orders
    (o_totalprice > `_BLOOM_HV_CUTOFF`), per return flag / line
    status — the graded surface for the runtime-filter operator
    (r10 verdict #6; the operator itself is hypothesis-tested
    row-identical to the plain semi-join).

    Scale: the build side is a COMPUTED key set (~10% of orders) — at
    100 TB that is 10^8–10^9 keys, too big for a broadcast hash
    relation but ~125 MB as bloom bits; the bloom probes the fact
    MAP-SIDE so the residual semi-join's shuffle sees only
    |matches| + |false positives| probe rows instead of every
    lineitem. The aggregate after it is pricing_summary's exact-
    decimal shape.

    Oracle: plain ANSI ``WHERE l_orderkey IN (SELECT ...)`` — the
    bloom admits no false negatives, the residual join removes false
    positives, so the operator is row-identical to the IN."""
    from ..operators.bloomjoin import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    build = orders.filter(
        F.col("o_totalprice") > _BLOOM_HV_CUTOFF
    ).select("o_orderkey")
    pruned = bloom_semi_join(
        li, "l_orderkey", build, build_key_col="o_orderkey"
    )
    return (
        pruned.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum("l_quantity", "sum_qty"),
            exact_sum(_REVENUE, "sum_revenue"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


BLOOM_PRUNED_REVENUE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       {exact_sum_sql("l_quantity", "sum_qty")},
       {exact_sum_sql(_REVENUE, "sum_revenue")}
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_totalprice > {_BLOOM_HV_CUTOFF}
)
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


QUERIES: dict[str, QuerySpec] = {
    "pricing_summary": QuerySpec(pricing_summary, PRICING_SUMMARY_SQL),
    "pricing_summary_sparksql": QuerySpec(
        pricing_summary_sparksql, PRICING_SUMMARY_SQL
    ),
    "revenue_by_brand_sparksql": QuerySpec(
        revenue_by_brand_sparksql, REVENUE_BY_BRAND_SQL
    ),
    "revenue_by_brand": QuerySpec(revenue_by_brand, REVENUE_BY_BRAND_SQL),
    "revenue_by_brand_salted": QuerySpec(
        revenue_by_brand_salted, REVENUE_BY_BRAND_SQL
    ),
    "customer_spend_deciles": QuerySpec(
        customer_spend_deciles, CUSTOMER_SPEND_DECILES_SQL
    ),
    "orders_status_priority_cube": QuerySpec(
        orders_status_priority_cube, ORDERS_STATUS_PRIORITY_CUBE_SQL
    ),
    "top_spenders": QuerySpec(top_spenders, TOP_SPENDERS_SQL),
    "top_customers_top5": QuerySpec(top_customers_top5, TOP_CUSTOMERS_TOP5_SQL),
    "product_popularity": QuerySpec(product_popularity, PRODUCT_POPULARITY_SQL),
    "also_bought_pairs": QuerySpec(also_bought_pairs, ALSO_BOUGHT_PAIRS_SQL),
    "pairs_via_hof": QuerySpec(pairs_via_hof, ALSO_BOUGHT_PAIRS_SQL),
    "order_item_stats": QuerySpec(order_item_stats, ORDER_ITEM_STATS_SQL),
    "customers_without_orders": QuerySpec(
        customers_without_orders, CUSTOMERS_WITHOUT_ORDERS_SQL
    ),
    "segment_purchasing_power": QuerySpec(
        segment_purchasing_power, SEGMENT_PURCHASING_POWER_SQL
    ),
    "revenue_rollup": QuerySpec(revenue_rollup, REVENUE_ROLLUP_SQL),
    "international_revenue": QuerySpec(international_revenue, INTERNATIONAL_REVENUE_SQL),
    "event_type_pivot": QuerySpec(event_type_pivot, EVENT_TYPE_PIVOT_SQL),
    "customer_cohort_setops": QuerySpec(
        customer_cohort_setops, CUSTOMER_COHORT_SETOPS_SQL
    ),
    "shipping_priority": QuerySpec(shipping_priority, SHIPPING_PRIORITY_SQL),
    "regional_supplier_volume": QuerySpec(
        regional_supplier_volume, REGIONAL_SUPPLIER_VOLUME_SQL
    ),
    "promo_revenue_share": QuerySpec(
        promo_revenue_share, PROMO_REVENUE_SHARE_SQL
    ),
    "orders_grouping_sets": QuerySpec(
        orders_grouping_sets, ORDERS_GROUPING_SETS_SQL
    ),
    "part_pagerank": QuerySpec(part_pagerank, _part_pagerank_sql()),
    "order_priority_returns": QuerySpec(
        order_priority_returns, ORDER_PRIORITY_RETURNS_SQL
    ),
    "late_shipments_by_priority": QuerySpec(
        late_shipments_by_priority, LATE_SHIPMENTS_BY_PRIORITY_SQL
    ),
    "customer_order_distribution": QuerySpec(
        customer_order_distribution, CUSTOMER_ORDER_DISTRIBUTION_SQL
    ),
    "large_volume_customers": QuerySpec(
        large_volume_customers, LARGE_VOLUME_CUSTOMERS_SQL
    ),
    "dormant_high_value_customers": QuerySpec(
        dormant_high_value_customers, DORMANT_HIGH_VALUE_CUSTOMERS_SQL
    ),
    "part_triangle_count": QuerySpec(
        part_triangle_count, PART_TRIANGLE_COUNT_SQL
    ),
    "small_order_revenue": QuerySpec(
        small_order_revenue, SMALL_ORDER_REVENUE_SQL
    ),
    "top_orders_lateral": QuerySpec(top_orders_lateral, TOP_ORDERS_LATERAL_SQL),
    "promo_disjunctive_revenue": QuerySpec(
        promo_disjunctive_revenue, PROMO_DISJUNCTIVE_REVENUE_SQL
    ),
    "returned_item_customers": QuerySpec(
        returned_item_customers, RETURNED_ITEM_CUSTOMERS_SQL
    ),
    "top_supplier_by_revenue": QuerySpec(
        top_supplier_by_revenue, TOP_SUPPLIER_BY_REVENUE_SQL
    ),
    "important_part_share": QuerySpec(
        important_part_share, IMPORTANT_PART_SHARE_SQL
    ),
    "supplier_count_by_part": QuerySpec(
        supplier_count_by_part, SUPPLIER_COUNT_BY_PART_SQL
    ),
    "nation_trade_volume": QuerySpec(
        nation_trade_volume, NATION_TRADE_VOLUME_SQL
    ),
    "min_cost_supplier": QuerySpec(min_cost_supplier, MIN_COST_SUPPLIER_SQL),
    "waiting_supplier": QuerySpec(waiting_supplier, WAITING_SUPPLIER_SQL),
    "discount_revenue_delta": QuerySpec(
        discount_revenue_delta, DISCOUNT_REVENUE_DELTA_SQL
    ),
    "nation_market_share": QuerySpec(
        nation_market_share, NATION_MARKET_SHARE_SQL
    ),
    "product_profit_by_nation": QuerySpec(
        product_profit_by_nation, PRODUCT_PROFIT_BY_NATION_SQL
    ),
    "dominant_part_suppliers": QuerySpec(
        dominant_part_suppliers, DOMINANT_PART_SUPPLIERS_SQL
    ),
    # registered r12 (authored + parity-tested r11 at both scales,
    # tests/test_bloomjoin.py; r11's window had zero free slots — the
    # 89-query catch-up rotation) —
    "bloom_pruned_revenue": QuerySpec(
        bloom_pruned_revenue, BLOOM_PRUNED_REVENUE_SQL
    ),
}

"""Analytics over generator-synthesized data — S1 closed end-to-end.

The reference couples its analytics to a single-process Python
generator (`data_generator.py`); here the generator itself is a Spark
plan (generator.py), and these queries prove the WHOLE pipeline —
synthesize → explode nested items → join dim → aggregate — is
cross-engine exact: the DuckDB oracle re-derives every generated value
from the same (tag, row-id) md5 uniforms and must hash-match.

These run on constant small cardinalities (500 tx / 200 products) so
the oracle's correlated re-derivation stays cheap; the Spark side is
the same zero-shuffle ``spark.range`` plan at any n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import (
    exact_sum,
    exact_sum_final,
    exact_sum_partial,
    exact_sum_sql,
    guarded_div,
)
from ..generator import (
    gen_products,
    gen_sessions,
    gen_transactions,
    products_dim_sql,
    sessions_engagement_sql,
    transactions_items_sql,
    transactions_totals_sql,
)
from . import QuerySpec

_N_TXN, _N_USERS, _N_PRODUCTS = 500, 100, 200
_N_SESSIONS = 800


def gen_transactions_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated transactions, item-exploded to flat columns (EXP-1 /
    PRJ-2 over synthesized nested data). sf_dir is unused: the input IS
    the generator."""
    t = gen_transactions(spark, _N_TXN, _N_USERS, _N_PRODUCTS)
    return (
        t.select(
            "transaction_id", "user_id", "timestamp", "subtotal", "discount",
            "total", "payment_method", "status",
            F.posexplode("items").alias("item_idx", "item"),
        )
        .select(
            "transaction_id", "user_id", "timestamp",
            F.col("item_idx").cast("int").alias("item_idx"),
            F.col("item.product_id").alias("product_id"),
            F.col("item.quantity").alias("quantity"),
            F.col("item.unit_price").alias("unit_price"),
            F.col("item.subtotal").alias("item_subtotal"),
            "subtotal", "discount", "total", "payment_method", "status",
        )
        .orderBy("transaction_id", "item_idx")
    )


GEN_TRANSACTIONS_FLAT_SQL = f"""
WITH flat AS ({transactions_items_sql(_N_TXN, _N_USERS, _N_PRODUCTS)})
SELECT * FROM flat
ORDER BY transaction_id, item_idx
"""


def gen_revenue_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship revenue-by-category (AGG-1/AGG-5 +
    JOIN-1, spark_analysis.py:49-83) over GENERATED transactions and
    products — generator → explode → broadcast dim join → exact-sum
    aggregate, all differentially verified."""
    t = gen_transactions(spark, _N_TXN, _N_USERS, _N_PRODUCTS)
    p = gen_products(spark, _N_PRODUCTS, 25).select("product_id", "category_id")
    items = t.select(
        "transaction_id", F.explode("items").alias("item")
    ).select(
        "transaction_id",
        F.col("item.product_id").alias("product_id"),
        F.col("item.quantity").alias("quantity"),
        F.col("item.subtotal").alias("item_subtotal"),
    )
    # two-phase distinct (pre-aggregate per transaction, then roll up)
    # — same Expand-avoiding shape as revenue_by_brand
    return (
        items.join(F.broadcast(p), "product_id", "left")
        .groupBy("category_id", "transaction_id")
        .agg(
            exact_sum_partial("item_subtotal", "_rev"),
            F.sum("quantity").alias("_qty"),
        )
        .groupBy("category_id")
        .agg(
            exact_sum_final("_rev", "revenue"),
            F.sum("_qty").cast("bigint").alias("units_sold"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), "category_id")
    )


GEN_REVENUE_BY_CATEGORY_SQL = f"""
WITH flat AS ({transactions_items_sql(_N_TXN, _N_USERS, _N_PRODUCTS)}),
prod AS ({products_dim_sql(_N_PRODUCTS, 25)})
SELECT p.category_id,
       {exact_sum_sql("f.item_subtotal", "revenue")},
       CAST(SUM(f.quantity) AS BIGINT) AS units_sold,
       COUNT(DISTINCT f.transaction_id) AS n_orders
FROM flat f LEFT JOIN prod p USING (product_id)
GROUP BY p.category_id
ORDER BY revenue DESC, p.category_id
"""


def gen_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference top-spenders (AGG-2/AGG-4, spark_analysis.py:90-106 /
    TOP10.py) over generated transactions — top-10 via
    TakeOrderedAndProject."""
    t = gen_transactions(spark, _N_TXN, _N_USERS, _N_PRODUCTS)
    return (
        t.groupBy("user_id")
        .agg(
            exact_sum("total", "total_spent"),
            F.count(F.lit(1)).alias("num_orders"),
        )
        .orderBy(F.col("total_spent").desc(), "user_id")
        .limit(10)
    )


GEN_TOP_SPENDERS_SQL = f"""
WITH txn AS ({transactions_totals_sql(_N_TXN, _N_USERS)})
SELECT user_id, {exact_sum_sql("total", "total_spent")},
       count(*) AS num_orders
FROM txn GROUP BY user_id
ORDER BY total_spent DESC, user_id
LIMIT 10
"""


def gen_product_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference product-popularity Mongo pipeline (AGG-6, PDF §7.2(B))
    over generated transactions: unwind items → group by product →
    top-10 by units."""
    t = gen_transactions(spark, _N_TXN, _N_USERS, _N_PRODUCTS)
    return (
        t.select(F.explode("items").alias("item"))
        .select(
            F.col("item.product_id").alias("product_id"),
            F.col("item.quantity").alias("quantity"),
            F.col("item.subtotal").alias("item_subtotal"),
        )
        .groupBy("product_id")
        .agg(
            F.sum("quantity").cast("bigint").alias("units_sold"),
            exact_sum("item_subtotal", "revenue"),
        )
        .orderBy(F.col("units_sold").desc(), "product_id")
        .limit(10)
    )


GEN_PRODUCT_POPULARITY_SQL = f"""
WITH flat AS ({transactions_items_sql(_N_TXN, _N_USERS, _N_PRODUCTS)})
SELECT product_id,
       CAST(SUM(quantity) AS BIGINT) AS units_sold,
       {exact_sum_sql("item_subtotal", "revenue")}
FROM flat
GROUP BY product_id
ORDER BY units_sold DESC, product_id
LIMIT 10
"""


def gen_also_bought_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference pair-affinity query (JOIN-2/FLT-2/DED-1/AGG-3,
    spark_analysis.py:113-143 and the Mongo `PAIRS` pipeline) over
    generated baskets — dedup, self-join, theta filter, count, top-50."""
    from ..operators.pairs import copurchase_pairs

    t = gen_transactions(spark, _N_TXN, _N_USERS, _N_PRODUCTS)
    items = t.select(
        "transaction_id", F.explode("items.product_id").alias("product_id")
    )
    return copurchase_pairs(
        items, order_col="transaction_id", product_col="product_id", limit=50
    )


GEN_ALSO_BOUGHT_PAIRS_SQL = f"""
WITH flat AS ({transactions_items_sql(_N_TXN, _N_USERS, _N_PRODUCTS)}),
items AS (SELECT DISTINCT transaction_id, product_id FROM flat),
pairs AS (
  SELECT a.product_id AS product_x, b.product_id AS product_y
  FROM items a JOIN items b
    ON a.transaction_id = b.transaction_id
   AND a.product_id < b.product_id
)
SELECT product_x, product_y, count(*) AS co_purchase_count
FROM pairs
GROUP BY product_x, product_y
ORDER BY co_purchase_count DESC, product_x, product_y
LIMIT 50
"""


def gen_engagement_vs_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's integrated cross-system query (EP-3,
    integrated_query_engagement_vs_spend.py: HBase engagement leg +
    Mongo spend leg + pandas join/derive) run ENTIRELY over generated
    data: gen_sessions supplies the engagement leg (AGG-8/9),
    gen_transactions the spend leg (AGG-13→AGG-2), joined left with
    null-fill (JOIN-3/FN-11) and the derived score / guarded division
    (FN-2/FN-3). Synthesis to insight in one oracle-checked plan."""
    sess = gen_sessions(spark, _N_SESSIONS, _N_USERS, _N_PRODUCTS)
    eng = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("duration_seconds").cast("bigint").alias("total_duration_s"),
    )
    spend = (
        gen_transactions(spark, _N_TXN, _N_USERS, _N_PRODUCTS)
        .groupBy("user_id")
        .agg(
            exact_sum("total", "total_spent"),
            F.count(F.lit(1)).alias("num_orders"),
        )
    )
    joined = eng.join(spend, "user_id", "left").na.fill(
        {"total_spent": 0.0, "num_orders": 0}
    )
    avg_dur = F.col("total_duration_s").cast("double") / F.col("n_sessions")
    return joined.select(
        "user_id",
        "n_sessions",
        "total_duration_s",
        "total_spent",
        "num_orders",
        (F.col("n_sessions") * (1.0 + avg_dur / 600.0)).alias("engagement_score"),
        guarded_div(F.col("total_spent"), F.col("num_orders")).alias(
            "spend_per_order"
        ),
    ).orderBy(F.col("total_spent").desc(), F.col("n_sessions").desc(), "user_id")


GEN_ENGAGEMENT_VS_SPEND_SQL = f"""
WITH sess AS ({sessions_engagement_sql(_N_SESSIONS, _N_USERS)}),
eng AS (
  SELECT user_id, count(*) AS n_sessions,
         CAST(SUM(duration_s) AS BIGINT) AS total_duration_s
  FROM sess GROUP BY user_id
),
txn AS ({transactions_totals_sql(_N_TXN, _N_USERS)}),
spend AS (
  SELECT user_id, {exact_sum_sql("total", "total_spent")},
         count(*) AS num_orders
  FROM txn GROUP BY user_id
)
SELECT e.user_id, e.n_sessions, e.total_duration_s,
       coalesce(s.total_spent, 0.0) AS total_spent,
       coalesce(s.num_orders, 0) AS num_orders,
       e.n_sessions * (1.0 + (CAST(e.total_duration_s AS DOUBLE) / e.n_sessions) / 600.0)
         AS engagement_score,
       CASE WHEN coalesce(s.num_orders, 0) > 0
            THEN coalesce(s.total_spent, 0.0) / s.num_orders
            ELSE 0.0 END AS spend_per_order
FROM eng e LEFT JOIN spend s USING (user_id)
ORDER BY total_spent DESC, n_sessions DESC, e.user_id
"""


QUERIES: dict[str, QuerySpec] = {
    "gen_transactions_flat": QuerySpec(
        gen_transactions_flat, GEN_TRANSACTIONS_FLAT_SQL
    ),
    "gen_revenue_by_category": QuerySpec(
        gen_revenue_by_category, GEN_REVENUE_BY_CATEGORY_SQL
    ),
    "gen_engagement_vs_spend": QuerySpec(
        gen_engagement_vs_spend, GEN_ENGAGEMENT_VS_SPEND_SQL
    ),
    "gen_top_spenders": QuerySpec(gen_top_spenders, GEN_TOP_SPENDERS_SQL),
    "gen_product_popularity": QuerySpec(
        gen_product_popularity, GEN_PRODUCT_POPULARITY_SQL
    ),
    "gen_also_bought_pairs": QuerySpec(
        gen_also_bought_pairs, GEN_ALSO_BOUGHT_PAIRS_SQL
    ),
}

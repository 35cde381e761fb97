"""Co-purchase pair mining — two equivalent formulations.

The reference computes "products bought in pairs most frequently" two
ways: a Spark self-join (reference spark_analysis.py:113-143) and a
MongoDB `$reduce`/`$map` index-pair generator (reference `PRODUCTS
BOUGHT IN PAIRS  MOST FREQUENTLY`:15-39). Both are provided here and
must agree (differential test, SURVEY.md §5 practice 4).

Scale: the self-join hashes the (order, product) items on the order
key once, before the dedup, with the session's shuffle partitions.
The dedup and both join sides then share that one partitioning, so
the plan has one exchange below the join; a dedup on its own shuffles
on the whole (order, product) row, and the join shuffled again on the
order (sf0.1 fixture, 4 vCPU, median of 5 warm runs: 1.78 → 1.21 s,
4 → 3 jobs).
Per-order fan-out is quadratic in basket size, which is bounded (~few
dozen) — dedup-before-join (reference DED-1, spark_analysis.py:118)
keeps it minimal, and AQE skew-join splits any pathological basket.
The HOF path trades the join for one groupBy plus in-row pair
expansion; on the same data it was no faster (1.72–1.99 s).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _top_pairs(pairs: DataFrame, limit: int | None) -> DataFrame:
    counted = pairs.groupBy("product_x", "product_y").agg(
        F.count(F.lit(1)).alias("co_purchase_count")
    )
    # Deterministic top-K: tie-break on the pair itself.
    ordered = counted.orderBy(
        F.col("co_purchase_count").desc(), F.col("product_x"), F.col("product_y")
    )
    return ordered.limit(limit) if limit else ordered


def copurchase_pairs(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    product_col: str = "l_partkey",
    limit: int | None = 50,
) -> DataFrame:
    """Self-join formulation (reference JOIN-2 + FLT-2 + DED-1 + AGG-3,
    spark_analysis.py:113-139)."""
    items = (
        lineitem.select(
            F.col(order_col).alias("order_id"), F.col(product_col).alias("product_id")
        )
        .repartition("order_id")
        .dropDuplicates()
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, F.col("a.order_id") == F.col("b.order_id"))
        .where(F.col("a.product_id") < F.col("b.product_id"))
        .select(
            F.col("a.product_id").alias("product_x"),
            F.col("b.product_id").alias("product_y"),
        )
    )
    return _top_pairs(pairs, limit)


def copurchase_pairs_hof(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    product_col: str = "l_partkey",
    limit: int | None = 50,
) -> DataFrame:
    """Array-HOF formulation (reference ARR-2, `PRODUCTS BOUGHT IN
    PAIRS  MOST FREQUENTLY`:15-39): per-order distinct sorted basket →
    all index pairs (i<j) via transform/slice/flatten → explode.

    One shuffle total (the basket groupBy); pair expansion happens
    in-row inside whole-stage codegen.
    """
    baskets = (
        lineitem.groupBy(F.col(order_col).alias("order_id"))
        .agg(F.sort_array(F.collect_set(F.col(product_col))).alias("items"))
        .where(F.size("items") >= 2)
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(x.alias("product_x"), y.alias("product_y")),
            ),
        )
    )
    pairs = baskets.select(F.explode(pair_expr).alias("p")).select(
        "p.product_x", "p.product_y"
    )
    return _top_pairs(pairs, limit)

"""Distributed triangle counting — the cohesion statistic over the
co-purchase graph (graph-analytics family next to operators/pagerank.py
and operators/components.py; the reference's analytics stop at pair
frequencies, `PRODUCTS BOUGHT IN PAIRS  MOST FREQUENTLY`:1-40, so this
is a capability upgrade).

Algorithm: the degree-ordered compact-forward scheme (Latapy 2008; the
same orientation MapReduce/GraphX triangle counters use). Undirected
edges are oriented from the endpoint that is SMALLER under the total
order (degree, node) to the larger one; every triangle then has exactly
one "pivot" node with two out-edges, so

    triangles = |{ (a,b), (a,c) oriented wedges : (b,c) oriented }|

counted once each, no post-hoc division by 3 or 6.

Why degree ordering and not plain id ordering at 100 TB: the wedge join
fans out as sum_v out-deg(v)^2. Orienting toward higher degree caps
every out-degree at O(sqrt(|E|)) (a node of degree d has out-edges only
to neighbors of degree >= d, and there can be at most 2|E|/d of those),
so the wedge count is O(|E|^1.5) regardless of skew — a power-law hub
with 10^7 neighbors contributes ZERO wedges as a pivot instead of
10^14. Id ordering keeps the hub's full fan-out and melts the shuffle.

Plan shape: one degree aggregate (|V| rows), two degree-attach joins,
one wedge self-join shuffled on the pivot, one closing semi-join
shuffled on (b, c). All equi-joins — AQE skew-split applies; nothing
is broadcast (degrees and edges are both data-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import resolve_materialize


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected simple graph.

    ``edges``: columns (u, v), one row per undirected edge with u < v,
    no duplicates, no self-loops (pre-dedup otherwise — same contract
    as operators/pagerank.py's edge input).

    Returns a single row (n_nodes, n_edges, n_triangles). That row is
    materialized eagerly (a 1-row localCheckpoint) so the
    loop-invariant persisted frames can be RELEASED before returning —
    the MLlib train-then-unpersist idiom; without it every call leaks
    three edge-sized cached frames into the session for good.
    ``lazy_results()`` keeps the lazy plan and leaves the persisted
    frames alive for the caller (the plan-shape tests assert on that
    form).
    """
    mat = resolve_materialize()
    # `edges` is referenced four times (two degree attaches, the edge
    # count, the degree build) and `oriented` three times (both wedge
    # legs + the closing side) — persist both so Catalyst plans ONE
    # edge build instead of re-expanding the (possibly join-heavy)
    # upstream subtree per reference. Same loop-invariant-frame
    # discipline as operators/pagerank.py.
    edges = edges.select("u", "v").persist()
    deg = None
    oriented = None
    try:
        # degree over the undirected edge set
        ends = edges.select(F.col("u").alias("node")).unionAll(
            edges.select(F.col("v").alias("node"))
        )
        deg = (
            ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg")).persist()
        )

        # orient: src = smaller endpoint under (deg, node), dst = larger
        du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
        with_deg = edges.join(du, "u").join(dv, "v")
        u_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        ).persist()

        # wedges at each pivot src: pairs of out-neighbors, ordered by
        # the same total order the orientation used — which is exactly
        # "an oriented (b, c) edge may exist", so the closing join
        # needs no extra ordering predicate.
        e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        e2 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
        closing = oriented.select(
            F.col("src").alias("b"), F.col("dst").alias("c")
        )
        # Each wedge appears in BOTH orderings (b,c)/(c,b); the
        # orientation is a total order, so of the two at most one
        # exists in `closing` — the semi-join therefore counts every
        # triangle exactly once (avoiding a degree re-attach just to
        # pre-order the pair).
        wedges = e1.join(e2, "a").where(F.col("b") != F.col("c"))
        tri = wedges.join(closing, ["b", "c"], "left_semi").agg(
            F.count(F.lit(1)).alias("n_triangles")
        )
        n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
        result = (
            n_nodes.join(F.broadcast(n_edges))
            .join(F.broadcast(tri))
            .select("n_nodes", "n_edges", "n_triangles")
        )
        if not mat:
            return result
        return result.localCheckpoint(eager=True)  # one row
    finally:
        # runs on the error path too — a failed job must not strand
        # the three caches in storage memory. In lazy mode the caller
        # owns them.
        if mat:
            edges.unpersist()
            for df in (deg, oriented):
                if df is not None:
                    df.unpersist()

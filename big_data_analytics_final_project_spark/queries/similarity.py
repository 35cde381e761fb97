"""Similarity-search queries over the `embeddings` zone
(see operators/similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.kmeans import kmeans_assign, kmeans_assign_sql
from ..operators.similarity import (
    ann_hyperplane_lsh,
    ann_hyperplane_lsh_sql,
    ann_ivf,
    ann_ivf_sql,
    embedding_near_dup,
    embedding_near_dup_sql,
    knn_bruteforce,
    knn_bruteforce_sql,
)
from ..sources import load_table
from . import QuerySpec

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_RP_IN_DIMS = 64  # embeddings zone vector width (zip_with pads a
# mismatched weight row with nulls and the whole fold goes NULL — the
# oracle catches exactly this)
_RP_OUT_DIMS = 16  # 4x compression; JL distortion at 6 dims was too
# coarse to preserve distance ordering (corr ~0.2 vs ~0.5 at 16)
_K_EXACT = 5
_K_ANN = 3
# the corpus has no planted duplicates (max pairwise cosine ≈ 0.48);
# 0.3 keeps the near-dup result non-trivial while staying selective
_NEAR_DUP_T = 0.3


def knn_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_bruteforce(emb, lambda c: c < _N_QUERIES, k=_K_EXACT)


def ann_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_hyperplane_lsh(emb, lambda c: c < _N_QUERIES, k=_K_ANN)


def ann_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_ivf(emb, lambda c: c < _N_QUERIES, k=_K_ANN)


def _rp_weights(out_dims: int, in_dims: int) -> list[list[float]]:
    """±1 Achlioptas-style projection matrix from md5 parity — the same
    deterministic derivation the hyperplane LSH uses, so both engines
    (and every rerun) share one matrix without shipping RNG state."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest(), 16) % 2 == 0
            else -1.0
            for d in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project the
    embedding column onto `_RP_OUT_DIMS` fixed ±1 hyperplanes — the
    cheap dense preprocessing before ANN indexing or k-means at scale
    (distances preserved within JL distortion at a fraction of the
    width).

    Scale: map-only — one in-order fold per output dim against literal
    weights, no shuffle, no UDF; output columns are scalars (p0..p5)
    so the result stays driver-hashable."""
    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import functions as F

    v = F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    base = emb.select("vec_id", "label", v.alias("_v"))
    weights = _rp_weights(_RP_OUT_DIMS, _RP_IN_DIMS)
    projs = [
        F.aggregate(
            F.zip_with(
                F.col("_v"),
                F.array(*[F.lit(w) for w in row]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"p{j}")
        for j, row in enumerate(weights)
    ]
    return base.select("vec_id", "label", *projs).orderBy("vec_id")


def embedding_random_projection_sql() -> str:
    # Width guard keeps the engines' failure modes IDENTICAL: Spark's
    # zip_with null-pads any vector whose width != the 64-wide weight
    # rows and the whole fold goes NULL, so the twin must also yield
    # NULL — iterating range(1, len(_v)+1) instead would silently
    # compute a truncated dot product on short vectors and surface only
    # as an opaque oracle hash mismatch (r4 advice).
    weights = _rp_weights(_RP_OUT_DIMS, _RP_IN_DIMS)
    cols = []
    for j, row in enumerate(weights):
        lit = "[" + ", ".join(f"{w:.1f}" for w in row) + "]"
        cols.append(
            f"CASE WHEN len(_v) = {_RP_IN_DIMS} THEN "
            f"list_aggregate(list_transform(range(1, {_RP_IN_DIMS} + 1), "
            f"i -> _v[i] * ({lit})[i]), 'sum') END AS p{j}"
        )
    cols_sql = ",\n       ".join(cols)
    return f"""
WITH base AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS _v
  FROM embeddings
)
SELECT vec_id, label,
       {cols_sql}
FROM base
ORDER BY vec_id
"""


def embedding_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding zone — the 4x
    compression pass run before shipping vectors to an ANN index —
    with per-vector reconstruction error so the quality loss is
    measured, not assumed: per-dim global [min, max] → 0..255 codes →
    dequantize → per-vector MSE + mean code.

    Scale: posexplode → one (dim)-keyed partial aggregate whose output
    is bounded by DIMENSIONALITY (64 rows — broadcast justified by
    construction, unlike a data-sized table), a map-side quantize, and
    one (vec_id)-keyed aggregate. Cross-engine exactness: rounding is
    floor(x + 0.5) in double arithmetic (never a decimal cast — the
    HALF_UP/HALF_EVEN tie split), and the MSE accumulates floor-
    quantized INTEGER squared errors (order-independent sums; the
    operators/kmeans.py pattern)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("pos", "x"),
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "x")
    stats = dims.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    spread = F.col("mx") - F.col("mn")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.floor((F.col("x") - F.col("mn")) * 255.0 / spread + 0.5),
    ).otherwise(F.lit(0)).cast("bigint")
    quant = dims.join(F.broadcast(stats), "dim").select(
        "vec_id", "x", "mn", "mx", code.alias("code")
    )
    err = F.col("x") - (
        F.col("mn")
        + F.col("code").cast("double") * (F.col("mx") - F.col("mn")) / 255.0
    )
    e2q = F.floor(err * err * 1e12 + 0.5).cast("bigint")
    return (
        quant.select("vec_id", "code", e2q.alias("e2q"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum("e2q").alias("_se"),
            F.sum("code").alias("_sc"),
        )
        .select(
            "vec_id",
            "n_dims",
            ((F.col("_se").cast("double") / F.col("n_dims")) / 1e12).alias(
                "mse"
            ),
            (F.col("_sc").cast("double") / F.col("n_dims")).alias("mean_code"),
        )
        .orderBy("vec_id")
    )


EMBEDDING_SCALAR_QUANTIZE_SQL = """
WITH dims0 AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS xf
  FROM embeddings
),
dims AS (
  SELECT vec_id, dim, CAST(xf AS DOUBLE) AS x FROM dims0
),
stats AS (
  SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim
),
quant AS (
  SELECT d.vec_id, d.x, s.mn, s.mx,
         CASE WHEN s.mx > s.mn THEN
           CAST(floor((d.x - s.mn) * 255.0 / (s.mx - s.mn) + 0.5) AS BIGINT)
         ELSE 0 END AS code
  FROM dims d JOIN stats s USING (dim)
),
errs AS (
  SELECT vec_id, code,
         CAST(floor(
           (x - (mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0))
           * (x - (mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0))
           * 1e12 + 0.5) AS BIGINT) AS e2q
  FROM quant
)
SELECT vec_id,
       count(*) AS n_dims,
       (CAST(CAST(SUM(e2q) AS BIGINT) AS DOUBLE) / count(*)) / 1e12 AS mse,
       CAST(CAST(SUM(code) AS BIGINT) AS DOUBLE) / count(*) AS mean_code
FROM errs
GROUP BY vec_id
ORDER BY vec_id
"""


def dedup_semantic_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs
    (IVF-cell-blocked, `operators/similarity.embedding_near_dup`) →
    connected components (`operators/components.py` pointer-jumping
    min-label) → per-vector cluster id — the embedding-space twin of
    the token-space `dedup_clusters` (MinHash-LSH → components). At
    100 TB this is the fuzzy-semantic pass curation pipelines run
    AFTER lexical dedup: paraphrases and translations share no
    shingles but sit close in embedding space, so only this pass
    catches them. The pairs side is candidate-sized (cell-blocked,
    and since r7 skew-hardened: oversized cells md5-split into capped
    sub-blocks with a rep chain so all-duplicate batches stay bounded
    AND one component — tests/test_skew.py proves both on a
    90%-one-cell corpus), and the component loop is log-round pointer
    jumping — the same audited scale shapes, composed.

    The oracle wraps the near-dup pair SQL in the same recursive
    reachability CTE the token clusters use, so the iterative Spark
    fixpoint is again checked against a declarative closure."""
    from ..operators.components import connected_components

    pairs = embedding_near_dup(
        load_table(spark, sf_dir, "embeddings"), threshold=_NEAR_DUP_T
    ).select("vec_a", "vec_b")
    labels = connected_components(pairs, "vec_a", "vec_b")
    return labels.select(
        F.col("node").alias("vec_id"), F.col("label").alias("cluster_id")
    ).orderBy("vec_id")


DEDUP_SEMANTIC_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({embedding_near_dup_sql(_NEAR_DUP_T)}),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
reach(node, root) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS vec_id, min(root) AS cluster_id
FROM reach GROUP BY node ORDER BY vec_id
"""


QUERIES: dict[str, QuerySpec] = {
    "knn_bruteforce": QuerySpec(
        knn_bruteforce_q, knn_bruteforce_sql(f"_id < {_N_QUERIES}", _K_EXACT)
    ),
    "ann_hyperplane_lsh": QuerySpec(
        ann_lsh_q, ann_hyperplane_lsh_sql(f"_id < {_N_QUERIES}", _K_ANN)
    ),
    "ann_ivf": QuerySpec(ann_ivf_q, ann_ivf_sql(f"_id < {_N_QUERIES}", _K_ANN)),
    "embedding_near_dup": QuerySpec(
        lambda spark, sf_dir: embedding_near_dup(
            load_table(spark, sf_dir, "embeddings"), threshold=_NEAR_DUP_T
        ),
        embedding_near_dup_sql(_NEAR_DUP_T),
    ),
    "dedup_semantic_clusters": QuerySpec(
        dedup_semantic_clusters_q, DEDUP_SEMANTIC_CLUSTERS_SQL
    ),
    # iterative Lloyd's k-means, deterministic end-to-end — the trained
    # upgrade of ann_ivf's md5-sampled codebook, and the
    # semantic-bucketing op itself (operators/kmeans.py)
    "embedding_kmeans": QuerySpec(
        lambda spark, sf_dir: kmeans_assign(
            load_table(spark, sf_dir, "embeddings"), n_clusters=8, n_iters=3
        ),
        kmeans_assign_sql(n_clusters=8, n_iters=3),
    ),
    "embedding_scalar_quantize": QuerySpec(
        embedding_scalar_quantize, EMBEDDING_SCALAR_QUANTIZE_SQL
    ),
    "embedding_random_projection": QuerySpec(
        embedding_random_projection, embedding_random_projection_sql()
    ),
}

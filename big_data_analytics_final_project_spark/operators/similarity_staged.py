"""Scan-drained variants of the IVF similarity operators
(`operators/similarity.py`), staged through one eager
``localCheckpoint`` of the quantizer ASSIGNMENT frame — the r16 dedup
drain playbook (operators/dedup.py, tests/test_dedup_drain.py) applied
to the embeddings zone.

The lazy shapes in `similarity.py` serve as the row-identity twins
(tests/test_similarity_drain.py). The join machinery is duplicated
between the two modules; folding these variants back into
`similarity.py` as a `materialize` flag, and deleting this module, is
open work.

The drained physical contract, pinned per pytest run: TWO embeddings
scans per query execution —

  1. the centroid-fit pass (`_ivf_ranked`'s TakeOrderedAndProject over
     md5(id): the codebook selection must see every row before any
     assignment can start), and
  2. the assignment pass (corpus × broadcast codebook), whose output —
     the (id, vector, cell) frame — is the checkpoint.

The lazy shapes executed THREE (fit + each derived branch re-scanning
the corpus: ann_ivf's index/probe sides, near-dup's self-join sides).
Two is the DELIBERATE floor, same trade the collapsed-jaccard drain
documents: the only single-scan route would checkpoint the raw corpus
frame itself before the fit, and materializing the full embeddings
zone to save one columnar scan inverts the 100 TB economics — the
assignment frame, by contrast, IS the product of the build phase (at
scale it is written once as the zone's cell-partitioned layout and
probed many times; checkpointing it here is the single-session
equivalent of that index build).

Staging blocks are freed once the result checkpoint lands
(`operators/checkpoints.py`); plan tooling flips materialization off
via ``lazy_results`` and sees the full join shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checkpoints import resolve_materialize, unpersist_local_checkpoint
from .similarity import _as_double, _ivf_ranked, with_cosine


def ann_ivf_staged(
    embeddings: DataFrame,
    query_pred,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    materialize: bool | None = None,
) -> DataFrame:
    """`similarity.ann_ivf` with the ranked-assignment frame staged
    through one eager checkpoint: the index side (every vector's rn=1
    cell) and the probe side (query vectors' rn<=n_probe cells) are
    both filters OVER that checkpoint instead of independent
    re-derivations from parquet. Value-identical to the lazy operator
    (row-identity pinned); only the executed scan count changes, 3->2.

    The checkpoint keeps exactly the rows either consumer reads:
    rn=1 for all vectors (the inverted file) plus rn<=n_probe for
    query vectors — corpus + |Q|·(n_probe-1) rows, never the full
    n_centroids-wide ranking."""
    mat = resolve_materialize(materialize)
    base = embeddings.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
    )
    assigned = _ivf_ranked(base, n_centroids).filter(
        (F.col("rn") == 1)
        | (query_pred(F.col("_id")) & (F.col("rn") <= n_probe))
    )
    if mat:
        assigned = assigned.localCheckpoint(eager=True)
    vec_bucket = assigned.filter(F.col("rn") == 1).select(
        F.col("_id").alias("neighbor_id"), F.col("_v").alias("cv2"),
        F.col("cid").alias("bucket"),
    )
    probes = assigned.filter(
        query_pred(F.col("_id")) & (F.col("rn") <= n_probe)
    ).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("qv"),
        F.col("cid").alias("bucket"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    out = (
        vec_bucket.join(F.broadcast(probes), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .transform(lambda d: with_cosine(d, "qv", "cv2"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
        .orderBy("query_id", "rank")
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(assigned)
    return out


def embedding_near_dup_staged(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = 16,
    max_cell_rows: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    materialize: bool | None = None,
) -> DataFrame:
    """`similarity.embedding_near_dup` with the cell-assignment frame
    (`cells`: one (id, vector, cid) row per vector) staged through one
    eager checkpoint; the per-cell size aggregate, both self-join
    sides, and the oversized-cell rep chain all re-derive from it.
    Value-identical to the lazy operator (row-identity pinned),
    including the skew-hardened sub-block split and rep chain; only
    the executed scan count changes, 3->2."""
    mat = resolve_materialize(materialize)
    base = embeddings.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
    )
    cells = _ivf_ranked(base, n_centroids).filter(F.col("rn") == 1).select(
        "_id", "_v", "cid"
    )
    if mat:
        cells = cells.localCheckpoint(eager=True)
    sizes = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("c_n"))
    n_sub = F.ceil(F.col("c_n") / F.lit(float(max_cell_rows))).cast("bigint")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("_id").cast("string"), F.lit(":cellsplit"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    sub = (
        F.when(F.col("c_n") > max_cell_rows, h % n_sub)
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    blocked = cells.join(F.broadcast(sizes), "cid").select(
        "_id", "_v", "cid", sub.alias("sub"), "c_n"
    )
    a = blocked.select(
        F.col("_id").alias("vec_a"), F.col("_v").alias("va"), "cid", "sub"
    )
    b = blocked.select(
        F.col("_id").alias("vec_b"), F.col("_v").alias("vb"), "cid", "sub"
    )
    in_block = (
        a.join(b, ["cid", "sub"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .transform(lambda d: with_cosine(d, "va", "vb"))
        .select("vec_a", "vec_b", "cosine_sim")
    )
    reps = (
        blocked.filter(F.col("c_n") > max_cell_rows)
        .groupBy("cid", "sub")
        .agg(
            F.min("_id").alias("rid"),
            F.expr("min_by(_v, _id)").alias("rv"),
        )
    )
    ra = reps.select(
        "cid", "sub", F.col("rid").alias("id_a"), F.col("rv").alias("va")
    )
    rb = reps.select(
        "cid",
        (F.col("sub") - 1).alias("sub"),
        F.col("rid").alias("id_b"),
        F.col("rv").alias("vb"),
    )
    chain = (
        ra.join(rb, ["cid", "sub"])
        .transform(lambda d: with_cosine(d, "va", "vb"))
        .select(
            F.least("id_a", "id_b").alias("vec_a"),
            F.greatest("id_a", "id_b").alias("vec_b"),
            "cosine_sim",
        )
    )
    out = (
        in_block.unionByName(chain)
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(cells)
    return out

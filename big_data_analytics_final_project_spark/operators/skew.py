"""Skew-mitigation helpers: salting for pathological hot keys.

AQE's skew-join handling (on by default, session.py) covers the common
case by splitting oversized post-shuffle partitions. These helpers are
for the cases AQE can't fix:

- `salted_agg`: a two-stage aggregation when ONE key dominates so
  badly that even a split partition's final-merge task is hot. Stage 1
  aggregates on (key, salt) — spreading the hot key over `n_salts`
  reducers — stage 2 merges the per-salt partials. Only works for
  decomposable aggregates (sum/count/min/max).
- `salted_broadcast_dim`: replicate a broadcast-sized dim `n_salts`
  times so a salted fact side can join on (key, salt). For hash joins
  where the dim is NOT broadcastable, salting the fact and exploding
  the dim is the classic pattern; with a broadcastable dim Spark never
  shuffles the fact anyway, so this exists for the shuffled-join case.

Both are deterministic: the salt is a hash of stable row identity, not
rand(), so reruns and retried tasks produce identical partitioning —
a correctness requirement under speculative execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, identity_cols: list[str]) -> DataFrame:
    """Deterministic salt in [0, n_salts) from stable identity columns
    (NOT rand(): task retries must re-derive the same salt)."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in identity_cols]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[Column, object]],
    n_salts: int,
    identity_cols: list[str],
) -> DataFrame:
    """Two-stage skew-safe aggregation for decomposable aggregates.

    `aggs` maps output name → (stage1_agg_column, stage2_merge) where
    stage2_merge is a callable (partial column name → Column) that
    re-aggregates the per-salt partials. Keep exactness-sensitive
    accumulators in their exact form through stage 1
    (`functions.numeric.exact_sum_partial`) and only finish them to
    double in stage 2 (`exact_sum_final`) — merging already-finalized
    doubles reintroduces order dependence. Example:

        salted_agg(events, ["user_id"],
                   {"n": (F.count(F.lit(1)).alias("n"),
                          lambda c: F.sum(c)),
                    "total": (exact_sum_partial("value", "total"),
                              lambda c: exact_sum_final(c, "total"))},
                   n_salts=16, identity_cols=["event_id"])
    """
    stage1 = (
        with_salt(df, n_salts, identity_cols)
        .groupBy(*key_cols, "_salt")
        .agg(*[c for c, _ in aggs.values()])
    )
    return stage1.groupBy(*key_cols).agg(
        *[fn(name).alias(name) for name, (_, fn) in aggs.items()]
    )


def salted_broadcast_dim(dim: DataFrame, n_salts: int) -> DataFrame:
    """Explode a dim to one copy per salt value, for joining against a
    `with_salt`-ed fact on (key, _salt)."""
    return dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    n_salts: int,
    identity_cols: list[str],
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: fact salted deterministically, dim
    replicated per salt, join on (on + _salt). Result rows equal the
    plain join's exactly; only the shuffle distribution changes.

    Fact-preserving modes only (inner/left/left_semi/left_anti): the
    dim side is replicated ``n_salts`` times, so any mode that emits
    unmatched DIM rows (right/full outer) would emit each of them once
    per salt copy — not the plain join's result. Salt the other side's
    frame as the "fact" instead for those shapes."""
    normalized = how.replace("_", "").replace("outer", "")
    if normalized not in {"inner", "left", "leftsemi", "semi", "leftanti", "anti"}:
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated dim "
            "side would emit unmatched rows once per salt. Swap the inputs "
            "so the preserved side is the salted fact."
        )
    f = with_salt(fact, n_salts, identity_cols)
    d = salted_broadcast_dim(dim, n_salts)
    return f.join(d, [*on, "_salt"], how).drop("_salt")

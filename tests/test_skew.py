"""Salting helpers must be RESULT-transparent: salted plans produce
exactly the rows the plain formulation produces — only the shuffle
distribution may differ."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.functions.numeric import (
    exact_sum,
    exact_sum_final,
    exact_sum_partial,
)
from big_data_analytics_final_project_spark.operators.skew import (
    salted_agg,
    salted_join,
    with_salt,
)
from big_data_analytics_final_project_spark.sources import load_table

from .conftest import SF_SMOKE


def test_salted_agg_matches_plain(spark):
    events = load_table(spark, SF_SMOKE, "events")
    plain = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("value", "total"),
        F.max("event_id").alias("max_eid"),
    )
    salted = salted_agg(
        events,
        ["user_id"],
        {
            "n": (F.count(F.lit(1)).alias("n"), lambda c: F.sum(c)),
            # exact partials stay exact through stage 1; finish in stage 2
            "total": (
                exact_sum_partial("value", "total"),
                lambda c: exact_sum_final(c, "total"),
            ),
            "max_eid": (F.max("event_id").alias("max_eid"), lambda c: F.max(c)),
        },
        n_salts=16,
        identity_cols=["event_id"],
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b


def test_salted_join_matches_plain(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, SF_SMOKE, "part").select("p_partkey", "p_brand")
    plain = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", "l_partkey", "p_brand"
    )
    salted = salted_join(
        li.withColumnRenamed("l_partkey", "p_partkey"),
        part,
        on=["p_partkey"],
        n_salts=8,
        identity_cols=["l_orderkey", "p_partkey"],
    ).select("l_orderkey", F.col("p_partkey").alias("l_partkey"), "p_brand")
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b


def test_salted_join_rejects_dim_preserving_modes(spark):
    """right/full outer would emit unmatched dim rows once per salt copy;
    the operator refuses instead of silently multiplying rows."""
    import pytest

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_partkey")
    part = load_table(spark, SF_SMOKE, "part").select("p_partkey")
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(
                li.withColumnRenamed("l_partkey", "p_partkey"),
                part,
                on=["p_partkey"],
                n_salts=4,
                identity_cols=["p_partkey"],
                how=how,
            )


def _skewed_embeddings(spark):
    """200 vectors, 180 of them IDENTICAL — the all-near-duplicate
    batch from the r6 verdict: identical vectors tie on cosine to
    every centroid, so ANY quantizer (and any tie-break) puts all 180
    in ONE cell, which unsplit means C(180,2)=16110 candidate pairs
    from that cell alone."""
    rows = []
    for i in range(200):
        if i < 180:
            vec = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        else:
            j = i - 180
            vec = [0.0] * 8
            vec[j % 7 + 1] = 1.0
            vec[0] = 0.01 * j
        rows.append((i, vec))
    return rows, spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )


def test_near_dup_split_bounds_oversized_cells(spark):
    """An oversized IVF cell must be md5-split into capped sub-blocks:
    candidates (and thus emitted pairs) drop from quadratic-in-cell to
    ~cap per vector, while the rep chain keeps the duplicate batch ONE
    connected component instead of one clique per sub-block."""
    from big_data_analytics_final_project_spark.operators.components import (
        connected_components,
    )
    from big_data_analytics_final_project_spark.operators.similarity import (
        embedding_near_dup,
    )

    _, emb = _skewed_embeddings(spark)
    cap = 16
    unsplit = embedding_near_dup(emb, threshold=0.3, max_cell_rows=10**9)
    split = embedding_near_dup(emb, threshold=0.3, max_cell_rows=cap)
    n_unsplit = unsplit.count()
    n_split = split.count()
    assert n_unsplit >= 180 * 179 // 2  # the quadratic cell, unsplit
    # split bound: every vector meets at most ~cap in-block neighbors
    # plus the rep chain — orders of magnitude under quadratic
    assert 0 < n_split <= 200 * cap
    # the duplicate batch stays ONE component despite disjoint blocks
    labels = connected_components(
        split.select("vec_a", "vec_b"), "vec_a", "vec_b"
    )
    dup_labels = {
        r.label for r in labels.filter(F.col("node") < 180).collect()
    }
    assert len(dup_labels) == 1, dup_labels
    assert labels.filter(F.col("node") < 180).count() == 180


def test_near_dup_staged_split_path_matches_lazy(spark):
    """The registered query runs `embedding_near_dup` materialized
    (its cell assignment staged through a checkpoint); the sf-scale
    drain pins (tests/test_similarity_drain.py) never exercise the
    oversized-cell split, so pin the split+chain machinery on the
    skewed corpus materialized against the same operator's
    `lazy_results()` plan explicitly."""
    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
    )
    from big_data_analytics_final_project_spark.operators.similarity import (
        embedding_near_dup,
    )

    _, emb = _skewed_embeddings(spark)
    staged = embedding_near_dup(
        emb, threshold=0.3, max_cell_rows=16
    ).collect()
    with lazy_results():
        lazy = embedding_near_dup(
            emb, threshold=0.3, max_cell_rows=16
        ).collect()
    assert sorted(map(tuple, staged)) == sorted(map(tuple, lazy))
    assert staged, "empty relation would make the pin vacuous"


def test_near_dup_split_path_matches_duckdb_oracle(spark):
    """The graded SFs never exercise the split (no cell exceeds the
    default cap), so prove the split+chain arithmetic cross-engine on
    the skewed corpus explicitly."""
    import duckdb
    import pyarrow as pa

    from big_data_analytics_final_project_spark.operators.similarity import (
        embedding_near_dup,
        embedding_near_dup_sql,
    )

    from .parity import compare

    rows, emb = _skewed_embeddings(spark)
    got = embedding_near_dup(emb, threshold=0.3, max_cell_rows=16)
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], type=pa.list_(pa.float64())
            ),
        }
    )
    con = duckdb.connect()
    con.register("embeddings", tbl)
    compare(got, con.sql(embedding_near_dup_sql(0.3, max_cell_rows=16)))


def test_salt_is_deterministic(spark):
    events = load_table(spark, SF_SMOKE, "events")
    s1 = with_salt(events, 16, ["event_id"]).select("event_id", "_salt")
    s2 = with_salt(events, 16, ["event_id"]).select("event_id", "_salt")
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))

"""Scan drains of the two IVF similarity operators (`ann_ivf`,
`embedding_near_dup` in operators/similarity.py): each stages its
quantizer assignment frame through ONE eager localCheckpoint. These
pins hold the materialized two-scan posture row-identical to the same
operator's lazy plan (`lazy_results()`), and pin the physical contract
per pytest run: TWO embeddings scans per query execution (centroid fit
+ the checkpointed assignment build), result plan parquet-free. Two is
the documented floor — the only one-scan route checkpoints the raw
corpus frame before the fit, inverting the 100 TB trade (the IVF
section note in operators/similarity.py)."""

from __future__ import annotations

from big_data_analytics_final_project_spark.operators.checkpoints import (
    lazy_results,
)
from big_data_analytics_final_project_spark.operators.similarity import (
    ann_ivf,
    embedding_near_dup,
)
from big_data_analytics_final_project_spark.queries.similarity import (
    _K_ANN,
    _N_QUERIES,
    _NEAR_DUP_T,
)

from .conftest import SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_ann_ivf_staged_matches_lazy_operator(spark):
    """Materialized `ann_ivf` == its lazy plan, row for row."""
    emb = _emb(spark)
    mat = ann_ivf(emb, lambda c: c < _N_QUERIES, k=_K_ANN).collect()
    with lazy_results():
        lazy = ann_ivf(emb, lambda c: c < _N_QUERIES, k=_K_ANN).collect()
    assert sorted(map(tuple, mat)) == sorted(map(tuple, lazy))
    assert mat, "empty relation would make the pin vacuous"


def test_near_dup_staged_matches_lazy_operator(spark):
    emb = _emb(spark)
    mat = embedding_near_dup(emb, threshold=_NEAR_DUP_T).collect()
    with lazy_results():
        lazy = embedding_near_dup(emb, threshold=_NEAR_DUP_T).collect()
    assert sorted(map(tuple, mat)) == sorted(map(tuple, lazy))
    assert mat, "empty relation would make the pin vacuous"


def _assert_two_scans_and_parquet_free(spark, build):
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )

    from .conftest import require_classic

    require_classic(spark)
    spark.catalog.clearCache()

    def _run():
        df = build()
        df.collect()
        return df

    out, scans = executed_scan_counts(spark, _run)
    assert scans == {"embeddings": 2}, dict(scans)
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Scan parquet" not in plan, plan


def test_ann_ivf_executed_scans_is_two(spark):
    """The drain's physical contract, pinned per pytest run (not just
    per scan audit): centroid-fit pass + assignment checkpoint fill,
    then every consumer reads the checkpoint."""
    emb = _emb(spark)
    _assert_two_scans_and_parquet_free(
        spark, lambda: ann_ivf(emb, lambda c: c < _N_QUERIES, k=_K_ANN)
    )


def test_near_dup_executed_scans_is_two(spark):
    emb = _emb(spark)
    _assert_two_scans_and_parquet_free(
        spark, lambda: embedding_near_dup(emb, threshold=_NEAR_DUP_T)
    )

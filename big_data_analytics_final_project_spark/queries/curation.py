"""The corpus-curation CAPSTONE: every LLM-data-pipeline stage this
engine implements, composed into ONE oracle-checked query — the
end-to-end run a training-data team would actually execute:

    near-dup removal (MinHash-LSH pairs → connected components →
    survivors) → quality gate (heuristic score) → language gate
    (marker-token ID) → deterministic stratified sampling → final
    per-(lang, source) corpus report.

Every doc-level feature (quality score, language prediction, sample
membership, MinHash signature) is computed in ONE projection over ONE
corpus scan and checkpointed as a doc-cardinality feature frame — the
way a production pipeline amortizes the text pass — while each stage's
SEMANTICS stay pinned to its standalone registered query by the DuckDB
twin, which chains the stage queries as CTEs verbatim (the
recursive-closure block is shared with `doc_dedup_survivors`). At
100 TB every stage is the already-audited scale shape: the dedup
labels side is candidate-sized (broadcastable anti-join), the gates
are filters over the checkpointed feature frame, the sample is a pure
hash predicate, and the report is one small aggregation; only the
exact-Jaccard verify re-reads the corpus (its shingle sets are
corpus-sized — the dedup family's documented trade).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import exact_sum, exact_sum_sql
from ..sources import load_table
from . import QuerySpec
from .text import (
    DOC_LANG_ID_SQL,
    DOC_QUALITY_SCORE_SQL,
    DOC_SAMPLE_STRATIFIED_SQL,
)

QUALITY_GATE = 0.73  # ~median at sf0.01: keeps the gate non-trivial


def _seed_hash(seed: int):
    """One-argument HOF lambda hashing a shingle under `seed` — a
    default-arg lambda (``lambda t, s=seed: ...``) would present two
    parameters and PySpark would bind the second to the ELEMENT INDEX
    (the (element, index) HOF form), not the seed."""
    return lambda t: F.md5(F.concat(F.lit(f"{seed}:"), t))


def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors ∩ quality ∩ language ∩ sample → per-(lang, source)
    doc counts and exact mean quality. The gates compare doubles that
    both engines compute from identical expressions, so the filter
    boundary is deterministic; the mean routes through the decimal
    accumulator like every other measure.

    Scale (r14 rewrite): the r13 form composed the four stage QUERIES
    by joining their outputs, and each stage re-derived its features
    from text — five documents scans in the executed plan (the r14
    all-executions audit's find). This form computes every doc-level
    feature in ONE projection over ONE corpus scan — quality score,
    language prediction, the sample-membership hash flag, and the
    MinHash signature (per-row array_min over the shingle HOFs: the
    lexicographic min per seed is the same value the exploded groupBy
    in operators/dedup.minhash_signatures produces, with no shuffle)
    — and eagerly checkpoints the doc-cardinality feature frame
    (scalars + N_BANDS band keys per doc; the corpus text stays on
    disk). The LSH band self-join, the dedup gates, and the final
    report all run off the checkpoint. Only the exact-Jaccard verify
    re-attaches the shingle SETS (corpus-sized, never materialized —
    the dedup family's documented trade), so the floor is three
    documents scans: the feature pass + the two verify sides. Stage
    semantics are pinned to their standalone queries (doc_quality_
    score, doc_lang_id, doc_sample_stratified, doc_dedup_survivors)
    by the shared DuckDB oracle, which still chains the stage CTEs
    verbatim. `lazy_results()` keeps the lazy plan."""
    from ..functions.text import (
        LANG_MARKERS,
        alpha_ratio,
        shingles3_from_tokens,
        stopword_ratio,
        tokens,
    )
    from ..operators.checkpoints import (
        resolve_materialize,
        unpersist_local_checkpoint,
    )
    from ..operators.components import connected_components
    from ..operators.dedup import N_BANDS, N_SEEDS, _shingle_sets
    from .dedup import MINHASH_THRESHOLD

    mat = resolve_materialize()
    docs = load_table(spark, sf_dir, "documents")

    # ---- the ONE feature pass ----
    # staging discipline (doc_repetition_stats / shingles3_from_tokens):
    # toks and terms are bound as projection aliases before any lambda
    # references them, else Catalyst re-inlines tokenization per element.
    # Fan out narrow scans before the per-row md5 work, exactly like
    # operators/dedup._shingle_sets.
    n = spark.sparkContext.defaultParallelism
    base = docs.select("doc_id", "lang", "source", "text")
    if base.rdd.getNumPartitions() < n:
        base = base.repartition(n, F.col("doc_id"))
    staged = base.select(
        "doc_id", "lang", "source", "text", tokens(F.col("text")).alias("toks")
    )
    with_terms = staged.select(
        "doc_id",
        "lang",
        "source",
        "text",
        "toks",
        F.array_distinct(shingles3_from_tokens(F.col("toks"))).alias("terms"),
    )
    # quality — the exact expression doc_quality_score grades
    n_tok = F.size(F.col("toks"))
    length_score = F.when((n_tok >= 20) & (n_tok <= 5000), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    quality = (
        length_score * 0.4
        + alpha_ratio(F.col("text")) * 0.4
        + stopword_ratio(F.col("text")) * 0.2
    )
    # language — doc_lang_id's marker argmax with the same struct
    # tie-break (score desc, lexicographically largest lang)
    toks_d = F.array_distinct(F.col("toks"))
    lang_pairs = F.array(
        *[
            F.struct(
                F.size(F.filter(toks_d, lambda x: x.isin(*marks))).alias(
                    "score"
                ),
                F.lit(lang).alias("lang"),
            )
            for lang, marks in LANG_MARKERS.items()
        ]
    )
    best = F.array_max(lang_pairs)
    lang_pred = (
        F.when(best.getField("score") > 0, best.getField("lang"))
        .otherwise(F.lit("und"))
    )
    # sample membership — doc_sample_stratified's pure hash predicate
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    frac = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(F.lit(0.2))
    keep_sample = u32 < frac * F.lit(4294967296.0)
    # per-row MinHash: min over the doc's shingles per seed — value-
    # identical to the exploded groupBy (min is min), shuffle-free
    mh = [
        F.array_min(
            F.transform(
                F.col("terms"),
                _seed_hash(s),
            )
        ).alias(f"mh{s}")
        for s in range(N_SEEDS)
    ]
    feat = with_terms.select(
        "doc_id",
        "lang",
        "source",
        quality.alias("quality_score"),
        lang_pred.alias("lang_pred"),
        keep_sample.alias("keep_sample"),
        *mh,
    ).select(
        "doc_id",
        "lang",
        "source",
        "quality_score",
        "lang_pred",
        "keep_sample",
        F.array(
            *[
                F.concat(F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}"))
                for b in range(N_BANDS)
            ]
        ).alias("bands"),
    )
    if mat:
        feat = feat.localCheckpoint(eager=True)

    # ---- LSH candidates off the checkpoint (zero corpus scans) ----
    # a shingle-less doc has NULL band keys (the exploded-groupBy form
    # simply omits it); the equi-join drops NULLs either way
    bands_long = feat.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_key")
    ).filter(F.col("band_key").isNotNull())
    cands = (
        bands_long.alias("a")
        .join(bands_long.alias("b"), ["band_idx", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates()
    )
    # ---- exact-Jaccard verify: the two corpus-sized set attaches ----
    sets = _shingle_sets(docs, "text", "doc_id")
    sets_a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("terms").alias("terms_a")
    )
    sets_b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("terms").alias("terms_b")
    )
    n_common = F.size(F.array_intersect(F.col("terms_a"), F.col("terms_b")))
    pairs = (
        cands.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn(
            "jaccard",
            n_common.cast("double")
            / (F.size("terms_a") + F.size("terms_b") - n_common),
        )
        .filter(F.col("jaccard") >= MINHASH_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    labels = connected_components(pairs, "doc_a", "doc_b")
    losers = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    kept = feat.join(losers, "doc_id", "left_anti").filter(
        (F.col("quality_score") >= QUALITY_GATE)
        & (F.col("lang_pred") != "und")
        & F.col("keep_sample")
    )
    out = (
        kept.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            exact_sum("quality_score", "sum_quality"),
        )
        .withColumn(
            "avg_quality", F.col("sum_quality") / F.col("n_docs")
        )
        .orderBy("lang", "source")
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(feat)
    return out


def _strip_order(sql: str) -> str:
    """Drop a wrapped query's TRAILING ORDER BY so it can embed as a
    CTE. Guarded: the stripped tail must be a bare column-list sort —
    if a wrapped query ever gains an inner window ORDER BY after the
    outer one (or loses its trailing sort), rsplit would silently
    truncate the CTE mid-query, so fail loudly instead."""
    head, sep, tail = sql.rstrip().rpartition("ORDER BY")
    if not sep or not re.fullmatch(r"[\s\w,.]+(DESC|ASC)?[\s\w,.]*", tail):
        raise ValueError(
            f"refusing to strip non-trailing ORDER BY (tail={tail!r})"
        )
    return head


def corpus_curation_report_sql() -> str:
    # reuse the recursive-closure survivors block verbatim (same
    # MinHash threshold as doc_dedup_survivors) and wrap each text
    # stage's full query as a CTE.
    from ..operators.dedup import minhash_lsh_pairs_sql
    from .dedup import MINHASH_THRESHOLD

    return f"""
WITH RECURSIVE pairs AS ({minhash_lsh_pairs_sql(MINHASH_THRESHOLD)}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, root) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
),
losers AS (
  SELECT node AS doc_id FROM reach GROUP BY node
  HAVING node <> min(root)
),
survivors AS (
  SELECT d.doc_id, d.lang, d.source
  FROM documents d ANTI JOIN losers l USING (doc_id)
),
quality AS ({_strip_order(DOC_QUALITY_SCORE_SQL)}),
langp AS ({_strip_order(DOC_LANG_ID_SQL)}),
sampled AS ({_strip_order(DOC_SAMPLE_STRATIFIED_SQL)}),
kept AS (
  SELECT s.lang, s.source, q.quality_score
  FROM survivors s
  JOIN quality q USING (doc_id)
  JOIN langp p USING (doc_id)
  JOIN sampled m USING (doc_id)
  WHERE q.quality_score >= {QUALITY_GATE} AND p.lang_pred <> 'und'
)
SELECT lang, source,
       count(*) AS n_docs,
       {exact_sum_sql("quality_score", "sum_quality")},
       CAST(CAST(SUM(CAST(CAST(quality_score AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR)
            AS DOUBLE) / count(*) AS avg_quality
FROM kept
GROUP BY lang, source
ORDER BY lang, source
"""


def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split — the assignment every
    training pipeline freezes before any epoch runs. Membership is a
    pure hash of the doc id (first 8 md5 hex digits mod 100 → 80/10/10),
    NOT an RNG: the same doc lands in the same split on any engine,
    any partitioning, any rerun, and late-arriving docs don't reshuffle
    earlier assignments (the `doc_sample_stratified` discipline, with a
    distinct salt so split and sample membership stay independent).

    Scale: map-only assignment (no shuffle until the tiny per-(source,
    split) report aggregate); at 100 TB the assignment column would be
    written back to the zone once and the report read from statistics."""
    docs = load_table(spark, sf_dir, "documents")
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    bucket = u32 % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("source", "n_chars", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("source", "split")
    )


CORPUS_SPLIT_ASSIGN_SQL = """
WITH assigned AS (
  SELECT source, n_chars,
         CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT source, n_chars,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))
             ::BIGINT % 100 AS b
    FROM documents
  )
)
SELECT source, split, count(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM assigned
GROUP BY source, split
ORDER BY source, split
"""


def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted data-mixing plan (α = 0.5): per source,
    its natural corpus share and the up/down-weighted sampling share
    w_i ∝ size_i^0.5 — the standard multi-source rebalancing step
    (multilingual temperature sampling; the α knob interpolates
    between proportional α=1 and uniform α=0) plus the resulting
    boost factor and expected epochs at a 1e9-char training budget
    (epochs > 1 flags sources the plan would repeat).

    Cross-engine exactness: per-source char totals are exact BIGINT
    sums; sqrt is IEEE correctly-rounded (identical in both engines),
    and each sqrt-weight is quantized to integer micro-units BEFORE
    the cross-source normalization sum, so the denominator is
    order-independent integer arithmetic (the kmeans/entropy
    discipline). Scale: one tiny per-source aggregate (map-side
    combinable) + a one-row broadcast for the totals."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )
    qs = F.floor(
        F.sqrt(F.col("n_chars_total").cast("double")) * 1e6 + F.lit(0.5)
    ).cast("bigint")
    weighted = per_src.withColumn("_qw", qs)
    tot = weighted.agg(
        F.sum("n_chars_total").alias("_tot_chars"),
        F.sum("_qw").alias("_tot_qw"),
    )
    natural = F.col("n_chars_total").cast("double") / F.col(
        "_tot_chars"
    ).cast("double")
    mix = F.col("_qw").cast("double") / F.col("_tot_qw").cast("double")
    return (
        weighted.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_chars_total",
            natural.alias("natural_share"),
            mix.alias("mix_share"),
            (mix / natural).alias("boost"),
            (
                F.lit(1e9) * mix / F.col("n_chars_total").cast("double")
            ).alias("budget_epochs"),
        )
        .orderBy("source")
    )


CORPUS_MIX_PLAN_SQL = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
  FROM documents
  GROUP BY source
),
weighted AS (
  SELECT *, CAST(floor(sqrt(CAST(n_chars_total AS DOUBLE)) * 1e6 + 0.5)
                 AS BIGINT) AS _qw
  FROM per_src
),
tot AS (
  SELECT CAST(SUM(n_chars_total) AS BIGINT) AS _tot_chars,
         CAST(SUM(_qw) AS BIGINT) AS _tot_qw
  FROM weighted
)
SELECT source, n_docs, n_chars_total,
       CAST(n_chars_total AS DOUBLE) / CAST(_tot_chars AS DOUBLE)
         AS natural_share,
       CAST(_qw AS DOUBLE) / CAST(_tot_qw AS DOUBLE) AS mix_share,
       (CAST(_qw AS DOUBLE) / CAST(_tot_qw AS DOUBLE))
         / (CAST(n_chars_total AS DOUBLE) / CAST(_tot_chars AS DOUBLE))
         AS boost,
       1e9 * (CAST(_qw AS DOUBLE) / CAST(_tot_qw AS DOUBLE))
         / CAST(n_chars_total AS DOUBLE) AS budget_epochs
FROM weighted CROSS JOIN tot
ORDER BY source
"""


_WSAMPLE_K = 100


def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (operators/sampling.py
    priority sampling — Duffield-Lund-Thorup): 100 documents drawn
    proportional to n_chars, each carrying the unbiased subset-sum
    estimator weight max(w, tau). The data-MIXING primitive the
    stratified hash sampler can't express: token-budget-proportional
    draws with estimator weights that let any downstream report over
    the sample estimate the population total unbiasedly.

    Fully exact oracle: the md5 race and the w*2^32/(h+1) priority use
    only correctly-rounded IEEE multiply/divide (no libm), so Spark
    and DuckDB produce bit-identical priorities, the same top-k, the
    same tau, and the same estimator weights. Scale: top-(k+1) is
    TakeOrderedAndProject (per-task heaps, no global sort, corpus read
    once); tau is an aggregate over the k+1 frame broadcast back."""
    from ..operators.sampling import priority_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return priority_sample(docs, "n_chars", _WSAMPLE_K).orderBy("doc_id")


def _doc_weighted_sample_sql() -> str:
    from ..operators.sampling import priority_sample_sql

    return priority_sample_sql(
        "documents",
        "n_chars",
        _WSAMPLE_K,
        select_cols="doc_id, lang, source, n_chars",
    )


QUERIES: dict[str, QuerySpec] = {
    "corpus_curation_report": QuerySpec(
        corpus_curation_report, corpus_curation_report_sql()
    ),
    # registered r9 (authored-and-parity-tested in r8; window was full
    # — tests/test_priority_sample.py held it to the registry bar with
    # a FULL exact oracle since) —
    "doc_weighted_sample": QuerySpec(
        doc_weighted_sample, _doc_weighted_sample_sql()
    ),
    "corpus_split_assign": QuerySpec(
        corpus_split_assign, CORPUS_SPLIT_ASSIGN_SQL
    ),
    "corpus_mix_plan": QuerySpec(corpus_mix_plan, CORPUS_MIX_PLAN_SQL),
}

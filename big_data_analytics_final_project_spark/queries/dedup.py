"""Dedup queries over the `documents` zone (see operators/dedup.py for
the algorithms and their 100 TB strategies)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.dedup import (
    DEDUP_EXACT_SQL,
    dedup_exact,
    jaccard_pairs,
    jaccard_pairs_collapsed,
    jaccard_pairs_sql,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    minhash_lsh_pairs_incremental_sql,
    minhash_lsh_pairs_sql,
    overlap_coeff_pairs,
    overlap_coeff_pairs_sql,
    simhash_pairs,
    simhash_pairs_sql,
)
from ..sources import load_table
from . import QuerySpec

JACCARD_THRESHOLD = 0.8
MINHASH_THRESHOLD = 0.8
SIMHASH_MAX_HAMMING = 3
OVERLAP_THRESHOLD = 0.6


def dedup_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dups: overlap coefficient |A∩B|/min(|A|,|B|)
    over 3-shingle sets — catches a doc quoted/embedded inside a
    larger one, which Jaccard's symmetric normalization misses."""
    return overlap_coeff_pairs(
        load_table(spark, sf_dir, "documents"), threshold=OVERLAP_THRESHOLD
    )


def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(load_table(spark, sf_dir, "documents"))


def dedup_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard — shingles, not word unigrams:
    the corpus vocabulary is tiny (~31 words, every token in ~78% of
    docs) so unigram sets are near-identical across all docs and any
    exact algorithm degenerates to all-pairs; 3-gram shingles are
    distinctive (df ≈ 8), which is what makes the prefix-filtered
    inverted index sparse."""
    return jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=JACCARD_THRESHOLD,
        use_shingles=True,
    )


def dedup_jaccard_collapsed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_jaccard_pairs` through the exact-collapse-first
    composition (operators/dedup.jaccard_pairs_collapsed): verbatim
    duplicates are collapsed by content hash BEFORE the PPJoin
    candidate generator runs, then rep-level pairs re-expand through
    the duplicate groups with output-bounded joins. Same threshold,
    same shingling, ROW-IDENTICAL output — so it shares
    `dedup_jaccard_pairs`' oracle verbatim, a differential proof that
    two structurally different plans agree bit-for-bit. A 10x scale
    smoke (commit 47f0318) measured the point: 16x faster on a
    10x-replicated corpus because candidate cost stops growing with
    the duplication factor."""
    return jaccard_pairs_collapsed(
        load_table(spark, sf_dir, "documents"),
        threshold=JACCARD_THRESHOLD,
        use_shingles=True,
    )


def dedup_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=MINHASH_THRESHOLD
    )


def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=SIMHASH_MAX_HAMMING
    )


def dedup_fuzzy_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, prefix-blocked: docs sharing the
    first 12 normalized characters are candidates; a pair survives if
    the Levenshtein distance of their 48-char normalized prefixes is
    ≤ 8. Completes the dedup family with the fuzzy-string member
    (set-based Jaccard and hash-based MinHash/SimHash don't catch
    small in-word edits; edit distance does).

    Scale: the block key is the shuffle key — candidates ∝ prefix
    collisions, never N²; Levenshtein (O(len²) per pair) runs only
    inside blocks, on bounded 48-char slices. Documents differing in
    their first 12 chars are out of scope BY DESIGN (the standard
    blocking trade-off; rotate block keys for higher recall).

    One corpus scan (r16, formerly 3 — the lm_train_score drain
    pattern): the (doc_id, 48-char slice) frame — raw text already
    dropped, so it is 48 bytes/doc — is eagerly localCheckpoint-ed
    once and BOTH self-join sides derive from the checkpoint, so the
    documents parquet is scanned exactly once and the normalization
    regex runs exactly once per document. The result is checkpointed
    too, freeing the staging blocks immediately
    (operators/checkpoints.py hygiene); `lazy_results()` keeps the
    lazy plan, and that lazy twin is pinned row-identical in
    tests/test_dedup_drain.py."""
    from ..functions.text import norm_text
    from ..operators.checkpoints import (
        resolve_materialize,
        unpersist_local_checkpoint,
    )

    mat = resolve_materialize()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(norm_text(F.col("text")), 1, 48).alias("slice")
    )
    if mat:
        docs = docs.localCheckpoint(eager=True)
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("slice").alias("slice_a"),
        F.substring("slice", 1, 12).alias("block"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("slice").alias("slice_b"),
        F.substring("slice", 1, 12).alias("block"),
    )
    out = (
        a.join(b, "block")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("slice_a"), F.col("slice_b")).cast("bigint"),
        )
        .filter(F.col("edit_dist") <= 8)
        .select("doc_a", "doc_b", "edit_dist")
        .orderBy("doc_a", "doc_b")
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(docs)
    return out


def _fuzzy_pairs_sql() -> str:
    from ..functions.text import norm_text_sql

    norm = norm_text_sql("text")
    return f"""
WITH sliced AS (
  SELECT doc_id, substring({norm}, 1, 48) AS slice FROM documents
),
blocked AS (
  SELECT doc_id, slice, substring(slice, 1, 12) AS block FROM sliced
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.slice, b.slice) AS BIGINT) AS edit_dist
FROM blocked a JOIN blocked b USING (block)
WHERE a.doc_id < b.doc_id
  AND levenshtein(a.slice, b.slice) <= 8
ORDER BY doc_a, doc_b
"""


def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS: connected components over
    the MinHash-LSH pair graph (operators/components.py), cluster id =
    min doc id of the component. This is the step that makes dedup
    actionable — a cluster keeps one survivor, the pair list alone
    keeps nothing. The iterative Spark fixpoint is checked against a
    DuckDB recursive CTE computing the same reachability closure."""
    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=MINHASH_THRESHOLD
    ).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def doc_dedup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT view: every document that survives
    near-dup removal — cluster representatives (min doc id of each
    component) plus all unpaired docs. At 100 TB this is the anti-join
    that materializes the training corpus; the labels side is
    candidate-sized, so it broadcasts or shuffles cheaply against the
    full collection."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=MINHASH_THRESHOLD).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(pairs, "doc_a", "doc_b")
    losers = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    return (
        docs.join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


# src16-19 play the newly-crawled delta; src0-15 the standing corpus.
_NEW_BATCH_PRED = "source IN ('src16', 'src17', 'src18', 'src19')"


def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: the newly-crawled batch (src16-19)
    screened against the standing corpus (src0-15) with the asymmetric
    LSH probe (operators/dedup.minhash_lsh_pairs_incremental) — the
    shape every production curation loop runs per crawl, where the
    corpus×corpus quadrant must never be re-searched."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source").isin("src16", "src17", "src18", "src19")
    return minhash_lsh_pairs_incremental(
        docs.filter(~is_new), docs.filter(is_new), threshold=MINHASH_THRESHOLD
    )


QUERIES: dict[str, QuerySpec] = {
    "dedup_exact": QuerySpec(dedup_exact_q, DEDUP_EXACT_SQL),
    "dedup_incremental": QuerySpec(
        dedup_incremental_q,
        minhash_lsh_pairs_incremental_sql(_NEW_BATCH_PRED, MINHASH_THRESHOLD),
    ),
    "dedup_jaccard_pairs": QuerySpec(
        dedup_jaccard_q, jaccard_pairs_sql(JACCARD_THRESHOLD, use_shingles=True)
    ),
    # differential twin of dedup_jaccard_pairs: the same oracle, so the
    # parity sweep holds the two row-identical (and
    # tests/test_dedup_collapsed.py pins the collapse-first plan).
    "dedup_jaccard_collapsed": QuerySpec(
        dedup_jaccard_collapsed_q,
        jaccard_pairs_sql(JACCARD_THRESHOLD, use_shingles=True),
    ),
    "dedup_minhash_lsh": QuerySpec(
        dedup_minhash_q, minhash_lsh_pairs_sql(MINHASH_THRESHOLD)
    ),
    "dedup_simhash": QuerySpec(dedup_simhash_q, simhash_pairs_sql(SIMHASH_MAX_HAMMING)),
    "dedup_overlap_pairs": QuerySpec(
        dedup_overlap_q, overlap_coeff_pairs_sql(OVERLAP_THRESHOLD)
    ),
    "dedup_fuzzy_pairs": QuerySpec(dedup_fuzzy_pairs_q, _fuzzy_pairs_sql()),
    "dedup_clusters": QuerySpec(
        dedup_clusters_q,
        f"""
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
)
SELECT node AS doc_id, min(root) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
""",
    ),
    "doc_dedup_survivors": QuerySpec(
        doc_dedup_survivors_q,
        f"""
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
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d ANTI JOIN losers l USING (doc_id)
ORDER BY d.doc_id
""",
    ),
}

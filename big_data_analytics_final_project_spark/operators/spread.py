"""Input-layout heal: widen a scan that arrives in fewer effective
splits than the cluster has cores (guide §2.5 "input skew: one huge
unsplittable file ... repartition immediately after the read").

The problem this solves, precisely: parquet splits at ROW-GROUP
boundaries. Spark's split planner sizes byte-range splits from
`spark.sql.files.maxPartitionBytes` / `openCostInBytes`, but a file
with one row group yields exactly one non-empty task no matter how
many byte ranges cover it — every other task closes empty. A zone
written as a single single-row-group file (small exports, test
fixtures, one-shot dumps) therefore serializes EVERY downstream
map-side operator — scan, filter, projection, partial aggregation,
tokenize+explode, bloom probe — onto one core, leaving the rest of
the cluster idle until the first exchange.

`heal_scan_width` repairs exactly that case and nothing else: it
inspects the frame's input files (driver-side metadata, cached per
path — parquet footers are KBs), computes the layout's effective
split ceiling, and repartitions to the default parallelism only when
the ceiling is below half the cores. On a healthy layout — the 100 TB
case, where a zone is hundreds of files / thousands of row groups —
the gate never fires and the frame is returned as it is, so the heal
adds no exchange where the scan already parallelizes naturally.

**Keyed or round-robin.** A heal should replace the next exchange,
not add one. When the operator after the spread shuffles on a key (a
grouping or join key), pass that key: the heal then hash-partitions
on it, and the hash already satisfies that operator's distribution,
so the plan keeps one exchange where it would have had two. A hash on
a subset of the grouping keys is enough
(``spark.sql.requireAllClusterKeysForDistribution`` is false). With
no key the spread is round-robin. Round-robin ``repartition(n)`` is
safe under retries only because
``spark.sql.execution.sortBeforeRepartition`` (default on, SPARK-23207)
sorts every row locally before assigning it, and that sort is most of
its cost: ``revenue_by_brand`` on the sf0.1 fixture (4 vCPU, median
of 5 warm runs, two processes each) took 1.77 / 1.72 s round-robin
with the sort, 1.30 / 1.39 s with it off, and 1.25 / 1.26 s hashed on
``l_orderkey``, which also drops the aggregate's own exchange (7 → 6
jobs). The sort stays on; a key avoids it. The other call sites stay
round-robin because no keyed shuffle follows them: the bloom probe
(its residual semi-join is broadcast, and the next shuffle is a
partial aggregate on two flag columns), the BPE encode and the KMV
sketch (``mapInPandas`` folds) and the text scoring queries (a global
sort).

Determinism: every graded query is partitioning-independent by the
engine's oracle contract (exact accumulators, total-order
tie-breaks), so the heal can never change a result.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame


@lru_cache(maxsize=4096)
def _file_split_ceiling(path: str) -> int:
    """Effective split ceiling of ONE parquet file: its row-group
    count (a row group is parquet's atomic split unit). Non-parquet or
    unreadable files report a neutral 'wide' answer so the heal stays
    off rather than guessing."""
    if not path.endswith(".parquet"):
        return 1 << 20
    local = path.removeprefix("file:")
    try:
        import pyarrow.parquet as pq

        return max(1, pq.ParquetFile(local).metadata.num_row_groups)
    except Exception:  # noqa: BLE001 — unreadable metadata: don't heal
        return 1 << 20


def effective_scan_splits(df: DataFrame) -> int | None:
    """Upper bound on the frame's scan parallelism from its source
    file layout: sum of per-file row-group counts. None when the
    frame has no resolvable input files (non-file source, or already
    behind an exchange/checkpoint) — callers must not heal then."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming / local relations
        return None
    if not files:
        return None
    return sum(_file_split_ceiling(f) for f in files)


def heal_scan_width(
    df: DataFrame, *keys: str, min_fraction: float = 0.5
) -> DataFrame:
    """Return `df` repartitioned to the default parallelism when its
    source layout caps scan parallelism below ``min_fraction`` of the
    cores; `df` itself otherwise.

    ``keys`` are the columns the next operator shuffles on: the spread
    hashes on them, so it stands in for that operator's exchange.
    Without keys it is round-robin (module docstring: what that costs).

    Call it immediately after the read, on frames whose downstream
    map-side work is worth spreading (heavy projections, probes,
    tokenization, partial aggregation over many rows). On any
    multi-row-group / multi-file zone the gate never fires.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if n <= 1:
        return df
    splits = effective_scan_splits(df)
    if splits is None or splits >= max(1, int(n * min_fraction)):
        return df
    return df.repartition(n, *keys)

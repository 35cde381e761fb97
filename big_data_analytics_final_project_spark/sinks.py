"""Sinks — report-sized CSV, partitioned parquet, scalar summaries.

Mirrors the reference's output surface: single-file CSV with header
(SNK-2, reference spark_analysis.py:83,106,143), pandas-style CSV
(SNK-3), text summary of scalar results (SNK-4,
integrated_query_engagement_vs_spend.py:232-258), and the parquet
storage-zone writer that replaces batched HBase puts (SNK-1).

`coalesce(1)` is kept ONLY for report-sized results — at scale it
funnels the whole output through one task; `write_zone` is the real
sink (SURVEY.md OPT-8).
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def write_report_csv(df: DataFrame, path: str) -> None:
    """Single-file CSV with header, overwrite — for human-sized results
    only (top-Ns, summaries)."""
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def write_zone(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_within_partitions: list[str] | None = None,
    dynamic_overwrite: bool = False,
    format: str = "parquet",
) -> None:
    """Partitioned (optionally sorted) columnar zone — the layout that
    gives prefix-scan parity with the reference's HBase rowkey design
    (SURVEY.md OPT-3): partition on the cluster key, sort within files
    on the range key so min/max stats prune.

    ``dynamic_overwrite=True`` replaces ONLY the partitions present in
    ``df`` (incremental loads: a daily backfill rewrites that day, the
    other 10 years of a 100 TB zone stay untouched); the default static
    overwrite truncates the whole zone first.

    ``format``: ``parquet`` (default) or ``orc`` — both builtin
    columnar formats carry the same partition/sort/min-max-stat
    machinery, so an ORC-standardized lake swaps one argument
    (roundtrip equality test-pinned in tests/test_sinks_sources.py)."""
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    if dynamic_overwrite and not partition_by:
        raise ValueError(
            "dynamic_overwrite requires partition_by — an unpartitioned "
            "overwrite always truncates the whole zone"
        )
    writer = df.write.mode("overwrite")
    if dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if format not in ("parquet", "orc"):
        raise ValueError(f"unsupported zone format: {format}")
    writer.format(format).save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Hash-bucketed, sorted, managed parquet table — the co-located
    join layout.

    Bucketing is a pre-computed shuffle persisted into storage: every
    writer task hash-partitions rows on the bucket key into a fixed
    number of files, so any later join or aggregate on that key reads
    data already partitioned (and, with ``sortBy``, already sorted) —
    Catalyst plans a SortMergeJoin with ZERO exchanges. At 100 TB this
    is the difference between re-shuffling the fact table per query and
    paying the shuffle once at ingest, amortized over every downstream
    query; it's the engine's answer to the reference's HBase
    pre-clustered rowkey layout (SURVEY.md OPT-3) for the join-heavy
    path, where `write_zone`'s partition pruning answers the point-
    lookup path.

    Pick ``n_buckets`` so one bucket of the LARGEST table this key
    joins against fits an executor core's working memory (at 100 TB:
    thousands of buckets, not 8)."""
    (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .saveAsTable(table)
    )


def compact_zone(
    df_or_path,
    spark,
    dst: str,
    target_file_bytes: int = 128 << 20,
    num_files: int | None = None,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
) -> int:
    """Small-file compaction — rewrite a zone into ~target-sized files.

    Micro-batch sinks (foreachBatch appends, per-trigger file drops —
    this engine's SNK-1 analog) accrete small files; at 100 TB the
    resulting task-per-tiny-file scheduling and footer overhead dominate
    scan cost, so periodic compaction is a standing maintenance op.
    ``num_files`` defaults to ``ceil(total_bytes / target_file_bytes)``
    sized from the source files (local filesystems only — for object
    stores pass ``num_files`` explicitly; guessing would silently
    funnel the zone through one task). Pass ``partition_by`` to keep a
    partitioned zone's layout (and its pruning) through the rewrite;
    in that mode ``num_files`` means files PER PARTITION (the auto
    sizing divides the total target by the partition count), and rows
    of each partition value are spread across that many tasks with a
    deterministic hash spreader — without it, hash-repartitioning on
    the partition columns alone lands every row of a hot partition in
    ONE task and one oversized file.
    ``repartition`` (not ``coalesce``) is deliberate: compaction wants
    BALANCED target-size files, and coalesce's shuffle-free merge just
    glues adjacent input partitions into uneven ones. Never in place —
    a failed compaction leaves the source untouched. Returns the
    target output file count: per partition when partitioned (the
    actual per-partition count can fall slightly under when spreader
    groups hash-collide into one task), total otherwise."""
    import math
    import os
    from urllib.parse import urlparse

    if isinstance(df_or_path, str):
        df = spark.read.parquet(df_or_path)
    else:
        df = df_or_path
    n_parts = (
        max(1, df.select(*partition_by).distinct().count())
        if partition_by
        else 1
    )
    if num_files is None:
        sized = [urlparse(u) for u in df.inputFiles()]
        nonlocal_files = [u for u in sized if u.scheme not in ("file", "")]
        if nonlocal_files:
            raise ValueError(
                "cannot size non-local zone "
                f"({nonlocal_files[0].scheme}://...); pass num_files explicitly"
            )
        total = sum(
            os.path.getsize(u.path) for u in sized if os.path.exists(u.path)
        )
        num_files = max(1, math.ceil(total / target_file_bytes / n_parts))
    if partition_by:
        # Spreader over the non-partition columns (maps aren't hashable);
        # pmod keeps it in [0, num_files) so each partition value fans out
        # to ~num_files tasks, each writing one file into that partition.
        hashable = [
            f.name
            for f in df.schema.fields
            if not f.dataType.typeName().startswith("map")
        ] or [partition_by[0]]
        spreader = F.pmod(F.xxhash64(*hashable), F.lit(num_files))
        out = df.repartition(
            n_parts * num_files,
            *[F.col(c) for c in partition_by],
            spreader,
        )
    else:
        out = df.repartition(num_files)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(dst)
    return num_files


def has_committed_files(fs, zone_path) -> bool:
    """True iff the zone holds committed data: a _SUCCESS marker or any
    *.parquet file not under a _temporary/ attempt directory (failed
    writes leave task-attempt parquet files there — those are debris,
    not data). `upsert_zone` (and so every streaming fold) runs it once
    per call to decide first write vs merge."""
    it = fs.listFiles(zone_path, True)
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if "_temporary" in str(p.toUri().getPath()).split("/"):
            continue
        if name == "_SUCCESS" or name.endswith(".parquet"):
            return True
    return False


def _partition_filter(partition_by: list[str], parts: set[tuple]) -> Column:
    """Predicate on the partition columns matching exactly ``parts``
    (null-safe, so a null partition value selects its default
    partition) — a pure partition filter, so the scan lists and reads
    only those partitions' files."""

    def matches(values: tuple) -> Column:
        return reduce(
            operator.and_,
            [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(partition_by, values)],
        )

    return reduce(operator.or_, map(matches, parts))


def upsert_zone(
    spark,
    df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_by: list[str],
    merge: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
) -> None:
    """Keyed upsert into a partitioned parquet zone: rows in ``df``
    replace existing rows with the same key; everything else survives.
    Keys must map to one partition each (the partition columns are a
    function of the key).

    ``merge(touched, delta)``, when given, turns the touched
    partitions' current rows and the materialized ``df`` into the
    replacement rows — one per key of ``df`` (streaming/fold.py's
    retry-guarded additive merge); by default they are ``df`` itself.

    Each piece of work happens once. ``df`` is materialized with an
    eager ``localCheckpoint``, whose job also observes the partition
    values it touches (an empty ``df`` returns here). The zone is
    probed once for committed data. The touched partitions — only
    those, selected by a partition filter, so at 100 TB a daily
    correction reads one day, not the zone — are read once and
    materialized the same way. Their rows are kept unless their key
    collides (broadcast anti-join on ``df``'s keys), unioned with the
    replacement rows, and landed by ONE dynamic partition overwrite.
    Both checkpoints are freed once the write returns. The broadcast
    ships ``df``'s whole key set to every task, so ``df`` is
    micro-batch or correction sized; replacing whole partitions
    wholesale is `write_zone(..., dynamic_overwrite=True)`.

    The materialized read is what makes the in-place overwrite safe:
    the merge plan reads executor blocks, not the zone files the
    overwrite replaces, so no staging copy is needed. Those blocks are
    unreplicated; if an executor holding them is lost, the write job
    fails before its commit — a dynamic overwrite only moves new
    partition directories into place when the job commits — and the
    call raises with the zone intact. The caller re-runs it (a
    streaming batch is re-delivered), never a silent partial merge.

    First-write-vs-merge is decided by probing for COMMITTED data
    files (*.parquet outside _temporary/, or a _SUCCESS marker), NOT by
    catching the read's AnalysisException and NOT by bare
    `fs.exists`: a crashed first write can leave the zone directory
    existing but holding only _temporary/ debris — that must degrade
    to a fresh first write (self-heal), while a zone with real data
    files that fails to read (corrupt footer, incompatible types) must
    abort, because falling back to overwrite would silently truncate
    the whole zone to this delta batch."""
    from .operators.checkpoints import unpersist_local_checkpoint

    # The touched partition values ride along with the checkpoint job as
    # an observed metric: one job materializes the delta AND yields the
    # (partition-count-bounded) set of partitions it touches.
    touches = Observation()
    delta = df.observe(
        touches, F.collect_set(F.struct(*partition_by)).alias("parts")
    ).localCheckpoint(eager=True)
    try:
        parts = {tuple(r) for r in touches.get["parts"]}
        if not parts:
            return
        zone_path = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = zone_path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(zone_path) or not has_committed_files(fs, zone_path):
            write_zone(delta, path, partition_by=partition_by)
            return
        touched = (
            spark.read.parquet(path)
            .filter(_partition_filter(partition_by, parts))
            .localCheckpoint(eager=True)
        )
        try:
            rows = merge(touched, delta) if merge else delta
            keep = touched.join(
                F.broadcast(delta.select(*key_cols)), key_cols, "left_anti"
            )
            # Rebalanced on the partition columns: a touched partition
            # lands as one file while it is small (AQE splits a large
            # one), so repeated upserts of a partition don't pile up
            # one more file per call.
            write_zone(
                keep.unionByName(rows).hint("rebalance", *partition_by),
                path,
                partition_by=partition_by,
                dynamic_overwrite=True,
            )
        finally:
            unpersist_local_checkpoint(touched)
    finally:
        unpersist_local_checkpoint(delta)


def zorder_frame(
    df: DataFrame,
    zorder_by: list[str],
    num_files: int = 16,
    bits: int = 16,
) -> DataFrame:
    """Z-order (Morton-curve) clustered parquet zone: rows sorted by
    the bit-interleaving of their rank along EACH zorder column, so
    file/row-group min-max stats prune scans on ANY of the columns —
    the multi-dimensional upgrade over `write_zone`'s single sort key,
    and the layout Delta/Iceberg `OPTIMIZE ZORDER BY` applies at
    100 TB.

    Mechanics: each column is normalized to a `bits`-wide integer via
    its exact global rank (rank, not raw value — skewed distributions
    still spread uniformly across the curve), the bit planes are
    interleaved into one Morton key, and the frame is range-partitioned
    + sorted on that key. A filter on any single dimension then touches
    ~N^((d-1)/d) of the files instead of all of them; a plain sort
    prunes only its leading column.

    The per-column ranks come from the distributed two-level
    row-number (operators/ranks.py) — one partitioned ranking pass per
    z column, never a single-task global window over the zone being
    laid out (the write path sees the FULL 100 TB frame, where an
    unpartitioned `percent_rank` window would be the slowest task in
    the job). Split from `zorder_zone` so tests can plan-assert the
    ranking never degenerates to a single-task window."""
    from .operators.ranks import with_global_row_number

    # N arrives as a 1-row broadcast scalar (no driver-side count()
    # scan of the frame being laid out — r4 advice). NOT ntile: when
    # N < 2^bits an ntile bucket is just the rank, which leaves the
    # high Morton bit planes almost entirely zero and the curve
    # degenerate — the rank must be SCALED onto the full 2^bits range
    # so every interleaved bit plane splits the data evenly.
    total = df.agg(F.count(F.lit(1)).alias("_z_N"))
    work = df.join(F.broadcast(total))
    zcols = []
    for i, c in enumerate(zorder_by):
        q = f"_z_{i}"
        # The OTHER z columns ride along as tiebreaks: residual ties
        # are then rows identical in EVERY z coordinate, which map to
        # the same curve cell in any order — file layout is run-stable,
        # not arrival-order-dependent (r4 advice; ranks.py's
        # total-order precondition).
        order = [F.col(c)] + [F.col(o) for o in zorder_by if o != c]
        work = with_global_row_number(work, order, out_col=q)
        work = work.withColumn(
            q,
            F.least(
                (
                    ((F.col(q) - 1) * (1 << bits))
                    / F.greatest(F.col("_z_N"), F.lit(1))
                ).cast("bigint"),
                F.lit((1 << bits) - 1),
            ),
        )
        zcols.append(q)
    work = work.drop("_z_N")
    # Morton interleave: output bit (b*d + i) = bit b of column i
    d = len(zcols)
    terms = []
    for b in range(bits):
        for i, q in enumerate(zcols):
            terms.append(
                F.shiftleft(
                    F.shiftright(F.col(q), b).bitwiseAND(F.lit(1)),
                    b * d + i,
                )
            )
    zval = terms[0]
    for t in terms[1:]:
        zval = zval.bitwiseOR(t)
    work = work.withColumn("_zval", zval)
    # Curve-cell-ALIGNED file split (replaces range partitioning on
    # raw _zval): the per-column ranks are scaled onto the full
    # 2^bits range, so _zval is uniform over the curve BY
    # CONSTRUCTION and the top ceil(log2(num_files)) bit planes cut
    # it into equal-count cells. Range-partitioning on the CELL id
    # means the sampler only picks which cell edges become file
    # edges — it can merge two z-adjacent cells (off-by-one bounds;
    # one file fewer than asked), but it can never put a file
    # boundary INSIDE a cell. That intra-cell split was the old
    # layout's pruning leak — both neighboring files then span the
    # cell's full extent on every dimension (measured on the 40k-row
    # footer-stats fixture: 7-8 of 16 files touched by a 5%
    # one-dimension band, vs 3-6 aligned) — and since the sampler's
    # seed varies with session RDD ids it was also run-order noise
    # at full cell granularity rather than bounded to one edge.
    cell_bits = max(num_files - 1, 0).bit_length()
    shift = max(d * bits - cell_bits, 0)
    work = work.withColumn("_zcell", F.shiftright(F.col("_zval"), shift))
    return (
        work.repartitionByRange(num_files, F.col("_zcell"))
        .sortWithinPartitions("_zval")
        .drop(*zcols, "_zval", "_zcell")
    )


def zorder_zone(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    num_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` as a Z-order clustered parquet zone (see
    `zorder_frame` for the layout mechanics)."""
    zorder_frame(df, zorder_by, num_files=num_files, bits=bits).write.mode(
        "overwrite"
    ).parquet(path)


def write_summary_txt(lines: dict[str, object], path: str) -> None:
    """Driver-side scalar summary (report artifact, not an engine op)."""
    with open(path, "w") as f:
        for key, value in lines.items():
            f.write(f"{key}: {value}\n")

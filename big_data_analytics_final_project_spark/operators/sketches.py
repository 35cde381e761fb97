"""Mergeable frequent-items (heavy-hitters) sketch: distributed
Misra-Gries.

The third sketch-family member next to the HLL distinct-count and
KLL/GK quantile acceptance queries: exact top-k over a high-cardinality
column means shuffling every distinct key (at 100 TB: the vocabulary,
the URL host list, the user-agent string space); Misra-Gries keeps a
CONSTANT-size summary per partition and merges by addition, so the
shuffle carries k-row summaries instead of the key space.

Guarantees (the acceptance contract an oracle can grade):
- For every reported item: lower ≤ true_count ≤ upper, with
  lower = Σ kept counts and upper = lower + D, where D is the total
  decremented mass across all partitions (emitted alongside the
  summaries, so the bound is computed, not assumed).
- Every item with true_count > D is reported (in particular every
  true heavy hitter above n/(capacity+1), since D ≤ n/(capacity+1)).

Scale: one pass over the data inside Arrow `mapInPandas` (per-batch
pandas value_counts folded into a capacity-bounded dict — vectorized,
never per-row Python), then a merge aggregate over ≤ capacity rows per
partition. No shuffle touches raw rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("item", T.StringType()),  # NULL on the D row
        T.StructField("cnt", T.LongType()),
        T.StructField("dec", T.LongType()),
    ]
)


def _mg_fold(capacity: int, col: str):
    def fold(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        decremented = 0
        for pdf in it:
            # vectorized per-batch counting, then one dict merge
            vc = pdf[col].dropna().astype(str).value_counts()
            for item, c in vc.items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > capacity:
                # batched Misra-Gries decrement: subtract the
                # (capacity+1)-th largest count from everyone and drop
                # the non-positive — equivalent to that many rounds of
                # the textbook decrement-all-by-1 step
                cut = sorted(counters.values(), reverse=True)[capacity]
                decremented += cut
                counters = {
                    k: v - cut for k, v in counters.items() if v > cut
                }
        items = list(counters.items())
        yield pd.DataFrame(
            {
                "item": pd.Series(
                    [k for k, _ in items] + [None], dtype="object"
                ),
                "cnt": pd.Series(
                    [v for _, v in items] + [0], dtype="int64"
                ),
                "dec": pd.Series(
                    [0] * len(items) + [decremented], dtype="int64"
                ),
            }
        )

    return fold


def frequent_items_mg(
    df: DataFrame, col: str, capacity: int = 64
) -> DataFrame:
    """Distributed Misra-Gries frequent-items summary.

    Returns (item, count_lower, count_upper) for every surviving
    candidate, where true_count is PROVABLY inside [lower, upper] and
    every item with true_count > total_decremented is present. Filter
    downstream with ``count_upper >= threshold`` for guaranteed recall
    or ``count_lower >= threshold`` for guaranteed precision.
    """
    summaries = (
        df.select(F.col(col).cast("string").alias(col))
        .mapInPandas(_mg_fold(capacity, col), schema=_SUMMARY_SCHEMA)
    )
    # D = total decremented mass (a handful of NULL-item rows -> 1 row)
    d_total = summaries.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("dec"), F.lit(0)).alias("_d")
    )
    merged = (
        summaries.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("cnt").alias("count_lower"))
    )
    return merged.crossJoin(F.broadcast(d_total)).select(
        "item",
        "count_lower",
        (F.col("count_lower") + F.col("_d")).alias("count_upper"),
    )


def _cms_bucket(key: "F.Column", row: int, width: int) -> "F.Column":
    """Row-`row` bucket of `key`: md5-derived uniform hash, bit-identical
    across engines (DuckDB twin:
    ``('0x' || substr(md5('<row>:' || k), 1, 8))::BIGINT % width``)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{row}:"), key)), 1, 8), 16, 10
        ).cast("bigint")
        % width
    )


def count_min_sketch(
    df: DataFrame, col: str, depth: int = 3, width: int = 64
) -> DataFrame:
    """Count-Min sketch of `col`'s frequency distribution: the fourth
    sketch-family member (HLL distinct, KLL/GK quantiles, Misra-Gries
    heavy hitters, CMS point frequencies).

    Returns the depth x width counter matrix as rows ``(r, bucket,
    cnt)`` — counter[r][b] = exact count of rows whose row-r hash lands
    in bucket b. Because each counter is an EXACT groupBy count under a
    deterministic md5 hash, the whole sketch (and every estimate read
    from it) is partition-order independent and bit-reproducible — so
    unlike MG's acceptance contract, CMS estimates are graded by a full
    exact oracle.

    Guarantee read off the sketch: ``estimate(k) >= true(k)`` always
    (a key always hashes onto its own counters; collisions only add).

    Scale: the explode multiplies rows by `depth` BEFORE the exchange,
    but hash aggregation folds each task to <= depth*width partial rows
    (the counter matrix is the worst-case map-side state), so the
    shuffle carries sketch-sized summaries, never the key space —
    exact top-k over a 100 TB high-cardinality column shuffles every
    distinct key; this shuffles depth*width longs per task. Sketches
    MERGE BY ADDITION: a per-day/per-source sketch union summed on
    (r, bucket) equals the sketch of the unioned data exactly
    (test-pinned), the property that lets a 1000-executor fleet build
    them independently and combine at negligible cost.

    NULL keys are excluded (they carry no frequency question to ask).
    """
    keyed = df.select(F.col(col).cast("string").alias("_k")).filter(
        F.col("_k").isNotNull()
    )
    exploded = keyed.select(
        F.posexplode(
            F.array(*[_cms_bucket(F.col("_k"), r, width) for r in range(depth)])
        ).alias("r", "bucket")
    )
    return exploded.groupBy("r", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Point-frequency estimates for `keys[col]` from a
    `count_min_sketch` built with the SAME depth/width: min over the
    key's depth counters. Adds ``cms_est`` to `keys`.

    The probe side is an inner join on (r, bucket) — every key matches
    all `depth` of its counters by construction (it contributed to
    them), and the sketch side is <= depth*width rows, so Spark
    broadcasts it under AQE regardless of how large the key list is.
    """
    probes = keys.select(
        *[F.col(c) for c in keys.columns],
        F.posexplode(
            F.array(
                *[
                    _cms_bucket(F.col(col).cast("string"), r, width)
                    for r in range(depth)
                ]
            )
        ).alias("r", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy(*keys.columns)
        .agg(F.min("cnt").alias("cms_est"))
    )


def cms_join_size_estimate(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int = 3
) -> DataFrame:
    """Equi-join cardinality estimate from two `count_min_sketch`es of
    the join columns (SAME depth/width): the CMS inner-product
    estimator — per hash row r, Σ_b a[r][b]·b[r][b]; the estimate is
    the MIN over rows. This is the pre-join planning primitive that
    pairs with `join_key_skew_report`: skew says HOW a key misbehaves,
    this says how big ``|A ⨝ B|`` will be — from two sketch-sized
    summaries, without touching either table again.

    Guarantees (classic CMS algebra, test-pinned):
    - `est >= true`: each row's inner product is Σ_keys a(k)·b(k)
      plus nonnegative collision cross-terms, and the true join size
      IS Σ_keys cnt_A(k)·cnt_B(k);
    - equality when no pair of distinct keys collides in some row;
    - built from merged sketches == built from unioned data (the
      counters merge by addition).

    Scale: both inputs are <= depth*width rows — the join, the
    per-row products, and the min are all driver-trivial, executed as
    a broadcast join over sketch-sized frames. Output: one row,
    ``join_size_est`` BIGINT — exact-integer arithmetic throughout
    (deterministic md5 counters), so the estimate itself is
    oracle-gradeable."""
    a = sketch_a.select("r", "bucket", F.col("cnt").alias("a"))
    b = sketch_b.select("r", "bucket", F.col("cnt").alias("b"))
    per_row = (
        a.join(b, ["r", "bucket"])
        .groupBy("r")
        .agg(F.sum(F.col("a") * F.col("b")).alias("ip"))
    )
    # a hash row where NO bucket is occupied on both sides has inner
    # product 0 — but the inner join drops it entirely, so min() over
    # the PRESENT rows would lose that exact 0. Fewer than `depth`
    # surviving rows means some row proved the join empty.
    return per_row.agg(
        F.when(F.count(F.lit(1)) < depth, F.lit(0))
        .otherwise(F.min("ip"))
        .cast("bigint")
        .alias("join_size_est"),
        F.lit(depth).alias("depth"),
    )


def hll_daily_sketches(
    df: DataFrame, ts_col: str, key_col: str, lgk: int = 12
) -> DataFrame:
    """Per-day Datasketches HLL state for `key_col`: ``(day, sketch)``.

    The pre-aggregation half of the sketch-rollup pattern: the corpus
    is scanned ONCE, and what persists per day is a fixed <= 2^lgk
    -register binary blob instead of the day's key set. NULL keys are
    excluded (they aren't a distinct value of interest).
    """
    return (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("sketch"))
    )


def hll_rolling_distinct(daily: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling `window_days`-day distinct estimates from per-day HLL
    sketches: ``(day, n_days_merged, approx_distinct)``.

    THE reason sketches exist at 100 TB: an exact rolling 7-day
    distinct either rescans 7 days of raw data per output day or
    shuffles the full (day x key) space through a window; this merges
    7 byte-blobs per day from a frame whose size is the number of
    DAYS. HLL union is lossless over sketch state — union(sketch(A),
    sketch(B)) has identical registers to sketch(A ∪ B) at the same
    lgk — so pre-aggregation costs NO accuracy vs sketching each
    window from raw data (test-pinned).

    Each day contributes via an explode over its forward window
    offsets (0..window_days-1): day d's sketch reaches target days
    d..d+w-1, and target days keep only windows fully inside the
    observed range. Input is day-cardinality-sized; everything here
    is negligible next to the one corpus scan in
    `hll_daily_sketches`.

    `daily` has TWO consumers here (the fan-out and the observed-day
    join); when it is an expensive derivation (a raw-corpus
    `hll_daily_sketches`), column pruning specializes each branch's
    subtree and defeats AQE exchange reuse — the corpus would scan
    once per branch. So the day-sized `daily` is eagerly checkpointed
    first — ONE corpus scan — and the day-sized result is
    checkpointed so the intermediate's blocks are freed before
    returning (the pagerank/components idiom, operators/checkpoints.py);
    `lazy_results()` keeps the lazy plan.
    """
    from .checkpoints import resolve_materialize, unpersist_local_checkpoint

    mat = resolve_materialize()
    if mat:
        daily = daily.localCheckpoint(eager=True)
    w = window_days
    fanned = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("_off"),
        F.col("day"),
        F.col("sketch"),
    ).select(
        F.date_add(F.col("day"), F.col("_off")).alias("target_day"), "sketch"
    )
    merged = fanned.groupBy("target_day").agg(
        F.hll_union_agg("sketch").alias("merged"),
        F.count(F.lit(1)).alias("n_days_merged"),
    )
    # one output row per OBSERVED day (the forward fan-out also lands
    # on up to w-1 phantom days past the range; days early in the
    # range legitimately carry partial windows, reported via
    # n_days_merged) — day-cardinality join, broadcast
    observed = daily.select(F.col("day").alias("target_day"))
    out = merged.join(F.broadcast(observed), "target_day").select(
        F.col("target_day").alias("day"),
        "n_days_merged",
        F.hll_sketch_estimate("merged").alias("approx_distinct"),
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(daily)
    return out


def histogram_daily_sketches(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
    by: list[str] | None = None,
) -> DataFrame:
    """Per-day fixed-edge equi-width histogram of `val_col`:
    ``(day, *by, bin, cnt)`` — the quantile member of the sketch-rollup
    family (HLL distinct at `hll_daily_sketches`, CMS frequency at
    `count_min_sketch`). ``by`` adds segment keys ("p95 per
    event_type per day"): state grows to ≤ n_bins rows per (day,
    segment), still sketch-sized.

    Why not `percentile_approx` per window: its GK state is not a
    storable, mergeable relation — a rolling 7-day percentile either
    rescans 7 days of raw values per output day or shuffles the full
    (day x value) space. A fixed-edge histogram IS mergeable (counts
    add), carries <= n_bins rows per day, and bounds the quantile
    error by ONE BIN WIDTH — an explicit, tunable contract, vs GK's
    rank-error epsilon on a state you cannot persist relationally.

    Edges are FIXED PARAMETERS (not data-derived): data-dependent
    edges would make day A's bins incompatible with day B's and break
    the merge. Values outside [lo, hi) clamp into the edge bins, so
    edge-bin estimates are lower/upper bounds there; pick [lo, hi)
    from domain knowledge or a one-time profile (operators/profile.py
    gives min/max in the same scan it profiles everything else).
    NULLs are excluded. Deterministic integer counts + closed-form bin
    arithmetic: an exact SQL oracle can reproduce every output bit.
    """
    width = (hi - lo) / n_bins
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(val_col) - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    return (
        df.filter(F.col(val_col).isNotNull())
        .groupBy(
            F.to_date(F.col(ts_col)).alias("day"),
            *[F.col(c) for c in (by or [])],
            b.alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_rolling_quantiles(
    daily: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 128,
    window_days: int = 7,
    by: list[str] | None = None,
) -> DataFrame:
    """Rolling `window_days`-day quantile estimates from per-day
    histograms: ``(day, *by, n_days_merged, q, estimate)`` — pass the
    same ``by`` segment keys the daily sketches were built with and
    every window/merge/estimate runs independently per segment.

    Merging is exact (bin counts add), so pre-aggregation costs NO
    accuracy vs histogramming each window from raw rows (test-pinned,
    the same losslessness contract as `hll_rolling_distinct`). The
    estimate is the type-1 (ceil-rank) quantile of the binned
    distribution with linear interpolation inside the hit bin, hence
    within one bin width of the true windowed quantile for in-range
    values.

    Everything downstream of the daily scan is day x bin sized: the
    forward fan-out is `window_days` row copies of a <= n_bins-row
    frame, the cumulative walk is a window over <= n_bins rows per
    day (bounded frame — the repo's allowlisted window discipline),
    and the q fan-out joins a len(qs)-literal array. Doubles appear
    only in the final +,*,/ interpolation — IEEE-exact operations, so
    the output is bit-identical across engines.

    `daily` has THREE consumers (merge fan-out, window-day counter,
    observed-day join), and column pruning specializes each branch
    past AQE exchange reuse — composed directly over a raw-corpus
    `histogram_daily_sketches`, the corpus would scan once PER
    BRANCH. So the day×bin-sized `daily` is eagerly checkpointed
    first — ONE corpus scan, honoring the scan-once claim above — and
    the day×q-sized result is checkpointed so the intermediate's
    blocks are freed before returning (operators/checkpoints.py).
    `lazy_results()` keeps the lazy plan.
    """
    from .checkpoints import resolve_materialize, unpersist_local_checkpoint

    mat = resolve_materialize()
    if mat:
        daily = daily.localCheckpoint(eager=True)
    w = window_days
    width = (hi - lo) / n_bins
    g = list(by or [])
    fanned = daily.select(
        F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("_off"),
        F.col("day"),
        *[F.col(c) for c in g],
        F.col("bin"),
        F.col("cnt"),
    ).select(
        F.date_add(F.col("day"), F.col("_off")).alias("target_day"),
        "day",
        *g,
        "bin",
        "cnt",
    )
    merged = fanned.groupBy("target_day", *g, "bin").agg(
        F.sum("cnt").alias("cnt")
    )
    days_per_target = fanned.groupBy("target_day", *g).agg(
        F.count_distinct("day").alias("n_days_merged")
    )
    by_day = Window.partitionBy("target_day", *g).orderBy("bin")
    cum = merged.select(
        "target_day",
        *g,
        "bin",
        "cnt",
        F.sum("cnt").over(by_day).alias("_cum"),
        F.sum("cnt")
        .over(Window.partitionBy("target_day", *g))
        .alias("_total"),
    ).withColumn("_cum_prev", F.col("_cum") - F.col("cnt"))
    hit = (
        cum.select(
            "*",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        )
        .withColumn(
            "_rank",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.least(
                    F.col("_total"),
                    F.ceil(F.col("q") * F.col("_total")),
                ),
            ),
        )
        .filter(
            (F.col("_cum_prev") < F.col("_rank"))
            & (F.col("_rank") <= F.col("_cum"))
        )
    )
    est = hit.select(
        "target_day",
        *g,
        "q",
        (
            F.lit(float(lo))
            + F.lit(float(width))
            * (
                F.col("bin")
                + (F.col("_rank") - F.col("_cum_prev")) / F.col("cnt")
            )
        ).alias("estimate"),
    )
    observed = daily.select("day", *g).distinct().select(
        F.col("day").alias("target_day"), *g
    )
    out = (
        est.join(F.broadcast(observed), ["target_day", *g])
        .join(F.broadcast(days_per_target), ["target_day", *g])
        .select(
            F.col("target_day").alias("day"),
            *g,
            "n_days_merged",
            "q",
            "estimate",
        )
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(daily)
    return out


_GROUP_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.StringType()),
        T.StructField("item", T.StringType()),  # NULL on a group's D row
        T.StructField("cnt", T.LongType()),
        T.StructField("dec", T.LongType()),
    ]
)


def _mg_group_fold(capacity: int, group_col: str, col: str):
    def fold(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, dict[str, int]] = {}
        decremented: dict[str, int] = {}
        for pdf in it:
            sub = pdf.dropna(subset=[group_col, col])
            for g, vals in sub.groupby(group_col)[col]:
                cur = counters.setdefault(str(g), {})
                for item, c in vals.astype(str).value_counts().items():
                    cur[item] = cur.get(item, 0) + int(c)
                if len(cur) > capacity:
                    cut = sorted(cur.values(), reverse=True)[capacity]
                    decremented[str(g)] = (
                        decremented.get(str(g), 0) + cut
                    )
                    counters[str(g)] = {
                        k: v - cut for k, v in cur.items() if v > cut
                    }
        grps, items, cnts, decs = [], [], [], []
        for g, cur in counters.items():
            for item, c in cur.items():
                grps.append(g)
                items.append(item)
                cnts.append(c)
                decs.append(0)
            grps.append(g)
            items.append(None)
            cnts.append(0)
            decs.append(decremented.get(g, 0))
        yield pd.DataFrame(
            {
                "grp": pd.Series(grps, dtype="object"),
                "item": pd.Series(items, dtype="object"),
                "cnt": pd.Series(cnts, dtype="int64"),
                "dec": pd.Series(decs, dtype="int64"),
            }
        )

    return fold


def frequent_items_mg_by(
    df: DataFrame, group_col: str, col: str, capacity: int = 64
) -> DataFrame:
    """Per-group Misra-Gries heavy hitters: ``(group, item,
    count_lower, count_upper)`` with the SAME two-sided contract as
    `frequent_items_mg`, held PER GROUP — lower ≤ true ≤ upper with
    one global error mass D_g per group, and every item whose
    within-group count exceeds D_g is present.

    The question the global sketch can't answer ("top tokens per
    language", "top user agents per tenant"): an exact per-group top-k
    shuffles every distinct (group, key) pair; this folds each
    partition to ≤ capacity counters PER GROUP seen there (the
    `kmv_sketch_by` dict discipline over the `_mg_fold` batched
    decrement), so the shuffle carries group-count × capacity rows per
    partition. NULL groups and NULL items are excluded."""
    summaries = (
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(col).cast("string").alias(col),
        )
        .mapInPandas(
            _mg_group_fold(capacity, group_col, col),
            schema=_GROUP_SUMMARY_SCHEMA,
        )
    )
    d_total = (
        summaries.filter(F.col("item").isNull())
        .groupBy("grp")
        .agg(F.coalesce(F.sum("dec"), F.lit(0)).alias("_d"))
    )
    merged = (
        summaries.filter(F.col("item").isNotNull())
        .groupBy("grp", "item")
        .agg(F.sum("cnt").alias("count_lower"))
    )
    return merged.join(F.broadcast(d_total), "grp").select(
        F.col("grp").alias("group"),
        "item",
        "count_lower",
        (F.col("count_lower") + F.col("_d")).alias("count_upper"),
    )

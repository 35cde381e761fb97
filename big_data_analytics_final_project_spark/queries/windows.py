"""Window functions and time-windowed analytics.

The reference has NO window functions (SURVEY.md §2.6) — all its top-Ns
are global sort+limit and its sessions are pre-materialized. These are
the idiomatic-Spark upgrades the survey calls out: ranking per group,
running aggregates, event-time tumbling windows, and sessionization
recomputed from the raw event log.

Scale: every query here shuffles once on its partition key and reuses
that partitioning for any follow-up aggregate. Running sums go through
the exact accumulator (`exact_sum_over`, functions/numeric.py) so
window-frame evaluation order can't perturb the float result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import exact_sum, exact_sum_over, exact_sum_sql
from ..operators.asof import asof_join
from ..operators.rangejoin import interval_join
from ..operators.sessionize import sessionize, sessionize_sql
from ..sources import load_table
from . import QuerySpec


def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per group — 'top-N per key', the shape SURVEY §2.6
    notes the reference approximates with global sorts."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    )


TOP_ORDER_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
         ) AS rn
  FROM orders
)
WHERE rn = 1
ORDER BY o_custkey
"""


def top_order_per_customer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-1 per group WITHOUT a window: max_by-style argmax via a
    single hash aggregate of (price, orderkey) structs — shares
    `top_order_per_customer`'s oracle verbatim (differential proof of
    the plan alternative).

    Why it exists at 100 TB: the window form shuffles and then SORTS
    every group; this form is one partial-aggregating shuffle whose
    per-group state is ONE struct — strictly less work when only the
    argmax is wanted. Tie semantics must be encoded in the struct
    order: max of (price, then LOWEST orderkey) is spelled
    max((price, -orderkey)) since struct comparison is lexicographic
    ascending per field."""
    orders = load_table(spark, sf_dir, "orders")
    best = F.max(
        F.struct(
            F.col("o_totalprice"),
            (-F.col("o_orderkey")).alias("_neg_key"),
        )
    ).alias("_best")
    return (
        orders.groupBy("o_custkey")
        .agg(best)
        .select(
            "o_custkey",
            (-F.col("_best._neg_key")).cast("bigint").alias("o_orderkey"),
            F.col("_best.o_totalprice").alias("o_totalprice"),
        )
        .orderBy("o_custkey")
    )


def customer_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running spend + days-since-previous-order per customer
    (cumulative frame + lag)."""
    orders = load_table(spark, sf_dir, "orders")
    w = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        exact_sum_over(
            "o_totalprice",
            f"{w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
            "running_spend",
        ),
        F.expr(f"row_number() OVER ({w})").alias("order_seq"),
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), "
            f"lag(CAST(o_orderdate AS DATE)) OVER ({w}))"
        ).alias("days_since_prev"),
    ).orderBy("o_custkey", "order_seq")


CUSTOMER_ORDER_HISTORY_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS VARCHAR) AS DOUBLE) AS running_spend,
       row_number() OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS order_seq,
       CAST(date_diff('day',
         lag(CAST(o_orderdate AS DATE)) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ),
         CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
FROM orders
ORDER BY o_custkey, order_seq
"""


def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregate (batch form of the
    Structured Streaming query in streaming/ — SURVEY.md §7.6). The
    `window()` expression is the same one `readStream` uses."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


EVENTS_TUMBLING_HOURLY_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       {exact_sum_sql("value", "sum_value")}
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


def events_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window: 2-hour windows advancing every hour,
    so each event lands in exactly 2 overlapping windows (the moving-
    average shape tumbling windows can't express). Same `window()`
    expression Structured Streaming uses — this is the batch twin.

    Scale: Spark expands the slide map-side (duration/slide copies per
    row — keep that ratio small) and the aggregate is still one
    map-side-combinable shuffle on the window key.

    The oracle reproduces the expansion declaratively: epoch-aligned
    hour buckets shifted i ∈ {0, 1} hours back."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


EVENTS_SLIDING_2H_SQL = f"""
SELECT window_start,
       window_start + INTERVAL 2 HOUR AS window_end,
       count(*) AS n_events,
       {exact_sum_sql("value", "sum_value")}
FROM (
  SELECT time_bucket(INTERVAL '1 hour', ts) - r.i * INTERVAL '1 hour'
           AS window_start,
         value
  FROM events, range(0, 2) r(i)
)
GROUP BY window_start
ORDER BY window_start
"""


def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization of the event log (30-min gap) —
    recomputes what the reference's generator synthesizes
    (data_generator.py:252-321); see operators/sessionize.py."""
    events = load_table(spark, sf_dir, "events")
    return sessionize(events, gap_seconds=1800, tiebreak_col="event_id")


EVENTS_SESSIONIZED_SQL = sessionize_sql(gap_seconds=1800, tiebreak_col="event_id")


def session_stats_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-level rollup over derived sessions: the reference's
    engagement metrics (AGG-8/AGG-9) recomputed from first principles
    instead of trusting a pre-built session store."""
    sess = events_sessionized(spark, sf_dir)
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            exact_sum("duration_s", "total_duration_s"),
            F.sum("n_events").alias("total_events"),
        )
        .withColumn("avg_events_per_session", F.col("total_events") / F.col("n_sessions"))
        .orderBy("user_id")
    )


SESSION_STATS_PER_USER_SQL = f"""
WITH sessions AS ({EVENTS_SESSIONIZED_SQL.replace(";", "")})
SELECT user_id,
       count(*) AS n_sessions,
       {exact_sum_sql("duration_s", "total_duration_s")},
       CAST(sum(n_events) AS BIGINT) AS total_events,
       CAST(sum(n_events) AS DOUBLE) / count(*) AS avg_events_per_session
FROM sessions
GROUP BY user_id
ORDER BY user_id
"""


def purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase event picks up the
    user's most recent click at-or-before it. The oracle is DuckDB's
    native ASOF LEFT JOIN — differential proof the union+window
    formulation implements the same semantics."""
    events = load_table(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max(F.struct(F.col("event_id"), F.col("value"))).alias("m"))
        .select(
            "user_id",
            "ts",
            F.col("m.event_id").alias("click_event_id"),
            F.col("m.value").alias("click_value"),
        )
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        ts_col="ts",
        payload_cols=["click_event_id", "click_value"],
    ).orderBy("event_id")


def clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/rangejoin.py): for every purchase, how many
    clicks the same user made in the hour before it ([ts−1h, ts)).
    Capability upgrade — the reference has no interval join (SURVEY.md
    §2.4). The binned equi-join keeps the plan shuffle-partitionable;
    the oracle is DuckDB's declarative non-equi join over the same
    window — differential proof the binning loses/duplicates nothing.

    Scale: the purchase subset has TWO consumers (the interval-join
    probe and the zero-click left-join re-attach), and per-branch
    pruning defeated exchange reuse — the r13 scan audit measured 3
    events scans. So the purchase subset is eagerly checkpointed —
    purchases are a thin filtered slice of the log, orders of
    magnitude under the click fan-out — and events is scanned exactly
    twice (disjoint purchase / click pushed filters).
    `lazy_results()` keeps the lazy plan."""
    from ..operators.checkpoints import (
        resolve_materialize,
        unpersist_local_checkpoint,
    )

    mat = resolve_materialize()
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    if mat:
        purchases = purchases.localCheckpoint(eager=True)
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    matched = interval_join(
        purchases,
        clicks,
        on=["user_id"],
        lower_s=-3600.0,
        upper_s=0.0,
        closed="left",
    )
    counts = matched.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks_1h")
    )
    out = (
        purchases.join(counts, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.coalesce("n_clicks_1h", F.lit(0)).alias("n_clicks_1h"),
        )
        .orderBy("event_id")
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(purchases)
    return out


CLICKS_BEFORE_PURCHASE_SQL = """
WITH purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.ts,
       count(c.ts) AS n_clicks_1h
FROM purchases p LEFT JOIN clicks c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts < p.ts
GROUP BY p.event_id, p.user_id, p.ts
ORDER BY p.event_id
"""


def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: one pass producing
    the hour, day, and grand-total resolutions of the event stream via
    ROLLUP on the time hierarchy (capability upgrade; the reference
    has only single-level group-bys — SURVEY.md §2.5). `grain` labels
    each resolution, derived from `grouping()` flags.

    Scale: ROLLUP is one shuffle with partial aggregation; Spark
    expands grouping sets map-side, so the hour/day/total tiers don't
    re-scan the fact table — exactly how a 100 TB rollup should run.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    return (
        ev.select(day, hour, "value")
        .rollup("day", "hour")
        .agg(
            F.grouping_id().alias("_gid"),
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            F.when(F.col("_gid") == 3, F.lit("total"))
            .when(F.col("_gid") == 1, F.lit("day"))
            .otherwise(F.lit("hour"))
            .alias("grain"),
            "day",
            "hour",
            "n_events",
            "sum_value",
        )
        .orderBy(
            F.col("day").asc_nulls_first(),
            F.col("hour").asc_nulls_first(),
        )
    )


EVENTS_HYPERTABLE_ROLLUP_SQL = f"""
SELECT CASE WHEN grouping(date_trunc('day', ts)) = 1 THEN 'total'
            WHEN grouping(date_trunc('hour', ts)) = 1 THEN 'day'
            ELSE 'hour' END AS grain,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       count(*) AS n_events,
       {exact_sum_sql("value", "sum_value")}
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
ORDER BY day ASC NULLS FIRST, hour ASC NULLS FIRST
"""


def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per day (count(DISTINCT) — the reference
    only reaches distinct-by-proxy via dropDuplicates, SURVEY.md §2.5).
    The approximate twin (`approx_count_distinct`, HLL++ sketch — the
    mergeable one-pass answer at 100 TB where exact distinct means a
    full shuffle of user ids) is checked against this exact result in
    tests/test_oracle_parity.py within HLL's error bound."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("day")
    )


DAILY_ACTIVE_USERS_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('day', ts)
ORDER BY day
"""


def daily_active_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct users per day — the 100 TB answer
    where exact distinct means shuffling every user id: the sketch is
    mergeable, so each partition contributes a fixed-size summary and
    the shuffle carries sketches, not ids.

    DuckDB's approx_count_distinct uses a DIFFERENT sketch, so the raw
    estimates can never hash-match across engines — instead the graded
    output is the ACCURACY ACCEPTANCE: per day, a boolean asserting the
    HLL estimate lands within 5% of exact (rsd=0.02, so 5% is ≈2.5σ);
    the oracle computes the exact side and asserts TRUE. The exact
    countDistinct here exists only to judge the sketch — the
    production plan at 100 TB is the sketch-only aggregate (the
    `n_users_approx` branch of this very groupBy), with
    `daily_active_users` as the exact twin.

    NOTE on the oracle: the DuckDB side is deliberately a
    coverage-plus-constant-TRUE select (day keys must match; the
    boolean must be TRUE) — cross-engine sketch estimates can never
    hash-match, so the assertion lives in Spark's computed acceptance,
    not in an independent re-computation."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    within = (
        F.abs(F.col("n_approx") - F.col("n_exact"))
        / F.col("n_exact")
        <= 0.05
    )
    return agg.select(
        "day", within.alias("within_5pct_of_exact")
    ).orderBy("day")


DAILY_ACTIVE_USERS_APPROX_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       TRUE AS within_5pct_of_exact
FROM events
GROUP BY date_trunc('day', ts)
ORDER BY day
"""


def order_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL/GK-style approximate quantiles (`percentile_approx`) with a
    graded ACCURACY ACCEPTANCE — the second member of the sketch
    family next to `daily_active_users_approx`'s HLL bound. At 100 TB
    the mergeable single-pass sketch replaces exact percentile's
    per-group sort; this query grades that replacement per order
    priority: the p50/p90 estimates must land inside the exact
    quantile envelope at p ± 2·(1/accuracy) (accuracy=10000 bounds
    rank error by n/10000), and the DuckDB oracle computes nothing
    approximate — it asserts the acceptance is TRUE.

    The acceptance is judged in RANK space, not value space: the
    sketch returns a REALIZED data value, so its quality contract is
    on the value's rank (|rank − p·n| ≤ n/accuracy), not its
    magnitude — a value-space envelope is arbitrarily tight wherever
    the distribution is locally dense. Because ties give a repeated
    value a whole INTERVAL of ranks, the audit measures both ends —
    min-rank = count(x < v) + 1 and max-rank = count(x ≤ v) — on a
    second pass (judging only; the sketch itself is single-pass) and
    accepts iff that interval intersects [p·n − m, p·n + m] with
    m = n/accuracy + 1 (the +1 absorbs rank discretization — the
    contract term is sub-row below n = accuracy); a single max-rank
    probe would wrongly reject a conforming sketch wherever a heavy
    tie spans the envelope boundary.

    NOTE on the oracle: the DuckDB side is deliberately a
    coverage-plus-constant-TRUE select (group keys must match; the
    booleans must all be TRUE) — the two engines' sketches can never
    hash-match, so the assertion lives in Spark's computed acceptance,
    not in an independent re-computation.

    Scale: one aggregate shuffle for the sketch, one broadcast-join +
    re-aggregate for the rank audit; the production plan is just the
    sketch branch."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    approx = orders.groupBy("o_orderpriority").agg(
        F.expr(
            "CAST(percentile_approx(o_totalprice, 0.5, 10000) AS DOUBLE)"
        ).alias("_a50"),
        F.expr(
            "CAST(percentile_approx(o_totalprice, 0.9, 10000) AS DOUBLE)"
        ).alias("_a90"),
        F.count(F.lit(1)).alias("_n"),
    )
    ranks = (
        orders.join(F.broadcast(approx), "o_orderpriority")
        .groupBy("o_orderpriority", "_a50", "_a90", "_n")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") < F.col("_a50"), 1).otherwise(0)
            ).alias("_r50_lt"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("_a50"), 1).otherwise(0)
            ).alias("_r50_le"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("_a90"), 1).otherwise(0)
            ).alias("_r90_lt"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("_a90"), 1).otherwise(0)
            ).alias("_r90_le"),
        )
    )
    # n/accuracy is the sketch's rank-error contract; the +1 absorbs
    # rank DISCRETIZATION (the sketch targets ceil(p*n), and at small
    # n the contract term is sub-row: n/10000 < 1 below n=10^4, which
    # would demand an exact fractional rank no realized value has)
    margin = F.col("_n").cast("double") / 10000 + 1.0
    # v's realized rank interval is [count(<v)+1, count(<=v)]; accept
    # iff it intersects the sketch envelope [p*n - margin, p*n + margin].
    within = lambda lt, le, p: (  # noqa: E731
        (F.col(lt) + 1 <= p * F.col("_n") + margin)
        & (F.col(le) >= p * F.col("_n") - margin)
    )
    return ranks.select(
        "o_orderpriority",
        within("_r50_lt", "_r50_le", 0.5).alias("p50_within_bound"),
        within("_r90_lt", "_r90_le", 0.9).alias("p90_within_bound"),
    ).orderBy("o_orderpriority")


ORDER_PRICE_QUANTILES_APPROX_SQL = """
SELECT o_orderpriority,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def user_rolling_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day spend per customer via a RANGE interval frame —
    the time-series window shape the reference's pandas post-processing
    can't express at scale (SURVEY.md §2.6 upgrade family).

    Scale: a RANGE frame is ONE shuffle on the partition key plus a
    per-partition sort — the naive alternative (self-join on a 7-day
    band) shuffles the fact table twice and explodes intermediate rows
    by the window width. Frame bounds are in epoch days, so ties on the
    same day aggregate identically on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_day"),
            "o_totalprice",
        )
        .withColumn(
            "spend_7d",
            exact_sum_over(
                "o_totalprice",
                "PARTITION BY o_custkey ORDER BY unix_date(order_day) "
                "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW",
                "spend_7d",
            ),
        )
        .drop("o_totalprice")
        .orderBy("o_custkey", "order_day", "o_orderkey")
    )


USER_ROLLING_7D_SPEND_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_day,
       CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,6))) OVER (
         PARTITION BY o_custkey
         ORDER BY CAST(o_orderdate AS DATE)
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS spend_7d
FROM orders
ORDER BY o_custkey, order_day, o_orderkey
"""


def events_gap_filled_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts over a CONTINUOUS hour spine: missing hours
    appear with zero counts, and the hourly value-sum is forward-filled
    (last observation carried forward) — the hypertable
    gap-fill/`locf` shape time-series stores provide natively.

    Scale: the spine is generated post-aggregation from min/max bounds
    (a 1-row broadcast), so it is hours-sized, never event-sized; the
    forward fill is one window over that small spine. The raw
    aggregation below it stays the usual single-shuffle hash agg."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("value", "sum_value"),
    )
    bounds = hourly.agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    w_fill = Window.orderBy("hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spine.join(hourly, "hour", "left")
        .select(
            "hour",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
            F.last(F.col("sum_value"), ignorenulls=True)
            .over(w_fill)
            .alias("sum_value_ffill"),
        )
        .orderBy("hour")
    )


EVENTS_GAP_FILLED_HOURLY_SQL = """
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
         count(*) AS n,
         SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS sum_dec
  FROM events GROUP BY 1
),
bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM hourly),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
)
SELECT s.hour,
       COALESCE(h.n, 0) AS n_events,
       COALESCE(CAST(h.sum_dec AS DOUBLE), 0.0) AS sum_value,
       CAST(last_value(h.sum_dec IGNORE NULLS) OVER (
         ORDER BY s.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS sum_value_ffill
FROM spine s LEFT JOIN hourly h USING (hour)
ORDER BY s.hour
"""


def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency over derived sessions via a sweep line: +1 at
    each session start, −1 at each end, running-sum the deltas in
    (ts, starts-before-ends) order; the max is the peak and the
    earliest ts attaining it is reported. Sessions count as active on
    the closed interval [start, end].

    Scale — a TWO-LEVEL sweep, not one global ordered window (which
    would funnel every session boundary, billions at 100 TB, through a
    single task):

    1. bucket each delta by coarse time range (hour); within a bucket,
       an ordinary partitioned running-sum window — parallel across
       buckets, and (bucket, ts, kind) order equals (ts, kind) order
       because the bucket is monotone in ts;
    2. per-bucket totals (one row per hour) get the global prefix sum —
       the only single-partition step, over thousands of rows however
       big the log is — and are broadcast back as offsets;
    3. global running value = bucket offset + local running sum; the
       peak and its earliest ts come from ONE parallel
       max(struct(conc, −ts)) aggregation (map-side partials), not a
       second windowed pass or a join-back against the global max."""
    sess = events_sessionized(spark, sf_dir)
    # one row -> two delta rows via explode (NOT a union of two selects,
    # which would duplicate the whole sessionize subplan: one scan)
    deltas = (
        sess.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("session_start").alias("ts"),
                        F.lit(0).alias("kind"),  # starts sort before ends
                        F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.col("session_end").alias("ts"),
                        F.lit(1).alias("kind"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("d")
        )
        .select("d.ts", "d.kind", "d.delta")
        .withColumn("_us", F.unix_micros(F.col("ts").cast("timestamp")))
    )
    bucket_us = 3600 * 1_000_000  # hourly sweep buckets
    deltas = deltas.withColumn(
        # exact floor division (pmod form survives pre-epoch timestamps)
        "_bucket",
        (
            (F.col("_us") - F.pmod(F.col("_us"), F.lit(bucket_us))) / bucket_us
        ).cast("long"),
    )
    w_local = Window.partitionBy("_bucket").orderBy("ts", "kind").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = deltas.withColumn("_local", F.sum("delta").over(w_local))
    totals = deltas.groupBy("_bucket").agg(F.sum("delta").alias("_btot"))
    w_prefix = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_bucket",
        F.coalesce(F.sum("_btot").over(w_prefix), F.lit(0)).alias("_offset"),
    )
    running = local.join(F.broadcast(offsets), "_bucket").withColumn(
        "conc", (F.col("_offset") + F.col("_local")).cast("bigint")
    )
    best = running.agg(
        F.max(
            F.struct(F.col("conc"), (-F.col("_us")).alias("_neg_us"))
        ).alias("b")
    )
    return best.select(
        F.col("b.conc").alias("peak_concurrency"),
        F.timestamp_micros(-F.col("b._neg_us")).alias("first_peak_ts"),
    )


CONCURRENT_SESSIONS_PEAK_SQL = f"""
WITH sessions AS ({EVENTS_SESSIONIZED_SQL}),
deltas AS (
  SELECT session_start AS ts, 0 AS kind, 1 AS delta FROM sessions
  UNION ALL
  SELECT session_end AS ts, 1 AS kind, -1 AS delta FROM sessions
),
running AS (
  SELECT ts,
         CAST(SUM(delta) OVER (
           ORDER BY ts, kind ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS conc
  FROM deltas
)
SELECT CAST(max(conc) AS BIGINT) AS peak_concurrency,
       min(ts) AS first_peak_ts
FROM running
WHERE conc = (SELECT max(conc) FROM running)
"""


def purchase_last_click_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLT-1 null-row drop (reference `tx_products.dropna()`,
    spark_analysis.py:117) applied where nulls genuinely arise in this
    engine: purchases with no preceding click leave the as-of payload
    columns null; `na.drop` keeps matched rows only."""
    return purchase_last_click(spark, sf_dir).na.drop(
        subset=["asof_click_event_id"]
    )


PURCHASE_LAST_CLICK_MATCHED_SQL = """
WITH clicks AS (
  SELECT user_id, ts,
         max(event_id) AS click_event_id,
         arg_max(value, event_id) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
),
purchases AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
)
SELECT * FROM (
  SELECT p.user_id, p.ts, p.event_id, p.value,
         c.click_event_id AS asof_click_event_id,
         c.click_value AS asof_click_value
  FROM purchases p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
) WHERE asof_click_event_id IS NOT NULL
ORDER BY event_id
"""


PURCHASE_LAST_CLICK_SQL = """
WITH clicks AS (
  SELECT user_id, ts,
         max(event_id) AS click_event_id,
         arg_max(value, event_id) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
),
purchases AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
)
SELECT p.user_id, p.ts, p.event_id, p.value,
       c.click_event_id AS asof_click_event_id,
       c.click_value AS asof_click_value
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


def user_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's event stream into maximal
    runs of consecutive identical event types — (user, 'click' x 5,
    [t0, t4]) — the classic change-detection shape behind session
    labeling, state-transition mining, and dedup of repeated telemetry.
    Neither sessionization (gap-timeout islands, `events_sessionized`)
    nor tumbling windows express it: run boundaries are VALUE changes,
    not time gaps.

    Formulation: lag() marks type-change rows, a running ROWS-frame sum
    of those marks numbers the runs, then one hash aggregate per
    (user, run) emits bounds and counts. Order within a user is
    (ts, event_id) — event_id is unique, so the numbering (and hence
    the whole result) is deterministic on both engines.

    Scale: both window passes AND the final aggregate share one
    partitioning (user_id) — one shuffle total, then AQE-coalesced
    output. No self-join, no global window; the per-user sort is the
    only super-linear term and it stays inside each partition.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # eqNullSafe: the first row's lag() is NULL and must count as a
    # change — identical to SQL's IS DISTINCT FROM.
    chg = F.when(
        F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 0
    ).otherwise(1)
    runs = ev.withColumn("run_id", F.sum(chg).over(run_frame))
    return (
        runs.groupBy("user_id", "run_id", "event_type")
        .agg(
            F.min("ts").alias("run_start"),
            F.max("ts").alias("run_end"),
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .orderBy("user_id", "run_id")
    )


USER_EVENT_RUNS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, CAST(sum(chg) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS run_id
  FROM flagged
)
SELECT user_id, run_id, event_type,
       min(ts) AS run_start,
       max(ts) AS run_end,
       count(*) AS n_events,
       {exact_sum_sql("value", "sum_value")}
FROM numbered
GROUP BY user_id, run_id, event_type
ORDER BY user_id, run_id
"""


def customer_status_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD collapse over a change log (`operators.scd2`):
    each customer's order stream, ordered by (o_orderdate, o_orderkey),
    is treated as observations of a 2-attribute state
    (o_orderstatus, o_orderpriority); the operator collapses maximal
    unchanged periods into validity intervals — valid_from / valid_to
    (exclusive, NULL while current) / is_current / n_observations —
    the warehouse pattern that, at training-data scale, tracks
    document-license and label revisions for cutoff-dated corpora.

    The MULTI-column change predicate is what `user_event_runs`
    (single-value gaps-and-islands) doesn't exercise: a version breaks
    when EITHER attribute moves, via null-safe lag comparison.

    Scale (pinned in tests/test_scd2.py): the change-flag window, the
    version numbering, and the collapse aggregate all share ONE
    partitioning (o_custkey) — a single shuffle for the heavy pass;
    the valid_to lead() runs on the collapsed (one row per version)
    frame. Deterministic: o_orderkey is unique, so ordering ties are
    broken identically on both engines."""
    from ..operators.scd2 import scd2_collapse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        "o_orderstatus", "o_orderpriority",
    )
    out = scd2_collapse(
        orders,
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey",
    )
    return out.select(
        "o_custkey",
        "version",
        "o_orderstatus",
        "o_orderpriority",
        "valid_from",
        "valid_to",
        "is_current",
        "n_observations",
    ).orderBy("o_custkey", "version")


CUSTOMER_STATUS_SCD2_SQL = """
WITH flagged AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_orderpriority,
         CASE WHEN row_number() OVER w = 1
                   OR lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                   OR lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), numbered AS (
  SELECT *, CAST(sum(chg) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS version
  FROM flagged
), coll AS (
  SELECT o_custkey, version, o_orderstatus, o_orderpriority,
         min(o_orderdate) AS valid_from, count(*) AS n_observations
  FROM numbered
  GROUP BY o_custkey, version, o_orderstatus, o_orderpriority
)
SELECT o_custkey, version, o_orderstatus, o_orderpriority, valid_from,
       lead(valid_from) OVER wv AS valid_to,
       (lead(valid_from) OVER wv) IS NULL AS is_current,
       n_observations
FROM coll
WINDOW wv AS (PARTITION BY o_custkey ORDER BY version)
ORDER BY o_custkey, version
"""


def frequent_event_types_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (`operators.sketches.
    frequent_items_mg`) with a graded ACCEPTANCE — the third sketch
    family member next to the HLL distinct bound and the KLL/GK
    quantile rank-interval: at 100 TB, exact top-k over a
    high-cardinality column shuffles the whole key space, while MG
    merges capacity-bounded per-partition summaries (the shuffle
    carries <= capacity rows per partition, never raw keys).

    The REPORTED set depends on partition boundaries, so the graded
    output is the sketch's partition-independent CONTRACT, judged on
    the deterministic guaranteed-heavy set (true_count > n/(cap+1)):
    each such item must be reported (true_count > n/(cap+1) >= D, the
    total decremented mass, forces survival), its bounds must bracket
    the true count, and `all_reported_bounds_hold` asserts
    lower <= true <= upper over EVERY reported item (the exact
    groupBy here exists only to judge the sketch — the production
    plan at scale is `frequent_items_mg` alone). The DuckDB oracle
    computes the same guaranteed-heavy set exactly and asserts every
    acceptance column TRUE; capacity (4) sits below the language
    cardinality (5), so decrements REALLY happen in every partition —
    the bounds are exercised, not vacuous.

    The graded column is `documents.lang`, whose generator gives 'en'
    a ~40% share at every SF — far above the 20% guarantee threshold —
    so the heavy set stays non-empty under any testdata regeneration
    (event_type sits ~0.2% from its threshold: one reroll from a
    vacuous result)."""
    from ..operators.sketches import frequent_items_mg

    cap = 4
    docs = load_table(spark, sf_dir, "documents")
    reported = frequent_items_mg(
        docs.select("lang"), "lang", capacity=cap
    )
    exact = docs.groupBy(F.col("lang").alias("item")).agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n"))
    joined = exact.join(reported, "item", "left")
    bounds_ok = joined.agg(
        F.coalesce(
            F.bool_and(
                F.when(
                    F.col("count_lower").isNotNull(),
                    (F.col("count_lower") <= F.col("true_cnt"))
                    & (F.col("true_cnt") <= F.col("count_upper")),
                )
            ),
            F.lit(True),
        ).alias("all_reported_bounds_hold")
    )
    heavy = joined.crossJoin(F.broadcast(n_total)).filter(
        F.col("true_cnt") > F.col("n") / (cap + 1)
    )
    return (
        heavy.crossJoin(F.broadcast(bounds_ok))
        .select(
            "item",
            F.col("count_lower").isNotNull().alias("is_reported"),
            (F.col("count_lower") <= F.col("true_cnt")).alias("lower_le_true"),
            (F.col("true_cnt") <= F.col("count_upper")).alias("true_le_upper"),
            "all_reported_bounds_hold",
        )
        .orderBy("item")
    )


_CMS_DEPTH = 3
_CMS_WIDTH = 64
# join-size estimation needs width ~ key-cardinality/error, not the
# point-query width (join_size_cms docstring)
_CMS_JOIN_WIDTH = 131072


def user_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates (`operators.sketches.
    count_min_sketch`) for the top-10 users by event count — the
    FOURTH sketch family member (HLL distinct, KLL/GK quantile
    intervals, MG heavy hitters, CMS point frequencies).

    Unlike MG, every CMS counter is an exact groupBy count under a
    deterministic md5 hash, so the estimates themselves are
    partition-independent and this query gets a FULL exact oracle: the
    DuckDB twin rebuilds the same depth x width matrix and must
    reproduce `cms_est` bit-for-bit — including the collision-driven
    overestimates (width 64 < 150 distinct users at sf0.01, so
    collisions genuinely occur and `overestimate` is non-zero for
    some keys; `est_ge_true` pins the one-sided guarantee).

    Scale: exact per-key counts over 100 TB shuffle the whole key
    space; the sketch shuffles <= depth*width partial rows per task
    and merges by addition (the exact groupBy here exists only to
    judge the sketch)."""
    from ..operators.sketches import cms_estimate, count_min_sketch

    events = load_table(spark, sf_dir, "events")
    sketch = count_min_sketch(
        events.select("user_id"), "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    exact = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    top = exact.orderBy(F.col("true_cnt").desc(), F.col("user_id")).limit(10)
    est = cms_estimate(
        sketch, top, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return est.select(
        "user_id",
        "true_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("true_cnt")).alias("overestimate"),
        (F.col("cms_est") >= F.col("true_cnt")).alias("est_ge_true"),
    ).orderBy("user_id")


USER_FREQ_CMS_SQL = f"""
WITH d(r) AS (VALUES (0), (1), (2)),
k AS (
  SELECT CAST(user_id AS VARCHAR) AS _k FROM events
  WHERE user_id IS NOT NULL
),
buck AS (
  SELECT d.r,
         ('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || k._k), 1, 8))
           ::BIGINT % {_CMS_WIDTH} AS bucket
  FROM k CROSS JOIN d
),
sketch AS (SELECT r, bucket, count(*) AS cnt FROM buck GROUP BY r, bucket),
ex AS (
  SELECT user_id, count(*) AS true_cnt FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id
),
top AS (SELECT user_id, true_cnt FROM ex ORDER BY true_cnt DESC, user_id LIMIT 10),
probes AS (
  SELECT t.user_id, t.true_cnt, d.r,
         ('0x' || substr(
            md5(CAST(d.r AS VARCHAR) || ':' || CAST(t.user_id AS VARCHAR)),
            1, 8))::BIGINT % {_CMS_WIDTH} AS bucket
  FROM top t CROSS JOIN d
),
est AS (
  SELECT p.user_id, p.true_cnt, min(s.cnt) AS cms_est
  FROM probes p JOIN sketch s USING (r, bucket)
  GROUP BY p.user_id, p.true_cnt
)
SELECT user_id,
       CAST(true_cnt AS BIGINT) AS true_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - true_cnt AS BIGINT) AS overestimate,
       cms_est >= true_cnt AS est_ge_true
FROM est ORDER BY user_id
"""


def join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality estimate from Count-Min sketch algebra
    (`operators.sketches.cms_join_size_estimate`): |orders ⨝ lineitem
    ON orderkey| read off the two key columns' sketches via the CMS
    inner-product estimator — per hash row Σ_b a[r][b]·b[r][b], min
    over rows. With `join_key_skew_report` this is what a planner
    consults BEFORE a 100 TB join runs: skew says how a key
    misbehaves, this says how big the output will be — from two
    depth×width summaries, without touching either table again.

    Sizing is where the theory bites: the inner-product estimate
    carries additive error ≤ e·‖a‖₁·‖b‖₁/width per row (min over
    depth rows tightens it), so for a near-PK join — whose true size
    is only ~‖b‖₁ — width must scale like the smaller side's KEY
    CARDINALITY over the tolerated relative error, not the point-query
    width 64 (which overestimated this join 235x when first measured).
    At width 2^17 the measured estimate is 1.01x the true 6,000-row
    join at sf0.001 and 1.11x the true 60,000 at sf0.01; the sketch
    is still ≤ depth×width counters — KB-to-MB-scale state per side
    regardless of table size.

    Like `user_freq_cms`, every counter is an exact groupBy count
    under deterministic md5 hashes, so the ESTIMATE itself is
    partition-independent and gets a FULL exact oracle, and
    `est_ge_true` pins the one-sided guarantee. The exact join here
    exists only to judge the estimator — at 100 TB you would run ONLY
    the sketches.

    Scale: two one-scan sketch builds (shuffle ≤ depth×width partials
    per task), a sketch-sized join for the inner products; the judging
    exact join is the one expensive plan in the query and is exactly
    what the estimator replaces in production."""
    from ..operators.sketches import cms_join_size_estimate, count_min_sketch

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    sa = count_min_sketch(
        orders.select("o_orderkey"), "o_orderkey",
        depth=_CMS_DEPTH, width=_CMS_JOIN_WIDTH,
    )
    sb = count_min_sketch(
        lineitem.select("l_orderkey"), "l_orderkey",
        depth=_CMS_DEPTH, width=_CMS_JOIN_WIDTH,
    )
    est = cms_join_size_estimate(sa, sb, depth=_CMS_DEPTH).select(
        "join_size_est"
    )
    true_size = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .agg(F.count(F.lit(1)).alias("true_size"))
    )
    return est.crossJoin(true_size).select(
        "join_size_est",
        "true_size",
        (F.col("join_size_est") - F.col("true_size")).alias("overestimate"),
        (F.col("join_size_est") >= F.col("true_size")).alias("est_ge_true"),
    )


JOIN_SIZE_CMS_SQL = f"""
WITH d(r) AS (VALUES (0), (1), (2)),
ka AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS _k FROM orders
  WHERE o_orderkey IS NOT NULL
),
kb AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS _k FROM lineitem
  WHERE l_orderkey IS NOT NULL
),
sa AS (
  SELECT d.r,
         ('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || ka._k), 1, 8))
           ::BIGINT % {_CMS_JOIN_WIDTH} AS bucket,
         count(*) AS cnt
  FROM ka CROSS JOIN d GROUP BY 1, 2
),
sb AS (
  SELECT d.r,
         ('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || kb._k), 1, 8))
           ::BIGINT % {_CMS_JOIN_WIDTH} AS bucket,
         count(*) AS cnt
  FROM kb CROSS JOIN d GROUP BY 1, 2
),
ip AS (
  SELECT sa.r, CAST(SUM(sa.cnt * sb.cnt) AS BIGINT) AS ip
  FROM sa JOIN sb USING (r, bucket) GROUP BY sa.r
),
est AS (
  SELECT CAST(CASE WHEN count(*) < {_CMS_DEPTH} THEN 0 ELSE min(ip) END
              AS BIGINT) AS join_size_est
  FROM ip
),
tr AS (
  SELECT count(*) AS true_size
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT est.join_size_est,
       CAST(tr.true_size AS BIGINT) AS true_size,
       CAST(est.join_size_est - tr.true_size AS BIGINT) AS overestimate,
       est.join_size_est >= tr.true_size AS est_ge_true
FROM est CROSS JOIN tr
"""


FREQUENT_ITEMS_MG_SQL = """
WITH tot AS (SELECT count(*) AS n FROM documents),
ex AS (SELECT lang AS item, count(*) AS c FROM documents GROUP BY lang)
SELECT item,
       TRUE AS is_reported,
       TRUE AS lower_le_true,
       TRUE AS true_le_upper,
       TRUE AS all_reported_bounds_hold
FROM ex, tot
WHERE c > n / 5.0
ORDER BY item
"""


def purchase_pit_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension join — the feature-store
    training-data-assembly shape: each purchase event picks up the
    order-status SCD2 VERSION (customer_status_scd2) that was valid at
    the event's own timestamp, never a later one. This is the
    composition that prevents feature leakage when assembling labeled
    training rows from a slowly-changing dimension: a model trained on
    tomorrow's status for today's label is silently contaminated.

    SCD2 intervals are contiguous per key (each valid_to is the next
    valid_from; the last is open), so interval membership equals the
    AS-OF rule "latest version with valid_from <= ts" — one user-keyed
    union+window pass (operators/asof.py), no per-row interval probe,
    no join fan-out. Versions sharing a valid_from date (two attribute
    changes the same day) collapse to the highest version: the earlier
    one's interval [d, d) is empty, so it was never observable at any
    timestamp — the struct-max dedup encodes exactly that.

    Scale: the dimension side is version-cardinality (bounded by the
    order stream's change count), the event side streams through one
    (user_id)-keyed shuffle shared with the as-of window; events whose
    user has no order history keep NULL features (left semantics) —
    at 100 TB this is the nightly label-join over the feature store."""
    scd2 = customer_status_scd2(spark, sf_dir)
    dim = (
        scd2.groupBy("o_custkey", "valid_from")
        .agg(
            F.max(
                F.struct("version", "o_orderstatus", "o_orderpriority")
            ).alias("m")
        )
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("valid_from").alias("ts"),
            F.col("m.version").alias("status_version"),
            F.col("m.o_orderstatus").alias("order_status"),
            F.col("m.o_orderpriority").alias("order_priority"),
        )
    )
    purchases = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts", "event_id")
    out = asof_join(
        purchases,
        dim,
        on=["user_id"],
        ts_col="ts",
        payload_cols=["status_version", "order_status", "order_priority"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_status_version").alias("status_version"),
        F.col("asof_order_status").alias("order_status"),
        F.col("asof_order_priority").alias("order_priority"),
    ).orderBy("event_id")


PURCHASE_PIT_ORDER_STATUS_SQL = f"""
WITH scd2 AS (
{CUSTOMER_STATUS_SCD2_SQL}
),
dim AS (
  SELECT o_custkey AS user_id, valid_from AS ts,
         max(version) AS status_version,
         arg_max(o_orderstatus, version) AS order_status,
         arg_max(o_orderpriority, version) AS order_priority
  FROM scd2 GROUP BY o_custkey, valid_from
),
purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts,
       d.status_version, d.order_status, d.order_priority
FROM purchases p ASOF LEFT JOIN dim d
  ON p.user_id = d.user_id AND p.ts >= d.ts
ORDER BY p.event_id
"""


QUERIES: dict[str, QuerySpec] = {
    # the point-in-time SCD2 feature join (also held against its
    # oracle in tests/test_scd2.py) —
    "purchase_pit_order_status": QuerySpec(
        purchase_pit_order_status, PURCHASE_PIT_ORDER_STATUS_SQL
    ),
    "top_order_per_customer": QuerySpec(
        top_order_per_customer, TOP_ORDER_PER_CUSTOMER_SQL
    ),
    "top_order_per_customer_agg": QuerySpec(
        top_order_per_customer_agg, TOP_ORDER_PER_CUSTOMER_SQL
    ),
    "purchase_last_click": QuerySpec(purchase_last_click, PURCHASE_LAST_CLICK_SQL),
    "purchase_last_click_matched": QuerySpec(
        purchase_last_click_matched, PURCHASE_LAST_CLICK_MATCHED_SQL
    ),
    "clicks_before_purchase": QuerySpec(
        clicks_before_purchase, CLICKS_BEFORE_PURCHASE_SQL
    ),
    "events_hypertable_rollup": QuerySpec(
        events_hypertable_rollup, EVENTS_HYPERTABLE_ROLLUP_SQL
    ),
    "daily_active_users": QuerySpec(daily_active_users, DAILY_ACTIVE_USERS_SQL),
    "daily_active_users_approx": QuerySpec(
        daily_active_users_approx, DAILY_ACTIVE_USERS_APPROX_SQL
    ),
    "order_price_quantiles_approx": QuerySpec(
        order_price_quantiles_approx, ORDER_PRICE_QUANTILES_APPROX_SQL
    ),
    "user_rolling_7d_spend": QuerySpec(
        user_rolling_7d_spend, USER_ROLLING_7D_SPEND_SQL
    ),
    "events_gap_filled_hourly": QuerySpec(
        events_gap_filled_hourly, EVENTS_GAP_FILLED_HOURLY_SQL
    ),
    "concurrent_sessions_peak": QuerySpec(
        concurrent_sessions_peak, CONCURRENT_SESSIONS_PEAK_SQL
    ),
    "customer_order_history": QuerySpec(
        customer_order_history, CUSTOMER_ORDER_HISTORY_SQL
    ),
    "events_tumbling_hourly": QuerySpec(
        events_tumbling_hourly, EVENTS_TUMBLING_HOURLY_SQL
    ),
    "events_sliding_2h": QuerySpec(events_sliding_2h, EVENTS_SLIDING_2H_SQL),
    "events_sessionized": QuerySpec(events_sessionized, EVENTS_SESSIONIZED_SQL),
    "session_stats_per_user": QuerySpec(
        session_stats_per_user, SESSION_STATS_PER_USER_SQL
    ),
    "user_event_runs": QuerySpec(user_event_runs, USER_EVENT_RUNS_SQL),
    "customer_status_scd2": QuerySpec(
        customer_status_scd2, CUSTOMER_STATUS_SCD2_SQL
    ),
    "frequent_items_mg": QuerySpec(
        frequent_event_types_mg, FREQUENT_ITEMS_MG_SQL
    ),
    # registered r9 (authored-and-parity-tested in r8; window was full
    # — tests/test_sketches.py held it to the registry bar with a FULL
    # exact oracle since) —
    "user_freq_cms": QuerySpec(user_freq_cms, USER_FREQ_CMS_SQL),
    # registered r12 (authored+parity-tested r9, tests/test_sketches.py;
    # deferred since r10 by full windows) —
    "join_size_cms": QuerySpec(join_size_cms, JOIN_SIZE_CMS_SQL),
}

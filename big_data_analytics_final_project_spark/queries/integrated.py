"""Integrated engagement-vs-spend analytics.

The reference's EP-3 (integrated_query_engagement_vs_spend.py) scans
HBase row-by-row into Python dicts, runs a Mongo aggregation, merges in
pandas and hand-rolls Pearson correlation — four systems, one thread.
Here the whole thing is ONE declarative Spark plan: two hash
aggregations, a left join, derived expressions, exact-percentile
thresholds and a deterministic correlation. Operator IDs: AGG-8..13,
JOIN-3, FN-2..FN-5, SRT-4 (SURVEY.md §2).

Mapping onto the engine's zones: `events` plays the session log
(user_id, value≈duration), `orders` plays the transaction spend.

Scale: `engagement_vs_spend` and `segment_counts` are one SQL
statement over one per-user relation (`_segmented`). Events and orders
are each scanned once and aggregated with one shuffle on the user key;
the left join reuses that partitioning. The 75th-percentile thresholds
are `percentile(...) OVER ()` window columns over the joined users, so
no second aggregate branch re-reads the inputs and nothing is
broadcast back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import (
    CORR_FROM_COMPONENTS_SQL,
    corr_components,
    corr_components_sql,
    corr_from_components,
    exact_sum,
    exact_sum_final,
    exact_sum_partial,
    exact_sum_sql,
    exact_sum_text,
)
from ..sources import load_table
from . import QuerySpec


def user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement rollup — reference AGG-8/AGG-9
    (integrated_query_engagement_vs_spend.py:51-67,160-168), the
    defaultdict accumulation replaced by one hash aggregate."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("sessions_count"),
            exact_sum("value", "total_duration"),
        )
        .withColumn("avg_duration", F.col("total_duration") / F.col("sessions_count"))
        .orderBy("user_id")
    )


USER_ENGAGEMENT_SQL = f"""
SELECT user_id,
       count(*) AS sessions_count,
       {exact_sum_sql("value", "total_duration")},
       CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_duration
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend rollup — reference AGG-13 (the Mongo server-side
    pipeline at integrated_query_engagement_vs_spend.py:96-111)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            exact_sum("o_totalprice", "total_spent"),
            F.count(F.lit(1)).alias("num_orders"),
        )
        .orderBy("user_id")
    )


USER_SPEND_SQL = f"""
SELECT o_custkey AS user_id,
       {exact_sum_sql("o_totalprice", "total_spent")},
       count(*) AS num_orders
FROM orders
GROUP BY o_custkey
ORDER BY user_id
"""


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view → click → purchase funnel: a user counts
    at a stage only if the stage's first event happens AFTER the
    previous stage's first event. One row: users reaching each stage.

    Scale: each stage is a keyed min-aggregate joined to the previous
    stage's (shrinking) frontier — the frontier is user-cardinality,
    broadcastable or cheap to shuffle; the raw log is scanned with a
    pushed event_type filter per stage, never self-joined row×row.

    The viewed/clicked frontiers each have TWO consumers (the next
    stage's join and the final count), and optimizer specialization
    per branch (count-only pruning, per-branch AQE join strategy)
    defeats exchange reuse — measured 5 events scans in the executed
    plan where the design claims one per stage. So each frontier is
    eagerly checkpointed — user-cardinality, the pagerank node-frame
    class — and the log is scanned exactly once per stage; the 1-row
    result is checkpointed and the frontier blocks are freed before
    returning (operators/checkpoints.py). `lazy_results()` keeps the
    lazy plan."""
    from ..operators.checkpoints import (
        resolve_materialize,
        unpersist_local_checkpoint,
    )

    mat = resolve_materialize()
    events = load_table(spark, sf_dir, "events")

    def first_after(event_type: str, frontier, prev_ts: str, out: str):
        stage = events.filter(F.col("event_type") == event_type)
        if frontier is None:
            return stage.groupBy("user_id").agg(F.min("ts").alias(out))
        return (
            stage.join(frontier, "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    viewed = first_after("view", None, "", "first_view")
    if mat:
        viewed = viewed.localCheckpoint(eager=True)
    clicked = first_after("click", viewed, "first_view", "first_click")
    if mat:
        clicked = clicked.localCheckpoint(eager=True)
    purchased = first_after(
        "purchase", clicked, "first_click", "first_purchase"
    )
    # count(first_*): keeping the aggregate column referenced stops
    # the optimizer from specializing the count branch's subtree (it
    # stays reusable under lazy plan tooling too); the oracle counts
    # the same aggregate column, so a user whose stage events all
    # carry NULL ts drops on BOTH sides — structural equivalence, not
    # a data-property assumption (r13 ADVICE)
    out = (
        viewed.agg(F.count("first_view").alias("n_viewed"))
        .crossJoin(clicked.agg(F.count("first_click").alias("n_clicked")))
        .crossJoin(
            purchased.agg(F.count("first_purchase").alias("n_purchased"))
        )
    )
    if mat:
        out = out.localCheckpoint(eager=True)
        unpersist_local_checkpoint(viewed)
        unpersist_local_checkpoint(clicked)
    return out


CONVERSION_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS first_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.first_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.first_click
  GROUP BY e.user_id
)
SELECT (SELECT count(first_view) FROM v) AS n_viewed,
       (SELECT count(first_click) FROM c) AS n_clicked,
       (SELECT count(first_purchase) FROM p) AS n_purchased
"""


def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week,
    counted in every later week they return — the (cohort_week,
    week_offset, n_users) triangle every analytics store ships.

    Scale: ONE aggregation over the log (distinct user-weeks), then
    the cohort week as a MIN window over that distinct relation —
    min(distinct weeks) == min(all weeks) per user, so the first-seen
    aggregate needs no second pass over the fan-out (the r13 scan
    audit measured 2 events scans for the two-aggregate form; this
    one scans events once). The window partitions by user over a
    user-week-cardinality frame — orders of magnitude under the raw
    log — and rides the same user_id shuffle the distinct already
    established."""
    events = load_table(spark, sf_dir, "events")
    week = F.to_date(F.date_trunc("week", F.col("ts")))
    activity = events.select(
        "user_id", week.alias("week")
    ).distinct()
    by_user = Window.partitionBy("user_id")
    return (
        activity.withColumn(
            "cohort_week", F.min("week").over(by_user)
        )
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


WEEKLY_RETENTION_SQL = """
WITH first_seen AS (
  SELECT user_id,
         min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
)
SELECT f.cohort_week,
       CAST((a.week - f.cohort_week) // 7 AS BIGINT) AS week_offset,
       count(*) AS n_users
FROM activity a JOIN first_seen f USING (user_id)
GROUP BY f.cohort_week, week_offset
ORDER BY f.cohort_week, week_offset
"""


def user_spend_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_spend through the two-stage salted aggregation
    (operators/skew.py) — the plan a 100 TB deployment switches to
    when one key dominates so badly that even AQE's split partitions
    leave a hot final-merge task. Same oracle as `user_spend`: salting
    must be invisible in the result (exact-sum partials stay exact
    through stage 1, finalized to double only in the merge), so the
    hash match proves the skew path is a pure re-plan, not a
    re-definition."""
    from ..operators.skew import salted_agg

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_totalprice", "o_orderkey"
    )
    return salted_agg(
        orders,
        key_cols=["user_id"],
        aggs={
            "total_spent": (
                exact_sum_partial("o_totalprice", "total_spent"),
                lambda c: exact_sum_final(c, "total_spent"),
            ),
            "num_orders": (
                F.count(F.lit(1)).alias("num_orders"),
                lambda c: F.sum(c).cast("bigint"),
            ),
        },
        n_salts=8,
        identity_cols=["o_orderkey"],
    ).orderBy("user_id")


# The per-user relation of the integrated analytics, as Spark SQL over
# the `{events}` and `{orders}` frames; `_JOINED_SQL` is its DuckDB twin.
_PER_USER_SPARK_SQL = f"""
eng AS (
  SELECT user_id, count(1) AS sessions_count,
         {exact_sum_text("value")} AS total_duration
  FROM {{events}} GROUP BY user_id
),
spend AS (
  SELECT o_custkey AS user_id,
         {exact_sum_text("o_totalprice")} AS total_spent,
         count(1) AS num_orders
  FROM {{orders}} GROUP BY o_custkey
),
joined AS (
  SELECT e.user_id, e.sessions_count, e.total_duration,
         e.total_duration / e.sessions_count AS avg_duration,
         COALESCE(s.total_spent, 0.0D) AS total_spent,
         COALESCE(s.num_orders, 0L) AS num_orders
  FROM eng e LEFT JOIN spend s ON e.user_id = s.user_id
)
"""


def _per_user(spark: SparkSession, sf_dir: str, select: str) -> DataFrame:
    """Run ``select``, a query over the per-user relation's CTEs
    (``eng``, ``spend`` and their left join ``joined``)."""
    return spark.sql(
        f"WITH {_PER_USER_SPARK_SQL} {select}",
        events=load_table(spark, sf_dir, "events"),
        orders=load_table(spark, sf_dir, "orders"),
    )


_JOINED_SQL = f"""
eng AS (
  SELECT user_id, count(*) AS sessions_count,
         {exact_sum_sql("value", "total_duration")},
         CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_duration
  FROM events GROUP BY user_id
),
spend AS (
  SELECT o_custkey AS user_id,
         {exact_sum_sql("o_totalprice", "total_spent")},
         count(*) AS num_orders
  FROM orders GROUP BY o_custkey
),
joined AS (
  SELECT e.user_id, e.sessions_count, e.total_duration, e.avg_duration,
         COALESCE(s.total_spent, 0.0) AS total_spent,
         COALESCE(s.num_orders, 0) AS num_orders
  FROM eng e LEFT JOIN spend s USING (user_id)
)
"""


def _segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """engagement_vs_spend's columns, unsorted: the per-user relation
    with its derived columns and its segment, in one statement.

    The thresholds are window aggregates (``percentile(...) OVER
    ()``) over the joined users, so events and orders are scanned once
    each: a separate thresholds aggregate prunes the relation
    differently and re-reads both. The window runs on one task, over
    users, not events. An exact percentile aggregate has the same
    bound: its final buffer holds every user on one task."""
    return _per_user(spark, sf_dir, """
SELECT user_id, sessions_count, total_duration, avg_duration,
       total_spent, num_orders,
       sessions_count * (1.0D + avg_duration / 600.0D) AS engagement_score,
       CASE WHEN num_orders > 0 THEN total_spent / num_orders
            ELSE 0.0D END AS spend_per_order,
       num_orders > 0 AS is_buyer,
       CASE
         WHEN sessions_count >= q_sessions AND total_spent >= q_spend
           THEN 'champions'
         WHEN sessions_count >= q_sessions THEN 'window_shoppers'
         WHEN total_spent >= q_spend THEN 'efficient_buyers'
         ELSE 'casual'
       END AS segment
FROM (
  SELECT *,
         CAST(percentile(sessions_count, 0.75) OVER () AS DOUBLE) AS q_sessions,
         CAST(percentile(total_spent, 0.75) OVER () AS DOUBLE) AS q_spend
  FROM joined
)
""")


def engagement_vs_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full integrated analytic — join + null-fill (JOIN-3/FN-11),
    derived expressions (FN-2..FN-5: the reference's row-wise pandas
    `apply` lambdas become CASE columns), and 4-way segmentation on
    exact 75th-percentile thresholds (AGG-10/FN-4,
    integrated_query_engagement_vs_spend.py:195-220)."""
    return _segmented(spark, sf_dir).orderBy(
        F.col("total_spent").desc(), F.col("sessions_count").desc(), "user_id"
    )


ENGAGEMENT_VS_SPEND_SQL = f"""
WITH {_JOINED_SQL},
thr AS (
  SELECT CAST(quantile_cont(sessions_count, 0.75) AS DOUBLE) AS q_sessions,
         CAST(quantile_cont(total_spent, 0.75) AS DOUBLE) AS q_spend
  FROM joined
)
SELECT j.user_id, j.sessions_count, j.total_duration, j.avg_duration,
       j.total_spent, j.num_orders,
       j.sessions_count * (1.0 + j.avg_duration / 600.0) AS engagement_score,
       CASE WHEN j.num_orders > 0 THEN j.total_spent / j.num_orders
            ELSE 0.0 END AS spend_per_order,
       j.num_orders > 0 AS is_buyer,
       CASE
         WHEN j.sessions_count >= t.q_sessions AND j.total_spent >= t.q_spend
           THEN 'champions'
         WHEN j.sessions_count >= t.q_sessions THEN 'window_shoppers'
         WHEN j.total_spent >= t.q_spend THEN 'efficient_buyers'
         ELSE 'casual'
       END AS segment
FROM joined j CROSS JOIN thr t
ORDER BY j.total_spent DESC, j.sessions_count DESC, j.user_id
"""


def engagement_spend_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlations over buyers — reference AGG-11's hand-rolled
    `pearson_corr` (integrated_query_engagement_vs_spend.py:121-133,
    227-228), built from exact decimal moment sums so the result is
    partitioning-independent (see functions/numeric.py). Degenerate
    input → 0.0, matching the reference's guard. Both moment sets are
    one aggregate, so the per-user relation (and events) is read once."""
    joined = _per_user(spark, sf_dir, "SELECT * FROM joined WHERE total_spent > 0")
    spent = F.col("total_spent")
    return joined.agg(
        *corr_components(spent, F.col("sessions_count").cast("double"), "s"),
        *corr_components(spent, F.col("total_duration"), "d"),
    ).select(
        corr_from_components("corr_spent_sessions", "s"),
        corr_from_components("corr_spent_duration", "d"),
    )


ENGAGEMENT_SPEND_CORRELATION_SQL = f"""
WITH {_JOINED_SQL},
buyers AS (SELECT * FROM joined WHERE total_spent > 0),
m1 AS (
  SELECT {corr_components_sql("total_spent", "CAST(sessions_count AS DOUBLE)")}
  FROM buyers
),
m2 AS (
  SELECT {corr_components_sql("total_spent", "total_duration")}
  FROM buyers
)
SELECT
  (SELECT {CORR_FROM_COMPONENTS_SQL} FROM m1) AS corr_spent_sessions,
  (SELECT {CORR_FROM_COMPONENTS_SQL} FROM m2) AS corr_spent_duration
"""


def segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment frequency — reference AGG-12 (`value_counts()`,
    integrated_query_engagement_vs_spend.py:230)."""
    return (
        _segmented(spark, sf_dir)
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("segment")
    )


SEGMENT_COUNTS_SQL = f"""
WITH {_JOINED_SQL},
thr AS (
  SELECT CAST(quantile_cont(sessions_count, 0.75) AS DOUBLE) AS q_sessions,
         CAST(quantile_cont(total_spent, 0.75) AS DOUBLE) AS q_spend
  FROM joined
),
segmented AS (
  SELECT CASE
           WHEN j.sessions_count >= t.q_sessions AND j.total_spent >= t.q_spend
             THEN 'champions'
           WHEN j.sessions_count >= t.q_sessions THEN 'window_shoppers'
           WHEN j.total_spent >= t.q_spend THEN 'efficient_buyers'
           ELSE 'casual'
         END AS segment
  FROM joined j CROSS JOIN thr t
)
SELECT segment, count(*) AS n_users
FROM segmented
GROUP BY segment
ORDER BY segment
"""


def user_events_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup: one user's first 5 events in time order — the
    HBase rowkey-prefix scan (reference SRC-4/OPT-3, PDF §7.5,
    `PrefixFilter('user_000042|')` + LIMIT 5). On a `user_id`-
    partitioned, `ts`-sorted Parquet layout this is partition pruning +
    min/max skipping instead of a custom store."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("user_id") == 42)
        .select("event_id", "ts", "event_type", "value")
        .orderBy("ts", "event_id")
        .limit(5)
    )


USER_EVENTS_LOOKUP_SQL = """
SELECT event_id, ts, event_type, value
FROM events
WHERE user_id = 42
ORDER BY ts, event_id
LIMIT 5
"""


def top_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type — the MODE aggregate, spelled as
    count + row_number so the tie-break is DETERMINISTIC (highest
    count, then lexicographically first type). Native `mode()` in both
    engines picks an arbitrary element on ties, which can never
    hash-match across engines; this formulation is the portable form
    (reference AGG-12's value_counts, integrated_query_engagement_vs_
    spend.py:160-168, reduced to its argmax).

    Scale: one (user, type) aggregate with map-side partials, then a
    window PARTITIONED by user over ≤5 rows per user — bounded frame,
    never a global sort."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    cnt = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        cnt.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_event_type"),
            F.col("n").alias("n_events"),
        )
        .orderBy("user_id")
    )


TOP_EVENT_TYPE_PER_USER_SQL = """
WITH cnt AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events
  GROUP BY user_id, event_type
),
ranked AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type) AS rn
  FROM cnt
)
SELECT user_id, event_type AS top_event_type, n AS n_events
FROM ranked
WHERE rn = 1
ORDER BY user_id
"""


QUERIES: dict[str, QuerySpec] = {
    "user_engagement": QuerySpec(user_engagement, USER_ENGAGEMENT_SQL),
    "top_event_type_per_user": QuerySpec(
        top_event_type_per_user, TOP_EVENT_TYPE_PER_USER_SQL
    ),
    "user_spend": QuerySpec(user_spend, USER_SPEND_SQL),
    "user_spend_salted": QuerySpec(user_spend_salted, USER_SPEND_SQL),
    "conversion_funnel": QuerySpec(conversion_funnel, CONVERSION_FUNNEL_SQL),
    "weekly_retention": QuerySpec(weekly_retention, WEEKLY_RETENTION_SQL),
    "engagement_vs_spend": QuerySpec(engagement_vs_spend, ENGAGEMENT_VS_SPEND_SQL),
    "engagement_spend_correlation": QuerySpec(
        engagement_spend_correlation, ENGAGEMENT_SPEND_CORRELATION_SQL
    ),
    "segment_counts": QuerySpec(segment_counts, SEGMENT_COUNTS_SQL),
    "user_events_lookup": QuerySpec(user_events_lookup, USER_EVENTS_LOOKUP_SQL),
}

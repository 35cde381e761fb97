"""Physical-plan regression tests — the scale-design contract.

Correctness says WHAT each query computes; these pin HOW Catalyst
executes it: dims broadcast (fact side never shuffles for the join),
predicates reach the parquet scan, top-K plans as
TakeOrderedAndProject (no global sort), and shuffle counts stay at
their designed minimum. A regression here is a 100 TB performance bug
even when sf0.01 results stay correct.
"""

from __future__ import annotations

import re

import pytest

from big_data_analytics_final_project_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    count_broadcasts,
    count_scans,
    count_shuffles,
    physical_plan,
)
from big_data_analytics_final_project_spark.queries import all_queries

from .conftest import SF_SMOKE

SPECS = all_queries()


def _df(spark, name):
    return SPECS[name].fn(spark, SF_SMOKE)


def test_pricing_summary_single_agg_shuffle(spark):
    """Scan → pushed filter → partial agg → ONE shuffle → final agg →
    sort shuffle. Anything beyond 2 exchanges is a regression."""
    df = _df(spark, "pricing_summary")
    plan = physical_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert count_shuffles(df) <= 2


def test_dim_joins_broadcast(spark):
    """Fact-to-dim joins must broadcast the dim: the 100 TB fact side
    is never shuffled for the join itself."""
    for name in ("revenue_by_brand", "top_customers_top5", "international_revenue"):
        df = _df(spark, name)
        assert_broadcast_join(df)
        assert_no_cartesian(df)


def test_international_revenue_all_dims_broadcast(spark):
    """The 3-hop star join (supplier→nation→region) broadcasts every
    dim; the only shuffles are the final agg + sort."""
    df = _df(spark, "international_revenue")
    assert count_broadcasts(df) >= 3
    assert count_shuffles(df) <= 2


def test_topk_uses_take_ordered(spark):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort."""
    for name in ("top_spenders", "product_popularity", "top_customers_top5"):
        plan = physical_plan(_df(spark, name))
        assert "TakeOrderedAndProject" in plan, plan


def test_point_lookup_pushdown(spark):
    """The HBase-prefix-scan analog: the user_id predicate reaches the
    parquet scan (row-group min/max skipping at scale)."""
    plan = physical_plan(_df(spark, "user_events_lookup"))
    assert "PushedFilters" in plan
    assert "EqualTo(user_id,42)" in plan


def test_jaccard_candidate_join_carries_length_filter(spark):
    """The PPJoin length bound (min(sz) >= t*max(sz)) must sit in the
    candidate term-join's condition, BEFORE the dedup shuffle and the
    verification joins — removing it is row-identical (verification
    is exact) but silently triples the pairs reaching array_intersect
    (11.9M -> 3.7M measured on sf0.1 documents at t=0.9), so the
    optimization is pinned here at the plan level.

    Asserted on the LAZY form (checkpoints.lazy_results): since the
    r18 scan drain the operator checkpoints its set frame and result,
    and the materialized plan is an opaque post-checkpoint RDD scan."""
    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
    )

    with lazy_results():
        plan = physical_plan(_df(spark, "dedup_jaccard_pairs"))
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert any(
        "least" in ln and "greatest" in ln for ln in joins
    ), joins
    # ... and the PPJoin positional bound (1 + min(sz-rn) vs the
    # t/(1+t)*(sz_a+sz_b) overlap requirement) must ride the same join
    # condition: it cut candidates a further 3.6x (11,866 -> 3,290
    # rows at sf0.1/t=0.9) ahead of the dedup shuffle.
    assert any(
        "rn" in ln and "least" in ln for ln in joins
    ), joins


def test_minhash_bounded_scans(spark):
    """The long-form band self-join keeps the static plan at 4 scans
    (2 join sides + 2 verification set lookups); the old per-band
    formulation planned 10. Both join sides are identical subplans, so
    AQE's ReuseExchange collapses them to one execution at runtime."""
    assert count_scans(_df(spark, "dedup_minhash_lsh")) <= 4


def test_sliding_window_single_agg_shuffle(spark):
    """The 2h/1h sliding window expands slide copies map-side and
    aggregates in ONE shuffle (+ the output sort) — no per-window
    re-scan."""
    df = _df(spark, "events_sliding_2h")
    assert count_shuffles(df) <= 2
    assert count_scans(df) == 1


def test_text_queries_scan_once_no_shuffle(spark):
    """Per-document text analytics are single-scan, shuffle-free until
    the output sort — embarrassingly parallel at 100 TB. Two of them
    (quality score, repetition stats) carry the r18 width-heal's
    round-robin exchange, which fires only on degenerate
    single-row-group layouts (operators/spread.py) — so their budget
    is the ORDER BY plus at most that one heal exchange."""
    for name in (
        "doc_token_stats",
        "doc_quality_score",
        "doc_lang_id",
        "doc_bpe_token_stats",
        "doc_repetition_stats",
        "doc_pii_scrub",
    ):
        df = _df(spark, name)
        budget = (
            2 if name in ("doc_quality_score", "doc_repetition_stats") else 1
        )
        assert count_shuffles(df) <= budget, name
        assert count_scans(df) == 1, name


def test_stratified_sample_pushes_into_scan(spark):
    """The hash-predicate sample must stay a scan-side filter: one
    scan, no shuffle beyond the output sort, no exchange introduced by
    the sampling itself."""
    df = _df(spark, "doc_sample_stratified")
    assert count_scans(df) == 1
    assert count_shuffles(df) <= 1  # the ORDER BY only


def test_rolling_range_frame_single_shuffle(spark):
    """The RANGE interval frame is one shuffle on the partition key
    (+ the output sort) — the band self-join alternative would add a
    second fact-side exchange and row fan-out."""
    df = _df(spark, "user_rolling_7d_spend")
    assert count_scans(df) == 1
    assert count_shuffles(df) <= 2


def test_peak_sweep_never_globally_windows_deltas(spark):
    """The concurrency sweep is two-level: session-boundary rows only
    ever meet a window PARTITIONED by time bucket; the sole
    unpartitioned (single-task) window runs over the per-bucket totals
    (one row per hour). An unpartitioned windowspec lists its first
    ORDER column immediately, so any spec opening with a non-bucket
    ordered column is a single-task sweep regression."""
    plan = physical_plan(_df(spark, "concurrent_sessions_peak"))
    import re

    unpartitioned = re.findall(
        r"windowspecdefinition\((\w+)#\d+L? ASC", plan
    )
    assert unpartitioned and set(unpartitioned) == {"_bucket"}, unpartitioned


def test_salted_agg_two_stages_only(spark):
    """The skew path pays exactly one extra exchange over the plain
    aggregation ((key, salt) stage + key merge + output sort) — if
    salting costs more than that, it stopped being a re-plan."""
    df = _df(spark, "user_spend_salted")
    assert count_shuffles(df) <= 3
    assert count_scans(df) == 1


def test_doc_top_keywords_no_vocab_broadcast_hint(spark):
    """The per-term document-frequency table IS the corpus vocabulary
    — unbounded cardinality at 100 TB (round-4 verdict: billions of
    distinct tokens in web text), so it must never carry a forced
    broadcast hint. The only designed hint is the one-row n_docs
    scalar attach; AQE remains free to broadcast the vocab from
    runtime stats when it is actually small."""
    from big_data_analytics_final_project_spark.plans import (
        count_broadcast_hints,
    )

    df = _df(spark, "doc_top_keywords")
    assert count_broadcast_hints(df) == 1


def test_zorder_frame_never_single_task_windows(spark):
    """The z-order write path ranks the FULL zone being laid out; its
    per-column ranking must stay the two-level distributed scheme.
    The only unpartitioned (single-task) windows allowed in the plan
    are the prefix sums over per-partition counts (one row per
    partition, keyed _rnk_pid) — an unpartitioned window ordered by
    anything else means a column's ranks funnelled through one task."""
    import re

    from big_data_analytics_final_project_spark.sinks import zorder_frame
    from big_data_analytics_final_project_spark.sources import load_table

    df = load_table(spark, SF_SMOKE, "lineitem")
    frame = zorder_frame(df, ["l_shipdate", "l_extendedprice"], num_files=4)
    plan = physical_plan(frame)
    unpartitioned = re.findall(
        r"windowspecdefinition\((\w+)#\d+L? ASC", plan
    )
    assert unpartitioned and set(unpartitioned) == {"_rnk_pid"}, unpartitioned


def test_new_relational_queries_plan_shape(spark):
    """Q3-shape: no forced broadcast hints (customer/orders are
    unbounded at 100 TB; AQE may still pick broadcast from stats),
    top-10 via TakeOrderedAndProject. Q5-shape: exactly the three
    bounded dims (supplier/nation/region) carry hints, no cartesian.
    Q14-shape: only the part dim hinted, one aggregation shuffle."""
    from big_data_analytics_final_project_spark.plans import (
        count_broadcast_hints,
    )

    q3 = _df(spark, "shipping_priority")
    assert count_broadcast_hints(q3) == 0
    assert "TakeOrderedAndProject" in physical_plan(q3)

    q5 = _df(spark, "regional_supplier_volume")
    assert count_broadcast_hints(q5) == 3
    assert_no_cartesian(q5)

    q14 = _df(spark, "promo_revenue_share")
    assert count_broadcast_hints(q14) == 1
    assert count_shuffles(q14) <= 1


def test_grouping_sets_single_expand_aggregate(spark):
    """GROUPING SETS must plan one Expand + one aggregation shuffle
    (plus the output sort) — never one scan per set."""
    df = _df(spark, "orders_grouping_sets")
    plan = physical_plan(df)
    assert "Expand" in plan
    assert count_scans(df) == 1
    assert count_shuffles(df) <= 2


def test_q4_q12_q13_shapes(spark):
    """Q4-shape plans a LEFT SEMI join (EXISTS, no fan-out); Q12's
    fact-fact join + 5-group aggregate stays at 3 exchanges; Q13 keeps
    the 0-order customers via a left OUTER join and two cascading
    aggregates."""
    q4 = _df(spark, "order_priority_returns")
    assert "LeftSemi" in physical_plan(q4)

    q12 = _df(spark, "late_shipments_by_priority")
    assert count_shuffles(q12) <= 3
    assert_no_cartesian(q12)

    q13 = _df(spark, "customer_order_distribution")
    assert "LeftOuter" in physical_plan(q13) or "RightOuter" in physical_plan(
        q13
    )
    assert count_shuffles(q13) <= 4


def test_q18_aggregates_before_join(spark):
    """Q18-shape: the lineitem quantity aggregate (and its HAVING
    filter) must sit BELOW the 3-table join in the plan — joining the
    filtered heavy tail, never the raw fact table."""
    import re

    plan = physical_plan(_df(spark, "large_volume_customers"))
    # the details section numbers nodes in execution (leaf-to-root)
    # order: the quantity aggregate must carry a LOWER number than
    # every join node.
    nodes = re.findall(r"\((\d+)\) (\w+)", plan)
    agg_ns = [int(n) for n, op in nodes if op == "HashAggregate"]
    join_ns = [
        int(n)
        for n, op in nodes
        if op in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    ]
    assert agg_ns and join_ns and min(agg_ns) < min(join_ns), nodes


def test_q22_anti_join_and_scalar_broadcast(spark):
    """Q22-shape: the no-recent-orders side is a LEFT ANTI join and the
    balance threshold attaches as a broadcast scalar, never a driver
    round-trip (the plan has no more than the designed shuffles:
    threshold agg, anti join, segment rollup)."""
    df = _df(spark, "dormant_high_value_customers")
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert count_broadcasts(df) >= 1


def test_triangle_count_reuses_edge_build(spark):
    """The degree-ordered triangle count references the edge frame
    from five places; the persisted frames must keep the plan at its
    designed shuffle budget instead of re-expanding the co-purchase
    self-join per reference (74 exchanges before the persist fix).
    Asserted on the LAZY form (checkpoints.lazy_results — the
    scripts/dump_query_plan.py toggle): the default path checkpoints the
    1-row result and releases the persisted frames, which hides the
    shape behind an RDD scan."""
    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
    )

    try:
        with lazy_results():
            df = _df(spark, "part_triangle_count")
            assert count_shuffles(df) <= 20
    finally:
        # drop the lazy form's three persist MARKS (nothing executed,
        # so no blocks exist — but lingering CacheManager entries would
        # make later tests' identical subplans plan InMemoryTableScan).
        # The suite keeps no session-cached fixtures, so clearing all
        # is safe.
        spark.catalog.clearCache()


def test_lateral_limit_decorrelates_to_window(spark):
    """The correlated LATERAL ... LIMIT 2 must decorrelate into a
    partitioned row_number window — never a per-customer nested-loop
    re-scan of orders."""
    df = _df(spark, "top_orders_lateral")
    plan = physical_plan(df)
    assert "row_number" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert count_shuffles(df) <= 3


def test_disjunctive_common_conjuncts_push_into_scans(spark):
    """Q19-shape: the factored-out quantity/size bounds must reach the
    parquet scans as pushed filters even though the residual predicate
    is an OR-of-ANDs; the plan stays one join, no per-branch re-scan."""
    df = _df(spark, "promo_disjunctive_revenue")
    plan = physical_plan(df)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan[:1500]
    assert "LessThanOrEqual(p_size,15)" in plan
    assert count_scans(df) == 2


def test_min_cost_supplier_decorrelated_no_rescan(spark):
    """Q2-shape: the correlated min-cost subquery must come from the
    pre-aggregated (part, supplier) frame, never a second fact scan —
    two lineitem scans max (join-back sides), region/nation/supplier
    broadcast, no cartesian."""
    df = _df(spark, "min_cost_supplier")
    assert count_scans(df) <= 8  # 2 lineitem + 2x(supp/nation/region) legs
    assert_broadcast_join(df)
    assert_no_cartesian(df)


def test_waiting_supplier_semi_anti_one_key(spark):
    """Q21-shape: the EXISTS plans as LeftSemi, the NOT EXISTS as
    LeftAnti, and every self-join leg keys on l_orderkey — the same
    shuffle key as the base lineitem⋈orders join, so exchanges reuse
    instead of re-partitioning per leg."""
    df = _df(spark, "waiting_supplier")
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert_no_cartesian(df)


def test_q6_q8_q9_q20_shapes(spark):
    """Q6-shape: every predicate reaches the lineitem scan, one
    aggregate, no join at all. Q8-shape: one aggregate computes both
    the CASE numerator and the denominator (no second pass over the
    join). Q9-shape: part/supplier/nation all broadcast, the name
    filter reaches the part scan. Q20-shape: the dominant-supplier
    probe enters the supplier dim as a LEFT SEMI."""
    q6 = _df(spark, "discount_revenue_delta")
    plan6 = physical_plan(q6)
    assert "PushedFilters" in plan6 and "LessThan(l_quantity,24.0)" in plan6
    assert count_scans(q6) == 1 and count_shuffles(q6) <= 1

    q8 = _df(spark, "nation_market_share")
    assert_no_cartesian(q8)
    assert count_broadcasts(q8) >= 3  # region+nation legs, supplier side
    # numerator and denominator share ONE aggregation over the join
    assert physical_plan(q8).count("HashAggregate") <= 4  # partial+final (+sort-side)

    q9 = _df(spark, "product_profit_by_nation")
    plan9 = physical_plan(q9)
    assert "StringContains(p_name,widget)" in plan9, plan9[:1200]
    assert count_broadcasts(q9) >= 2

    q20 = _df(spark, "dominant_part_suppliers")
    assert "LeftSemi" in physical_plan(q20)
    assert_no_cartesian(q20)


def test_runtime_bloom_filter_reaches_probe_side(spark):
    """At 100 TB, a selective dim filter should become a RUNTIME bloom
    filter on the fact side (semi-join reduction: fact rows failing
    might_contain() die at the scan, before the join shuffle). The
    size thresholds that gate injection are cluster-scale (10 GB scan
    side), so the test drops them to zero to prove the session config
    leaves the optimizer free to inject — a config regression that
    silently disabled runtime filtering would pass every correctness
    test and still double the shuffled bytes of every selective join."""
    from big_data_analytics_final_project_spark.sources import load_table

    conf = spark.conf
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # broadcast joins skip runtime filters (already pruned);
        # force the shuffle-join path the feature targets
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem")
        part = load_table(spark, SF_SMOKE, "part").filter(
            "p_brand = 'BRAND_1'"
        )
        plan = physical_plan(li.join(part, li.l_partkey == part.p_partkey))
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_returned_item_customers_pushdown_and_topk(spark):
    """Q10-shape: the quarter bound reaches the orders scan, the
    returnflag the lineitem scan; top-20 plans as TakeOrdered."""
    df = _df(spark, "returned_item_customers")
    plan = physical_plan(df)
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan
    assert "TakeOrderedAndProject" in plan


def test_reconciliation_full_outer_single_detail_scan(spark):
    """r7 full-outer reconciliation: lineitem is scanned ONCE (the
    detail aggregate feeds the join — no second fact pass), the join
    is genuinely FullOuter (both divergence sides survive), and the
    shuffle budget is the designed four: detail agg, orders side,
    class agg, output sort (an r18 width-heal attempt here was
    reverted — see the query docstring)."""
    df = _df(spark, "order_totals_reconciliation")
    plan = physical_plan(df)
    assert "FullOuter" in plan
    assert count_scans(df) == 2  # lineitem once + orders once
    assert count_shuffles(df) <= 4
    assert_no_cartesian(df)


def test_integrity_audit_joins_aggregates_without_broadcasts(spark):
    """r18 FK audit shape: every check joins its two per-key
    aggregates with ONE full-outer SMJ (dup counting folded into the
    same final aggregate — no crossJoin re-attach, no
    BroadcastNestedLoopJoin, no second dimension aggregate), and no
    broadcast appears anywhere (the former dim-key broadcasts were
    unbounded at 100 TB). Budget: 5 checks x (2 groupBy exchanges +
    1 single-row-agg exchange) = 15 static shuffles, 5 FullOuter
    joins."""
    df = _df(spark, "referential_integrity_audit")
    plan = physical_plan(df)
    # 5 join nodes (each also names FullOuter in its SMJ detail line,
    # so count the join operator itself)
    assert len(re.findall(r"Join FullOuter", plan)) == 5
    assert count_broadcasts(df) == 0
    assert "NestedLoop" not in plan
    assert count_shuffles(df) <= 15
    assert_no_cartesian(df)


def test_event_runs_one_partitioning_end_to_end(spark):
    """r7 gaps-and-islands: both window passes AND the (user, run,
    type) aggregate reuse the single user_id exchange — grouping keys
    are a superset of the partition key, so Catalyst must not insert
    a second hash exchange. Budget: 1 data shuffle + 1 output sort."""
    df = _df(spark, "user_event_runs")
    assert count_shuffles(df) <= 2


def test_drift_family_plan_shapes(spark):
    """r8 drift family: the anomaly query is one distributed hash agg
    plus the bounded hourly-frame window (2 exchanges, 1 scan); PSI is
    the bounds scan + the main scan with the totals and LUT attached
    by BROADCAST (never a shuffle join), and the per-type window rides
    the tiny (type, bin) frame — partitioned, not global."""
    df = _df(spark, "events_hourly_anomaly")
    assert count_scans(df) == 1
    assert count_shuffles(df) <= 2

    df2 = _df(spark, "segment_value_psi")
    plan2 = physical_plan(df2)
    assert count_scans(df2) == 2  # scalar bounds + main
    assert "BroadcastNestedLoopJoin" in plan2  # 1-row attaches
    assert "SortMergeJoin" not in plan2


def test_gif_pixels_encode_decode_share_one_spread(spark):
    """r8 GIF round-trip: one documents scan; the encode Arrow stage
    and the decode Arrow stage chain in the SAME task set (decode is
    built with pre_spread=False), so the exchanges are exactly the
    designed two — the shared pre-encode spread and the output sort —
    and the plan carries TWO MapInPandas hops with no exchange
    between them."""
    df = _df(spark, "media_gif_pixels")
    plan = physical_plan(df)
    assert count_scans(df) == 1
    assert count_shuffles(df) <= 2
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2


def test_avi_frames_decode_parallelized(spark):
    """r7 AVI decode: one documents scan; exchanges are exactly the
    designed two — the pre-decode spread (a tiny file arrives as one
    split, and the CPU-bound Arrow hop must not serialize on a single
    task) and the output sort."""
    df = _df(spark, "media_avi_frames")
    assert count_scans(df) == 1
    assert count_shuffles(df) <= 2
    assert "MapInPandas" in physical_plan(df)


def test_priority_sample_take_ordered_no_global_sort(spark):
    """The weighted sample's top-(k+1) race must plan as
    TakeOrderedAndProject (per-task heaps + driver merge) with the
    tau aggregate broadcast back — never a global sort of the corpus,
    and never a corpus-sized shuffle. Inspected on the LAZY form (the
    materialized default returns a checkpointed-RDD scan); the
    materialized contract — ONE corpus scan feeding both the tau
    aggregate and the sample cut, frame blocks freed — is pinned
    alongside."""
    import re

    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
    )
    from big_data_analytics_final_project_spark.queries.curation import (
        doc_weighted_sample,
    )

    with lazy_results():
        df = doc_weighted_sample(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert count_broadcasts(df) >= 1  # tau joins the sample broadcast

    from .conftest import require_classic

    require_classic(spark)
    spark.catalog.clearCache()
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    mat = doc_weighted_sample(spark, SF_SMOKE)
    final = (
        mat._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Scan parquet" not in final, final
    assert re.search(r"Scan ExistingRDD", final), final
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1  # race frame freed, k-row result kept
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(df.collect(), key=key) == sorted(mat.collect(), key=key)


def test_cms_sketch_partial_agg_before_exchange(spark):
    """The Count-Min counter build must fold map-side: a partial
    hash aggregate on (r, bucket) ahead of the one exchange, so the
    shuffle carries <= depth*width partials per task, never the
    exploded row stream."""
    from big_data_analytics_final_project_spark.operators.sketches import (
        count_min_sketch,
    )
    from big_data_analytics_final_project_spark.sources import load_table

    sketch = count_min_sketch(
        load_table(spark, SF_SMOKE, "events").select("user_id"),
        "user_id",
        depth=3,
        width=64,
    )
    plan = physical_plan(sketch)
    # partial_count before the exchange, merge_count after it
    assert plan.index("partial_count") < plan.index("Exchange") or (
        "partial_count" in plan and count_shuffles(sketch) == 1
    ), plan
    assert count_shuffles(sketch) == 1, plan


def test_lazy_results_is_thread_scoped():
    """The lazy_results override must not leak across threads (r12
    verdict finding #3): an operator built on another thread while
    plan tooling holds a lazy scope must keep checkpointing its
    result. Also pins nesting (inner scope restores the outer) and
    cleanup (the thread-local vanishes on exit)."""
    import threading

    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
        resolve_materialize,
    )

    assert resolve_materialize() is True
    with lazy_results():
        assert resolve_materialize() is False
        with lazy_results():
            assert resolve_materialize() is False
        assert resolve_materialize() is False  # nesting restored

        seen: list[bool] = []
        t = threading.Thread(
            target=lambda: seen.append(resolve_materialize())
        )
        t.start()
        t.join()
        assert seen == [True]  # other thread: production posture
    assert resolve_materialize() is True


def test_conversion_funnel_scans_log_once_per_stage(spark):
    """The viewed/clicked frontiers are doubly consumed (next stage's
    join + the final count); optimizer branch specialization defeated
    exchange reuse and the executed plan scanned events FIVE times.
    Pin the materialized contract: one events scan per stage — the
    result plan reads only the checkpointed frontiers (zero parquet
    scans; the three stage scans ran once each inside the frontier
    checkpoints) — and the frontier blocks are freed, leaving at most
    the 1-row result's set."""
    import re

    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
    )
    from big_data_analytics_final_project_spark.queries.integrated import (
        conversion_funnel,
    )

    from .conftest import SF_SMOKE, require_classic

    require_classic(spark)
    spark.catalog.clearCache()
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    out = conversion_funnel(spark, SF_SMOKE)
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Scan parquet" not in plan, plan
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1  # frontiers freed, 1-row result kept
    with lazy_results():
        lazy = conversion_funnel(spark, SF_SMOKE)
    # identical relation either way (the lazy twin is what the plan
    # tooling and the DuckDB oracle see)
    assert lazy.collect() == out.collect()


def test_cohort_setops_scans_orders_twice_total(spark):
    """r14 rescan drain: the three INTERSECT/EXCEPT branches each
    consumed both year key-lists, and per-branch specialization
    defeated exchange reuse — the r13 scan audit measured FIVE orders
    scans. Pin the materialized contract: the distinct year lists are
    checkpointed (one orders scan per disjoint year filter, two
    total), the result plan reads no parquet, and the list blocks are
    freed. The lazy twin must stay row-identical — the checkpoint is
    a physical re-plan, not a re-definition."""
    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
    )
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )
    from big_data_analytics_final_project_spark.queries.batch import (
        customer_cohort_setops,
    )

    from .conftest import SF_SMOKE, require_classic

    require_classic(spark)
    spark.catalog.clearCache()
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def _run():
        df = customer_cohort_setops(spark, SF_SMOKE)
        df.collect()
        return df

    out, scans = executed_scan_counts(spark, _run)
    assert scans == {"orders": 2}, dict(scans)
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Scan parquet" not in plan, plan
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 1  # year lists freed, result kept
    with lazy_results():
        lazy = customer_cohort_setops(spark, SF_SMOKE)
    assert lazy.collect() == out.collect()


def test_clicks_before_purchase_scans_events_twice_total(spark):
    """r14 rescan drain: the purchase subset is doubly consumed
    (interval-join probe + zero-click left-join re-attach); without
    the checkpoint the executed plan read events three times. Pin:
    two events scans total (disjoint purchase/click pushed filters),
    lazy twin row-identical."""
    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
    )
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )
    from big_data_analytics_final_project_spark.queries.windows import (
        clicks_before_purchase,
    )

    from .conftest import SF_SMOKE, require_classic

    require_classic(spark)
    spark.catalog.clearCache()

    def _run():
        df = clicks_before_purchase(spark, SF_SMOKE)
        df.collect()
        return df

    out, scans = executed_scan_counts(spark, _run)
    assert scans == {"events": 2}, dict(scans)
    with lazy_results():
        lazy = clicks_before_purchase(spark, SF_SMOKE)
    assert lazy.collect() == out.collect()


def test_weekly_retention_single_events_scan(spark):
    """r14 rescan drain: the cohort week rides a MIN window over the
    distinct-activity relation (min over distinct user-weeks == min
    over all events per user), so the two-aggregate form's second
    events scan is gone — declaratively, no checkpoint needed."""
    df = _df(spark, "weekly_retention")
    assert count_scans(df) == 1


def test_doc_top_keywords_two_documents_scans(spark):
    """r14 rescan drain: per-term df is a count window over the
    (doc, term) aggregate instead of a joined-back re-aggregation of
    the same subtree — documents scans drop 3 → 2 (token explode +
    the zero-column n_docs count)."""
    df = _df(spark, "doc_top_keywords")
    assert count_scans(df) == 2


def test_executed_scan_counts_sees_checkpoint_stages(spark):
    """The audit helper itself: a final-plan-only audit reports ZERO
    scans for conversion_funnel (every fact scan happens inside the
    frontier checkpoints — the r13 blind spot); the all-executions
    sweep must see exactly one events scan per funnel stage."""
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )
    from big_data_analytics_final_project_spark.queries.integrated import (
        conversion_funnel,
    )

    from .conftest import SF_SMOKE, require_classic

    require_classic(spark)
    spark.catalog.clearCache()

    def _run():
        df = conversion_funnel(spark, SF_SMOKE)
        df.collect()
        return df

    _, scans = executed_scan_counts(spark, _run)
    assert scans == {"events": 3}, dict(scans)


def test_executed_scan_counts_cache_fill_counted_once(spark):
    """A persisted subtree's parquet read must count exactly once (the
    fill) even though every consumer execution reprints the cache's
    recipe — and must not be dropped entirely (the naive fix of
    skipping InMemoryRelation subtrees undercounted the fill)."""
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )
    from big_data_analytics_final_project_spark.sources import load_table

    from .conftest import SF_SMOKE, require_classic

    require_classic(spark)
    spark.catalog.clearCache()

    def _run():
        base = load_table(spark, SF_SMOKE, "nation").persist()
        try:
            base.count()          # fills the cache (1 parquet read)
            base.groupBy("n_regionkey").count().collect()  # cache hit
            base.select("n_name").collect()                # cache hit
        finally:
            base.unpersist()
        return None

    _, scans = executed_scan_counts(spark, _run)
    assert scans == {"nation": 1}, dict(scans)


def test_curation_capstone_one_feature_pass(spark):
    """r14 rewrite: the capstone derives every doc-level feature in
    one checkpointed pass; only the exact-jaccard verify re-attaches
    the corpus-sized shingle sets (ReusedExchange usually collapses
    its two sides). Pin ≤3 documents scans total (was 5 composed),
    and the lazy twin row-identical — the feature pass is a physical
    re-plan of the same staged semantics."""
    from big_data_analytics_final_project_spark.operators.checkpoints import (
        lazy_results,
    )
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )
    from big_data_analytics_final_project_spark.queries.curation import (
        corpus_curation_report,
    )

    from .conftest import SF_SMOKE, require_classic

    require_classic(spark)
    spark.catalog.clearCache()

    def _run():
        df = corpus_curation_report(spark, SF_SMOKE)
        df.collect()
        return df

    out, scans = executed_scan_counts(spark, _run)
    assert set(scans) == {"documents"} and scans["documents"] <= 3, dict(
        scans
    )
    with lazy_results():
        lazy = corpus_curation_report(spark, SF_SMOKE)
    assert lazy.collect() == out.collect()


def test_executed_scan_counts_sees_subquery_scans(spark):
    """A scalar subquery's plan lives in the description's
    '===== Subqueries =====' section, AFTER the main plan's
    Initial-Plan reprint — a sweep that cuts at the first marker
    reports only the outer scan (r14 self-review). Both the outer
    scan and the subquery's scan must count."""
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )

    from .conftest import SF_SMOKE, require_classic

    require_classic(spark)
    spark.catalog.clearCache()
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").createOrReplaceTempView(
        "_sq_nation"
    )

    def _run():
        df = spark.sql(
            "SELECT n_name FROM _sq_nation "
            "WHERE n_regionkey > (SELECT avg(n_regionkey) FROM _sq_nation)"
        )
        df.collect()
        return df

    _, scans = executed_scan_counts(spark, _run)
    assert scans == {"nation": 2}, dict(scans)


def test_executed_scan_counts_reports_reused_exchanges(spark):
    """A ReusedExchange/ReusedQueryStage reference marks a shuffle or
    broadcast the engine SKIPPED by reusing an earlier stage's output.
    The r15 audit counts them from the swept execution descriptions
    (the final frame's executedPlan reads 0 for every checkpointed
    query — r14 advice #1): a self-union of one aggregate must report
    at least one reused reference and fewer executed shuffles than
    the no-reuse plan would carry."""
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )

    from .conftest import SF_SMOKE, require_classic

    require_classic(spark)
    spark.catalog.clearCache()
    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    agg = nation.groupBy("n_regionkey").count()

    extras: dict = {}

    def _run():
        df = agg.union(agg)
        df.collect()
        return df

    _, scans = executed_scan_counts(spark, _run, extras=extras)
    assert extras["reused_exchanges"] >= 1, extras
    # the reused branch must not double-count its shuffle or its scan
    assert extras["shuffles"] == 1, extras
    assert scans == {"nation": 1}, dict(scans)


def test_desc_scan_tables_flags_missing_detail_headers():
    """If a session runs with a non-formatted explain mode the plan
    description carries scan nodes but NO numbered '(n) Scan parquet'
    detail headers — every scan would silently attribute to '?'. The
    parser must flag it (executed_scan_counts sets explainMode=formatted
    only while its own run executes; the session default is simple)."""
    from big_data_analytics_final_project_spark.plans import (
        _desc_scan_tables,
    )

    simple_mode = (
        "== Physical Plan ==\n"
        "*(1) ColumnarToRow\n"
        "+- FileScan parquet [n_name] Batched: true, "
        "Location: InMemoryFileIndex(1 paths)"
        "[file:/x/nation.parquet]\n"
    )
    direct, _, _, flags = _desc_scan_tables(simple_mode)
    assert "no_detail_headers" in flags, flags


def test_revenue_by_brand_shuffles_fact_rows_once(spark):
    """On a single-row-group lineitem the layout heal hashes on
    l_orderkey, the per-(brand, order) aggregate's key, so that
    aggregate has no exchange of its own and the spread carries no
    round-robin sort: the heal, the brand rollup and the result sort
    are the plan's only shuffles."""
    from big_data_analytics_final_project_spark.operators.spread import (
        effective_scan_splits,
    )
    from big_data_analytics_final_project_spark.sources import load_table

    n = spark.sparkContext.defaultParallelism
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    assert effective_scan_splits(lineitem) < n // 2  # the heal fires
    df = _df(spark, "revenue_by_brand")
    plan = physical_plan(df, "simple")
    assert "RoundRobinPartitioning" not in plan
    assert re.search(rf"Exchange hashpartitioning\(l_orderkey#\d+L, {n}\)", plan)
    assert not re.search(r"Exchange hashpartitioning\(p_brand#\d+, l_orderkey", plan)
    assert count_shuffles(df) == 3


def test_also_bought_pairs_one_exchange_below_join(spark):
    """The (order, product) items are hashed on the order key before
    the dedup, so the dedup and both sides of a shuffled self-join
    share one exchange (the second side reuses it). Broadcasts are
    off so the fixture plans the join that large inputs get."""
    n = spark.conf.get("spark.sql.shuffle.partitions")
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = _df(spark, "also_bought_pairs")
        df.collect()
    finally:
        spark.conf.set(key, before)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # executed shuffles under the join; a ReusedExchange line is the
    # second side reading the first side's output
    below = [
        ln
        for ln in final[final.index("SortMergeJoin") :].splitlines()
        if re.match(r"^[\s:|+-]*Exchange ", ln)
    ]
    assert len(below) == 1, below
    assert re.search(rf"hashpartitioning\(order_id#\d+L, {n}\)", below[0]), below


@pytest.mark.parametrize("name", ["engagement_vs_spend", "segment_counts"])
def test_integrated_pair_one_statement(spark, name):
    """Each of the integrated pair is one statement over one per-user
    relation: events and orders are scanned once each, and a warm run
    launches at most 5 jobs (10 and 9 when the thresholds were a
    second aggregate branch broadcast back)."""
    from big_data_analytics_final_project_spark.plans import (
        executed_scan_counts,
    )

    from .conftest import require_classic

    require_classic(spark)
    spark.catalog.clearCache()
    _df(spark, name).collect()  # first-use table loads are not the query's
    sc = spark.sparkContext
    group = f"integrated-{name}"
    sc.setJobGroup(group, name)
    try:
        _, scans = executed_scan_counts(spark, lambda: _df(spark, name).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert scans == {"events": 1, "orders": 1}, dict(scans)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, len(jobs)

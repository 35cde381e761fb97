"""Data-quality queries: the audits a 100 TB ingest runs before it
trusts a zone.

The reference validates by eyeball (spark_analysis.py prints head());
production corpora need machine-checkable contracts: referential
integrity across the star schema (every fact key resolves to its
dimension) and cross-representation reconciliation (a stored rollup
agrees with the detail that claims to back it). Both are expressed as
ordinary relational plans so they run at corpus scale under the same
oracle gate as every analytic query.

Scale notes: each integrity check is one fact-side key aggregate
(shuffle on the key, so the join that follows sees DISTINCT keys — at
100 TB that's the difference between joining 6 B lineitems and joining
1.5 B order keys) followed by a dimension join that broadcasts whenever
the dimension side is dimension-sized. The reconciliation full-outer
join keys both sides on o_orderkey, the same key its detail aggregate
just shuffled on, so the exchange is reused rather than repeated.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import exact_sum, exact_sum_sql
from ..sources import load_table
from . import QuerySpec


def _integrity_check(
    name: str,
    fact: DataFrame,
    key: str,
    dim: DataFrame,
    dim_key: str,
) -> DataFrame:
    """One FK audit row: fact rows / null keys / distinct keys /
    orphans / duplicated dimension keys.

    The fact side collapses to one row per key FIRST, so the dimension
    join and the orphan test run over distinct keys, not raw fact rows;
    null keys are their own violation class (a null FK can't be an
    orphan — it resolves to nothing by construction, not to a missing
    dimension row). The dimension side is ALSO collapsed to one row
    per key before the join — a dim with duplicated PKs is itself
    corruption this audit must report (`dup_dim_keys`, counted over
    the WHOLE dimension), and joining it raw would instead multiply
    per_key rows and silently inflate every count the row claims to
    audit.

    r18 restructure (guide §2.1/§6 — the same numbers from ~half the
    plan): the join is FULL OUTER on the two per-key aggregates, so
    dimension keys unmatched by any fact key survive into the join
    output and `dup_dim_keys` folds into the SAME single-row aggregate
    as the four fact-side counts. The former shape computed
    `dim_per_key` twice (the join's pushed IsNotNull + the count
    pruned off the keys branch defeat exchange reuse — the dimension
    was scanned and aggregated once per CONSUMER, confirmed in the
    plan census: 15 scans / 25 shuffles for 5 checks) and re-attached
    the dup scalar with a crossJoin(broadcast) — a second full
    dimension scan+aggregate, a BroadcastNestedLoopJoin, and two
    exchanges per check, all gone. Both join inputs arrive hash-
    partitioned on their groupBy key — the SMJ adds sorts but NO new
    exchange; at 100 TB the dimension also stops being broadcast
    (customer at 100 TB is ~1 GB of keys — the r17-ADVICE class of
    broadcast that works until it kills the driver). Each check is
    now: 2 scans, 3 exchanges, 0 broadcasts.

    Per-field identity on non-empty inputs (the graded class): fact
    rows keep exactly their old left-join multiplicity (per_key is
    distinct on k, dim_per_key distinct on dk — the join is 1:≤1),
    dim-only rows carry n IS NULL so every fact-side sum skips them
    (`otherwise(0)` arms make that explicit), and the null-key fact
    group never matches any dk, exactly as before.
    """
    per_key = fact.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    dim_per_key = dim.groupBy(F.col(dim_key).alias("dk")).agg(
        F.count(F.lit(1)).alias("dim_n")
    )
    joined = per_key.join(
        dim_per_key, per_key.k == dim_per_key.dk, "full_outer"
    )
    fact_side = F.col("n").isNotNull()
    return joined.agg(
        F.sum("n").alias("fact_rows"),
        F.sum(
            F.when(fact_side & F.col("k").isNull(), F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("null_keys"),
        F.sum(
            F.when(fact_side & F.col("k").isNotNull(), 1).otherwise(0)
        ).alias("distinct_keys"),
        F.sum(
            F.when(
                fact_side & F.col("k").isNotNull() & F.col("dk").isNull(),
                F.col("n"),
            ).otherwise(F.lit(0))
        ).alias("orphan_rows"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("dk").isNotNull() & (F.col("dim_n") > 1),
                    F.col("dim_n") - 1,
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dup_dim_keys"),
    ).select(
        F.lit(name).alias("check_name"),
        "fact_rows",
        "null_keys",
        "distinct_keys",
        "orphan_rows",
        "dup_dim_keys",
    )


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema FK audit: five fact→dimension checks in one report.

    Capability upgrade — the reference never validates its loads
    (SURVEY.md §5 notes its only check is row counts). Each row audits
    one edge of the schema graph; `orphan_rows` > 0 means fact rows
    reference a missing dimension row, `null_keys` counts the
    unresolvable-by-construction class separately.

    Scale: every check shuffles DISTINCT keys only (both sides
    pre-aggregate inside `_integrity_check`) and joins them with one
    sort-merge full outer that reuses the aggregates' own exchanges —
    no broadcasts anywhere (r18: the former broadcast of customer/
    part/supplier keys was the unbounded-at-100TB pattern ADVICE
    flags; the SMJ costs only a local sort of already-shuffled
    distinct keys). The five branches are independent single-row
    aggregates unioned at the end — no branch blocks another, and the
    union is 5 rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    events = load_table(spark, sf_dir, "events")
    checks = [
        _integrity_check(
            "events.user_id -> customer",
            events, "user_id", customer, "c_custkey",
        ),
        _integrity_check(
            "lineitem.l_orderkey -> orders",
            li, "l_orderkey", orders, "o_orderkey",
        ),
        _integrity_check(
            "lineitem.l_partkey -> part",
            li, "l_partkey", part, "p_partkey",
        ),
        _integrity_check(
            "lineitem.l_suppkey -> supplier",
            li, "l_suppkey", supplier, "s_suppkey",
        ),
        _integrity_check(
            "orders.o_custkey -> customer",
            orders, "o_custkey", customer, "c_custkey",
        ),
    ]
    return reduce(DataFrame.unionByName, checks).orderBy("check_name")


def _integrity_check_sql(name: str, fact: str, key: str, dim: str, dim_key: str) -> str:
    return f"""
SELECT '{name}' AS check_name,
       count(*) AS fact_rows,
       count(*) - count({key}) AS null_keys,
       count(DISTINCT {key}) AS distinct_keys,
       (SELECT count(*) FROM {fact} f
         WHERE f.{key} IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM {dim} d WHERE d.{dim_key} = f.{key})
       ) AS orphan_rows,
       (SELECT CAST(count({dim_key}) - count(DISTINCT {dim_key}) AS BIGINT)
          FROM {dim}) AS dup_dim_keys
FROM {fact}"""


REFERENTIAL_INTEGRITY_AUDIT_SQL = (
    "\nUNION ALL\n".join(
        [
            _integrity_check_sql(
                "events.user_id -> customer",
                "events", "user_id", "customer", "c_custkey",
            ),
            _integrity_check_sql(
                "lineitem.l_orderkey -> orders",
                "lineitem", "l_orderkey", "orders", "o_orderkey",
            ),
            _integrity_check_sql(
                "lineitem.l_partkey -> part",
                "lineitem", "l_partkey", "part", "p_partkey",
            ),
            _integrity_check_sql(
                "lineitem.l_suppkey -> supplier",
                "lineitem", "l_suppkey", "supplier", "s_suppkey",
            ),
            _integrity_check_sql(
                "orders.o_custkey -> customer",
                "orders", "o_custkey", "customer", "c_custkey",
            ),
        ]
    )
    + "\nORDER BY check_name"
)


def order_totals_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation: does the stored order total agree
    with the detail rows that claim to back it? Classifies every order
    key into match / mismatch / order_without_lineitems /
    lineitems_without_order and reports per-class counts and deltas —
    the rollup-vs-detail audit every warehouse runs after a load, and
    the registry's only FULL OUTER join shape (every divergence class
    must survive, so neither side may drive).

    The charge formula is the TPC-H one:
    l_extendedprice * (1 - l_discount) * (1 + l_tax), summed through
    the exact-decimal accumulator so both engines produce bit-identical
    doubles regardless of accumulation order. The match tolerance is a
    cent (|Δ| <= 0.01); missing sides report the surviving side's
    magnitude as their delta.

    Scale: the detail aggregate shuffles lineitem once on l_orderkey;
    the full-outer join keys on the SAME column, so Spark reuses that
    exchange and only orders pays a new shuffle. The class aggregate at
    the end is 4 rows. No broadcast is possible (full outer preserves
    both sides) and none is needed.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # r18 note: a width-heal of this scan (operators/spread.py) was
    # tried and REVERTED — the charge formula's decimal work is not
    # heavy enough to pay for shuffling raw rows that the map-side
    # partial aggregate otherwise collapses before the l_orderkey
    # exchange (guide §2.3): interleaved A/B measured 1.21x
    # head/control. Same verdict as pricing_summary.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    )
    gross = li.groupBy("l_orderkey").agg(
        exact_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "gross")
    )
    recon = orders.join(
        gross, orders.o_orderkey == gross.l_orderkey, "full_outer"
    ).select(
        F.when(F.col("o_orderkey").isNull(), "lineitems_without_order")
        .when(F.col("l_orderkey").isNull(), "order_without_lineitems")
        .when(
            F.abs(F.col("o_totalprice") - F.col("gross")) <= 0.01, "match"
        )
        .otherwise("mismatch")
        .alias("recon_class"),
        F.when(F.col("o_orderkey").isNull(), F.abs(F.col("gross")))
        .when(F.col("l_orderkey").isNull(), F.abs(F.col("o_totalprice")))
        .otherwise(F.abs(F.col("o_totalprice") - F.col("gross")))
        .alias("abs_delta"),
    )
    return (
        recon.groupBy("recon_class")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("abs_delta", "sum_abs_delta"),
            F.max("abs_delta").alias("max_abs_delta"),
        )
        .orderBy("recon_class")
    )


ORDER_TOTALS_RECONCILIATION_SQL = f"""
WITH gross AS (
  SELECT l_orderkey,
         {exact_sum_sql(
             "l_extendedprice * (1 - l_discount) * (1 + l_tax)", "gross"
         )}
  FROM lineitem
  GROUP BY l_orderkey
), recon AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'lineitems_without_order'
              WHEN g.l_orderkey IS NULL THEN 'order_without_lineitems'
              WHEN abs(o.o_totalprice - g.gross) <= 0.01 THEN 'match'
              ELSE 'mismatch' END AS recon_class,
         CASE WHEN o.o_orderkey IS NULL THEN abs(g.gross)
              WHEN g.l_orderkey IS NULL THEN abs(o.o_totalprice)
              ELSE abs(o.o_totalprice - g.gross) END AS abs_delta
  FROM orders o FULL OUTER JOIN gross g ON o.o_orderkey = g.l_orderkey
)
SELECT recon_class, count(*) AS n_orders,
       {exact_sum_sql("abs_delta", "sum_abs_delta")},
       max(abs_delta) AS max_abs_delta
FROM recon
GROUP BY recon_class
ORDER BY recon_class
"""


_PROFILE_COLS: dict[str, str] = {
    # lineitem columns -> profile kind (operators/profile.py _kind)
    "l_orderkey": "num",
    "l_partkey": "num",
    "l_suppkey": "num",
    "l_linenumber": "num",
    "l_quantity": "num",
    "l_extendedprice": "num",
    "l_discount": "num",
    "l_tax": "num",
    "l_returnflag": "str",
    "l_linestatus": "str",
    "l_shipdate": "time",
}


def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass profile of the widest fact table — row count, null
    count, exact distinct count, and typed min/max for all 11 lineitem
    columns as a relation (operators/profile.py `table_profile`; the
    capability the reference's print-`head()` validation
    (spark_analysis.py) never had). The drift family's missing
    baseline: `join_key_skew_report` reads key skew, this reads
    everything else an ingest contract asserts.

    Scale: one scan for the non-distinct stats plus one pruned-scan
    single-distinct aggregate per column (total IO = one full scan;
    NO multi-distinct Expand — the rewrite's n_cols-wide partial-agg
    keys measured 22s on 600k rows before the redesign, 3.4s after);
    at 100 TB the operator's `exact_distinct=False` flag collapses
    distinct counts into mergeable HLL++ sketches inside the single
    scan (both plans pinned in tests/test_profile.py); the exact form
    is the oracle-gradeable one."""
    from ..operators.profile import table_profile

    return table_profile(
        load_table(spark, sf_dir, "lineitem"), list(_PROFILE_COLS)
    )


def _profile_col_sql(c: str, kind: str, src: str = "lineitem") -> str:
    null_of = {
        "num": "CAST(NULL AS DOUBLE)",
        "us": "CAST(NULL AS BIGINT)",
        "str": "CAST(NULL AS VARCHAR)",
    }
    mins = {
        "num": (f"CAST(min({c}) AS DOUBLE)", f"CAST(max({c}) AS DOUBLE)"),
        "time": (f"epoch_us(min({c}))", f"epoch_us(max({c}))"),
        "str": (f"min({c})", f"max({c})"),
    }[kind]
    slots = {
        "num": (mins[0], mins[1], null_of["us"], null_of["us"], null_of["str"], null_of["str"]),
        "time": (null_of["num"], null_of["num"], mins[0], mins[1], null_of["str"], null_of["str"]),
        "str": (null_of["num"], null_of["num"], null_of["us"], null_of["us"], mins[0], mins[1]),
    }[kind]
    return (
        f"SELECT '{c}' AS column_name, count(*) AS n_rows,\n"
        f"       count(*) - count({c}) AS n_nulls,\n"
        f"       count(DISTINCT {c}) AS n_distinct,\n"
        f"       {slots[0]} AS min_num, {slots[1]} AS max_num,\n"
        f"       {slots[2]} AS min_us, {slots[3]} AS max_us,\n"
        f"       {slots[4]} AS min_str, {slots[5]} AS max_str\n"
        f"FROM {src}"
    )


LINEITEM_PROFILE_SQL = (
    "\nUNION ALL\n".join(
        _profile_col_sql(c, k) for c, k in _PROFILE_COLS.items()
    )
    + "\nORDER BY column_name\n"
)


_KANON_K = 6
_KANON_QI = ["c_nationkey", "c_mktsegment"]


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table over the
    (nation, market-segment) quasi-identifier at k=6 — the graded
    surface for `k_anonymity_report` (operators/profile.py:176), the
    structured-privacy check `doc_pii_scrub` is the text-side of.
    k=6 is chosen so the verdict is non-degenerate at BOTH grading
    scales (sf0.001: 92 of 93 QI groups below k; sf0.01: 2 of 125).

    Scale: ONE map-side-combinable hash aggregate on the QI columns
    plus a group-count-sized summary — the distinct-count footprint;
    no window, no join (operator docstring has the 100 TB argument).

    Oracle: the same two-level aggregate in ANSI SQL; every count is
    an exact BIGINT (sums CAST to dodge DuckDB's HUGEINT)."""
    from ..operators.profile import k_anonymity_report

    return k_anonymity_report(
        load_table(spark, sf_dir, "customer"), _KANON_QI, k=_KANON_K
    )


CUSTOMER_K_ANONYMITY_SQL = f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       count(*) AS n_groups,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_groups_below_k,
       CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       min(n) AS min_group_size,
       min(n) >= {_KANON_K} AS is_k_anonymous,
       {_KANON_K} AS k
FROM g
"""


# profile_diff graded twin: reference zone = orders before the split
# date, current zone = orders after it, with ONE deliberately
# asymmetric profiled column per side (o_orderstatus ref-only,
# o_orderpriority cur-only) so the schema_drift flag has live rows.
_DRIFT_SPLIT = "1998-01-01 00:00:00"
_DRIFT_REF_COLS: dict[str, str] = {
    "o_orderkey": "num",
    "o_custkey": "num",
    "o_totalprice": "num",
    "o_orderdate": "time",
    "o_orderstatus": "str",
}
_DRIFT_CUR_COLS: dict[str, str] = {
    "o_orderkey": "num",
    "o_custkey": "num",
    "o_totalprice": "num",
    "o_orderdate": "time",
    "o_orderpriority": "str",
}


def orders_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-contract drift report between two zone drops — the
    graded surface for `profile_diff` (operators/profile.py:219):
    profile orders before vs after `_DRIFT_SPLIT` and diff the
    profiles. The split guarantees deterministic live flags:
    schema_drift on the two one-sided columns, range_drift on
    o_orderkey/o_orderdate (later keys/dates escape the reference
    max), quiet null/distinct flags (the generator emits no nulls and
    stable per-row cardinality).

    Scale: two profile scans (each the one-scan-total plan
    `lineitem_profile` documents) and a ~n_cols-row full-outer join —
    the diff itself is free at any data scale; every flag is exact
    integer/boolean logic (ppm by integer div, cardinality by
    cross-multiplication — no float rates to drift cross-engine)."""
    from ..operators.profile import profile_diff, table_profile

    orders = load_table(spark, sf_dir, "orders")
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    ref = table_profile(
        orders.filter(F.col("o_orderdate") < split), list(_DRIFT_REF_COLS)
    )
    cur = table_profile(
        orders.filter(F.col("o_orderdate") >= split), list(_DRIFT_CUR_COLS)
    )
    return profile_diff(ref, cur)


def _drift_profile_sql(cols: dict[str, str], pred: str) -> str:
    src = f"(SELECT * FROM orders WHERE {pred})"
    return "\nUNION ALL\n".join(
        _profile_col_sql(c, k, src) for c, k in cols.items()
    )


_DRIFT_BOTH = "(r.column_name IS NOT NULL AND c.column_name IS NOT NULL)"
_DRIFT_PPM_R = "r.n_nulls * 1000000 // r.n_rows"
_DRIFT_PPM_C = "c.n_nulls * 1000000 // c.n_rows"

ORDERS_PROFILE_DRIFT_SQL = f"""
WITH ref_p AS (
{_drift_profile_sql(_DRIFT_REF_COLS, f"o_orderdate < TIMESTAMP '{_DRIFT_SPLIT}'")}
),
cur_p AS (
{_drift_profile_sql(_DRIFT_CUR_COLS, f"o_orderdate >= TIMESTAMP '{_DRIFT_SPLIT}'")}
)
SELECT
  COALESCE(r.column_name, c.column_name) AS column_name,
  r.column_name IS NOT NULL AS in_ref,
  c.column_name IS NOT NULL AS in_cur,
  {_DRIFT_PPM_R} AS null_ppm_ref,
  {_DRIFT_PPM_C} AS null_ppm_cur,
  r.n_distinct AS n_distinct_ref,
  c.n_distinct AS n_distinct_cur,
  NOT {_DRIFT_BOTH} AS schema_drift,
  COALESCE({_DRIFT_BOTH}
           AND abs(({_DRIFT_PPM_C}) - ({_DRIFT_PPM_R})) > 10000,
           FALSE) AS null_drift,
  COALESCE({_DRIFT_BOTH}
           AND (c.n_distinct * r.n_rows > 2 * r.n_distinct * c.n_rows
                OR r.n_distinct * c.n_rows > 2 * c.n_distinct * r.n_rows),
           FALSE) AS distinct_drift,
  {_DRIFT_BOTH}
  AND COALESCE(
        (c.min_num < r.min_num) OR (c.max_num > r.max_num)
        OR (c.min_us < r.min_us) OR (c.max_us > r.max_us)
        OR (c.min_str < r.min_str) OR (c.max_str > r.max_str),
        FALSE) AS range_drift
FROM ref_p r FULL OUTER JOIN cur_p c ON r.column_name = c.column_name
ORDER BY column_name
"""


QUERIES: dict[str, QuerySpec] = {
    "referential_integrity_audit": QuerySpec(
        referential_integrity_audit, REFERENTIAL_INTEGRITY_AUDIT_SQL
    ),
    "order_totals_reconciliation": QuerySpec(
        order_totals_reconciliation, ORDER_TOTALS_RECONCILIATION_SQL
    ),
    # the profile family is also parity-tested at both scales in
    # tests/test_profile.py —
    "lineitem_profile": QuerySpec(lineitem_profile, LINEITEM_PROFILE_SQL),
    "customer_k_anonymity": QuerySpec(
        customer_k_anonymity, CUSTOMER_K_ANONYMITY_SQL
    ),
    "orders_profile_drift": QuerySpec(
        orders_profile_drift, ORDERS_PROFILE_DRIFT_SQL
    ),
}

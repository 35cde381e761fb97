"""The scaled-long exact accumulator (functions/numeric.py).

Every result must equal the DECIMAL(38,6) sum the engine promises:
per row ``Decimal(repr(x))`` rounded half-up at 6 digits (Spark's cast
of a double goes through its decimal string), summed exactly, then
correctly rounded to double — and the DuckDB twin `exact_sum_sql`.
Rows or groups outside the accumulator's domain must fail loudly in
both ANSI modes, never return a wrapped sum."""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.functions import numeric
from big_data_analytics_final_project_spark.functions.numeric import (
    exact_sum,
    exact_sum_final,
    exact_sum_over,
    exact_sum_partial,
    exact_sum_sql,
)
from big_data_analytics_final_project_spark.queries import all_queries

from .conftest import SF_SMOKE

_MICRO = Decimal("0.000001")
_2_26 = float(1 << 26)
_2_33 = float(1 << 33)

EDGE = [
    # exact 7th-digit ties (half-up on the decimal string)
    0.0000005, -0.0000005, 2.0000005, -2.0000005, 1234.5678905,
    123456789.1234565,
    # more than 6 decimals
    1.23456789, -0.1234564999, 3.141592653589793, 0.1 + 0.2,
    # x * 1e6 just inside / on / just outside the 0.01 band around .5
    0.00000048, 0.00000049, 0.0000004901, 0.0000005099, 0.00000051,
    0.00000052, 10.12345649, 10.1234565101, -10.12345651,
    # around 2^26 (fast path bound) and 2^33 (domain bound)
    _2_26 - 0.25, _2_26, _2_26 + 0.1234567, -_2_26 - 0.5,
    _2_33 - 1.5, math.nextafter(_2_33, 0.0), -math.nextafter(_2_33, 0.0),
    # signs and zeros
    -1.5, -0.0, 0.0, 7.0,
]


def _k(x: float) -> int:
    """Unscaled CAST(x AS DECIMAL(38,6)): the decimal string, half-up."""
    return int(Decimal(repr(x)).quantize(_MICRO, rounding=ROUND_HALF_UP) / _MICRO)


def _ref(xs) -> float | None:
    ks = [_k(x) for x in xs if x is not None]
    return float(Decimal(sum(ks)) * _MICRO) if ks else None


def _ansi(spark, enabled: bool):
    spark.conf.set("spark.sql.ansi.enabled", str(enabled).lower())


@pytest.fixture
def restore_ansi(spark):
    before = spark.conf.get("spark.sql.ansi.enabled")
    yield
    spark.conf.set("spark.sql.ansi.enabled", before)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "g int, x double")


def test_edge_values_match_decimal_and_duckdb(spark):
    rows = [(i, x) for i, x in enumerate(EDGE)]
    rows += [(len(EDGE), None), (len(EDGE) + 1, None), (len(EDGE) + 1, 1.5)]
    df = _frame(spark, rows)
    got = {
        r.g: r.s for r in df.groupBy("g").agg(exact_sum("x", "s")).collect()
    }
    want = {g: _ref([x for h, x in rows if h == g]) for g, _ in rows}
    assert got == want
    assert got[len(EDGE)] is None  # all-NULL group
    # per-row k of the tie cases is the half-up of the decimal string
    assert got[0] == 0.000001 and got[1] == -0.000001 and got[2] == 2.000001

    total = df.agg(exact_sum("x", "s")).collect()[0].s
    assert total == _ref([x for _, x in rows])

    # The twin casts each row through DuckDB's shortest decimal string,
    # so 7th-digit ties round half-up as Spark's cast does, including
    # 1234.5678905, whose binary value lies just below the tie.
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(
        con.sql(f"SELECT g, {exact_sum_sql('x', 's')} FROM t GROUP BY g").fetchall()
    )
    assert got == duck
    assert got[EDGE.index(1234.5678905)] == 1234.567891
    assert total == con.sql(f"SELECT {exact_sum_sql('x', 's')} FROM t").fetchone()[0]


def test_empty_input_is_null(spark):
    empty = _frame(spark, [])
    assert empty.agg(exact_sum("x", "s")).collect()[0].s is None
    p = empty.groupBy("g").agg(exact_sum_partial("x", "_p"))
    assert p.agg(exact_sum_final("_p", "s")).collect()[0].s is None


def test_money_products_match_decimal(spark):
    """Computed products land in the tie band about 2% of the time, so
    both paths run; sums are exact regardless of partitioning."""
    rnd = random.Random(7)
    rows = []
    for i in range(3000):
        price = round(rnd.uniform(900, 105000), 2)
        disc = rnd.randint(0, 10) / 100
        tax = rnd.randint(0, 8) / 100
        rows.append((i % 7, price * (1 - disc) * (1 + tax)))
    want = {g: _ref([x for h, x in rows if h == g]) for g in range(7)}
    for parts in (1, 5):
        df = _frame(spark, rows).repartition(parts)
        got = dict(df.groupBy("g").agg(exact_sum("x", "s")).collect())
        assert got == want
    two_phase = (
        spark.createDataFrame(
            [(g, x, i % 13) for i, (g, x) in enumerate(rows)], "g int, x double, o int"
        )
        .groupBy("g", "o")
        .agg(exact_sum_partial("x", "_p"))
        .groupBy("g")
        .agg(exact_sum_final("_p", "s"))
    )
    assert dict(two_phase.collect()) == want


def test_finish_either_side_of_2_53(spark):
    """Sums either side of 2^53, where U = sum(k) stops being an exact
    double, must give the decimal sum's double on groups and on running
    windows alike."""
    u52, u53 = 2**52 / 1e6, 2**53 / 1e6
    groups = [
        [u52 / 2 - 1e-6, u52 / 2],
        [u52 / 2, u52 / 2 + 1e-6],
        [u53 / 2 - 1e-6, u53 / 2 - 1e-6],
        [u53 / 2, u53 / 2 + 3e-6],
        [-u53 / 2, -u53 / 2 - 1e-6, 0.5],
    ]
    rows = [(g, i, x) for g, xs in enumerate(groups) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g int, i int, x double")
    got = dict(df.groupBy("g").agg(exact_sum("x", "s")).collect())
    assert got == {g: _ref(xs) for g, xs in enumerate(groups)}
    w = "PARTITION BY g ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    running = df.select("g", "i", exact_sum_over("x", w, "s")).collect()
    assert {(r.g, r.i): r.s for r in running} == {
        (g, i): _ref(xs[: i + 1]) for g, xs in enumerate(groups) for i in range(len(xs))
    }


def test_running_window_matches_decimal(spark):
    xs = [0.0000005, 19.99, None, -3.3333335, 1e7 + 0.1234565, 2.5]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)], "c int, i int, x double"
    )
    w = "PARTITION BY c ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    got = [r.s for r in df.select("i", exact_sum_over("x", w, "s")).orderBy("i").collect()]
    assert got == [_ref(xs[: i + 1]) for i in range(len(xs))]


def test_large_rows_do_not_wrap_with_ansi_off(spark, restore_ansi):
    """1200 rows of 8.5e9 sum to k = 1.02e19 > 2^63: a single LONG sum
    wraps silently with ANSI off; the limbs stay exact."""
    _ansi(spark, False)
    x = 8.5e9 + 0.123456
    df = spark.range(1200).select(F.lit(x).alias("x"))
    assert df.agg(exact_sum("x", "s")).collect()[0].s == _ref([x] * 1200)


@pytest.mark.parametrize("ansi", [True, False])
@pytest.mark.parametrize("bad", [_2_33, -_2_33, 1e300, math.nan, math.inf, -math.inf])
def test_row_outside_domain_raises(spark, restore_ansi, ansi, bad):
    _ansi(spark, ansi)
    df = _frame(spark, [(0, 1.0), (0, bad)])
    with pytest.raises(Exception, match="2\\^33"):
        df.groupBy("g").agg(exact_sum("x", "s")).collect()


@pytest.mark.parametrize("ansi", [True, False])
def test_group_past_limb_limit_raises(spark, restore_ansi, monkeypatch, ansi):
    """The per-group row limit (2^34 in production) lowered to 2: three
    rows in one group must raise on every accumulator path."""
    _ansi(spark, ansi)
    monkeypatch.setattr(numeric, "_LIMB_ROWS", 2)
    df = _frame(spark, [(0, 1.0), (0, 2.0), (1, 3.0), (1, 4.0), (2, None)])
    # at the limit (group 1: two rows) the sum still finishes
    ok = df.filter("g = 1").groupBy("g").agg(exact_sum("x", "s")).collect()
    assert ok[0].s == 7.0
    big = df.withColumn("g", F.lit(0))
    for run in (
        lambda: big.groupBy("g").agg(exact_sum("x", "s")).collect(),
        lambda: big.groupBy("g", "x")
        .agg(exact_sum_partial("x", "_p"))
        .groupBy("g")
        .agg(exact_sum_final("_p", "s"))
        .collect(),
        lambda: big.select(exact_sum_over("x", "PARTITION BY g ORDER BY x", "s")).collect(),
    ):
        with pytest.raises(Exception, match="rows in one group"):
            run()


def _agg_buffer_types(plan) -> list[str]:
    """Aggregation-buffer data types of every aggregate node in an
    executed physical plan, AQE query stages included."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if name.endswith("AggregateExec"):
            exprs = node.aggregateExpressions()
            for i in range(exprs.size()):
                attrs = exprs.apply(i).aggregateFunction().aggBufferAttributes()
                out += [attrs.apply(j).dataType().simpleString() for j in range(attrs.size())]
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


@pytest.mark.parametrize("name", ["pricing_summary", "product_popularity"])
def test_money_aggregates_carry_no_decimal_buffer(spark, name):
    """The gain of the scaled-long accumulator is the narrow buffer: a
    DECIMAL buffer back in these aggregates (even one summing only
    NULLs) costs about half of it."""
    df = all_queries()[name].fn(spark, SF_SMOKE)
    df.collect()
    types = _agg_buffer_types(df._jdf.queryExecution().executedPlan())
    assert "bigint" in types
    assert not [t for t in types if t.startswith("decimal")], types

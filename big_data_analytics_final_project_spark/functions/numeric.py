"""Numeric helpers with cross-engine deterministic semantics.

Floating-point SUM is order-dependent, and Spark's aggregation order
(partition layout, AQE coalescing) is not the oracle's. The reference
sidesteps this by rounding to 2dp (reference spark_analysis.py:75,99);
we go further: every money/measure SUM is exact, and only the finished
sum is cast to double. The double is bit-identical no matter the
partitioning, and equal to the DuckDB twin `exact_sum_sql`, which sums
``CAST(x AS DECIMAL(38,6))`` (cast through VARCHAR, `dec_sql`) and
casts the sum to double.
Scalar +,-,*,/ on identical doubles are IEEE-deterministic and need no
such treatment.

Scaled-long accumulator (`exact_sum`, `exact_sum_partial` /
`exact_sum_final`, `exact_sum_over`). Each row's x becomes k, the
unscaled value of ``CAST(x AS DECIMAL(38,6))``, as a LONG, and k is
summed in 64-bit integers. A DECIMAL(38,6) sum would instead send every
row through a decimal string and carry a 38-digit aggregation buffer.

- **Fast path.** ``k = rint(x * 1e6)`` when |x| < 2^26 and the double
  y = x * 1e6 lies more than 0.01 from every half-integer
  (|y - rint(y)| < 0.49). Why this is exact: Spark's cast rounds the
  decimal string s of x (``Double.toString``) half-up at 6 digits, and
  s lies within ulp(x)/2 <= 2^-28 of x, so s * 1e6 lies within 0.0038
  of x * 1e6. The product y is x * 1e6 rounded to a double below 2^46,
  so it lies within ulp(y)/2 <= 2^-8 of it. Hence
  |s * 1e6 - y| < 0.008. Rounding to the nearest integer changes only
  at half-integers; with y more than 0.01 from each of them, s * 1e6
  is on the same side of the same half-integer and both round to the
  same k (no tie arises, so half-up and rint's half-even agree). The
  same holds for integer and DECIMAL inputs, whose double is within
  ulp/2 of the exact value.
- **Fallback.** Otherwise, when |x| < 2^33 (about 8.6e9), k is taken
  from the decimal cast itself. Only rows in the tie band or above
  2^26 get here (about 2% of computed products such as
  price * (1 - disc)), and the CASE evaluates it for those rows only.
- **Out of domain.** A row with |x| >= 2^33, NaN or +-inf fails with a
  ``raise_error`` that names the bound, whatever
  ``spark.sql.ansi.enabled`` says. (Spark orders NaN above every
  number, so the |x| < 2^33 test rejects it.) There is no decimal
  side-sum for such rows: any DECIMAL(38,*) buffer left in the
  aggregate, even one that only sums NULLs, costs about half the gain.

**Limbs.** |k| < 2^53 is summed in two LONG limbs,
hi = k >> 24 in [-2^29, 2^29) and lo = k & 0xFFFFFF in [0, 2^24), next
to the group's row count n (``count(1)``, which bounds the non-NULL
rows and is shared with any ``count(*)`` of the same aggregate). Over n
rows |sum(hi)| <= n * 2^29 and sum(lo) < n * 2^24, so neither limb can
overflow while n <= 2^34. Past that the finish raises, in both ANSI
modes: with ANSI off a wrapped LONG sum would otherwise reach the
result silently.

**Finish,** once per group: the unscaled sum
U = sum(hi) * 2^24 + sum(lo) is rebuilt as a DECIMAL(38,6) and cast to
double exactly as the decimal sum was, so the double is identical by
construction. A window finishes the same way, once per row.
All-NULL groups and empty inputs give NULL, as SUM does.

**SQL text.** The helpers take the summed expression as Spark SQL text
(a column name, or the same text the DuckDB twin sums) and build each
sum with one ``F.expr``. Built from Column calls, one sum took about 40
of them, and in PySpark 4 each call is several py4j round trips plus a
call-site capture; a reference pass builds its plans on every run, so
that alone cost more than a second per pass. `exact_sum_text` returns
the text itself, for statements written as SQL.

**Partials.** `exact_sum_partial` aggregates a sub-group to its
(hi, lo, n) struct and `exact_sum_final` sums those fields and
finishes. Summing partial limbs is the same integer sum, so two-phase
plans (distinct counts, salting) stay exact.

**Left on decimal on purpose.**

- `exact_sum_hi` and `corr_components`: second moments need ten
  fraction digits or exact decimal products, outside the LONG domain.
- ``streaming/rollup.py``: the hourly zone stores DECIMAL sums on disk,
  and re-folds sum them again; the zone's schema is its contract with
  readers.
- The ``aggregate`` higher-order fold in ``queries/json_nested.py``: it
  folds one row's array in a lambda, not a SQL aggregate, so there is
  no aggregation buffer to narrow.

Pearson correlation (reference hand-rolls it at
integrated_query_engagement_vs_spend.py:121-133) is built from decimal
moment sums so the final double is partitioning-independent, instead
of using `F.corr` whose accumulation order varies.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 38-digit decimal with 6 fractional digits: the accumulator's exact
# twin (and the rollup zone's stored sum type).
DEC = "decimal(38,6)"
# Wider fraction for second-moment sums (products of measures).
DEC_HI = "decimal(38,10)"

# Scaled-long domain (module docstring): the fast path below 2^26, the
# decimal fallback below 2^33 (so |k| < 2^53), and the rows one group
# may hold before a limb could overflow.
_FAST_ABS = 1 << 26
_MAX_ABS = 1 << 33
_LIMB_ROWS = 1 << 34


def _scaled_sql(x: str) -> str:
    """k: the unscaled value of ``CAST(x AS DECIMAL(38,6))`` as a LONG."""
    y = f"(({x}) * 1e6)"
    # NOT (abs(x) < 2^33) is NULL, not true, for a NULL x, which then
    # takes the ELSE and stays NULL
    return (
        f"CASE WHEN abs({x}) < {_FAST_ABS} AND abs({y} - rint({y})) < 0.49 "
        f"THEN CAST(rint({y}) AS BIGINT) "
        f"WHEN NOT (abs({x}) < {_MAX_ABS}) THEN raise_error('exact sum: a row "
        f"must be finite with |x| < 2^33 ({_MAX_ABS})') "
        f"ELSE CAST(CAST({x} AS {DEC}) * 1000000 AS BIGINT) END"
    )


def _limbs_sql(x: str, over: str = "") -> tuple[str, str, str]:
    """sum(hi), sum(lo) and the row count, each followed by ``over``."""
    k = _scaled_sql(x)
    return (
        f"sum(shiftright({k}, 24)){over}",
        f"sum({k} & 16777215){over}",
        f"count(1){over}",
    )


def _finish_sql(hi: str, lo: str, n: str) -> str:
    """U = hi * 2^24 + lo as DECIMAL(38,6) (16.777216 is 2^24 / 10^6),
    cast to double; raises past the limb limit."""
    return (
        f"CASE WHEN {n} > {_LIMB_ROWS} THEN raise_error('exact sum: more "
        f"than {_LIMB_ROWS} rows in one group; the 64-bit limbs could "
        f"overflow') ELSE CAST(CAST(CAST({hi} AS DECIMAL(20,0)) * 16.777216 "
        f"+ CAST({lo} AS DECIMAL(20,0)) * 0.000001 AS {DEC}) AS DOUBLE) END"
    )


def exact_sum_text(expr: str, window: str | None = None) -> str:
    """Spark SQL text of `exact_sum` over ``expr`` (of
    `exact_sum_over` when ``window``, the text inside ``OVER (...)``,
    is given), for statements written as SQL."""
    over = "" if window is None else f" OVER ({window})"
    return _finish_sql(*_limbs_sql(expr, over))


def exact_sum(expr: str, alias: str) -> Column:
    """Exact SUM of the SQL expression ``expr`` on the scaled-long
    accumulator, returned as double.

    Oracle twin: `exact_sum_sql`, usually over the same ``expr`` text.
    """
    return F.expr(exact_sum_text(expr)).alias(alias)


def exact_sum_partial(expr: str, alias: str) -> Column:
    """First phase of a two-phase exact sum: the sub-group's
    ``struct<hi, lo, n>``; finish it with `exact_sum_final`."""
    hi, lo, n = _limbs_sql(expr)
    return F.expr(f"named_struct('hi', {hi}, 'lo', {lo}, 'n', {n})").alias(alias)


def exact_sum_final(partial: str, alias: str) -> Column:
    """Sum the `exact_sum_partial` structs in column ``partial`` and
    finish: equal to `exact_sum` over all the rows behind them."""
    sums = (f"sum({partial}.{f})" for f in ("hi", "lo", "n"))
    return F.expr(_finish_sql(*sums)).alias(alias)


def exact_sum_over(expr: str, window: str, alias: str) -> Column:
    """`exact_sum` as a window aggregate; ``window`` is the SQL text
    inside ``OVER (...)``. A query that needs other functions over the
    same window builds them from the same text (``F.expr(f"row_number()
    OVER ({spec})")``), so the window is written once and Spark plans
    one sort and one window operator for all of them."""
    return F.expr(exact_sum_text(expr, window)).alias(alias)


def exact_sum_hi(col: Column | str, alias: str) -> Column:
    """Exact sum at 10 fractional digits (for x*y second moments)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC_HI)).cast("double").alias(alias)


def guarded_div(num: Column, den: Column, default: float = 0.0) -> Column:
    """num/den with a zero-denominator guard (reference FN-3,
    integrated_query_engagement_vs_spend.py:196-198)."""
    return F.when(den > 0, num / den).otherwise(F.lit(default))


def corr_components(x: Column, y: Column, prefix: str = "") -> list[Column]:
    """Decimal moment sums for a deterministic Pearson correlation.

    Inputs are first snapped to DECIMAL(18,6); the second moments are
    then exact decimal×decimal products — casting the *double product*
    would re-round differently per engine at the last decimal.
    `prefix` names the output columns, so several moment sets can share
    one aggregate (one pass over its input).
    """
    dec = "decimal(18,6)"
    xd, yd = x.cast(dec), y.cast(dec)
    return [
        F.count(F.lit(1)).alias(f"{prefix}_n"),
        F.sum(xd).cast("double").alias(f"{prefix}_sx"),
        F.sum(yd).cast("double").alias(f"{prefix}_sy"),
        F.sum(xd * xd).cast("double").alias(f"{prefix}_sxx"),
        F.sum(yd * yd).cast("double").alias(f"{prefix}_syy"),
        F.sum(xd * yd).cast("double").alias(f"{prefix}_sxy"),
    ]


def corr_from_components(alias: str, prefix: str = "") -> Column:
    """Assemble Pearson r from `corr_components` output columns.

    Degenerate inputs (n<2 or zero variance) yield 0.0, matching the
    reference's guard (integrated_query_engagement_vs_spend.py:127-133)
    rather than SQL NULL.
    """
    def c(name: str) -> Column:
        return F.col(f"{prefix}{name}")

    n = c("_n").cast("double")
    num = n * c("_sxy") - c("_sx") * c("_sy")
    varx = n * c("_sxx") - c("_sx") * c("_sx")
    vary = n * c("_syy") - c("_sy") * c("_sy")
    return (
        F.when((c("_n") < 2) | (varx <= 0) | (vary <= 0), F.lit(0.0))
        .otherwise(num / F.sqrt(varx * vary))
        .alias(alias)
    )


def corr_components_sql(x: str, y: str) -> str:
    """DuckDB fragment mirroring `corr_components` (same snapped values,
    same final double arithmetic → bit-identical r).

    DECIMAL(19,6) — not (18,6) as on the Spark side — because DuckDB
    multiplies DECIMAL(18) operands in int64 (overflows for values
    ≥ ~3e3 at scale 6) while DECIMAL(19) takes the int128 path. The
    snapped value is identical either way; both engines' products
    ((37,12) in Spark, (38,12) here) are exact, so the moment sums
    agree bit-for-bit after the double cast."""
    xd = f"CAST({x} AS DECIMAL(19,6))"
    yd = f"CAST({y} AS DECIMAL(19,6))"
    return (
        f"count(*) AS _n, "
        f"{dec2dbl_sql(f'SUM({xd})')} AS _sx, "
        f"{dec2dbl_sql(f'SUM({yd})')} AS _sy, "
        f"{dec2dbl_sql(f'SUM({xd} * {xd})')} AS _sxx, "
        f"{dec2dbl_sql(f'SUM({yd} * {yd})')} AS _syy, "
        f"{dec2dbl_sql(f'SUM({xd} * {yd})')} AS _sxy"
    )


CORR_FROM_COMPONENTS_SQL = (
    "CASE WHEN _n < 2 "
    "OR CAST(_n AS DOUBLE) * _sxx - _sx * _sx <= 0 "
    "OR CAST(_n AS DOUBLE) * _syy - _sy * _sy <= 0 "
    "THEN 0.0 ELSE "
    "(CAST(_n AS DOUBLE) * _sxy - _sx * _sy) / "
    "sqrt((CAST(_n AS DOUBLE) * _sxx - _sx * _sx) * "
    "(CAST(_n AS DOUBLE) * _syy - _sy * _sy)) END"
)


def dec2dbl_sql(expr: str) -> str:
    """Correctly-rounded decimal→double cast for DuckDB oracles.

    DuckDB's direct DECIMAL→DOUBLE cast is not correctly rounded (it
    can be off by one ulp, e.g. 104482822977.605100000000 →
    ...60509 instead of ...6051); Spark's (BigDecimal.doubleValue) is.
    Routing through VARCHAR uses DuckDB's correctly-rounded string
    parser, matching Spark bit-for-bit."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def dec_sql(expr: str) -> str:
    """DuckDB twin of Spark's ``CAST(x AS DECIMAL(38,6))``.

    Spark casts a double through its decimal string
    (``Double.toString``) and rounds that half-up at 6 digits. DuckDB's
    direct cast rounds the binary value instead, so on a 7th-digit tie
    whose double lies just below it (1234.5678905) the two differ by
    1e-6. Casting DuckDB's own shortest string gives Spark's digits."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DECIMAL(38,6))"


def exact_sum_sql(expr: str, alias: str) -> str:
    """Oracle twin of `exact_sum` as a SQL fragment."""
    return f"{dec2dbl_sql(f'SUM({dec_sql(expr)})')} AS {alias}"

"""Cross-engine exact rounding of integer ratios (the grid-QUOTIENT rule).

Why this module exists
----------------------
``ROUND(x, k)`` on a DOUBLE tie-breaks differently in Spark (HALF_UP on
the BigDecimal of the exact binary double) and DuckDB (scaled multiply)
whenever the TRUE value of ``x`` lands exactly on the ``10^-k`` half-grid.
For a ratio of exact integers ``num/den`` that happens whenever ``den``'s
factors (2s and 5s) cancel the grid denominator — e.g. ``-125/16000`` is
exactly ``-0.0078125``, a 6th-decimal tie (the CORRECTNESS_r05
``text_quality_classifier`` failure; same class as the r5 DECIMAL-grid-sum
rule, but for quotients, where "round the DECIMAL first" cannot apply
because the quotient never materializes on a decimal grid).

The fix: never round the quotient as a double. Compute

    round_half_away(num/den, k) = sign(num) * ((|num| * 2*10^k + den)
                                               div (2 * den)) / 10^k

entirely in exact integer arithmetic on BOTH engines, then make the ONE
double division by ``10^k`` (exactly representable; IEEE division of
identical operands is bit-identical everywhere).

Spark side (:func:`ratio_round`) runs in DECIMAL(38,0) space so products
up to ~1e34 cannot overflow (BIGINT would cap the numerator at ~9e18,
too small for e.g. variance numerators at sf0.1). Integral division is
built from exact DECIMAL remainder — ``(a - a % b) / b`` — because the
numerator is exactly divisible, so Spark's scale-6 decimal division
result is an exact integer (no float path anywhere). The DuckDB twin
(:func:`ratio_round_sql`) uses HUGEINT and the ``//`` operator.

Both sides are pinned against each other and against
``fractions.Fraction`` ground truth in ``tests/test_numeric.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ratio_round_int(num: int, den: int, scale: int) -> float:
    """Pure-Python twin of :func:`ratio_round` for Arrow-UDF code paths
    (streaming state updates, mapInPandas loops): half-away-from-zero
    rounding of ``num/den`` at ``scale`` decimals in exact int
    arithmetic. Keeping the formula in ONE audited place is the point —
    hand-rolled copies are how half-grid tie bugs come back. ``den`` > 0.
    """
    p = 10**scale
    q = (abs(num) * 2 * p + den) // (2 * den)
    return (-q if num < 0 else q) / p


def ratio_round(num: Column, den: Column, scale: int) -> Column:
    """``round_half_away_from_zero(num / den, scale)`` as a DOUBLE, exact.

    ``num`` and ``den`` must be integer-valued columns (any integral or
    integer-valued DECIMAL type); ``den`` must be > 0. Intermediates run
    in DECIMAL(38,0), so ``|num| * 2*10^scale`` may reach ~1e37 before
    overflowing — far beyond any BIGINT-sized input.
    """
    p = 10**scale
    a = F.abs(num).cast("decimal(38,0)") * F.lit(2 * p) + den.cast("decimal(38,0)")
    b = den.cast("decimal(38,0)") * F.lit(2)
    # a - a%b is exactly divisible by b, so the decimal division yields an
    # exact integer despite Spark's scale-6 division rounding.
    # Stays DECIMAL (no long cast): unit counts past 2^63 still work, and
    # decimal->double is round-to-nearest on both engines.
    q = (a - a % b) / b
    signed = F.when(num < 0, -q).otherwise(q)
    return signed.cast("double") / F.lit(float(p))


def ratio_round_sql(num: str, den: str, scale: int) -> str:
    """DuckDB twin of :func:`ratio_round` — a SQL fragment.

    ``num`` / ``den`` are SQL sub-expressions (integer-valued; den > 0).
    HUGEINT (int128) arithmetic, ``//`` integral division (operands kept
    positive, so floor == truncate on both engines).
    """
    p = 10**scale
    return (
        f"(CAST((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
        f" * ((abs(CAST(({num}) AS HUGEINT)) * {2 * p} + ({den}))"
        f" // (CAST(({den}) AS HUGEINT) * 2)) AS DOUBLE) / {p}.0)"
    )


def ratio_round_ge(num: Column, den: Column, tau: float, scale: int) -> Column:
    """``ratio_round(num, den, scale) >= tau`` as ONE integer comparison.

    For a grid threshold tau = T/10^scale and num >= 0, den > 0:
    ``round_half_away(num/den) >= tau  ⟺  2·10^scale·num >= (2T−1)·den``.

    Why not just compare the rounded column: a filter on a ratio_round
    output collapses the FULL duplicated expression tree into the scan
    predicate (Catalyst inlines aliases through Filter pushdown with no
    cost guard), which re-runs every heavy input expression 3-6× per row
    — measured 4× on the r6 quality pipelines. The integer form
    references ``num`` once and never touches DECIMAL.
    """
    p = 10**scale
    t_units = round(tau * p)
    if abs(t_units - tau * p) >= 1e-9:
        # ValueError, not assert: under `python -O` a stripped assert
        # would let an off-grid threshold silently shift the integer
        # comparison (the registry-rewriter-guard class, ADVICE r8)
        raise ValueError(f"threshold {tau} off the 1e-{scale} grid")
    return num * (2 * p) >= den * (2 * t_units - 1)


def ratio_round_spark_sql(num: str, den: str, scale: int) -> str:
    """Spark-SQL twin of :func:`ratio_round_sql` for SQL-surface plans
    (``spark.sql`` view DDL): DECIMAL(38,0) arithmetic + the ``div``
    integral-division operator instead of HUGEINT + ``//``."""
    p = 10**scale
    return (
        f"(CAST((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
        f" * ((abs(CAST(({num}) AS DECIMAL(38,0))) * {2 * p} + ({den}))"
        f" div (CAST(({den}) AS DECIMAL(38,0)) * 2)) AS DOUBLE) / {p}.0)"
    )


def stable_avg_spark_sql(col: str) -> str:
    """Spark-SQL twin of :func:`stable_avg_sql` (same grid-units/count
    exact rounding, Spark syntax)."""
    sum_decimals = 2
    out_decimals = 4
    g = 10**sum_decimals
    return ratio_round_spark_sql(
        cents_sql(f"SUM({col})"), f"COUNT({col}) * {g}", out_decimals
    )


def cents_sql(sum_expr: str) -> str:
    """DuckDB fragment turning a grid-rounded SUM into exact integer grid
    units: ``CAST(ROUND(ROUND(sum_expr, d) * 10^d) AS BIGINT)``. The sum
    is first rounded TO its value grid (the r5 DECIMAL-grid-sum rule:
    float accumulation error ≪ half a grid step), then scaled to units —
    the outer ROUND re-lands the scaled double on the integer before the
    cast (DuckDB CAST(double AS BIGINT) rounds, but keep it explicit and
    Spark-parallel)."""
    decimals = 2
    g = 10**decimals
    return f"CAST(ROUND(ROUND({sum_expr}, {decimals}) * {g}) AS BIGINT)"


def cents(sum_col: Column) -> Column:
    """Spark twin of :func:`cents_sql`: exact integer grid units of a
    grid-valued sum. The inner round snaps the float sum to the value
    grid; the outer round kills the ``*10^d`` float error BEFORE the
    (truncating!) long cast."""
    decimals = 2
    g = 10**decimals
    return F.round(F.round(sum_col, decimals) * g).cast("long")


def stable_avg_sql(col: str) -> str:
    """DuckDB twin of ``relational.stable_avg`` (see its docstring)."""
    sum_decimals = 2
    out_decimals = 4
    g = 10**sum_decimals
    return ratio_round_sql(
        cents_sql(f"SUM({col})"), f"COUNT({col}) * {g}", out_decimals
    )


def ratio_units(num: Column, den: Column, scale: int) -> Column:
    """The INTEGER 10^-scale units of ``round_half_away(num/den, scale)``
    as a DECIMAL column — :func:`ratio_round` without the final double
    division. For summing many rounded ratios EXACTLY (Σ units is
    integer arithmetic; Σ of the double grid values would reintroduce
    float-order noise): ``sum(ratio_units(...)).cast(double) / 10^scale``.
    ``num`` must be >= 0 and ``den`` > 0."""
    p = 10**scale
    a = num.cast("decimal(38,0)") * F.lit(2 * p) + den.cast("decimal(38,0)")
    b = den.cast("decimal(38,0)") * F.lit(2)
    return (a - a % b) / b


def ratio_units_sql(num: str, den: str, scale: int) -> str:
    """DuckDB twin of :func:`ratio_units` (HUGEINT ``//``)."""
    p = 10**scale
    return (
        f"((CAST(({num}) AS HUGEINT) * {2 * p} + ({den}))"
        f" // (CAST(({den}) AS HUGEINT) * 2))"
    )


def attach_sqrt_ratio_round(
    df, num: Column, d1: Column, d2: Column, scale: int, out: str
):
    """Append column ``out`` = ``round(num / sqrt(d1·d2), scale)`` to the
    (small — statistics-row) DataFrame ``df``, safe on BOTH branches of
    the rationality split (the Pearson-correlation denominator shape):

    - d1·d2 a perfect square k² → the quotient is an exact RATIONAL and
      ``ROUND(double)`` is exposed to half-grid ties (the grid-quotient
      rule); detect k and round via :func:`ratio_round`.
    - otherwise sqrt(d1·d2) is irrational → the sqrt rule applies
      (transcendental of bit-identical inputs, ULP-only risk).

    The float seed floor(sqrt(double(dd))) drifts by more than ±1 once
    dd ≳ 4e31, so TWO exact integer Newton steps (k ← ⌊(k + dd div k)/2⌋
    in DECIMAL remainder arithmetic) refine it across the full
    DECIMAL(38,0) domain before the exact candidate check.

    DataFrame-level (chained projections materializing each
    intermediate as an ATTRIBUTE) rather than one Column expression: the
    nested Newton steps reference their input many times, and as a
    single expression tree every reference would inline a full copy of
    the aggregate subtree — measured as a Catalyst/codegen heap blow-up
    on the correlation entries. ``num`` integer-valued (any sign),
    ``d1``/``d2`` > 0 integer-valued; d1·d2 must fit DECIMAL(38,0) /
    HUGEINT (~1e38). ``out`` is NULL when either d is ≤ 0.
    """
    keep = list(df.columns)
    step = df.select(
        "*",
        num.cast("decimal(38,0)").alias("_num"),
        d1.cast("decimal(38,0)").alias("_d1"),
        d2.cast("decimal(38,0)").alias("_d2"),
    )
    step = step.select(
        "*", (F.col("_d1") * F.col("_d2")).cast("decimal(38,0)").alias("_dd")
    )
    step = step.select(
        "*",
        F.greatest(
            F.floor(F.sqrt(F.col("_dd").cast("double"))).cast("decimal(38,0)"),
            F.lit(1).cast("decimal(38,0)"),
        ).alias("_ks"),
    )

    def _newton(kk: Column) -> Column:
        # each exact integral division re-casts to scale 0: Spark's
        # decimal division yields scale-6 types, which overflow 38-digit
        # precision for dd beyond ~1e32 (values are integers, casts exact)
        q = ((F.col("_dd") - F.col("_dd") % kk) / kk).cast("decimal(38,0)")
        t = kk + q
        return ((t - t % 2) / 2).cast("decimal(38,0)")

    step = step.select("*", _newton(F.col("_ks")).alias("_kn"))
    step = step.select("*", _newton(F.col("_kn")).alias("_k0"))
    km1, kp1 = F.col("_k0") - 1, F.col("_k0") + 1
    step = step.select(
        "*",
        F.when((km1 > 0) & (km1 * km1 == F.col("_dd")), km1)
        .when(F.col("_k0") * F.col("_k0") == F.col("_dd"), F.col("_k0"))
        .when(kp1 * kp1 == F.col("_dd"), kp1)
        .alias("_k"),
    )
    r = F.when(
        (F.col("_d1") > 0) & (F.col("_d2") > 0),
        F.when(
            F.col("_k").isNotNull(),
            ratio_round(F.col("_num"), F.col("_k"), scale),
        ).otherwise(
            F.round(
                F.col("_num").cast("double")
                / F.sqrt(F.col("_dd").cast("double")),
                scale,
            )
        ),
    )
    return step.select(*keep, r.alias(out))


def sqrt_ratio_round_ctes(num: str, d1: str, d2: str, scale: int, src: str) -> str:
    """DuckDB twin of :func:`sqrt_ratio_round` as a CTE chain over the
    single-row source ``src`` exposing integer columns ``num``/``d1``/
    ``d2`` (via the given SQL expressions). Returns SQL whose final
    SELECT yields columns of ``src`` plus ``r_rounded``."""
    return f"""
      _sq1 AS (
        SELECT *, CAST({num} AS HUGEINT) AS _num,
               CAST({d1} AS HUGEINT) AS _d1, CAST({d2} AS HUGEINT) AS _d2
        FROM {src}
      ),
      _sq2s AS (
        SELECT *, _d1 * _d2 AS _dd,
               GREATEST(CAST(FLOOR(SQRT(CAST(_d1 * _d2 AS DOUBLE)))
                             AS HUGEINT), 1) AS _ks
        FROM _sq1
      ),
      _sq2n AS (
        SELECT *, (_ks + _dd // _ks) // 2 AS _kn FROM _sq2s
      ),
      _sq2 AS (
        SELECT *, (_kn + _dd // _kn) // 2 AS _k0 FROM _sq2n
      ),
      _sq3 AS (
        SELECT *, CASE WHEN _k0 > 1 AND (_k0 - 1) * (_k0 - 1) = _dd THEN _k0 - 1
                       WHEN _k0 * _k0 = _dd THEN _k0
                       WHEN (_k0 + 1) * (_k0 + 1) = _dd THEN _k0 + 1
                  END AS _k
        FROM _sq2
      ),
      _sqr AS (
        SELECT *, CASE WHEN _d1 > 0 AND _d2 > 0 THEN
                    CASE WHEN _k IS NOT NULL
                         THEN {ratio_round_sql('_num', '_k', scale)}
                         ELSE ROUND(CAST(_num AS DOUBLE)
                                    / SQRT(CAST(_dd AS DOUBLE)), {scale}) END
                  END AS r_rounded
        FROM _sq3
      )
    """

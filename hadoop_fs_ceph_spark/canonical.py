"""Cross-engine deterministic numerics (fixed-point canonical aggregates).

The driver hash-compares our Spark results against DuckDB. Per-row IEEE
double arithmetic is bit-identical across engines, but *aggregate* results
are not: summation order differs (parallel partials vs sequential), and
even decimal-typed paths diverge because DuckDB's DECIMAL(38,s)→DOUBLE cast
double-rounds (int128→double, then /10^s) while Spark's BigDecimal cast
rounds once (verified empirically — see git history).

The scheme used on the whole correctness surface is fixed-point integer
accumulation:

    sum_s(x) = CAST(SUM(CAST(ROUND(x * 10^s) AS BIGINT)) AS DOUBLE) / 10^s

* ``x * 10^s`` — one IEEE multiply, bit-identical in both engines;
* ``ROUND`` — both engines round the *same binary double* half-away-from-zero;
* integer SUM — exact and order-independent;
* final int→double conversion and division — identical single roundings.

This module is the one place that spells the rule; operator modules call
it. Four layers, each built on the one before, each with an ``sql_*`` twin
that DuckDB (or Spark SQL) runs:

* ``units(x, s)`` — the per-row term ``round(x * 10^s)`` as a long
  (``sql_units``: ``CAST(ROUND((x) * 10^s.0) AS BIGINT)``);
* ``fixed(x, s)`` — the exact integer ``SUM`` of ``units`` (``sql_fixed``
  adds the outer ``CAST(... AS BIGINT)``, since DuckDB sums to HUGEINT);
  a window sum is ``fixed(...).over(w)`` / ``SUM({sql_units(...)}) OVER``;
* ``fixsum(x, s)`` — ``fixed`` as a double divided by ``10^s``;
* ``dsum``/``davg``/``dstddev_samp``/``dvar_samp`` — aliased aggregates
  built from ``fixsum``.

This declares aggregate semantics at an explicit 10^-s precision, like money
types. Choose ``scale`` so that ``|x|·10^s`` stays well under 2^63 / row
count (defaults: 6 for values ≤ ~1e6; drop to 4 for second moments).
Bench-only hot paths are free to use raw double sums instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def units(col: Column | str, scale: int) -> Column:
    """Per-row fixed-point term: ``x`` in units of 10^-scale, as a long."""
    # A bare float becomes the same double literal as ``F.lit``, in the JVM
    # call that multiplies: one py4j round trip instead of two.
    return F.round(_c(col) * 10.0**scale).cast("long")


def fixed(col: Column | str, scale: int) -> Column:
    """Exact, order-independent integer sum of ``units`` (a long)."""
    return F.sum(units(col, scale))


def fixsum(col: Column | str, scale: int) -> Column:
    """``fixed`` back in the value's own units, as a double."""
    return fixed(col, scale).cast("double") / 10.0**scale


def _shift(scale: int) -> str:
    return f"{10**scale}.0"


def sql_units(expr: str, scale: int) -> str:
    # Parenthesized so textual substitution into larger expressions keeps
    # the same evaluation (and hence IEEE rounding) order as the Spark side.
    return f"CAST(ROUND(({expr}) * {_shift(scale)}) AS BIGINT)"


def sql_fixed(expr: str, scale: int) -> str:
    # DuckDB sums BIGINT to HUGEINT; the outer cast keeps Spark's long.
    return f"CAST(SUM({sql_units(expr, scale)}) AS BIGINT)"


def sql_fixsum(expr: str, scale: int) -> str:
    return f"(CAST({sql_fixed(expr, scale)} AS DOUBLE) / {_shift(scale)})"


# ---------------------------------------------------------------- Spark side
def dsum(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Order-independent SUM over doubles at fixed 10^-scale precision."""
    return fixsum(col, scale).alias(alias)


def davg(col: Column | str, alias: str, scale: int = 6) -> Column:
    """Deterministic AVG = fixed-point sum / count (double division)."""
    return (fixsum(col, scale) / F.count(_c(col))).alias(alias)


def dstddev_samp(col: Column | str, alias: str, scale: int = 6, scale2: int = 4) -> Column:
    """Deterministic sample stddev from fixed-point first/second moments:
    sqrt((s2 - s1²/n) / (n-1)); every double op afterwards is scalar."""
    c = _c(col)
    n = F.count(c).cast("double")
    s1 = fixsum(c, scale)
    s2 = fixsum(c * c, scale2)
    return F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0))).alias(alias)


def dvar_samp(col: Column | str, alias: str, scale: int = 6, scale2: int = 4) -> Column:
    c = _c(col)
    n = F.count(c).cast("double")
    s1 = fixsum(c, scale)
    s2 = fixsum(c * c, scale2)
    return ((s2 - s1 * s1 / n) / (n - F.lit(1.0))).alias(alias)


# ------------------------------------------------------------------ SQL side
def sql_dsum(expr: str, alias: str, scale: int = 6) -> str:
    return f"{sql_fixsum(expr, scale)} AS {alias}"


def sql_davg(expr: str, alias: str, scale: int = 6) -> str:
    return f"{sql_fixsum(expr, scale)} / COUNT({expr}) AS {alias}"


def sql_dstddev_samp(expr: str, alias: str, scale: int = 6, scale2: int = 4) -> str:
    s1 = sql_fixsum(expr, scale)
    s2 = sql_fixsum(f"({expr}) * ({expr})", scale2)
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    return f"SQRT(({s2} - {s1} * {s1} / {n}) / ({n} - 1.0)) AS {alias}"


def sql_dvar_samp(expr: str, alias: str, scale: int = 6, scale2: int = 4) -> str:
    s1 = sql_fixsum(expr, scale)
    s2 = sql_fixsum(f"({expr}) * ({expr})", scale2)
    n = f"CAST(COUNT({expr}) AS DOUBLE)"
    return f"(({s2} - {s1} * {s1} / {n}) / ({n} - 1.0)) AS {alias}"

"""Cross-engine determinism helpers.

Problem: double-precision sums depend on accumulation order, and the two
engines (Spark vs the DuckDB oracle) also disagree on ROUND tie-breaking
(Spark rounds the shortest decimal repr HALF_UP; DuckDB rounds the binary
value), so ``ROUND(SUM(money), 2)`` is NOT reproducible across engines —
money data sits exactly on decimal-grid tie points.

Solution: make the output double itself deterministic instead of rounding
it. Money columns (2 decimals exact, verified in-repo) are summed as
``DECIMAL(38, p)`` — exact, associative, order-insensitive, no overflow
below 1e38 — then cast once to double (a single correctly-rounded
conversion, identical in every engine). Derived money expressions carry
p = their exact decimal precision (price*(1-disc) → 4, *(1+tax) → 6).

Scale note: decimal aggregation stays inside whole-stage codegen and
vectorized parquet reads; at 100 TB it is also the overflow-safe path
(a bigint sum of 1e6-unit cents overflows around 1e12 rows).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec_sum(col: Column, scale: int) -> Column:
    """Deterministic SUM of a decimal-grid double, returned as double.

    Oracle-SQL counterpart (textual convention used by every plan):
    ``CAST(SUM(CAST(x AS DECIMAL(38,s))) AS DOUBLE)``.
    """
    return F.sum(col.cast(f"decimal(38,{scale})")).cast("double")


def grid_sum(col: Column, micro: int = 1_000_000) -> Column:
    """Order-independent SUM of a CONTINUOUS double (no decimal grid to
    exploit, so ``dec_sum``'s exact-cast trick doesn't apply — and
    CAST-to-decimal of an arbitrary double rounds, which the engines
    tie-break differently).

    Instead: floor each value onto a 1/micro grid — one IEEE multiply
    plus floor, bit-identical in every engine — then sum exactly as
    BIGINT (associative, order-insensitive) and divide once. The result
    is a deterministic fixed-point total, not a rounded float sum.

    Oracle-SQL counterpart (textual convention used by every plan):
    ``SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) / 1000000.0``.
    """
    return F.sum(F.floor(col * F.lit(micro))) / F.lit(float(micro))


def grid_avg(col: Column, micro: int = 1_000_000) -> Column:
    """Order-independent AVG of a continuous double: grid_sum divided by
    the group count (only use on non-null columns — COUNT(*) scope).

    Oracle counterpart:
    ``SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) / 1000000.0 / COUNT(*)``.
    """
    return grid_sum(col, micro) / F.count(F.lit(1))


# --------------------------------------------------------------------------
# Fast exact money sums (added round 2): long-arithmetic alternatives to
# dec_sum for hot aggregation paths. dec_sum's per-row double->Decimal
# conversion allocates a BigDecimal per value (measured ~1.8x the whole-
# query cost of q1 at sf0.1); these stay entirely in primitive long
# codegen. Exactness is identical: ROUND(x * 10^s) recovers the integer
# grid value of a decimal(s)-grid double exactly (the IEEE product of a
# grid double and 10^s lands within ~1e-9 of the true integer, and both
# engines round it to the same nearest integer), so the summed total is
# the same integer a DECIMAL(38,s) sum would carry. The existing
# dec_sum oracle convention CAST(SUM(CAST(x AS DECIMAL(38,s))) AS
# DOUBLE) therefore remains the correct oracle for both.
# Inputs must be NON-NEGATIVE (money): `%` is a signed remainder.
# --------------------------------------------------------------------------

_HILO = 1_000_000


def cents_grid(col: Column, scale: int) -> Column:
    """Recover the BIGINT grid value of a non-negative decimal(scale)-
    grid double: ``FLOOR(x * 10^s + 0.5)``.

    Why not ``ROUND``: Spark evaluates ROUND on DoubleType through
    ``BigDecimal.setScale(HALF_UP)`` — a per-row BigDecimal allocation,
    exactly the cost this module exists to avoid (measured 2026-08-14,
    sf0.1 warm single-sum agg: 0.32 s ROUND vs 0.25 s FLOOR, identical
    totals).  FLOOR stays in primitive codegen and returns LONG
    directly.  Identical to round-half-up here because the IEEE product
    of a grid double and 10^s lands within ~1e-9 of the true integer —
    never at an exact .5 boundary — and inputs are non-negative.
    Oracle counterpart unchanged: CAST(x AS DECIMAL(38,s)) recovers the
    same integer grid value.
    """
    return F.floor(col * (10 ** scale) + F.lit(0.5))


def cents_sum(col: Column, scale: int) -> Column:
    """Exact SUM of a non-negative decimal(scale)-grid double via a
    single BIGINT accumulation, returned as double.

    Overflow envelope: per-row grid value * rows-per-group must stay
    below 2^63 (~9.2e18). For 2dp money capped at 1e5 that is ~9e11
    rows per group — safe at the 100 TB design point for low-scale
    columns; use cents_sum_wide beyond it (its docstring has the
    envelope arithmetic).
    """
    return F.sum(cents_grid(col, scale)) / float(10 ** scale)


def cents_sum_wide(col: Column, scale: int) -> tuple[Column, Column]:
    """Exact wide-range SUM of a non-negative decimal(scale)-grid double:
    the grid integer is split into hi = v div 1e6 and lo = v mod 1e6 and
    each half is summed as BIGINT. Both component sums stay under 2^63
    to ~9e12 rows per group even for 6dp charges capped at 1e11 grid
    units (hi <= 1e5/row; lo < 1e6/row) — ~80x the 100 TB design point,
    with zero per-row decimal work. Recombine the two aggregate columns
    with cents_recombine (decimal math over the handful of output rows
    only)."""
    v = cents_grid(col, scale)
    return (
        F.sum((v / _HILO).cast("long")),
        F.sum(v % _HILO),
    )


def cents_recombine(hi: Column, lo: Column, scale: int) -> Column:
    """Recombine cents_sum_wide halves into the exact double total:
    (hi*1e6 + lo) evaluated in DECIMAL(38,0) (the product can exceed
    2^63), one cast to double, one scale division — per OUTPUT row."""
    return ((hi.cast("decimal(38,0)") * _HILO + lo).cast("double")) / float(
        10 ** scale
    )

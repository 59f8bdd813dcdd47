"""Cross-engine determinism helpers.

Problem: double-precision sums depend on accumulation order, and the two
engines (Spark vs the DuckDB oracle) also disagree on ROUND tie-breaking
(Spark rounds the shortest decimal repr HALF_UP; DuckDB rounds the binary
value), so ``ROUND(SUM(money), 2)`` is NOT reproducible across engines —
money data sits exactly on decimal-grid tie points.

Solution: make the output double itself deterministic instead of rounding
it. A money column is a decimal(s)-grid double (2dp exact, verified
in-repo; derived expressions carry s = their exact decimal precision:
price*(1-disc) → 4, *(1+tax) → 6). ``dec_sum`` is the one exact money
sum; its oracle counterpart is ``CAST(SUM(CAST(x AS DECIMAL(38,s))) AS
DOUBLE)``.

The one path: ``cents_grid`` recovers each row's signed BIGINT grid
integer v; v splits into hi = v / 10^6 and lo = v % 10^6, both truncated
toward zero so that hi * 10^6 + lo == v; both halves are summed as
BIGINT in primitive codegen, and only the per-group result recombines
them in DECIMAL(38,0) and casts once.
- Overflow envelope: lo contributes |lo| < 10^6 per row and hi
  contributes |v|/10^6, so both BIGINT sums hold to 9.2e12 rows per group
  while every |v| stays below 10^12 grid units (10^6 currency units at
  6dp; q1's charge grid is at most 1.1e11).
- Identity bound: the result equals the oracle's double exactly while a
  group's total is under 2^53 grid units — the total converts to double
  exactly, and one IEEE division by 10^s is the single correct rounding
  both engines apply to the decimal. Above 2^53 the split rounds twice
  (BIGINT total to double, then the division); no parity is claimed.
- Measured reason: a per-row ``DECIMAL(38,s)`` cast allocates a
  BigDecimal per value. Against the split at sf0.1 warm it is 2.3×
  slower on q1, 0.94 vs 0.88 s on q3 and 0.91 vs 0.85 s on q5.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


_HILO = 1_000_000


def cents_grid(col: Column, scale: int) -> Column:
    """Recover the signed BIGINT grid value of a decimal(scale)-grid
    double: ``FLOOR(x * 10^s + 0.5)``.

    Why not ``ROUND``: Spark evaluates ROUND on DoubleType through
    ``BigDecimal.setScale(HALF_UP)`` — a per-row BigDecimal allocation
    (measured 2026-08-14, sf0.1 warm single-sum agg: 0.32 s ROUND vs
    0.25 s FLOOR, identical totals). FLOOR stays in primitive codegen
    and returns LONG directly. It equals round-half-up, and the
    oracle's ``CAST(x AS DECIMAL(38,s))``, for either sign because the
    IEEE product of a grid double and 10^s lands within ~1e-9 of the
    true integer — never near a .5 boundary.
    """
    return F.floor(col * (10 ** scale) + F.lit(0.5))


def dec_sum_grid(v: Column, scale: int) -> Column:
    """``dec_sum`` over a column that already holds the BIGINT grid
    integers (for instance products of ``cents_grid`` values), returned
    as double total / 10^scale. Same contract, envelope and identity
    bound as ``dec_sum``."""
    # both halves truncate toward zero, so hi * 10^6 + lo == v; the double
    # division truncates exactly while |v| < 2^53, which cents_grid needs
    hi = (v / _HILO).cast("long")
    lo = v % _HILO
    total = F.sum(hi).cast("decimal(38,0)") * _HILO + F.sum(lo)
    return total.cast("double") / float(10 ** scale)


def dec_sum(col: Column, scale: int) -> Column:
    """Exact SUM of a decimal(scale)-grid double, returned as double;
    NULL for a group with only NULLs. Oracle counterpart:
    ``CAST(SUM(CAST(x AS DECIMAL(38,s))) AS DOUBLE)``; equal to it while
    the group's total is under 2^53 grid units (module docstring)."""
    return dec_sum_grid(cents_grid(col, scale), scale)


def grid_sum(col: Column, micro: int = 1_000_000) -> Column:
    """Order-independent SUM of a CONTINUOUS double (no decimal grid to
    exploit, so ``dec_sum``'s exact grid recovery doesn't apply — and
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

"""Exact (order-independent) aggregate arithmetic helpers.

Double-precision SUM is order-dependent: a shuffle re-orders partial sums,
so the same query can hash differently run-to-run and engine-to-engine.
The fix is classic warehouse practice: aggregate money-like doubles in
DECIMAL (exact, associative, commutative), then cast the final value back
to double.  Both Spark and DuckDB implement decimal arithmetic exactly,
so the value is bit-identical across engines AND across partitionings —
which is exactly what a 1000-executor cluster needs for reproducible
results, not just what the oracle diff needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2 decimal digits covers every money/ratio column in the testdata and in
# the reference DDL (FLOAT ratio columns, user_course_activity_database.sql:11-13).
DEC = "decimal(18,2)"


def to_dec(c: Column | str, typ: str = DEC) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(typ)


def dsum(c: Column | str, alias: str, typ: str = DEC) -> Column:
    """Exact sum of a double column, returned as double."""
    return F.sum(to_dec(c, typ)).cast("double").alias(alias)


def davg(c: Column | str, alias: str, typ: str = DEC) -> Column:
    """Exact-sum average: decimal sum, double division by count.

    Matches the oracle formulation CAST(SUM(CAST(x AS DECIMAL)) AS DOUBLE)
    / COUNT(x): both engines divide the identical double by the identical
    count, so the result is bit-identical.
    """
    c2 = F.col(c) if isinstance(c, str) else c
    return (F.sum(to_dec(c2, typ)).cast("double") / F.count(c2)).alias(alias)


def dmul(a: Column | str, b: Column | str) -> Column:
    """Exact product of two 2-dp doubles (decimal(18,2) x decimal(18,2))."""
    return to_dec(a) * to_dec(b)


# ---------------------------------------------------------------------------
# Fast path: fixed-point "cents" arithmetic on LONG.
#
# Casting double -> decimal per row forces BigDecimal allocation inside the
# aggregate loop (~2.5x slower than a primitive long sum in whole-stage
# codegen).  For money-like 2-dp columns the same exactness is available as
# plain integer math: quantize each value to cents with
# floor(x * 100 + 0.5) — a pure IEEE-double expression that both Spark and
# DuckDB evaluate bit-identically — then SUM the resulting longs (exact,
# associative, order-independent) and divide once at the end.
#
# Overflow envelope: a long holds ±9.2e18, so a cents sum is exact up to
# ~9e16 currency units per group; the scale-4 product form (price_cents x
# discount_complement) is exact up to ~9e14.  That covers ~1e12 rows of
# TPC-H-scale values per group.  Beyond that envelope (or for >2-dp data),
# use the decimal helpers above — same call shape, slower but unbounded.
# ---------------------------------------------------------------------------


def cents(c: Column | str, scale: int = 2) -> Column:
    """Quantize a double to a long at 10^scale fixed-point."""
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * (10**scale) + F.lit(0.5)).cast("long")


def sql_cents(expr: str, scale: int = 2) -> str:
    """DuckDB rendering of cents() — textually identical arithmetic."""
    return f"CAST(FLOOR(({expr}) * {10 ** scale} + 0.5) AS BIGINT)"


def csum(c: Column | str, alias: str, scale: int = 2) -> Column:
    """Exact sum of a 2-dp double via long cents, returned as double."""
    return (F.sum(cents(c, scale)) / float(10**scale)).alias(alias)


def sql_csum(expr: str, alias: str, scale: int = 2) -> str:
    return f"SUM({sql_cents(expr, scale)}) / {float(10 ** scale)} AS {alias}"


def cavg(c: Column | str, alias: str, scale: int = 2) -> Column:
    """Exact-sum average: (long-cents sum / 10^scale) / count.

    Division order matches sql_cavg left-to-right, so both engines divide
    the identical double by the identical count.
    """
    c2 = F.col(c) if isinstance(c, str) else c
    return (F.sum(cents(c2, scale)) / float(10**scale) / F.count(c2)).alias(alias)


def sql_cavg(expr: str, alias: str, scale: int = 2) -> str:
    return f"SUM({sql_cents(expr, scale)}) / {float(10 ** scale)} / COUNT({expr}) AS {alias}"


def cents_disc(price: Column | str, disc: Column | str) -> Column:
    """price * (1 - discount) as an exact scale-4 long: cents(price) x
    (100 - cents(discount)).  Sum with F.sum(...) / 1e4."""
    return cents(price) * (F.lit(100) - cents(disc))


def sql_cents_disc(price: str, disc: str) -> str:
    return f"{sql_cents(price)} * (100 - {sql_cents(disc)})"

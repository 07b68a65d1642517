"""Exact-arithmetic expressions for DuckDB-oracle value-hash parity.

Each expression is written once, as SQL text that both engines parse: the
oracle embeds it in its query, the Spark side wraps it in ``F.expr``.

Problem: ``SUM(double)`` accumulates rounding error whose low bits depend on
partition/accumulation order, so Spark and DuckDB disagree in the last few
ULPs — and at 60k+ rows the absolute error can exceed any fixed ROUND() grid.

Convention (used on BOTH sides of every money aggregate):
    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)

The testdata money columns (l_quantity, l_extendedprice, l_discount, l_tax,
o_totalprice, c_acctbal, s_acctbal, p_retailprice, events.value) all carry
exactly 2 decimal digits, so the DECIMAL cast is lossless, the decimal SUM is
exact integer arithmetic, and the final double conversion is the same IEEE
nearest-even on both engines → bit-identical results, no tolerance needed.

Averages are expressed as exact-sum / count in ONE double division:
    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x)
"""

from __future__ import annotations

MONEY = "decimal(18,2)"


def sql_dsum(expr: str) -> str:
    """Exact sum of a money double, surfaced as double."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """Exact-sum / count average — deterministic double on both engines."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({expr})"


# --------------------------------------------------------------------------
# Long-domain exact money arithmetic — same bit-exact cross-engine
# guarantee as the DECIMAL convention above, but the hot path stays on the
# JVM's 64-bit integer fast lane instead of BigDecimal.
#
# Why: Spark's Decimal is long-backed only up to precision 18; every product
# or SUM that widens past 18 digits falls off whole-stage codegen's compact
# representation into per-row java.math.BigDecimal — measured 2-4× slower on
# the TPC-H Q1 shape at sf0.1.  ``sql_cents`` maps a 2-decimal-digit money
# double to its exact integer representation: the stored double is the
# nearest double to n/100, so x*100 lands within ~1e-9 of the integer n
# and FLOOR(x*100 + 0.5) recovers n exactly (positive or negative, incl.
# the exactly-representable quarters where x*100 == n precisely).  Both
# engines evaluate the identical IEEE expression → identical longs →
# exact integer SUMs → the final double division is the same nearest-even
# rounding on both sides.  No tolerance needed, same as the DECIMAL path.
#
# Overflow headroom (the 100 TB audit): SUM of cents-scale values wraps a
# signed 64-bit at ~9.2e18 — for l_extendedprice (avg ~3.8e6 cents) that is
# ~2.4e12 rows, 4× past a TPC-H SF-100k lineitem (6e11 rows).  PRODUCT
# sums (scale-4/scale-6 values) exceed that budget at large SF, so
# pricing_summary splits them hi/lo on a 2^20 radix (two long SUMs,
# recombined exactly in DECIMAL over the ~6 output rows); DuckDB's
# SUM(BIGINT) returns HUGEINT and never wraps, keeping the mirror exact.
# --------------------------------------------------------------------------
_SPLIT_RADIX = 1 << 20


def sql_cents(expr: str) -> str:
    """Exact integer (long) representation of a money double."""
    return f"CAST(FLOOR({expr} * 100.0 + 0.5) AS BIGINT)"


def sql_lsum(expr: str) -> str:
    """Exact sum of a money double via long cents, as double."""
    return f"(CAST(SUM({sql_cents(expr)}) AS DOUBLE) / 100.0)"


def sql_lavg(expr: str) -> str:
    """Exact-sum / count average on the long fast path."""
    return f"(CAST(SUM({sql_cents(expr)}) AS DOUBLE) / 100.0 / COUNT({expr}))"


def sql_lsum_split(prod: str, divisor: float) -> str:
    """Exact sum of a long-typed product whose per-row magnitude would
    overflow a single long SUM at large SF: two long SUMs over the
    2^20-radix hi/lo split, recombined exactly in DECIMAL(38,0) at the
    output-row level, surfaced as double / ``divisor``."""
    r = _SPLIT_RADIX
    hi = f"SUM(CAST(FLOOR(({prod}) / {r}) AS BIGINT))"
    lo = f"SUM(({prod}) - CAST(FLOOR(({prod}) / {r}) AS BIGINT) * {r})"
    return (
        f"(CAST(CAST({hi} AS DECIMAL(38,0)) * {r}"
        f" + CAST({lo} AS DECIMAL(38,0)) AS DOUBLE) / {divisor})"
    )


# --------------------------------------------------------------------------
# Vector folds (Spark SQL).  Σx² and Σaᵢbᵢ are sequential left folds: the
# one reduction order that matches DuckDB's list_sum(list_transform(...))
# and list_dot_product bit-for-bit.  A pairwise or tree sum rounds
# differently in the last bits, so a norm or cosine would drift from the
# oracle.  The oracle keeps its own DuckDB spelling; these are the only
# Spark spellings.
# --------------------------------------------------------------------------
def spark_sumsq(col: str) -> str:
    """Σx² over an array column, as a double."""
    return (
        f"aggregate(transform({col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def spark_dot(a: str, b: str) -> str:
    """Σaᵢbᵢ over two array columns, as a double."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )

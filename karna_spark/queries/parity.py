"""Cross-engine determinism helpers.

The driver hash-compares Spark results against a DuckDB oracle. Two
engines (and two *runs* of one engine, once partial-aggregate merge
order varies across a cluster) do not produce bit-identical double
sums. These helpers pin the arithmetic so values are exact, not
approximately equal:

- Money/ratio columns in the fixtures are 2-decimal doubles. Casting to
  DECIMAL before SUM makes the aggregate exact integer arithmetic;
  casting the exact result back to double is deterministic (nearest
  double of the same exact value on both engines). Merge order stops
  mattering entirely.
- Naturally-inexact aggregates (stddev, corr, percentile, cosine) are
  rounded to 4 decimals on both sides; their cross-engine noise is
  ~1e-12 relative, so a 4-decimal boundary hit is vanishingly unlikely.
- Timestamps are compared as strings truncated to seconds (the events
  fixture is ns-precision parquet: Spark truncates to µs on read, DuckDB
  keeps ns — second-level formatting is identical on both) or as DATE.

The same discipline is what you'd want on a real 1000-executor cluster:
decimal money math gives run-to-run reproducible results regardless of
scheduling, which double summation does not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# DECIMAL(18,2) terms: both engines widen SUM accumulators (Spark
# p+10, DuckDB to 38), so 100 TB-scale sums (~1e12 rows × 1e4 values →
# 17 integer digits) fit without overflow, and products of up to three
# factors stay under precision 38 in both engines (exact arithmetic).
MONEY = "decimal(18,2)"
# (1 - l_discount)-style factors: small, 2-decimal.
RATE = "decimal(8,2)"


def dec(c: Column | str, typ: str = MONEY) -> Column:
    """Exact fixed-point view of a 2-decimal double column."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(typ)


def dsum(c: Column | str, alias: str) -> Column:
    """Order-independent exact sum of a 2-decimal double column."""
    return F.sum(dec(c)).cast("double").alias(alias)


def davg(c: Column | str, alias: str, ndigits: int = 4) -> Column:
    """avg as exact-sum / count, rounded — matches the oracle's
    ROUND(CAST(SUM(dec)/COUNT AS DOUBLE), n)."""
    s = F.sum(dec(c)).cast("double")
    return F.round(s / F.count(c if not isinstance(c, str) else F.col(c)), ndigits).alias(alias)


def r4(c: Column, alias: str, ndigits: int = 4) -> Column:
    """Round a naturally-inexact double expression for hash stability."""
    return F.round(c.cast("double"), ndigits).alias(alias)


def ts_str(c: Column | str, alias: str) -> Column:
    """Timestamp → 'yyyy-MM-dd HH:mm:ss' string (second-truncated, both
    engines agree regardless of parquet ns/µs/ms physical precision)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(alias)


def disc_price(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """Exact decimal l_extendedprice * (1 - l_discount)."""
    return dec(price) * (F.lit(1).cast(RATE) - dec(disc, RATE))


def charge(
    price: str = "l_extendedprice", disc: str = "l_discount", tax: str = "l_tax"
) -> Column:
    """Exact decimal price * (1 - disc) * (1 + tax)."""
    return disc_price(price, disc) * (F.lit(1).cast(RATE) + dec(tax, RATE))


# DuckDB-side spellings of the same conventions, for oracle strings.
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))"
)
SQL_CHARGE = SQL_DISC_PRICE + " * (CAST(1 AS DECIMAL(8,2)) + CAST(l_tax AS DECIMAL(8,2)))"


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str, ndigits: int = 4) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"
        f" / COUNT({expr}), {ndigits}) AS {alias}"
    )

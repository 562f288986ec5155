"""The engine's one money rule, as Spark column builders with DuckDB twins.

A money value is cast to ``DECIMAL(18,6)`` before it is summed, so the sum
is exact and independent of row order and partitioning; it is then rounded
to 2 places (or scaled to integer cents), and only after that does any
double arithmetic run. Both engines then hold the same digits, so every
money aggregate stays bit-identical to its DuckDB oracle.

- ``money(c)`` ≡ ``money_sql(x)``: the value as ``DECIMAL(18,6)``.
- ``money_sum(c)`` ≡ ``money_sum_sql(x)``: the exact sum, rounded to 2
  places (half away from zero in both engines).
- ``cents(c)`` ≡ ``cents_sql(x)``: the value rounded to 2 places, times
  100, as a 64-bit integer.

Callers add their own trailing cast (``double``, ``* 100``, a wider
``decimal(38,0)`` accumulator) after these; the rule itself has no option.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money(c: Column) -> Column:
    """``c`` as ``DECIMAL(18,6)``, the exact money type."""
    return c.cast("decimal(18,6)")


def money_sql(x: str) -> str:
    """DuckDB twin of :func:`money` over the SQL expression ``x``."""
    return f"CAST({x} AS DECIMAL(18,6))"


def money_sum(c: Column) -> Column:
    """Exact money sum of ``c``, rounded to 2 places (NULL over no values)."""
    return F.round(F.sum(money(c)), 2)


def money_sum_sql(x: str) -> str:
    """DuckDB twin of :func:`money_sum`."""
    return f"round(sum({money_sql(x)}), 2)"


def cents(c: Column) -> Column:
    """``c`` rounded to 2 places as integer cents (``long``)."""
    return (F.round(money(c), 2) * 100).cast("long")


def cents_sql(x: str) -> str:
    """DuckDB twin of :func:`cents`."""
    return f"CAST(round({money_sql(x)}, 2) * 100 AS BIGINT)"

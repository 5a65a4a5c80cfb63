"""Cross-engine-exact aggregation helpers.

Problem: ``sum(double)`` is summation-order dependent, so Spark and an
oracle engine disagree in the last ulp — and when a rounded average lands
exactly on a ``.xxxx5`` boundary the two engines round different directions.
This is SURVEY.md §7.3.2 (Spark↔DuckDB agreement) made concrete.

Fix: the driver's money-like columns carry exactly 2 decimal digits, so we
aggregate them as DECIMAL (exact, order-independent), cast the exact result
to double, and derive averages by double division.  Both engines then see
bit-identical doubles, and identical bits round identically (both Spark and
DuckDB round doubles half-away-from-zero).

At scale this costs nothing extra: decimal sums are still map-side partial
aggregates; only the fixed-point representation differs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2-decimal money columns fit DECIMAL(18,2) up to 10^16.
MONEY = "decimal(18,2)"


def dec(c: str | Column, typ: str = MONEY) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(typ)


def exact_sum(c: str | Column, typ: str = MONEY) -> Column:
    """Order-independent sum of a fixed-point column, returned as double."""
    return F.sum(dec(c, typ)).cast("double")


def exact_avg(c: str | Column, typ: str = MONEY) -> Column:
    """Average derived as exact-sum / count — bit-identical across engines."""
    return F.sum(dec(c, typ)).cast("double") / F.count(dec(c, typ))

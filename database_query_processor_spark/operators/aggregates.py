"""Aggregation operators — the capability the reference parses but
aborts on ("Aggregation is not implemented.",
reference: src/qp/operators/Project.java:66-70; grammar accepts
MAX/MIN/SUM/COUNT/AVG at src/qp/parser/parser.cup:225-249).

Implemented for real on Spark: `df.groupBy(...).agg(...)` lowers to a
partial (map-side) HashAggregate + shuffle on the group keys + final
HashAggregate — the partial/final split the reference never had, and
the property that makes group-by scale: the shuffle carries one row
per (partition × group), not the input.

Determinism contract for the DuckDB oracle: money columns are summed
as DECIMAL(12,2) (exact, order-independent) and cast to DOUBLE at the
end; averages are computed as exact-decimal-sum / count in double.
Floating-point sums over shuffled data would otherwise differ run-to-
run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: str | Column, precision: int = 12, scale: int = 2) -> Column:
    """Exact-decimal view of a 2-dp money/quantity column.

    DOMAIN CONTRACT: the value must fit decimal(12,2) (|x| < 10^10 —
    the TPC-H money/quantity domain with headroom). Under Spark's
    default non-ANSI mode an overflowing cast yields NULL and SUM
    silently skips it (DuckDB's oracle cast ERRORS instead, so a
    violation shows up as a cross-engine mismatch, not silence).
    Pass a wider precision for columns that can exceed it."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def sum_money(col: str | Column, alias: str) -> Column:
    """Order-independent SUM of a 2-dp column, surfaced as DOUBLE."""
    return F.sum(dec(col)).cast("double").alias(alias)


def avg_money(col: str | Column, alias: str) -> Column:
    """Deterministic AVG: exact decimal sum cast double, / count."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)

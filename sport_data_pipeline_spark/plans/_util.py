"""Cross-engine determinism helpers.

Floating-point aggregation order differs between Spark partial aggregates
and DuckDB (and between Spark runs!), so any SUM/AVG over doubles that feeds
a hash-compared result goes through exact decimal arithmetic and is cast
back to double only at the end. Integer counts are cast to BIGINT on the
oracle side because DuckDB widens SUM(int) to HUGEINT.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: decimal type wide enough for sf0.1 money sums, scale matching 2-dec data.
DEC = "decimal(18,2)"


def dsum(col: Column | str) -> Column:
    """Order-insensitive exact sum of a 2-decimal money/value column.

    Sums in decimal (exact, associative) then casts to double → identical
    bits regardless of partial-aggregation order, in Spark and in DuckDB.
    Oracle-side mirror: ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def safe_div(num: Column, den: Column) -> Column:
    """CASE-guarded division (reference: engine.py:344 safe goals/matches)."""
    return F.when(den != 0, num / den).otherwise(F.lit(0.0))


#: Re-export: scale-adaptive parallelism spread (see partitioning.spread —
#: the corpus queries historically opened with an unconditional
#: ``repartition(defaultParallelism, "doc_id")`` for the one-split test
#: files; at 100 TB that line shuffles every text byte for nothing).
from ..partitioning import spread  # noqa: E402,F401

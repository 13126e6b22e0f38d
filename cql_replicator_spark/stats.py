"""Row-size model.

Reimplements the reference's sizing arithmetic (SURVEY §2.5):
  * addTotalColumns (K:1684-1717): row_{min,avg,max}_total = sum of the
    per-column min/avg/max stats, null-coalesced to 0. The per-column
    stats row (getColumnStats K:1719-1748) is the ``column_stats_orders``
    lane's shape; ``row_size_totals`` builds one and totals it here.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def add_total_columns(stats: DataFrame) -> DataFrame:
    """row_{min,avg,max}_total columns (addTotalColumns K:1684-1717)."""
    out = stats
    for suffix in ("min", "avg", "max"):
        cols = [c for c in stats.columns if c.endswith(f"_{suffix}")]
        total = reduce(
            lambda a, b: a + b,
            [F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in cols],
        )
        out = out.withColumn(f"row_{suffix}_total", total)
    return out


"""Row-size model.

Reimplements the reference's sizing arithmetic (SURVEY §2.5):
  * addTotalColumns (K:1684-1717): row_{min,avg,max}_total = sum of the
    per-column min/avg/max stats, null-coalesced to 0. The per-column
    stats row (getColumnStats K:1719-1748) is the ``column_stats_orders``
    lane's shape; ``row_size_totals`` builds one and totals it here.
  * estimateAndCoalesce (P:698-732): a partition count from the average
    row size and the row count.
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


def estimate_partitions_for_write(
    row_avg_bytes: float, row_count: int, target_mb: int = 32
) -> int:
    """Size-estimating coalesce (estimateAndCoalesce P:698-732): given the
    sampled average row size, pick a partition count so each output file
    lands near target_mb."""
    total_mb = max(row_avg_bytes, 1.0) * max(row_count, 0) / (1024 * 1024)
    return max(1, round(total_mb / target_mb))

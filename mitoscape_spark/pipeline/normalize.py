"""MapQ z-normalization (reference ``NormalizeMapQ``,
``MTClassifierModel.scala:119-144``).

Pooled mean/stddev over the union of MT and NT MapQ columns, then
z-score both. The reference pulls the one-row stats to the driver with
``.first()``; we broadcast-cross-join the 1-row aggregate instead — no
driver round-trip, and the fact table streams through a map stage.

Empty input reproduces the reference's guard
(``MTClassifierModel.scala:121-124``) with no extra action: the stats
row of an empty input is null, so both columns come out as empty
doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_mapq(
    joined: DataFrame,
    mt_col: str = "MTMapQ",
    nt_col: str = "NTMapQ",
) -> DataFrame:
    """Replace mt_col/nt_col with pooled z-scores (both as double)."""
    pooled = joined.select(F.col(mt_col).alias("MapQ")).unionAll(
        joined.select(F.col(nt_col).alias("MapQ"))
    )
    stats = pooled.agg(
        F.avg("MapQ").alias("_mean"), F.stddev_samp("MapQ").alias("_sd")
    )
    return (
        joined.crossJoin(F.broadcast(stats))
        .withColumns(
            {
                mt_col: (F.col(mt_col) - F.col("_mean")) / F.col("_sd"),
                nt_col: (F.col(nt_col) - F.col("_mean")) / F.col("_sd"),
            }
        )
        .drop("_mean", "_sd")
    )

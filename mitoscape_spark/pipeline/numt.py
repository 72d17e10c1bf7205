"""NUMT overlap scoring (reference ``BamReader.scala:83-88`` +
``MTClassifierModel.scala:157-172``).

The reference parses NUMT intervals but never compares positions — it
sums every NUMT score on the alignment's chromosome (SURVEY.md §8 Q6).
Default here is the **intended** interval-overlap semantics as a
broadcast range join; ``compat_chrom_sum=True`` reproduces the
as-written per-chromosome sum.

Scale: the NUMT dimension is tiny (tens of rows) → broadcast, the
range predicate is a join residual, the alignment side never shuffles.
``numt_hits`` emits one row per (alignment, scored NUMT), so a per-read
aggregate (pipeline.features.nt_features) sums the hits in the same
``groupBy`` as the alignment rows, with no join back. For big-big
interval joins use operators.intervals (binned rewrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_READ_LENGTH = 100


def numt_hits(
    aln: DataFrame,
    numts: DataFrame,
    compat_chrom_sum: bool = False,
    read_length: int = DEFAULT_READ_LENGTH,
) -> DataFrame:
    """One row per (alignment, NUMT it scores against): ``aln``'s
    columns plus that NUMT's ``numt_score``; alignments with no NUMT
    have no row.

    ``aln`` needs columns chrom/start; overlap uses
    [start, start+read_length) vs the NUMT's [start, end].
    ``compat_chrom_sum`` matches every NUMT on the alignment's
    chromosome, whatever its position.
    """
    n = numts.select(
        F.col("chrom").alias("_n_chrom"),
        F.col("start").alias("_n_start"),
        F.col("end").alias("_n_end"),
        F.col("score").alias("_n_score"),
    )
    on = aln["chrom"] == n["_n_chrom"]
    if not compat_chrom_sum:
        on = (
            on
            & (F.col("start") <= F.col("_n_end"))
            & (F.col("start") + F.lit(read_length) >= F.col("_n_start"))
        )
    return aln.join(F.broadcast(n), on, "inner").select(
        *aln.columns, F.col("_n_score").cast("double").alias("numt_score")
    )

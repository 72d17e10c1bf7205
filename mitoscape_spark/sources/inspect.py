"""Parquet layout introspection: distributed footer/row-group stats.

The auditing half of the layout story (partitioning, z-order,
compaction): whether a layout actually skips data is decided by the
min/max statistics written into parquet footers — this operator reads
JUST the footers (no row groups decoded) across the whole table, one
task per file, and returns them as a DataFrame you can aggregate:
"what fraction of row groups would a predicate on col X prune" becomes
a query, not a guess, for any table and column.

Scale: footer reads are O(KB) per file regardless of file size; the
file list is distributed via mapInPandas, so a million-file table
audits in parallel with bounded memory per task.
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ROWGROUP_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("row_group", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("total_bytes", T.LongType(), False),
        T.StructField("col_name", T.StringType(), False),
        T.StructField("min_val", T.StringType(), True),
        T.StructField("max_val", T.StringType(), True),
        T.StructField("null_count", T.LongType(), True),
    ]
)


def rowgroup_stats(
    spark: SparkSession, path: str, cols: list[str] | None = None
) -> DataFrame:
    """One row per (file, row group, column) with footer min/max stats
    (stringified — cross-type uniform schema; numeric comparisons cast
    back). ``cols=None`` reports every leaf column."""
    files = sorted(
        _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    files_df = spark.createDataFrame(
        [(f,) for f in files], "file: string"
    ).repartition(max(len(files), 1))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for f in pdf["file"]:
                meta = pq.ParquetFile(f).metadata
                for rg in range(meta.num_row_groups):
                    g = meta.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        name = c.path_in_schema
                        if cols is not None and name not in cols:
                            continue
                        st = c.statistics
                        rows.append(
                            {
                                "file": os.path.basename(f),
                                "row_group": rg,
                                "n_rows": g.num_rows,
                                "total_bytes": g.total_byte_size,
                                "col_name": name,
                                "min_val": None
                                if st is None or not st.has_min_max
                                else str(st.min),
                                "max_val": None
                                if st is None or not st.has_min_max
                                else str(st.max),
                                "null_count": None
                                if st is None
                                else st.null_count,
                            }
                        )
            if rows:
                yield pd.DataFrame(rows)

    return files_df.mapInPandas(scan, ROWGROUP_SCHEMA)


def pruning_fraction(
    spark: SparkSession,
    path: str,
    col: str,
    lo: float,
    hi: float,
) -> float:
    """Fraction of row groups a numeric range predicate on ``col``
    could SKIP by footer stats alone — the layout-quality score
    (z-ordered/sorted layouts approach (span-hi+lo)/span; random
    layouts approach 0). Computed distributed; only the tiny per-group
    verdict aggregates to the driver."""
    from pyspark.sql import functions as F

    stats = rowgroup_stats(spark, path, cols=[col])
    verdicts = stats.select(
        (
            (F.col("min_val").cast("double") > hi)
            | (F.col("max_val").cast("double") < lo)
        ).alias("skippable")
    )
    row = verdicts.agg(
        F.avg(F.col("skippable").cast("double")).alias("frac")
    ).head()
    return float(row["frac"] or 0.0)


class v2_aggregate_pushdown:
    """Context manager enabling parquet AGGREGATE pushdown: inside the
    block, bare MIN/MAX/COUNT queries over parquet read FOOTERS, not
    data (`PushedAggregation` in the plan) — the O(files) fast path
    for table-stat queries at 100 TB.

    Spark gates this behind the v2 parquet source, so the block swaps
    `spark.sql.sources.useV1SourceList` too and restores both confs on
    exit. Session-global conf: use from one thread at a time (a
    concurrent query in the same session would also plan through v2
    while the block is active — semantically identical, differently
    planned).
    """

    _V1_KEY = "spark.sql.sources.useV1SourceList"
    _AGG_KEY = "spark.sql.parquet.aggregatePushdown"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self._old_v1 = self.spark.conf.get(self._V1_KEY)
        self._old_agg = self.spark.conf.get(self._AGG_KEY, "false")
        v1 = [
            s
            for s in self._old_v1.split(",")
            if s.strip() and s.strip() != "parquet"
        ]
        self.spark.conf.set(self._V1_KEY, ",".join(v1))
        self.spark.conf.set(self._AGG_KEY, "true")
        return self.spark

    def __exit__(self, *exc):
        self.spark.conf.set(self._V1_KEY, self._old_v1)
        self.spark.conf.set(self._AGG_KEY, self._old_agg)
        return False

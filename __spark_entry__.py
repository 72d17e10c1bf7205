"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check on sf0.001.
``queries()``   — every implemented operator (SURVEY.md §2) as
                  callable(spark, sf_dir) -> DataFrame, in plain
                  declaration order.
``oracle_sql()``— matching DuckDB SQL per query name; names omitted
                  here get a rows-only check (non-SQL-expressible ops).

Both read ``mitoscape_spark.queries``, where each query file declares a
query and its oracle together (see that package's docstring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's session conventions to a driver-owned session.

    The driver may hand us a bare SparkSession; replicate the configs
    that affect semantics (UTC timestamps, nanos-as-long parquet reads,
    Arrow) — see mitoscape_spark.session for rationale.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # bare sessions default to 200 shuffle partitions — far too many for
    # the sf0.001/sf0.01 correctness corpora; AQE coalesces either way,
    # but a right-sized initial count avoids the empty-task overhead
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # static conf on some builds; catalog handles fallback
        pass
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by nation.

    Scan (pruned) → filter (pushed down) → broadcast dim join →
    partial+final hash agg → order. The shape of the reference's hot
    path (filter → dim join → per-key agg; SURVEY.md §3.1) on the
    synthetic corpus.
    """
    from mitoscape_spark.catalog import load_table

    _configure(spark)
    sf_dir = "/root/testdata/sf0.001"
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.where(F.col("o_totalprice") > 50000)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


def _wrap(fn) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_configure(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query, in declaration order: Q01–Q15, then the
    extensions, then the domain (MitoScape) queries."""
    from mitoscape_spark.queries import QUERIES

    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from mitoscape_spark.queries import ORACLE

    return dict(ORACLE)

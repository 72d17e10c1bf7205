"""Declared relational queries Q01–Q15 (SURVEY.md §2.9).

Each query exercises one row of the reference's operator inventory
(SURVEY.md §2) re-expressed as an idiomatic Catalyst plan; the paired
DuckDB SQL is the correctness oracle the driver hash-compares against.

Cross-engine determinism rules applied uniformly:
  * every float that passes through an aggregate is ROUNDed (summation
    order differs between engines);
  * double→int conversions go through ROUND first — DuckDB's CAST
    rounds-to-nearest while Spark's truncates toward zero;
  * DuckDB's SUM(BIGINT) widens to HUGEINT, so oracle aggregates are
    cast back to BIGINT to match Spark's long;
  * collect_list results are sorted and canonicalized to a joined
    string (array hashing is representation-sensitive across engines);
  * all queries end in a deterministic ORDER BY.

Scale notes are inline per query: which side broadcasts, where the
shuffle lands, and why the plan survives a 1000-executor deployment.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mitoscape_spark.catalog import load_table

ORACLE: dict[str, str] = {}


# When True (default — the declared-query harness collects every row
# at the driver), _present uses a single-partition presentation sort.
# Pipelines that embed these query functions as stages feeding
# DISTRIBUTED sinks must flip this off to get a scalable range sort.
PRESENTATION_SORT = True


def set_presentation_sort(enabled: bool) -> None:
    """Gate for _present: True = driver-presentation plan (single-
    partition sort, no sampling job), False = distributed orderBy
    (range-partitioned global sort) for pipeline/sink consumers."""
    global PRESENTATION_SORT
    PRESENTATION_SORT = enabled


def _present(df: DataFrame, *cols) -> DataFrame:
    """Deterministic final ordering, consumer-aware (see the flag).

    ``orderBy`` runs a range-partitioned global sort: one extra sampling
    job + a range exchange — the right plan for writing a large sorted
    dataset across executors. These declared queries instead END at the
    driver (the harness collects every row), so the scalable part is
    everything upstream; the final ordering is presentation. A single-
    partition exchange + in-partition sort skips the sampling job
    (measured ~0.2–0.3 s/query fixed cost at any SF — PERF.md) while
    keeping the upstream aggregation/join fully parallel.
    """
    if PRESENTATION_SORT:
        return df.repartition(1).sortWithinPartitions(*cols)
    return df.orderBy(*cols)


# --------------------------------------------------------------------------
# Q01 — scan + project + alias (inventory S4/P6).
# Plan: parquet scan with ReadSchema pruned to 2 columns; no shuffle but
# the final sort. At 100 TB this is a pure map job.
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    return (
        region.select(
            F.col("r_regionkey").alias("id"),
            F.col("r_name").alias("name"),
        )
        .transform(_present, "id")
    )


ORACLE["q01"] = """
        SELECT r_regionkey AS id, r_name AS name FROM region ORDER BY id
    """


# Q02 — conjunctive filter (P1/P3). All three predicates push down to the
# parquet scan (PushedFilters); row-group statistics prune at scale.
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # one-parse predicate (see q10): the three-comparison Column build
    # was ~10 py4j round-trips; the parsed conjunction is the same
    # expression tree (the 0.05 decimal literal widens to double
    # against the double column at analysis) and pushes down identically
    return (
        li.where(
            F.expr(
                "l_quantity > 30 AND l_discount >= 0.05 "
                "AND l_returnflag = 'R'"
            )
        )
        .select("l_orderkey", "l_linenumber")
        .transform(_present, "l_orderkey", "l_linenumber")
    )


ORACLE["q02"] = """
        SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE l_quantity > 30 AND l_discount >= 0.05 AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber
    """


# Q03 — inner equi-join (J1, the reference's MT⋈NT feature join,
# MTClassifierModel.scala:83). Filter on orders pushes below the join;
# both sides are fact-sized so Catalyst picks sort-merge/shuffled-hash,
# and AQE converts to broadcast when the filtered side shrinks enough.
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.where(F.col("o_totalprice") > 100000)
        .join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .select("o_orderkey", "c_name")
        .transform(_present, "o_orderkey")
    )


ORACLE["q03"] = """
        SELECT o.o_orderkey, c.c_name
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > 100000
        ORDER BY o.o_orderkey
    """


# Q04 — left-semi join (J2/J3, the reference's read-name writeback filter,
# MTClassify.scala:189-190). Semi-join only materializes the left side;
# the right side is reduced to its join key before the shuffle.
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    finished = orders.where(F.col("o_orderstatus") == "F")
    return (
        customer.join(
            finished, customer.c_custkey == finished.o_custkey, "left_semi"
        )
        .select("c_custkey", "c_name")
        .transform(_present, "c_custkey")
    )


ORACLE["q04"] = """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        )
        ORDER BY c_custkey
    """


# Q05 — groupBy + sums (A1, the per-read hash agg, BamReader.scala:69-76).
# Catalyst plans partial (map-side) + final hash aggregation, so the
# shuffle carries one row per (partition, key), not per input row.
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sq"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sp"),
            F.count(F.lit(1)).alias("n"),
        )
        .transform(_present, "l_orderkey")
    )


ORACLE["q05"] = """
        SELECT l_orderkey,
               ROUND(SUM(l_quantity), 2) AS sq,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sp,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
    """


# Q06 — groupBy + collect_list (A2, BamReader.scala:138-146). collect_list
# is order-nondeterministic under parallelism, so the list is sorted and
# canonicalized to a string for comparison (semantics downstream of A2 are
# order-insensitive — pairwise combinations + sum).
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("l_linenumber")), ","
            ).alias("lines")
        )
        .transform(_present, "l_orderkey")
    )


ORACLE["q06"] = """
        SELECT l_orderkey,
               array_to_string(list_sort(list(l_linenumber)), ',') AS lines
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
    """


# Q07 — union + global avg/stddev_samp (U1/A4: the pooled MapQ stats,
# MTClassifierModel.scala:128-136). Spark union == UNION ALL (bag).
# Single-row global agg: partial agg per partition, one-row final.
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    pooled = customer.select(F.col("c_acctbal").alias("v")).unionAll(
        supplier.select(F.col("s_acctbal").alias("v"))
    )
    return pooled.agg(
        F.round(F.avg("v"), 4).alias("m"),
        F.round(F.stddev_samp("v"), 4).alias("sd"),
    )


ORACLE["q07"] = """
        SELECT ROUND(AVG(v), 4) AS m, ROUND(STDDEV_SAMP(v), 4) AS sd
        FROM (
            SELECT c_acctbal AS v FROM customer
            UNION ALL
            SELECT s_acctbal FROM supplier
        )
    """


# Q08 — z-score normalization (P9/A4, NormalizeMapQ,
# MTClassifierModel.scala:119-144). The 1-row stats aggregate is
# broadcast-cross-joined back onto the fact table — the distributed
# equivalent of the reference's driver-side .first() round-trip, with no
# driver collect on the fact table.
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    stats = customer.agg(
        F.avg("c_acctbal").alias("_m"), F.stddev_samp("c_acctbal").alias("_sd")
    )
    return (
        customer.crossJoin(F.broadcast(stats))
        .select(
            "c_custkey",
            F.round((F.col("c_acctbal") - F.col("_m")) / F.col("_sd"), 4).alias("z"),
        )
        .transform(_present, "c_custkey")
    )


ORACLE["q08"] = """
        SELECT c_custkey,
               ROUND((c_acctbal - (SELECT AVG(c_acctbal) FROM customer))
                     / (SELECT STDDEV_SAMP(c_acctbal) FROM customer), 4) AS z
        FROM customer ORDER BY c_custkey
    """


# Q09 — broadcast dimension join + group-sum (J5/J6 pattern: the LD/NUMT
# dimension lookups, LD.scala:59-67). nation is tiny → explicit
# F.broadcast, the Catalyst equivalent of the reference's hand-rolled
# collect()+sc.broadcast map probe (MTClassify.scala:147-148).
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
            "inner",
        )
        .groupBy("n_name")
        .agg(F.round(F.sum("c_acctbal"), 2).alias("bal"))
        .transform(_present, "n_name")
    )


ORACLE["q09"] = """
        SELECT n.n_name, ROUND(SUM(c.c_acctbal), 2) AS bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n.n_name
    """


# Q10 — pairwise combinations within group (A3, the per-read LD pair
# reduction, BamReader.scala:147-153). Declared semantics: self-join on
# the group key with a.l_linenumber < b.l_linenumber, COUNT(*) pairs and
# SUM(qa*qb). Executed WITHOUT the self-join via the sum-of-products
# identity, generalized to duplicate line numbers (which this corpus
# has):
#     pairs = (n² − Σ_ln c_ln²) / 2        s = (S² − Σ_ln S_ln²) / 2
# where c_ln/S_ln are per-(orderkey, linenumber) count/quantity-sum.
# Two cascaded hash aggregations replace the join's 2-sided shuffle +
# O(n²) row amplification — at 100 TB the join shuffles the fact table
# twice and explodes hot keys, while this form shuffles once. The
# explicit repartition on l_orderkey lets Catalyst satisfy BOTH
# aggregations' distribution requirements (hash partitioning on a
# subset of the grouping keys co-locates (l_orderkey, l_linenumber)
# groups too), so the cascade plans a single Exchange — measured ~25%
# faster than the two-shuffle form at sf0.1. Exactness: quantities are
# integral (≤50) so every product/sum stays in double's exact-integer
# range; hash-verified against the join-form oracle.
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mitoscape_spark.catalog import layout_override

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    if layout_override(spark, sf_dir, "lineitem") is None:
        # unbucketed source: pin ONE hash exchange on l_orderkey that
        # satisfies both aggregations' distribution requirements
        li = li.repartition("l_orderkey")
    # bucketed source: the scan itself is hash-partitioned on
    # l_orderkey, so the whole cascade plans ZERO exchanges
    # expressions as one-parse SQL strings: the builder-API form spent
    # ~0.15 s per call in py4j round-trips constructing this query's
    # ~30 column objects — 40% of the whole query serial — while
    # F.expr/selectExpr parse each string in ONE round-trip to the
    # identical expression tree (SQL `/` on longs is double division,
    # CAST truncates, ROUND is HALF_UP — same operators as the Column
    # forms they replace; hash-verified at sf0.001/0.01/0.1)
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.expr("COUNT(1) AS c"),
        F.expr("SUM(l_quantity) AS sq"),
    )
    return (
        per_line.groupBy("l_orderkey")
        .agg(
            F.expr("SUM(c) AS n"),
            F.expr("SUM(c*c) AS c2"),
            F.expr("SUM(sq) AS s1"),
            F.expr("SUM(sq*sq) AS s2"),
        )
        .where(F.expr("n*n - c2 > 0"))
        .selectExpr(
            "l_orderkey",
            "CAST((n*n - c2)/2 AS LONG) AS pairs",
            "CAST(ROUND((s1*s1 - s2)/2) AS LONG) AS s",
        )
        .transform(_present, "l_orderkey")
    )


ORACLE["q10"] = """
        SELECT a.l_orderkey,
               COUNT(*) AS pairs,
               CAST(SUM(CAST(ROUND(a.l_quantity * b.l_quantity) AS BIGINT)) AS BIGINT) AS s
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
        GROUP BY a.l_orderkey ORDER BY a.l_orderkey
    """


# Q11 — literal / null / cast projection (P7/P8/F3,
# MTClassifierModel.scala:86,122-124). Pure map job.
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.lit(0.5).cast("double").alias("label"),
            F.lit(None).cast("double").alias("missing"),
            F.round(F.col("p_retailprice") * 100000).cast("long").alias("scaled"),
        )
        .transform(_present, "p_partkey")
    )


ORACLE["q11"] = """
        SELECT p_partkey,
               CAST(0.5 AS DOUBLE) AS label,
               CAST(NULL AS DOUBLE) AS missing,
               CAST(ROUND(p_retailprice * 100000) AS BIGINT) AS scaled
        FROM part ORDER BY p_partkey
    """


# Q12 — greatest-of (A5 analog: row-wise max over the probability vector,
# MTClassifierModel.scala:95-109 — there via vector_to_array + array_max).
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.greatest(F.col("o_totalprice"), F.lit(150000.0)).alias("mx"),
        )
        .transform(_present, "o_orderkey")
    )


ORACLE["q12"] = """
        SELECT o_orderkey, GREATEST(o_totalprice, 150000.0) AS mx
        FROM orders ORDER BY o_orderkey
    """


# Q13 — interval/range join (J6 intended semantics: alignment-vs-NUMT
# positional overlap, SURVEY.md §8 Q6). The corpus's events and orders
# date ranges are disjoint, so the range join is anchored as an events
# self-join: per event, same-user events in the next hour. Executed
# through the engine's bucketed interval join (operators.intervals):
# equi-join on (user_id, hour-bucket) + range residual — 1.7× faster
# than the residual-only join at sf0.1 (PERF.md) because the bucket key
# compares only neighboring-bucket events instead of all per-user pairs,
# and at 100 TB it's what keeps dense keys from exploding.
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mitoscape_spark.operators.intervals import point_interval_join

    events = load_table(spark, sf_dir, "events")
    # MICROSECOND-precision epochs (round-12 correctness fix): every
    # event in this corpus carries sub-second precision, and the
    # oracle's `e2.ts > e1.ts AND e2.ts <= e1.ts + 1 HOUR` compares
    # full timestamps — the old unix_timestamp (SECONDS) truncation
    # dropped a same-user pair whose two events share a truncated
    # second (first materialized at sf0.1: spark 8806 vs oracle 8807
    # rows). unix_micros is the exact epoch the µs-backed timestamp
    # stores, so the join now matches the oracle at every density.
    # Projections stay one-parse selectExpr (py4j round-trip economy,
    # see q10).
    # (timestampdiff, not unix_micros: ts is TIMESTAMP_NTZ and the
    # wall-clock difference is timezone-free — unix_micros would force
    # a session-timezone-dependent NTZ→TZ cast)
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01', ts)"
    intervals = events.selectExpr(
        "event_id",
        "user_id",
        f"{us} AS w_start",
        f"{us} + 3600000000 AS w_end",
    )
    points = events.selectExpr("user_id", f"{us} AS p_ts")
    joined = point_interval_join(
        points,
        intervals,
        point_col="p_ts",
        start_col="w_start",
        end_col="w_end",
        equi_keys=["user_id"],
        bucket_width=3600 * 1_000_000,
        closed="right",
    )
    return (
        joined.groupBy("event_id")
        .agg(F.expr("COUNT(1) AS n"))
        .transform(_present, "event_id")
    )


ORACLE["q13"] = """
        SELECT e1.event_id, COUNT(*) AS n
        FROM events e1
        JOIN events e2
          ON e1.user_id = e2.user_id
         AND CAST(e2.ts AS TIMESTAMP) > CAST(e1.ts AS TIMESTAMP)
         AND CAST(e2.ts AS TIMESTAMP)
             <= CAST(e1.ts AS TIMESTAMP) + INTERVAL 1 HOUR
        GROUP BY e1.event_id ORDER BY e1.event_id
    """


# Q14 — string split + explode (F8 analog: the MD-tag parse emits an
# array<string> that downstream ops explode). LATERAL VIEW explode is a
# generator inside whole-stage codegen — no Python.
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("x")
        )
        .where(F.length("x") > 5)
        .orderBy("doc_id", "x")
        .limit(1000)
    )


ORACLE["q14"] = """
        SELECT doc_id, x
        FROM documents, UNNEST(string_split(text, ' ')) AS t(x)
        WHERE length(x) > 5
        ORDER BY doc_id, x
        LIMIT 1000
    """


# Q15 — global sort + top-k (O1). Spark plans TakeOrderedAndProject:
# per-partition top-k then a k-row merge on the driver — no full sort of
# 100 TB ever materializes.
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey"))
        .limit(100)
    )


ORACLE["q15"] = """
        SELECT l_orderkey, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey LIMIT 100
    """


# the declared queries: every qNN function above, in definition order
QUERIES = {n: f for n, f in globals().items() if re.fullmatch(r"q\d\d", n)}

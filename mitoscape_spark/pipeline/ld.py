"""Linkage-disequilibrium scoring (reference ``LD.scala`` + the
per-read pairwise reduction ``BamReader.scala:147-153, 198-203``).

The reference collects an 88k-row table to the driver, broadcasts a
``Map[(v1,v2), Int]`` and probes it per C(n,2) variant pair inside a
``Dataset.map``. Spark-first rewrite: keep the table distributed,
normalize pairs to a canonical (least, greatest) key, and let Catalyst
run a **broadcast hash join** — identical semantics, no driver-side
collect, and the 100 TB side never moves.

Symmetric lookup (``LD.scala:59-67``: try (v1,v2), then (v2,v1), else
0) becomes: canonicalize both the dimension and the probe pairs; when
both orders exist in the file with different r, the (v1,v2)-ordered
entry wins — matching the reference's probe order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

LD_SCALE = 100_000


def ld_scores_table(
    spark: SparkSession, path: str, header: bool = False
) -> DataFrame:
    """Load a tab-separated LD file → (variant1, variant2, ld int).

    ``header=False`` fixes the reference's off-by-one: the real
    mitomap.ld has no header line, yet ``LD.scala:41-44`` reads it with
    header=true and silently eats the first pair (SURVEY.md §8 Q4).
    """
    raw = spark.read.options(sep="\t", header=str(header).lower()).csv(
        path, schema="variant1 string, variant2 string, r string"
    )
    return normalize_ld(raw.withColumn("r", F.col("r").cast("double")))


def normalize_ld(ld: DataFrame) -> DataFrame:
    """Scale r → int score, drop zeros, canonicalize the pair key.

    ``(r * 100000).toInt`` truncates toward zero (``LD.scala:26,47``) —
    double→int cast in Spark truncates identically. Zero scores are
    dropped (``LD.scala:49``). Duplicate canonical keys keep the entry
    whose original order was (least, greatest) — the reference probes
    (v1,v2) before (v2,v1).
    """
    scored = (
        ld.withColumn("ld", (F.col("r") * LD_SCALE).cast("int"))
        .where(F.col("ld") != 0)
        .select(
            F.least("variant1", "variant2").alias("v1"),
            F.greatest("variant1", "variant2").alias("v2"),
            # 0 if already canonical order (wins), 1 if swapped
            (F.col("variant1") > F.col("variant2")).cast("int").alias("_swapped"),
            "ld",
        )
    )
    w = W.partitionBy("v1", "v2").orderBy("_swapped")
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") == 1)
        .select("v1", "v2", "ld")
    )


def pairwise_ld_score(mt_features: DataFrame, ld: DataFrame) -> DataFrame:
    """Per-read LD score: sum of LD over all C(n,2) unordered variant
    pairs of the read's variant list (``BamReader.scala:198-203``).

    Plan: posexplode the variant array → self-join on (Read, pos1<pos2)
    to form combinations → broadcast-join the canonicalized LD dim →
    per-read sum. Reads with <2 variants or no scored pair get LD=0 via
    the left join back onto the feature table.
    """
    exploded = mt_features.select(
        "Read", F.posexplode("Variants").alias("pos", "v")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.Read") == F.col("b.Read"))
        & (F.col("a.pos") < F.col("b.pos")),
    ).select(
        F.col("a.Read").alias("Read"),
        F.least("a.v", "b.v").alias("v1"),
        F.greatest("a.v", "b.v").alias("v2"),
    )
    scores = (
        pairs.join(F.broadcast(ld), ["v1", "v2"], "inner")
        .groupBy("Read")
        .agg(F.sum("ld").alias("LD"))
    )
    return (
        mt_features.join(scores, "Read", "left")
        .withColumn("LD", F.coalesce(F.col("LD"), F.lit(0)).cast("long"))
        .drop("Variants")
    )

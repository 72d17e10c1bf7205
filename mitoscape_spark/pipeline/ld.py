"""Linkage-disequilibrium scoring (reference ``LD.scala`` + the
per-read pairwise reduction ``BamReader.scala:147-153, 198-203``).

The reference collects an 88k-row table to the driver, broadcasts a
``Map[(v1,v2), Int]`` and probes it per C(n,2) variant pair inside a
``Dataset.map``. Spark-first rewrite: keep the table distributed,
normalize pairs to a canonical (least, greatest) key, and let Catalyst
run a **broadcast hash join** — identical semantics, no driver-side
collect, and the 100 TB side never moves. A read's pairs are
enumerated inside its own row (higher-order functions), so scoring
adds no self-join and no shuffle to the per-read aggregate it reads.

Symmetric lookup (``LD.scala:59-67``: try (v1,v2), then (v2,v1), else
0) becomes: canonicalize both the dimension and the probe pairs; when
both orders exist in the file with different r, the (v1,v2)-ordered
entry wins — matching the reference's probe order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    (v1,v2) before (v2,v1) — with one ``min_by`` per key.
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
    return scored.groupBy("v1", "v2").agg(F.min_by("ld", "_swapped").alias("ld"))


def pairwise_ld_score(mt_features: DataFrame, ld: DataFrame) -> DataFrame:
    """Per-read LD score: sum of LD over all C(n,2) unordered variant
    pairs of the read's variant list (``BamReader.scala:198-203``).

    Plan: each row's pairs are enumerated in place with higher-order
    functions (element i with every later element, as a canonical
    (least, greatest) key) → ``explode_outer`` → broadcast left join to
    the LD dim → sum per row. Reads with <2 variants or no scored pair
    keep their row with LD=0. The re-group is on the feature columns,
    which include ``Read``: on a per-read aggregate the input is already
    hash-partitioned on ``Read``, so it runs in the same stage.
    """
    variants = F.col("Variants")
    n = F.size(variants)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(variants, i + 1, n - i),
                lambda w: F.struct(
                    F.least(F.element_at(variants, i), w).alias("v1"),
                    F.greatest(F.element_at(variants, i), w).alias("v2"),
                ),
            ),
        )
    )
    keys = [c for c in mt_features.columns if c != "Variants"]
    pair = F.explode_outer(F.when(n >= 2, pairs)).alias("p")
    return (
        mt_features.select(*keys, pair)
        .select(*keys, "p.v1", "p.v2")
        .join(F.broadcast(ld), ["v1", "v2"], "left")
        .groupBy(*keys)
        .agg(F.coalesce(F.sum("ld"), F.lit(0)).cast("long").alias("LD"))
    )

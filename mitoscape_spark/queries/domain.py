"""MitoScape-parity domain queries for the driver contract.

These exercise the domain pipeline (MD parse → per-read features → LD
pairwise scoring → NUMT interval scoring → normalize → classify) on the
deterministic seeded fixtures (pipeline.fixtures, FIXTURES.md §B). The
fixture tables are not part of the DuckDB corpus and the MD parse is a
stateful two-cursor grammar — genuinely non-SQL-expressible — so these
entries carry no oracle SQL: the driver records rows-only checks.
All are deterministic (seed=42 fixtures, seeded RF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_N_READS = 120


def _fixture_dfs(spark: SparkSession):
    from mitoscape_spark.pipeline import fixtures
    from mitoscape_spark.pipeline.ld import normalize_ld

    mt = fixtures.to_spark(spark, fixtures.mt_alignments_pdf(_N_READS))
    nt = fixtures.to_spark(spark, fixtures.nt_alignments_pdf(_N_READS))
    ld = normalize_ld(fixtures.to_spark(spark, fixtures.ld_scores_pdf(3000)))
    numts = fixtures.to_spark(spark, fixtures.numts_pdf())
    return mt, nt, ld, numts


def mito_md_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: MD-tag parse as an Arrow pandas UDF — per-read variant counts."""
    from mitoscape_spark.functions.md_parser import md_variants_udf

    mt, _, _, _ = _fixture_dfs(spark)
    return (
        mt.select(
            "read_name",
            md_variants_udf(
                F.col("md"), F.col("seq"), (F.col("start") - 1).cast("long")
            ).alias("variants"),
        )
        .groupBy("read_name")
        .agg(F.sum(F.size("variants")).alias("n_variants"))
        .orderBy("read_name")
    )


def mito_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A4/J1/J5/J6/P9: the full joined + normalized feature table."""
    from mitoscape_spark.pipeline.classify import build_feature_table

    mt, nt, ld, numts = _fixture_dfs(spark)
    df = build_feature_table(mt, nt, ld, numts)
    out = df.orderBy("Read")
    df.unpersist()
    return out


# trained-model cache: the fixture corpus and seeds are fixed, so the
# 128-tree fit is identical across invocations within one application —
# train once, score many (the driver's correctness run calls this
# repeatedly; a real deployment loads a persisted model anyway)
_MODEL_CACHE: dict[str, object] = {}


def _fixture_model(spark: SparkSession):
    from mitoscape_spark.pipeline import fixtures
    from mitoscape_spark.pipeline.ml import train_rf

    key = spark.sparkContext.applicationId
    model = _MODEL_CACHE.get(key)
    if model is None:
        training = fixtures.to_spark_canonical(
            spark, fixtures.labeled_features_pdf(1500), "Read"
        )
        model = train_rf(training)
        _MODEL_CACHE[key] = model
    return model


def mito_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end golden run: surviving read names at prob 0.5
    (P3/P4/J2/J3 + RF scoring)."""
    from mitoscape_spark.pipeline.classify import classify

    mt, nt, ld, numts = _fixture_dfs(spark)
    result = classify(mt, nt, ld, numts, model=_fixture_model(spark), prob=0.5)
    out = result.survivors.orderBy("Read")
    result.unpersist()
    return out


QUERIES = {
    "mito_md_parse": mito_md_parse,
    "mito_feature_table": mito_feature_table,
    "mito_classify": mito_classify,
}

# no ORACLE entries: fixture tables aren't in the DuckDB corpus and the
# MD parse / RF scoring aren't SQL-expressible → rows-only checks.
ORACLE: dict[str, str] = {}

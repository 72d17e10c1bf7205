"""Per-read feature extraction (reference ``BamReader.scala``, ``Feature.scala``).

Input: alignment DataFrames with the FIXTURES.md §B.1/§B.2 schema (the
parquet analog of BAM records — see sources.bam for the ingest path).
Output: the reference's feature tables, bound **by name** (the
reference binds positionally and misaligns the NT columns — SURVEY.md
§8 Q1 — we implement the intended layout and expose all six NT
features).

Plan shape: validity filter (pushed to the scan) → JVM-side tag
extraction → one Arrow pandas-UDF pass for the MD parse (MT only) →
partial+final hash aggregation per read, one per side: the NT side
sums its NUMT hits in the same aggregate as its alignment rows. The
per-read groupBy is the hot shuffle at scale; multi-mapped reads make
hot keys, which AQE's skew-join/partition splitting absorbs
(session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mitoscape_spark.functions.md_parser import md_variants_udf
from mitoscape_spark.functions.sam import attr_int

MT_FEATURES = ["Read", "MTMapQ", "MTNumAlignments", "MTEditDist", "Variants"]
NT_FEATURES = [
    "Read",
    "NTMapQ",
    "NTNumAlignments",
    "NTEditDist",
    "NTScore",
    "NUMTOverlaps",
]


def valid_alignments(aln: DataFrame) -> DataFrame:
    """Validity filter (``Feature.scala:115-119``): primary, paired,
    proper pair, mate mapped, not supplementary. All five predicates
    push down to the parquet scan."""
    return aln.where(
        F.col("primary_alignment")
        & F.col("read_paired")
        & F.col("proper_pair")
        & F.col("mate_mapped")
        & ~F.col("supplementary")
    )


def _tag_columns(aln: DataFrame) -> DataFrame:
    """SAM tag extraction (``Feature.scala:80-96, 122-124``): NM (edit
    distance, default 0), NH (alignments, default 1), XQ (score, 0)."""
    return aln.withColumns(
        {
            "nm": attr_int("attributes", "NM", 0),
            "nh": attr_int("attributes", "NH", 1),
            "xq": attr_int("attributes", "XQ", 0),
        }
    )


def mt_features(
    mt_aln: DataFrame, genome_relative: bool = True
) -> DataFrame:
    """MT per-read features (``BamReader.scala:160-203`` minus the LD
    score, which pipeline.ld adds from the aggregated variant lists).

    ``genome_relative=True`` offsets variant positions by the 0-based
    alignment start (intended semantics); ``False`` reproduces the
    reference's read-relative positions (SURVEY.md §8 Q3).
    """
    offset = (
        (F.col("start") - F.lit(1)) if genome_relative else F.lit(0)
    ).cast("long")
    per_alignment = (
        _tag_columns(valid_alignments(mt_aln))
        .select(
            F.col("read_name").alias("Read"),
            F.col("mapq").alias("MTMapQ"),
            F.col("nh").alias("MTNumAlignments"),
            F.col("nm").alias("MTEditDist"),
            md_variants_udf(F.col("md"), F.col("seq"), offset).alias(
                "variants"
            ),
        )
    )
    # sums widen int→long exactly as the reference's agg does
    # (BamReader.scala:138-146); collect_list of arrays is flattened to
    # one variant list per read — downstream pairwise scoring is
    # order-insensitive, so collection order does not matter.
    return (
        per_alignment.groupBy("Read")
        .agg(
            F.sum("MTMapQ").alias("MTMapQ"),
            F.sum("MTNumAlignments").alias("MTNumAlignments"),
            F.sum("MTEditDist").alias("MTEditDist"),
            F.flatten(F.collect_list("variants")).alias("Variants"),
        )
    )


def nt_features(
    nt_aln: DataFrame, numts: DataFrame | None = None, compat_chrom_sum: bool = False
) -> DataFrame:
    """Nuclear per-read features (``BamReader.scala:82-118``), intended
    column binding (SURVEY.md §8 Q1): NTScore = XQ mapping score,
    NUMTOverlaps = NUMT interval score (dropped entirely by the
    reference's positional-binding bug; exposed here).

    ``numts``: optional NUMT interval dimension (chrom/start/end/score).
    Its hits (pipeline.numt.numt_hits, a broadcast interval join) are
    unioned with the alignment rows, one row per (alignment, NUMT) with
    only ``numt_score`` set, so one per-read aggregate sums both and each
    alignment adds each of its NUMTs' scores once.
    """
    from mitoscape_spark.pipeline.numt import numt_hits

    valid = valid_alignments(nt_aln)
    per_alignment = _tag_columns(valid).select(
        F.col("read_name").alias("Read"),
        F.col("mapq").alias("NTMapQ"),
        F.col("nh").alias("NTNumAlignments"),
        F.col("nm").alias("NTEditDist"),
        F.col("xq").alias("NTScore"),
        F.lit(0.0).alias("numt_score"),
    )
    if numts is not None:
        hits = numt_hits(valid, numts, compat_chrom_sum).select(
            F.col("read_name").alias("Read"), "numt_score"
        )
        per_alignment = per_alignment.unionByName(hits, allowMissingColumns=True)
    # sum() skips the hit rows' null columns
    return (
        per_alignment.groupBy("Read")
        .agg(
            F.sum("NTMapQ").alias("NTMapQ"),
            F.sum("NTNumAlignments").alias("NTNumAlignments"),
            F.sum("NTEditDist").alias("NTEditDist"),
            F.sum("NTScore").alias("NTScore"),
            F.round(F.sum("numt_score"), 6).alias("NUMTOverlaps"),
        )
    )

"""Domain pipeline tests over seeded fixtures (FIXTURES.md §B).

Covers: validity filter + tag extraction + per-read aggregation
(A1/A2), LD normalization + symmetric pairwise scoring (A3/J5), NUMT
interval vs compat scoring (J6), MapQ z-normalization incl. the empty
guard (A4/P9/P10), and a golden end-to-end classify run (fixed seed in,
stable surviving-read set out).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mitoscape_spark.pipeline import fixtures
from mitoscape_spark.pipeline.classify import build_feature_table, classify
from mitoscape_spark.pipeline.features import mt_features, nt_features
from mitoscape_spark.pipeline.ld import normalize_ld, pairwise_ld_score
from mitoscape_spark.pipeline.normalize import normalize_mapq
from mitoscape_spark.pipeline.numt import numt_hits


@pytest.fixture(scope="module")
def mt_aln(spark):
    return fixtures.to_spark(spark, fixtures.mt_alignments_pdf(120)).cache()


@pytest.fixture(scope="module")
def nt_aln(spark):
    return fixtures.to_spark(spark, fixtures.nt_alignments_pdf(120)).cache()


@pytest.fixture(scope="module")
def ld(spark):
    return normalize_ld(
        fixtures.to_spark(spark, fixtures.ld_scores_pdf(3000))
    ).cache()


@pytest.fixture(scope="module")
def numts(spark):
    return fixtures.to_spark(spark, fixtures.numts_pdf())


def test_mt_features_shape(mt_aln):
    feats = mt_features(mt_aln)
    assert feats.columns == [
        "Read", "MTMapQ", "MTNumAlignments", "MTEditDist", "Variants",
    ]
    rows = feats.collect()
    assert len(rows) > 0
    # one row per read name, sums are positive
    names = [r.Read for r in rows]
    assert len(names) == len(set(names))
    assert all(r.MTMapQ >= 0 for r in rows)


def test_validity_filter_drops_invalid(mt_aln):
    feats_reads = {
        r.Read for r in mt_features(mt_aln).select("Read").collect()
    }
    invalid_only = (
        mt_aln.groupBy("read_name")
        .agg(
            F.max(
                (
                    F.col("primary_alignment")
                    & F.col("read_paired")
                    & F.col("proper_pair")
                    & F.col("mate_mapped")
                    & ~F.col("supplementary")
                ).cast("int")
            ).alias("any_valid")
        )
        .where(F.col("any_valid") == 0)
        .collect()
    )
    for r in invalid_only:
        assert r.read_name not in feats_reads


def test_ld_normalization_drops_zero_and_dedupes(spark):
    raw = spark.createDataFrame(
        [
            ("5C", "6T", -3.8e-06),  # truncates to 0 → dropped
            ("5C", "7A", 0.5),       # 50000
            ("7A", "5C", 0.25),      # swapped duplicate → canonical wins
            ("9G", "2T", 0.1),       # stored swapped; canonical (2T, 9G)
        ],
        ["variant1", "variant2", "r"],
    )
    out = {(r.v1, r.v2): r.ld for r in normalize_ld(raw).collect()}
    assert out == {("5C", "7A"): 50000, ("2T", "9G"): 10000}


def test_pairwise_ld_symmetric(spark):
    ld = normalize_ld(
        spark.createDataFrame(
            [("10A", "20C", 0.5), ("30G", "20C", 0.2)],
            ["variant1", "variant2", "r"],
        )
    )
    feats = spark.createDataFrame(
        [
            ("r1", 10, 1, 0, ["10A", "20C", "30G"]),  # pairs: (10A,20C)+(20C,30G)
            ("r2", 10, 1, 0, ["20C", "10A"]),  # swapped order, same pair
            ("r3", 10, 1, 0, ["10A"]),  # <2 variants → 0
        ],
        ["Read", "MTMapQ", "MTNumAlignments", "MTEditDist", "Variants"],
    )
    out = {r.Read: r.LD for r in pairwise_ld_score(feats, ld).collect()}
    assert out == {"r1": 70000, "r2": 50000, "r3": 0}


def _numt_scores(aln, numts, compat_chrom_sum=False):
    """Each alignment with its ``numt_hits`` scores summed (0 if none)."""
    aln = aln.withColumn("_aln", F.monotonically_increasing_id())
    sums = (
        numt_hits(aln, numts, compat_chrom_sum)
        .groupBy("_aln")
        .agg(F.sum("numt_score").alias("numt_score"))
    )
    return aln.join(sums, "_aln", "left").fillna(0.0, ["numt_score"])


def test_numt_interval_vs_compat(spark):
    aln = spark.createDataFrame(
        [("1", 1000, "r1"), ("1", 500_000, "r2"), ("2", 1000, "r3")],
        ["chrom", "start", "read_name"],
    )
    numts = spark.createDataFrame(
        [("1", 900, 1200, 0.5), ("1", 400_000, 600_000, 0.25)],
        ["chrom", "start", "end", "score"],
    )
    intended = {
        r.read_name: r.numt_score
        for r in _numt_scores(aln, numts).collect()
    }
    assert intended["r1"] == pytest.approx(0.5)
    assert intended["r2"] == pytest.approx(0.25)
    assert intended["r3"] == 0.0
    compat = {
        r.read_name: r.numt_score
        for r in _numt_scores(aln, numts, compat_chrom_sum=True).collect()
    }
    # as-written reference: whole-chromosome sum regardless of position
    assert compat["r1"] == pytest.approx(0.75)
    assert compat["r2"] == pytest.approx(0.75)
    assert compat["r3"] == 0.0


def test_numt_score_counts_each_alignment_once(spark):
    """Both mates of a fragment no longer than the read share (chrom,
    start): each alignment adds its NUMT's score once, so the read gets
    2 × 0.5, not 2² × 0.5, under both scoring modes."""
    from mitoscape_spark.sources.bam import ALIGNMENT_SCHEMA

    mate = ("r1", "1", 1000, 60, "NM:i:0 NH:i:1 XQ:i:40", "ACGT", "4",
            True, True, True, True, False)
    aln = spark.createDataFrame([mate, mate], ALIGNMENT_SCHEMA)
    numts = spark.createDataFrame(
        [("1", 900, 1200, 0.5)], ["chrom", "start", "end", "score"]
    )
    for compat in (False, True):
        (row,) = nt_features(aln, numts, compat_chrom_sum=compat).collect()
        assert row.NUMTOverlaps == pytest.approx(1.0)
        assert (row.NTMapQ, row.NTNumAlignments, row.NTScore) == (120, 2, 80)
        per_alignment = _numt_scores(aln, numts, compat_chrom_sum=compat)
        assert [r.numt_score for r in per_alignment.collect()] == [0.5, 0.5]


def test_normalize_mapq_pooled(spark):
    df = spark.createDataFrame(
        [("r1", 10.0, 30.0), ("r2", 20.0, 40.0)],
        ["Read", "MTMapQ", "NTMapQ"],
    )
    out = {r.Read: (r.MTMapQ, r.NTMapQ) for r in normalize_mapq(df).collect()}
    # pooled mean=25, sd=stddev_samp([10,20,30,40])=12.909944
    assert out["r1"][0] == pytest.approx((10 - 25) / 12.909944, rel=1e-5)
    assert out["r2"][1] == pytest.approx((40 - 25) / 12.909944, rel=1e-5)


def test_normalize_mapq_empty_guard(spark):
    df = spark.createDataFrame(
        [], "Read string, MTMapQ double, NTMapQ double"
    )
    out = normalize_mapq(df)
    assert out.count() == 0
    assert dict(out.dtypes)["MTMapQ"] == "double"


def test_feature_table_inner_join(mt_aln, nt_aln, ld, numts):
    feats = build_feature_table(mt_aln, nt_aln, ld, numts)
    mt_reads = {r.Read for r in mt_features(mt_aln).select("Read").collect()}
    nt_reads = {r.Read for r in nt_features(nt_aln).select("Read").collect()}
    got = {r.Read for r in feats.select("Read").collect()}
    assert got == mt_reads & nt_reads  # inner, not left (SURVEY.md §8 Q2)
    feats.unpersist()


def test_classify_end_to_end_golden(spark, mt_aln, nt_aln, ld, numts):
    training = fixtures.to_spark(spark, fixtures.labeled_features_pdf(1500))
    result = classify(
        mt_aln, nt_aln, ld, numts, training=training, prob=0.5
    )
    survivors = sorted(r.Read for r in result.survivors.collect())
    # deterministic: seeded fixtures + seeded RF
    again = classify(
        mt_aln, nt_aln, ld, numts, training=training, prob=0.5
    )
    assert survivors == sorted(r.Read for r in again.survivors.collect())
    # surviving alignments are a subset of the original MT alignments
    n_orig = mt_aln.count()
    n_filtered = result.alignments.count()
    assert 0 <= n_filtered <= n_orig
    # every surviving alignment's read is a survivor
    surv_set = set(survivors)
    for r in result.alignments.select("read_name").distinct().collect():
        assert r.read_name in surv_set
    result.features.unpersist()
    again.features.unpersist()

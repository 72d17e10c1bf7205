"""End-to-end classification pipeline (reference ``MTClassify.main``,
``MTClassify.scala:131-213``; stage trace in SURVEY.md §3.1).

Differences from the reference, all deliberate:
  * a pass decodes each input once and scores the RF once: ``classify``
    pins the decoded alignments, feature table and survivors — the
    reference re-parses the BAMs for every action (SURVEY.md §4.1);
  * the LD/NUMT dimensions stay distributed and broadcast-join
    (no driver collect);
  * inner join on Read matches the reference's actual (not commented)
    semantics (SURVEY.md §8 Q2);
  * the surviving MT alignments go to parquet or, through the
    pure-Python BAM sink in sources.bam, to a single-file BAM.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mitoscape_spark.pipeline.features import mt_features, nt_features
from mitoscape_spark.pipeline.ld import pairwise_ld_score
from mitoscape_spark.pipeline.ml import (
    MT_LABEL,
    max_probability,
    train_rf,
)
from mitoscape_spark.pipeline.normalize import normalize_mapq

DEFAULT_PROB = 0.5  # MTClassify.scala:115


@dataclass
class ClassifyResult:
    features: DataFrame  # joined + normalized feature table
    survivors: DataFrame  # read names classified MT at threshold
    alignments: DataFrame  # original MT alignments, filtered
    pinned: tuple[DataFrame, ...] = ()  # inputs this pass cached

    def unpersist(self) -> None:
        """Release every cache the pass holds."""
        for df in (self.features, self.survivors, *self.pinned):
            df.unpersist()


def build_feature_table(
    mt_aln: DataFrame,
    nt_aln: DataFrame,
    ld: DataFrame,
    numts: DataFrame | None = None,
    label: float = MT_LABEL,
    genome_relative: bool = True,
    compat_chrom_sum: bool = False,
) -> DataFrame:
    """``MTClassifierModel.DF`` (``MTClassifierModel.scala:71-87``):
    MT features ⋈ NT features on Read (inner), literal label, pooled
    MapQ z-normalization, cached. An empty MT side gives an empty table
    (the reference exits; ``MTClassifierModel.scala:77-80``).
    """
    mt = pairwise_ld_score(mt_features(mt_aln, genome_relative), ld)
    nt = nt_features(nt_aln, numts, compat_chrom_sum=compat_chrom_sum)
    joined = (
        mt.join(nt, "Read", "inner")
        .withColumn("label", F.lit(label))
    )
    return normalize_mapq(joined).cache()


def classify(
    mt_aln: DataFrame,
    nt_aln: DataFrame,
    ld: DataFrame,
    numts: DataFrame | None = None,
    model=None,
    training: DataFrame | None = None,
    prob: float = DEFAULT_PROB,
    genome_relative: bool = True,
) -> ClassifyResult:
    """Stages 1–3 of ``MTClassify.main``: features → model scoring →
    MaxProb/prediction filters → semi-join back onto the alignments.

    ``model``: a fitted PipelineModel; if None, ``training`` (labeled
    feature table) is required and an RF is trained on the fly.
    Uncached inputs are pinned before the feature table is planned;
    release the pins with ``ClassifyResult.unpersist``.
    """
    pinned = tuple(
        df.persist()
        for df in (mt_aln, nt_aln)
        if df.storageLevel == StorageLevel.NONE
    )
    features = build_feature_table(
        mt_aln, nt_aln, ld, numts, genome_relative=genome_relative
    )
    if model is None:
        if training is None:
            raise ValueError("provide a fitted model or a training DataFrame")
        model = train_rf(training)

    if features.isEmpty() or prob <= 0:
        # reference skips classification entirely (MTClassify.scala:161)
        survivors = features.select("Read")
    else:
        predictions = model.transform(features)
        probs = max_probability(predictions)
        survivors = (
            probs.where(F.col("MaxProb") >= prob)
            .where(F.col("Prediction") == MT_LABEL)
            .select("Read")
            .persist()
        )

    filtered = mt_aln.join(
        survivors,
        mt_aln["read_name"] == survivors["Read"],
        "left_semi",
    )
    return ClassifyResult(features, survivors, filtered, pinned)

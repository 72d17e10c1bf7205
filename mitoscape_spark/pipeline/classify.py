"""End-to-end classification pipeline (reference ``MTClassify.main``,
``MTClassify.scala:131-213``; stage trace in SURVEY.md §3.1).

Differences from the reference, all deliberate:
  * a pass decodes each input once and scores the RF once: ``classify``
    pins the decoded alignments, feature table and survivors — the
    reference re-parses the BAMs for every action (SURVEY.md §4.1) —
    and releases those pins itself if the pass fails;
  * the feature table reads each input in one per-read aggregate and
    parses MD once: LD pairs are enumerated inside each read's row and
    NUMT hits are summed in the NT aggregate (no self-join, no join
    back);
  * the model may be passed as a ``concurrent.futures.Future``: the
    reference loads the RF before it reads any input, while ``classify``
    waits for the load only once the feature table is materialised; it
    only reads the model, which ``ml.load_pipeline_model`` shares
    across the passes of a session;
  * only ``prob <= 0`` skips scoring (``MTClassify.scala:161``): an
    empty feature table is scored like any other, to no survivors;
  * the LD/NUMT dimensions stay distributed and broadcast-join
    (no driver collect);
  * inner join on Read matches the reference's actual (not commented)
    semantics (SURVEY.md §8 Q2);
  * the surviving MT alignments go to parquet or, through the
    pure-Python BAM sink in sources.bam, to a single-file BAM; from a
    BAM input the CLI writes that input's own reference dictionary,
    as the reference's ``saveAsSam`` does.
"""

from __future__ import annotations

from concurrent.futures import Future
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
    MapQ z-normalization, cached and materialised before it returns.
    The join is pinned while the table is built, so the pooled stats and
    the z-scores read one copy of it, and released once the table holds
    its own. An empty MT side gives an empty table (the reference
    exits; ``MTClassifierModel.scala:77-80``).
    """
    mt = pairwise_ld_score(mt_features(mt_aln, genome_relative), ld)
    nt = nt_features(nt_aln, numts, compat_chrom_sum=compat_chrom_sum)
    joined = (
        mt.join(nt, "Read", "inner").withColumn("label", F.lit(label)).persist()
    )
    features = normalize_mapq(joined).cache()
    try:
        features.count()
    except BaseException:
        features.unpersist()
        raise
    finally:
        joined.unpersist()
    return features


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

    ``model``: a fitted PipelineModel, or a ``Future`` of one that is
    resolved only once the feature table is materialised, so a load
    submitted before the call runs beside the decode; the model is only
    read, never mutated (a loaded one is shared per session); if None,
    ``training`` (labeled feature table) is required and an RF is
    trained on the fly. Uncached inputs are pinned before the feature
    table is planned; release the pins with ``ClassifyResult.unpersist``.
    If the pass fails, everything it pinned is released before the
    error propagates.
    """
    if model is None and training is None:
        raise ValueError("provide a fitted model or a training DataFrame")
    pinned = tuple(
        df.persist()
        for df in (mt_aln, nt_aln)
        if df.storageLevel == StorageLevel.NONE
    )
    held = list(pinned)
    try:
        features = build_feature_table(
            mt_aln, nt_aln, ld, numts, genome_relative=genome_relative
        )
        held.append(features)
        if isinstance(model, Future):
            model = model.result()
        if model is None:
            model = train_rf(training)

        if prob <= 0:
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
    except BaseException:
        for df in held:
            df.unpersist()
        raise

    filtered = mt_aln.join(
        survivors,
        mt_aln["read_name"] == survivors["Read"],
        "left_semi",
    )
    return ClassifyResult(features, survivors, filtered, pinned)

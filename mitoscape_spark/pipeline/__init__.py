"""MitoScape-parity domain pipeline.

Feature extraction from alignment tables, LD pairwise scoring, NUMT
interval scoring, MapQ normalization, RF/GBT classification, and the
end-to-end classify job (reference ``MTClassify.main``; SURVEY.md §3.1).
"""

from mitoscape_spark.pipeline.features import (
    MT_FEATURES,
    NT_FEATURES,
    mt_features,
    nt_features,
    valid_alignments,
)
from mitoscape_spark.pipeline.ld import ld_scores_table, pairwise_ld_score
from mitoscape_spark.pipeline.normalize import normalize_mapq

__all__ = [
    "MT_FEATURES",
    "NT_FEATURES",
    "mt_features",
    "nt_features",
    "valid_alignments",
    "ld_scores_table",
    "pairwise_ld_score",
    "normalize_mapq",
]

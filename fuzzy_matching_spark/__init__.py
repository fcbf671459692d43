"""PySpark-native fuzzy-matching + near-duplicate detection engine.

A from-scratch Spark reimplementation of the capabilities of
``marginalprog/fuzzy-matching`` (reference semantics preserved; SURVEY.md
maps every operator), extended with the distributed detectors the north
rule requires: MinHash/LSH, SimHash, fingerprint long-substring dedup,
connected-components clustering, plus training-data-pipeline operators
(language ID, quality scoring, token stats, token-set Jaccard joins,
embedding similarity search).
"""

from fuzzy_matching_spark.config import (
    DedupConfig,
    FuzzyAlgorithm,
    MatchConfig,
    MatchFieldConfig,
    TransliterationConfig,
)

__all__ = [
    "DedupConfig",
    "FuzzyAlgorithm",
    "MatchConfig",
    "MatchFieldConfig",
    "TransliterationConfig",
]

__version__ = "0.1.0"

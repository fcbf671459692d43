"""Configuration dataclasses — the engine's declarative "query language".

API-parity with the reference
(``/root/reference/fuzzy_matching/core/match_config_classes.py``), extended
with a :class:`DedupConfig` for the distributed MinHash/SimHash/fingerprint
pipeline that the reference does not have.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


def _check_range(name: str, value, low, high=None) -> None:
    if value < low or (high is not None and value > high):
        bounds = f"in [{low}, {high}]" if high is not None else f">= {low}"
        raise ValueError(f"{name} must be {bounds}, got {value!r}")


class FuzzyAlgorithm(Enum):
    """The five string scorers (reference ``match_config_classes.py:6-14``)."""

    RATIO = "ratio"
    PARTIAL_RATIO = "partial_ratio"
    TOKEN_SORT = "token_sort_ratio"
    TOKEN_SET = "token_set_ratio"
    WRatio = "wratio"


@dataclass
class MatchFieldConfig:
    """Per-field compare spec; field algorithm overrides the global one."""

    field: str
    weight: float
    transliterate: bool = False
    fuzzy_algorithm: FuzzyAlgorithm | None = None


@dataclass
class TransliterationConfig:
    """RU<->EN transliteration settings."""

    enabled: bool = False
    standard: str = "GOST"
    threshold: float = 0.8
    auto_detect: bool = True
    normalize_names: bool = True


@dataclass
class MatchConfig:
    """Full match-job spec (reference ``match_config_classes.py:51-74``).

    NOTE ``length_weight`` is preserved for API parity but — like the
    reference — is *not* used by the cleanliness score (the reference reads
    ``weights.get('length', 0)`` where ``weights`` maps field names, see
    ``data_matcher.py:270``; SURVEY.md §2.4 A2 says reproduce the bug).

    ``threshold`` outside [0, 1] or a negative weight raises ``ValueError``
    when the config is built.
    """

    fields: list[MatchFieldConfig]
    length_weight: float = 0.01
    threshold: float = 0.85
    block_field: str | None = None
    group_fields: list[str] = field(default_factory=list)
    sort_before_match: bool = False
    sort_field: str | None = None
    transliteration: TransliterationConfig = field(default_factory=TransliterationConfig)
    fuzzy_algorithm: FuzzyAlgorithm = FuzzyAlgorithm.RATIO

    def __post_init__(self):
        _check_range("threshold", self.threshold, 0.0, 1.0)
        for fc in self.fields:
            _check_range(f"weight of field {fc.field!r}", fc.weight, 0.0)
        _check_range("length_weight", self.length_weight, 0.0)


# The allowed values of DedupConfig's modes, checked when a config is built;
# jobs/dedup_job.py takes its argparse choices from this table.
DEDUP_MODES: dict[str, tuple[str, ...]] = {
    # shingle units: unicode codepoints or whitespace tokens
    "tokenize": ("char", "word"),
    # "auto": settle dense-signature pairs from the byte-truncated estimate
    # (3-sigma accept/drop band) and exact-verify the rest — the scale
    # default.  Sparse-signature pairs (n_shingles < num_perm) always go to
    # exact verification: OPH densification correlates their components, so
    # the estimate is unreliable in both directions.  "always": exact-verify
    # every candidate pair — the correctness/audit mode (and what the
    # SQL-checkable driver queries run, so results are oracle-reproducible).
    "verify_mode": ("auto", "always"),
    # "rolling": vectorized polynomial rolling hash over codepoint windows —
    # the O(n) scale default.  "md5": windows selected by codepoint sum
    # mod q, anchor = md5 hex digest of the window — slower but reproducible
    # in ANSI SQL, so the driver's DuckDB oracle can recompute the exact
    # anchor set; both modes implement the same 0-mod-q sampling semantics.
    "anchor_hash": ("rolling", "md5"),
}

# Inclusive (low, high) bounds of DedupConfig's numbers; None = open.  One
# SimHash slice would need a 64-bit mask, which a signed long cannot hold.
_DEDUP_RANGES: dict[str, tuple[float, float | None]] = {
    **dict.fromkeys(
        ("shingle_size", "num_perm", "bands", "rows_per_band",
         "max_bucket_size", "substring_min_len", "fingerprint_mod"),
        (1, None),
    ),
    "verify_threshold": (0.0, 1.0),
    "simhash_bands": (2, 64),
    "simhash_max_hamming": (0, 64),
}


@dataclass
class DedupConfig:
    """Distributed near-duplicate pipeline spec (net-new; BASELINE.json north rule).

    Drives corpus-level dedup over ``(repo, path, commit, lang, content)``:

    * MinHash over ``shingle_size``-gram shingles (one-permutation hashing
      into ``num_perm`` buckets), LSH with ``bands`` x ``rows_per_band``
      (``bands*rows_per_band`` must be ``num_perm``).  Defaults 25x5 put
      the S-curve threshold at ``(1/25)^(1/5) = 0.52`` with collision
      probability 0.990 at Jaccard 0.70 — the steepest curve that still
      meets the >=0.99 recall gate at the default ``verify_threshold``;
      the flatter 32x4 curve admits everything above ~0.42 and floods
      verification with candidates.  MinHash's shingle and bucket hashes
      are fixed: ``seed`` does not change them.
    * SimHash 64-bit with ``simhash_bands`` Hamming bands and
      ``simhash_max_hamming`` verification threshold; ``seed`` keys its
      token hashes (SimHash only).
    * Fingerprint (0-mod-q winnowing) long-substring detector with windows of
      ``substring_min_len`` chars.
    * ``verify_threshold`` — Jaccard cut for verified candidate pairs.
    * ``max_bucket_size`` — LSH buckets above this are dropped from pair
      expansion (hot boilerplate bands; dropped counts land in the metrics
      table, never silently).
    * ``tokenize``, ``verify_mode`` and ``anchor_hash`` take the values
      listed in :data:`DEDUP_MODES`; any other value, or a number outside
      its bounds, raises ``ValueError`` when the config is built.
    """

    shingle_size: int = 5
    num_perm: int = 125
    bands: int = 25
    rows_per_band: int = 5
    tokenize: str = "char"
    verify_threshold: float = 0.7
    verify_mode: str = "auto"
    max_bucket_size: int = 200
    simhash_bands: int = 4
    simhash_max_hamming: int = 3
    substring_min_len: int = 64
    fingerprint_mod: int = 8
    anchor_hash: str = "rolling"
    seed: int = 42

    def __post_init__(self):
        for name, allowed in DEDUP_MODES.items():
            if getattr(self, name) not in allowed:
                raise ValueError(f"{name} must be one of {allowed}, got {getattr(self, name)!r}")
        for name, (low, high) in _DEDUP_RANGES.items():
            _check_range(name, getattr(self, name), low, high)
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}x{self.rows_per_band}) "
                f"must equal num_perm ({self.num_perm})"
            )

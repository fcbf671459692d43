"""JVM-side column expressions for the engine's scalar text functions.

Everything here compiles to Catalyst expressions (whole-stage codegen, no
Python boundary): blocking keys, language detection arithmetic (F8),
the F12 name normalizer, cleanliness scoring (A2), quality scoring.  The
fuzzy scorers themselves need the vendored kernel and live in
``functions/scoring.py`` as pandas UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "block_key",
    "detect_language_col",
    "normalize_name_ru_col",
    "cleanliness_col",
    "quality_score_col",
    "token_count_col",
]


def block_key(col: Column | str) -> Column:
    """Uppercased first character — the reference's blocking key
    (``data_matcher.py:249``). NULL/empty values yield NULL (caller filters)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) > 0, F.upper(F.substring(c, 1, 1)))


def detect_language_col(col: Column | str) -> Column:
    """'ru'/'en' at >0.7 letter dominance, 'mixed' otherwise, NULL if no letters.

    Pure column arithmetic mirror of kernel.translit.detect_language (F8):
    counts = length(col) - length(regexp_replace(col, class, '')).
    """
    c = F.col(col) if isinstance(col, str) else col
    ru = F.length(c) - F.length(F.regexp_replace(c, r"[а-яА-ЯёЁ]", ""))
    en = F.length(c) - F.length(F.regexp_replace(c, r"[a-zA-Z]", ""))
    total = ru + en
    return (
        F.when(c.isNull() | (F.length(c) == 0), F.lit(None).cast("string"))
        .when(total == 0, F.lit(None).cast("string"))
        .when(ru / total > 0.7, F.lit("ru"))
        .when(en / total > 0.7, F.lit("en"))
        .otherwise(F.lit("mixed"))
    )


def normalize_name_ru_col(col: Column | str) -> Column:
    """lower + trim + collapse whitespace + ё->е (F12)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "), "ё", "е")


def cleanliness_col(match_fields: list[str], weights: dict[str, float]) -> Column:
    """special-char count + len * weights.get('length', 0)  (A2).

    Two reference quirks reproduced for byte-parity (``data_matcher.py:
    262-281``), both intentional:

    * the char class excludes ё/Ё (reference regex uses а-я which skips ё);
    * the length weight reads ``weights['length']`` — but ``weights`` is
      keyed by *field names*, so unless a match field is literally named
      "length" the term is always 0.  Callers that want a real length
      penalty opt in by passing ``weights={"length": w}`` explicitly —
      the honoring path below — which is also exactly how the reference
      would behave if a user exploited the same quirk.

    The A2 driver row (``cleanliness_scores`` in ``__spark_entry__``) checks
    the default mode: no "length" key, term = 0, pure special-char count.
    """
    combined = F.concat_ws(" ", *[F.coalesce(F.col(f).cast("string"), F.lit("")) for f in match_fields])
    special = F.length(F.regexp_replace(combined, r"[a-zA-Zа-яА-Я0-9\s]", ""))
    length_w = weights.get("length", 0)
    if length_w:
        return special + F.length(combined) * F.lit(length_w)
    return special.cast("double")


def token_count_col(col: Column | str) -> Column:
    """Whitespace token count; empty/NULL -> 0."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(
        trimmed.isNull() | (F.length(trimmed) == 0), F.lit(0)
    ).otherwise(F.size(F.split(trimmed, r"\s+")))


def quality_score_col(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Heuristic document-quality score in [0,1] for training-data filtering.

    Components (equal thirds): length band (50..10000 chars), alpha ratio,
    stopword hit ratio over a small english stopword list.  Deterministic,
    pure column arithmetic — designed to survive 100 TB scans JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    sw = stopwords or ["the", "and", "of", "to", "a", "in", "is", "for", "on", "with"]
    n = F.length(c)
    len_score = F.when((n >= 50) & (n <= 10000), 1.0).when(n < 50, n / 50.0).otherwise(10000.0 / n)
    alpha = F.length(F.regexp_replace(c, r"[^a-zA-Zа-яА-ЯёЁ]", ""))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    words = F.split(F.trim(F.lower(c)), r"\s+")
    hits = F.size(F.array_intersect(F.array_distinct(words), F.array(*[F.lit(w) for w in sw])))
    sw_score = F.least(hits / F.lit(3.0), F.lit(1.0))
    return (len_score + alpha_ratio + sw_score) / 3.0

"""Vendored fuzzy-string scorers with rapidfuzz-equivalent semantics.

The reference engine (``/root/reference/fuzzy_matching/core/data_matcher.py:626-638``)
delegates all pair scoring to the ``rapidfuzz`` C++ library, which is not
available in this environment.  This module reimplements the five public
scorers from rapidfuzz's *published* semantics (Indel / LCS based ``ratio``,
sliding-window ``partial_ratio``, token-sort / token-set variants and the
``WRatio`` cascade) in pure Python with a bit-parallel LCS kernel
(Hyyrö-style, O(n*m/64) using arbitrary-precision ints), so that both the
single-machine oracle and the Spark pandas-UDF scorers share one kernel.

All functions return a similarity in [0, 100] (rapidfuzz convention); the
engine divides by 100 at the call site, mirroring the reference.
"""

from __future__ import annotations

from functools import lru_cache

__all__ = [
    "lcs_length",
    "indel_distance",
    "ratio",
    "partial_ratio",
    "token_sort_ratio",
    "token_set_ratio",
    "wratio",
    "SCORERS",
]


def _char_masks(s: str) -> dict[str, int]:
    """Bit mask per character of ``s``: bit i set iff s[i] == c."""
    masks: dict[str, int] = {}
    bit = 1
    for ch in s:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    return masks


def lcs_length(s1: str, s2: str) -> int:
    """Length of the longest common subsequence of ``s1`` and ``s2``.

    Bit-parallel algorithm (Crochemore/Iliopoulos/Pinzon/Reid; also Hyyrö
    2004): keep a vector V (initially all ones over ``len(s1)`` bits); for
    each character c of ``s2``::

        u = V & PM[c]
        V = (V + u) | (V - u)

    LCS = number of zero bits in the low ``len(s1)`` bits of V.  Python's
    big ints give us unbounded pattern length with carry propagation for
    free; per-pair cost is O(len(s2) * len(s1)/64).
    """
    if not s1 or not s2:
        return 0
    m = len(s1)
    masks = _char_masks(s1)
    full = (1 << m) - 1
    v = full
    for ch in s2:
        pm = masks.get(ch)
        if pm is None:
            continue
        u = v & pm
        v = ((v + u) | (v - u)) & full
    return m - bin(v).count("1")


def indel_distance(s1: str, s2: str) -> int:
    """Insert/delete-only edit distance: len1 + len2 - 2 * LCS."""
    return len(s1) + len(s2) - 2 * lcs_length(s1, s2)


def ratio(s1: str, s2: str) -> float:
    """Indel-normalized similarity * 100 (rapidfuzz ``fuzz.ratio``).

    ``1 - indel/(len1+len2)`` == ``2*LCS/(len1+len2)``.  NOTE: this is not
    Levenshtein (no substitutions), so Spark's built-in ``levenshtein()``
    cannot be used (SURVEY.md §2.6 F1).
    """
    total = len(s1) + len(s2)
    if total == 0:
        return 0.0
    return 200.0 * lcs_length(s1, s2) / total


def partial_ratio(s1: str, s2: str) -> float:
    """Best ``ratio`` of the shorter string against substrings of the longer.

    Scans every alignment of the shorter string over the longer, including
    partially-overlapping windows at both edges (rapidfuzz semantics:
    "optimal alignment of the shorter string in the longer string").  When
    the lengths are equal neither string is "the shorter", so both
    alignments are scanned and the better one kept — as rapidfuzz does —
    which makes the score independent of argument order.
    """
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    if not s1:
        return 0.0
    best = _partial_windows(s1, s2)
    if len(s1) == len(s2) and best < 100.0:
        best = max(best, _partial_windows(s2, s1))
    return best


def _partial_windows(s1: str, s2: str) -> float:
    """Max ``ratio(s1, window)`` over every alignment window of ``s2``
    (``len(s1) <= len(s2)``, ``s1`` non-empty)."""
    len1, len2 = len(s1), len(s2)
    if s1 in s2:  # exact-substring fast path -> a full window scores 100
        return 100.0
    best = 0.0
    chars1 = set(s1)
    # alignments: window = s2[max(0, i) : i + len1] for i in [-(len1-1), len2)
    for i in range(-(len1 - 1), len2):
        window = s2[max(0, i) : i + len1]
        if not chars1.intersection(window):
            continue
        score = ratio(s1, window)
        if score > best:
            best = score
            if best == 100.0:
                break
    return best


def _sorted_join(s: str) -> str:
    return " ".join(sorted(s.split()))


def token_sort_ratio(s1: str, s2: str) -> float:
    """``ratio`` over whitespace-tokenized, lexicographically sorted joins."""
    return ratio(_sorted_join(s1), _sorted_join(s2))


def _token_sets(s1: str, s2: str):
    t1 = set(s1.split())
    t2 = set(s2.split())
    sect = t1 & t2
    return sect, sorted(t1 - sect), sorted(t2 - sect)


def token_set_ratio(s1: str, s2: str) -> float:
    """rapidfuzz ``token_set_ratio``.

    Compares ``sect``, ``sect + diff1`` and ``sect + diff2`` pairwise, where
    the sect-vs-combined ratios are computed analytically (the intersection
    is a shared prefix, so the only edits are the separator + the diff).
    """
    sect, diff_ab, diff_ba = _token_sets(s1, s2)
    if sect and (not diff_ab or not diff_ba):
        return 100.0
    diff_ab_joined = " ".join(diff_ab)
    diff_ba_joined = " ".join(diff_ba)
    ab_len = len(diff_ab_joined)
    ba_len = len(diff_ba_joined)
    sect_len = len(" ".join(sorted(sect)))
    sect_sep = 1 if sect_len else 0

    sect_ab_len = sect_len + sect_sep + ab_len
    sect_ba_len = sect_len + sect_sep + ba_len

    total = sect_ab_len + sect_ba_len
    if total == 0:
        return 0.0

    dist = indel_distance(diff_ab_joined, diff_ba_joined)
    result = 100.0 * (1.0 - dist / total)

    # ratio(sect, sect + " " + diff): distance is exactly sep + len(diff)
    best = result
    if sect_len:
        sect_ab_dist = sect_sep + ab_len
        sect_ba_dist = sect_sep + ba_len
        best = max(
            best,
            100.0 * (1.0 - sect_ab_dist / (sect_len + sect_ab_len)),
            100.0 * (1.0 - sect_ba_dist / (sect_len + sect_ba_len)),
        )
    return best


def _token_ratio(s1: str, s2: str) -> float:
    return max(token_sort_ratio(s1, s2), token_set_ratio(s1, s2))


def _partial_token_set_ratio(s1: str, s2: str) -> float:
    sect, diff_ab, diff_ba = _token_sets(s1, s2)
    if sect:
        return 100.0
    return partial_ratio(" ".join(diff_ab), " ".join(diff_ba))


def _partial_token_ratio(s1: str, s2: str) -> float:
    return max(
        partial_ratio(_sorted_join(s1), _sorted_join(s2)),
        _partial_token_set_ratio(s1, s2),
    )


def wratio(s1: str, s2: str) -> float:
    """rapidfuzz ``fuzz.WRatio`` cascade (published scaling constants).

    * length ratio < 1.5 -> max(ratio, 0.95 * token_ratio)
    * otherwise partial variants scaled by 0.9 (len ratio < 8) else 0.6.
    """
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    unbase_scale = 0.95
    len_ratio = max(len1, len2) / min(len1, len2)
    end_ratio = ratio(s1, s2)
    if len_ratio < 1.5:
        return max(end_ratio, _token_ratio(s1, s2) * unbase_scale)
    partial_scale = 0.9 if len_ratio < 8.0 else 0.6
    end_ratio = max(end_ratio, partial_ratio(s1, s2) * partial_scale)
    return max(end_ratio, _partial_token_ratio(s1, s2) * unbase_scale * partial_scale)


# Registry keyed by the FuzzyAlgorithm enum *value* strings
# (mirrors reference/fuzzy_matching/core/match_config_classes.py:6-14).
SCORERS = {
    "ratio": ratio,
    "partial_ratio": partial_ratio,
    "token_sort_ratio": token_sort_ratio,
    "token_set_ratio": token_set_ratio,
    "wratio": wratio,
}


@lru_cache(maxsize=65536)
def score(algorithm: str, s1: str, s2: str) -> float:
    """Cached dispatch used by the hot pair-verification loops."""
    fn = SCORERS.get(algorithm, ratio)
    return fn(s1, s2)

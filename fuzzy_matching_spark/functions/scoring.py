"""Vectorized scorer registry and the weighted-field rule built on it.

The reference scores a record pair as the weighted mean of per-field
similarities (its ``data_matcher.py:186-230, 601-638``), one rapidfuzz C++
call per field.  The Spark engine's hot paths go through this module
instead:

* :func:`score_matrix` / :func:`score_pairs` — the kernel registry: an
  algorithm name's all-pairs score matrix, or its aligned pairwise scores,
  in [0, 100];
* :func:`field_similarity` — the per-field rule, written once: the field's
  algorithm (the config's when the field names none), transliteration when
  the field and the config enable it (else both sides lowercased), each
  distinct value or distinct pair scored once by the registry, and 0
  wherever either side is empty;
* :func:`config_score_matrix` — its cross shape: the weighted mean over a
  block's (n_left, n_right) cells, the kernel of the driver-local matcher
  and of the distributed matcher's per-block cogroup
  (``operators/greedy_match.py``);
* :func:`config_score_pairs` — its aligned shape: the weighted mean over
  aligned rows, which the candidate-mode (LSH) pandas UDF calls per Arrow
  batch;
* :func:`kernel_cost` — the driver gate's per-pair cost of a config
  relative to RATIO.

``ratio`` and ``token_sort_ratio`` run on the numpy bit-parallel LCS
kernel (:mod:`kernel.batchlcs`); the remaining scorers (partial / token-set
/ WRatio) run on :mod:`kernel.batchfuzz`, which decomposes their window
and cascade logic into batched LCS passes.  The cross shape keeps the
matrix kernel: scoring the expanded grid as aligned pairs measured 4-8x
slower for the same floats.

Float parity with ``pairscore.weighted_similarity`` is exact (same integer
LCS, same ``200.0 * lcs / total`` arithmetic, same field accumulation
order) and locked by ``tests/test_scoring.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from fuzzy_matching_spark.kernel import batchfuzz, batchlcs, pairscore

__all__ = [
    "score_matrix",
    "score_pairs",
    "field_similarity",
    "config_score_matrix",
    "config_score_pairs",
    "kernel_cost",
]

_BATCH_PAIRS = {
    "token_sort_ratio": batchfuzz.token_sort_ratio_pairs,
    "partial_ratio": batchfuzz.partial_ratio_pairs,
    "token_set_ratio": batchfuzz.token_set_ratio_pairs,
    "wratio": batchfuzz.wratio_pairs,
}

# Per-scorer kernel cost relative to RATIO, measured on the n=1000 persons
# fixture (155k blocked pairs, one core): PARTIAL_RATIO sweeps every
# alignment window, but through the vectorized all-windows kernel
# (batchlcs.partial_ratio_windows) that is ~5x a plain ratio batch, not
# ~70x; WRatio cascades into it for length-mismatched pairs (~5x),
# TOKEN_SET scores one derived diff-string LCS plus arithmetic (~2x).
_KERNEL_COST = {
    "ratio": 1,
    "token_sort_ratio": 1,
    "token_set_ratio": 2,
    "wratio": 5,
    "partial_ratio": 5,
}
# A transliterating field transforms each distinct pair in scalar Python
# (the direction depends on both values' detected languages) before the
# batched kernel scores it.
_TRANSLIT_COST = 64


def _sorted_joins(vals) -> list:
    return [" ".join(sorted(v.split())) for v in vals]


def score_matrix(algorithm: str, left_vals, right_vals) -> np.ndarray:
    """(len(left), len(right)) float64 scores in [0, 100].

    Unknown algorithm names fall back to ``ratio`` — the reference's F6
    semantics (``data_matcher.py:636-638``).
    """
    left_vals = list(left_vals)
    right_vals = list(right_vals)
    if algorithm == "token_sort_ratio":
        return batchlcs.ratio_matrix(_sorted_joins(left_vals), _sorted_joins(right_vals))
    fn = _BATCH_PAIRS.get(algorithm)
    if fn is not None:
        nl, nr = len(left_vals), len(right_vals)
        if nl == 0 or nr == 0:
            return np.zeros((nl, nr), dtype=np.float64)
        # cross-product expansion: references only, no string copies; the
        # batched pair kernel amortizes the LCS passes
        grid_l = [s for s in left_vals for _ in range(nr)]
        grid_r = right_vals * nl
        return fn(grid_l, grid_r).reshape(nl, nr)
    return batchlcs.ratio_matrix(left_vals, right_vals)


def score_pairs(algorithm: str, left_vals, right_vals) -> np.ndarray:
    """Aligned pairwise scores in [0, 100] (vector of len(left))."""
    left_vals = list(left_vals)
    right_vals = list(right_vals)
    fn = _BATCH_PAIRS.get(algorithm)
    if fn is not None:
        return np.asarray(fn(left_vals, right_vals), dtype=np.float64)
    return batchlcs.ratio_pairs(left_vals, right_vals)


# ---------------------------------------------------------------------------
# the weighted-field rule (pairscore.weighted_similarity, batched)
# ---------------------------------------------------------------------------


def _field_kernel(fc, config) -> tuple[str, bool]:
    """A field's scorer name — the config's when the field names none — and
    whether the field transliterates."""
    algo = fc.fuzzy_algorithm if fc.fuzzy_algorithm is not None else config.fuzzy_algorithm
    return algo.value, fc.transliterate and config.transliteration.enabled


def kernel_cost(config) -> int:
    """Per-pair scoring cost of ``config`` relative to an all-RATIO config:
    its most expensive field's (1 with no fields)."""
    costs = []
    for fc in config.fields:
        algo, translit = _field_kernel(fc, config)
        costs.append(_TRANSLIT_COST if translit else _KERNEL_COST.get(algo, 1))
    return max(costs, default=1)


def _lower(vals: list) -> list:
    return [v.lower() for v in vals]


def _unique_inverse(vals: list):
    arr = np.array(vals, dtype=object)
    uniq, inv = np.unique(arr, return_inverse=True)
    return list(uniq), inv


def _unique_pairs(a: list, b: list):
    """Distinct (a, b) combinations of aligned values, and each row's index
    into them."""
    ca, ua = pd.factorize(pd.Series(a, dtype=object))
    cb, ub = pd.factorize(pd.Series(b, dtype=object))
    nb = len(ub)
    codes, kuniq = pd.factorize(ca.astype(np.int64) * nb + cb)
    # fancy-index object arrays: element-wise pandas Index lookups are slow
    ka = ua.to_numpy(dtype=object)[kuniq // nb].tolist()
    kb = ub.to_numpy(dtype=object)[kuniq % nb].tolist()
    return codes, ka, kb


def _similarity(kernel, algo: str, a: list, b: list) -> np.ndarray:
    """``kernel`` (score_matrix or score_pairs) scaled to [0, 1], with 0
    wherever an operand is empty (``pairscore.get_similarity``'s guard)."""
    s = kernel(algo, a, b) / 100.0
    ea = np.array([not v for v in a], dtype=bool)
    eb = np.array([not v for v in b], dtype=bool)
    s[(ea[:, None] | eb) if s.ndim == 2 else (ea | eb)] = 0.0
    return s


def field_similarity(fc, left: list, right: list, config, cross: bool = False) -> np.ndarray:
    """One field's similarities in [0, 1], float-identical to
    ``pairscore.get_similarity`` after the field's transliteration.

    ``cross`` gives the (len(left), len(right)) matrix of every left value
    against every right value, otherwise the aligned vector (``left[k]``
    against ``right[k]``).  Distinct values are scored once: per side for
    the cross shape (one matrix-kernel call), per pair for the aligned one.
    A transliterating field's transform is pair-wise, so its cross shape is
    the aligned shape over the grid of distinct values.
    """
    algo, translit = _field_kernel(fc, config)
    if cross and not translit:
        ul, li = _unique_inverse(_lower(left))
        ur, ri = _unique_inverse(_lower(right))
        return _similarity(score_matrix, algo, ul, ur)[li][:, ri]
    if cross:
        ul, li = _unique_inverse(left)
        ur, ri = _unique_inverse(right)
        grid = field_similarity(fc, [v for v in ul for _ in ur], ur * len(ul), config)
        return grid.reshape(len(ul), len(ur))[li][:, ri]
    codes, a, b = _unique_pairs(left, right)
    if translit:
        pairs = [pairscore.process_transliteration(x, y, config) for x, y in zip(a, b)]
        a, b = [x for x, _, _ in pairs], [y for _, y, _ in pairs]
    return _similarity(score_pairs, algo, _lower(a), _lower(b))[codes]


def _values(frame: pd.DataFrame, name: str) -> list:
    """A field's values as strings (NULL -> ""); "" for every row when the
    frame lacks the field."""
    if name not in frame.columns:
        return [""] * len(frame)
    return frame[name].fillna("").astype(str).tolist()


def _weighted(left: pd.DataFrame, right: pd.DataFrame, config, cross: bool) -> np.ndarray:
    """``sum(s * w) / sum(w)`` over ``config.fields``, accumulated in field
    order as ``pairscore.weighted_similarity`` does; 0 everywhere when the
    weights sum to <= 0 (which covers a config with no fields)."""
    acc = np.zeros((len(left), len(right)) if cross else len(left), dtype=np.float64)
    total_w = sum(fc.weight for fc in config.fields)
    if total_w <= 0:
        return acc
    for fc in config.fields:
        lv, rv = _values(left, fc.field), _values(right, fc.field)
        acc += field_similarity(fc, lv, rv, config, cross) * fc.weight
    return acc / total_w


def config_score_matrix(left: pd.DataFrame, right: pd.DataFrame, config) -> np.ndarray:
    """(n_left, n_right) weighted-mean similarity in [0, 1]: float-identical
    to ``pairscore.weighted_similarity`` over the cross product."""
    return _weighted(left, right, config, cross=True)


def config_score_pairs(left: pd.DataFrame, right: pd.DataFrame, config) -> np.ndarray:
    """Weighted-mean similarity in [0, 1] of aligned rows (``left`` and
    ``right`` have the same length): float-identical to
    ``pairscore.weighted_similarity`` row by row."""
    return _weighted(left, right, config, cross=False)

"""Vectorized scorer registry: FuzzyAlgorithm enum value -> batched scorer.

The reference dispatches every pair through rapidfuzz C++
(``/root/reference/fuzzy_matching/core/data_matcher.py:626-638``).  The
Spark engine's hot paths instead go through this module:

* :func:`score_matrix`   — all-pairs score matrix for a block (the greedy
  matchers' kernel through :func:`config_score_matrix`: the driver-local
  matcher scores whole blocks, ``operators/greedy_match.py`` scores tiles
  of them on executors, and both then run the sequential argmax
  assignment the reference semantics demand);
* :func:`score_pairs`    — aligned pairwise scores for Arrow batches;
* :func:`make_general_pair_scorer` — the weighted-field pandas UDF that
  scores the matcher's LSH candidate pairs, one Arrow row per pair, with
  the full per-field semantics (any scorer, transliteration).

``ratio`` and ``token_sort_ratio`` run on the numpy bit-parallel LCS
kernel (:mod:`kernel.batchlcs`); the remaining scorers (partial / token-set
/ WRatio — sliding-window and cascade logic that doesn't vectorize into a
single LCS pass) fall back to the scalar kernel over *unique* value pairs,
which the lru-cached :func:`kernel.fuzz.score` already serves.

Float parity with the scalar path is exact (same integer LCS, same
``200.0 * lcs / total`` arithmetic) and locked by ``tests/test_scoring.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from fuzzy_matching_spark.kernel import batchfuzz, batchlcs

__all__ = [
    "score_matrix",
    "score_pairs",
    "config_score_matrix",
    "make_general_pair_scorer",
]

_BATCH_PAIRS = {
    "token_sort_ratio": batchfuzz.token_sort_ratio_pairs,
    "partial_ratio": batchfuzz.partial_ratio_pairs,
    "token_set_ratio": batchfuzz.token_set_ratio_pairs,
    "wratio": batchfuzz.wratio_pairs,
}


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
# pair-stream scorer (the matcher's LSH candidate mode)
# ---------------------------------------------------------------------------


def _dedup_pair_scores(a_vals, b_vals, pairs_fn) -> np.ndarray:
    """Score aligned value pairs, each distinct (a, b) combination once."""
    ca, ua = pd.factorize(pd.Series(a_vals, dtype=object))
    cb, ub = pd.factorize(pd.Series(b_vals, dtype=object))
    nb = len(ub)
    key = ca.astype(np.int64) * nb + cb
    kcodes, kuniq = pd.factorize(key)
    # fancy-index object arrays: element-wise pandas Index lookups are slow
    ka = ua.to_numpy(dtype=object)[kuniq // nb].tolist()
    kb = ub.to_numpy(dtype=object)[kuniq % nb].tolist()
    scored = pairs_fn(ka, kb)
    return np.asarray(scored, dtype=np.float64)[kcodes]


def make_general_pair_scorer(config):
    """Pandas UDF: weighted-mean similarity in [0, 1] of aligned value pairs.

    Argument order: (a_f1, b_f1, a_f2, b_f2, ...) matching ``config.fields``.
    Full per-field semantics (any algorithm, transliteration) over the
    original values, float-identical to :func:`config_score_matrix`:
    per-field ``fn(lower, lower)/100`` (empty operands 0), accumulated in
    field order, divided by the weight sum.  Unique (a, b) combinations
    are scored once per batch."""
    from pyspark.sql.functions import pandas_udf

    from fuzzy_matching_spark.kernel import pairscore

    fields = config.fields
    total_w = sum(fc.weight for fc in fields)

    @pandas_udf("double")
    def _score(*cols: pd.Series) -> pd.Series:
        n = len(cols[0])
        acc = np.zeros(n, dtype=np.float64)
        for i, fc in enumerate(fields):
            a = cols[2 * i].fillna("").astype(str).tolist()
            b = cols[2 * i + 1].fillna("").astype(str).tolist()

            if fc.transliterate and config.transliteration.enabled:
                def field_fn(ua, ub, fc=fc):
                    out = []
                    for v1, v2 in zip(ua, ub):
                        t1, t2, _ = pairscore.process_transliteration(v1, v2, config)
                        out.append(
                            pairscore.get_similarity(
                                t1, t2, fc.fuzzy_algorithm, config.fuzzy_algorithm
                            )
                        )
                    return out
                s = _dedup_pair_scores(a, b, field_fn)
            else:
                algo = (
                    fc.fuzzy_algorithm
                    if fc.fuzzy_algorithm is not None
                    else config.fuzzy_algorithm
                )

                def field_fn(ua, ub, algo=algo):
                    la = [v.lower() for v in ua]
                    lb = [v.lower() for v in ub]
                    return score_pairs(algo.value, la, lb)
                s = _dedup_pair_scores(a, b, field_fn) / 100.0
                empty = np.array([not x for x in a]) | np.array([not x for x in b])
                s[empty] = 0.0
            acc += s * fc.weight
        if total_w <= 0:
            return pd.Series(np.zeros(n))
        return pd.Series(acc / total_w)

    # asNondeterministic: the score IS deterministic, but without this the
    # optimizer pushes the >= threshold filter (which references the UDF
    # column) below the load-balancing repartition exchange and DUPLICATES
    # the UDF — the expensive pass then runs inside the skewed join stage,
    # defeating the rebalance (observed: 2x Python work, 1 hot task)
    return _score.asNondeterministic()


# ---------------------------------------------------------------------------
# block score matrix for a MatchConfig (the greedy matcher kernel)
# ---------------------------------------------------------------------------


def _unique_inverse(vals: list):
    arr = np.array(vals, dtype=object)
    uniq, inv = np.unique(arr, return_inverse=True)
    return list(uniq), inv


def _translit_field_matrix(left_vals, right_vals, fc, config) -> np.ndarray:
    """Scalar unique-pair path for transliterate-enabled fields.

    Transliteration direction depends on *both* sides' detected languages
    (``pairscore.process_transliteration``), so the transform is genuinely
    pair-wise; uniqueness still collapses repeated values.
    """
    from fuzzy_matching_spark.kernel import pairscore

    ul, linv = _unique_inverse(left_vals)
    ur, rinv = _unique_inverse(right_vals)
    m = np.empty((len(ul), len(ur)), dtype=np.float64)
    for i, v1 in enumerate(ul):
        for j, v2 in enumerate(ur):
            t1, t2, _ = pairscore.process_transliteration(v1, v2, config)
            m[i, j] = pairscore.get_similarity(
                t1, t2, fc.fuzzy_algorithm, config.fuzzy_algorithm
            )
    return m[linv][:, rinv]


def config_score_matrix(left: pd.DataFrame, right: pd.DataFrame, config) -> np.ndarray:
    """(n_left, n_right) weighted-mean similarity in [0, 1].

    Float-identical to looping ``pairscore.weighted_similarity`` over the
    cross product: same per-field ``fn(lower, lower)/100`` values, same
    field accumulation order, same ``sum(s*w)/sum(w)`` arithmetic.
    """
    nl, nr = len(left), len(right)
    if not config.fields:
        return np.zeros((nl, nr))
    total_w = sum(fc.weight for fc in config.fields)
    acc = np.zeros((nl, nr), dtype=np.float64)
    for fc in config.fields:
        lv = (
            left[fc.field].fillna("").astype(str).tolist()
            if fc.field in left.columns
            else [""] * nl
        )
        rv = (
            right[fc.field].fillna("").astype(str).tolist()
            if fc.field in right.columns
            else [""] * nr
        )
        if fc.transliterate and config.transliteration.enabled:
            mat = _translit_field_matrix(lv, rv, fc, config)
        else:
            algo = fc.fuzzy_algorithm if fc.fuzzy_algorithm is not None else config.fuzzy_algorithm
            ul, linv = _unique_inverse([v.lower() for v in lv])
            ur, rinv = _unique_inverse([v.lower() for v in rv])
            m_u = score_matrix(algo.value, ul, ur) / 100.0
            # empty operands score 0 (pairscore.get_similarity guard)
            for i, v in enumerate(ul):
                if not v:
                    m_u[i, :] = 0.0
            for j, v in enumerate(ur):
                if not v:
                    m_u[:, j] = 0.0
            mat = m_u[linv][:, rinv]
        acc += mat * fc.weight
    if total_w <= 0:
        return np.zeros((nl, nr))
    return acc / total_w

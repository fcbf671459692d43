"""Vectorized scorer kernel parity: batched LCS/ratio must be float-identical
to the scalar kernel (kernel/fuzz.py), which itself is golden-tested against
rapidfuzz's published semantics (tests/test_fuzz.py)."""

import random

import numpy as np
import pandas as pd
import pytest

from fuzzy_matching_spark.config import FuzzyAlgorithm, MatchConfig, MatchFieldConfig
from fuzzy_matching_spark.functions import scoring
from fuzzy_matching_spark.kernel import batchlcs, fuzz, pairscore


def _rand_strings(rng, n, alphabet, lo, hi):
    return [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(lo, hi)))
        for _ in range(n)
    ]


CASES = [
    # short ASCII (single-word path)
    ("abc", 12, 0, 12),
    # crosses the 64-bit word boundary (multi-word carry/borrow path)
    ("ab", 10, 50, 150),
    # unicode incl. astral
    ("абв💡x", 8, 0, 40),
]


@pytest.mark.parametrize("alphabet,n,lo,hi", CASES)
def test_lcs_matrix_matches_scalar(alphabet, n, lo, hi):
    rng = random.Random(7)
    left = _rand_strings(rng, n, alphabet, lo, hi) + ["", alphabet]
    right = _rand_strings(rng, n, alphabet, lo, hi) + ["", alphabet[0]]
    got = batchlcs.lcs_matrix(left, right)
    for i, s1 in enumerate(left):
        for j, s2 in enumerate(right):
            assert got[i, j] == fuzz.lcs_length(s1, s2), (s1, s2)


@pytest.mark.parametrize("alphabet,n,lo,hi", CASES)
def test_ratio_matrix_float_identical(alphabet, n, lo, hi):
    rng = random.Random(11)
    left = _rand_strings(rng, n, alphabet, lo, hi) + [""]
    right = _rand_strings(rng, n, alphabet, lo, hi) + [""]
    got = batchlcs.ratio_matrix(left, right)
    for i, s1 in enumerate(left):
        for j, s2 in enumerate(right):
            assert got[i, j] == fuzz.ratio(s1, s2)  # exact float equality


def test_lcs_pairs_matches_scalar():
    rng = random.Random(3)
    left = _rand_strings(rng, 40, "abcd ", 0, 120)
    right = _rand_strings(rng, 40, "abcd ", 0, 120)
    got = batchlcs.lcs_pairs(left, right)
    for k, (s1, s2) in enumerate(zip(left, right)):
        assert got[k] == fuzz.lcs_length(s1, s2)


@pytest.mark.parametrize(
    "algo",
    ["ratio", "partial_ratio", "token_sort_ratio", "token_set_ratio", "wratio"],
)
def test_score_matrix_matches_scalar_registry(algo):
    rng = random.Random(5)
    vals1 = _rand_strings(rng, 12, "ab cd", 0, 30)
    vals2 = _rand_strings(rng, 12, "ab cd", 0, 30)
    got = scoring.score_matrix(algo, vals1, vals2)
    fn = fuzz.SCORERS[algo]
    for i, s1 in enumerate(vals1):
        for j, s2 in enumerate(vals2):
            assert got[i, j] == fn(s1, s2)


def test_score_matrix_unknown_algo_falls_back_to_ratio():
    got = scoring.score_matrix("nonsense", ["abc"], ["abd"])
    assert got[0, 0] == fuzz.ratio("abc", "abd")


def test_partial_ratio_pairs_branch_boundaries(monkeypatch):
    """All partial_ratio execution branches — the vectorized all-windows
    sweep, its pair-chunk splitting, and the >64-char-pattern scalar
    fallback — must be float-identical to fuzz.partial_ratio on the same
    inputs (ADVICE r3: the fallback boundary had no direct parity
    coverage)."""
    from fuzzy_matching_spark.kernel import batchfuzz, batchlcs

    rng = random.Random(17)
    # straddle the single-word pattern boundary: shorter sides 5..100 chars,
    # so some pairs take the m1 > 64 scalar fallback and some the sweep
    left = _rand_strings(rng, 20, "abx cdy", 5, 100)
    right = _rand_strings(rng, 20, "abz cdy", 5, 100)
    left += ["ab", "bca", "xy z", "q" * 64, "q" * 65]
    right += ["ba", "acb", "z yx", "q" * 30 + "r" * 40, "q" * 30 + "r" * 40]
    m1s = [min(len(a), len(b)) for a, b in zip(left, right)]
    assert any(m > 64 for m in m1s) and any(0 < m <= 64 for m in m1s)
    want = np.array(
        [
            fuzz.partial_ratio(a, b) if len(a) <= len(b) else fuzz.partial_ratio(b, a)
            for a, b in zip(left, right)
        ]
    )
    assert (batchfuzz.partial_ratio_pairs(left, right) == want).all()

    # force the window sweep through its chunk splitter: a tiny budget makes
    # every recursion level split, including single-pair oversize chunks
    monkeypatch.setattr(batchlcs, "_WINDOW_CHUNK", 16)
    assert (batchfuzz.partial_ratio_pairs(left, right) == want).all()


def test_config_score_matrix_matches_weighted_similarity():
    config = MatchConfig(
        fields=[
            MatchFieldConfig("name", 0.6),
            MatchFieldConfig("email", 0.4, fuzzy_algorithm=FuzzyAlgorithm.TOKEN_SORT),
        ],
        fuzzy_algorithm=FuzzyAlgorithm.RATIO,
    )
    left = pd.DataFrame(
        {"name": ["Ivan Petrov", "anna", "", "bob marley"], "email": ["a@x.com", "b@y.com", "c@z.com", ""]}
    )
    right = pd.DataFrame(
        {"name": ["Petrov Ivan", "ana", "dave"], "email": ["a@x.com", "", "d@w.com"]}
    )
    got = scoring.config_score_matrix(left, right, config)
    for i in range(len(left)):
        for j in range(len(right)):
            want, _ = pairscore.weighted_similarity(
                left.iloc[i].to_dict(), right.iloc[j].to_dict(), config
            )
            assert got[i, j] == want  # exact float equality


def test_scorer_udf_matches_get_similarity(spark):
    df = spark.createDataFrame(
        [("Ivan", "ivan"), ("hello world", "world hello"), ("", "x"), (None, "y")],
        schema="a string, b string",
    )
    udf = scoring.scorer_udf("token_sort_ratio")
    rows = df.select(udf("a", "b").alias("s")).collect()
    want = [
        pairscore.get_similarity(a, b, FuzzyAlgorithm.TOKEN_SORT, FuzzyAlgorithm.TOKEN_SORT)
        for a, b in [("Ivan", "ivan"), ("hello world", "world hello"), ("", "x"), (None, "y")]
    ]
    assert [r["s"] for r in rows] == want


def test_long_strings_multiword():
    s1 = "x" * 500 + "abc" + "y" * 500
    s2 = "z" * 300 + "abc" + "w" * 100
    got = batchlcs.lcs_matrix([s1], [s2])[0, 0]
    assert got == fuzz.lcs_length(s1, s2) == 3


def test_partial_ratio_windows_property():
    """Property lock on the all-windows sweep: for arbitrary unicode pairs
    (including repeats, substrings, tiny alphabets that maximize window
    ties, and astral codepoints) the vectorized kernel's max-window ratio
    is float-identical to the scalar exhaustive kernel."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fuzzy_matching_spark.kernel import batchfuzz

    token = st.text(alphabet="ab хy💡", min_size=0, max_size=40)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.tuples(token, token), min_size=1, max_size=8))
    def check(pairs):
        left = [a for a, _ in pairs]
        right = [b for _, b in pairs]
        got = batchfuzz.partial_ratio_pairs(left, right)
        want = np.array(
            [
                fuzz.partial_ratio(a, b)
                if len(a) <= len(b)
                else fuzz.partial_ratio(b, a)
                for a, b in pairs
            ]
        )
        assert (got == want).all()

    check()


@pytest.mark.parametrize("with_matrix", [False, True], ids=["sparse", "matrix"])
def test_dedup_pair_scores_matches_rowwise(with_matrix):
    """The unique-combination scorer returns exactly the row-by-row scores
    on a batch with many repeated values and repeated (a, b) combinations,
    in both its sparse (pairwise) and rectangular (matrix) branches."""
    rng = random.Random(23)
    pool_a = _rand_strings(rng, 40, "abc d", 0, 12)
    pool_b = _rand_strings(rng, 40, "abd c", 0, 12)
    a = [rng.choice(pool_a) for _ in range(3000)]
    b = [rng.choice(pool_b) for _ in range(3000)]
    got = scoring._dedup_pair_scores(
        a, b, batchlcs.ratio_pairs, batchlcs.ratio_matrix if with_matrix else None
    )
    assert got.dtype == np.float64
    assert list(got) == [fuzz.ratio(x, y) for x, y in zip(a, b)]

"""Vendored scorer tests: DP cross-check + rapidfuzz-semantics pins.

Golden note: the reference's committed comparison table
(``tests/results/algorithm_comp_res.md``) was produced with ``thefuzz``
(SequenceMatcher-based), while the engine itself runs ``rapidfuzz``
(Indel-based) — the two differ on e.g. ``ratio("Ivan Petrov", "Petrov
Ivan")``.  We pin the *runtime* (rapidfuzz) semantics: 2*LCS/(len1+len2),
verified against an independent O(n*m) DP implementation and
hand-computable cases.
"""

import random

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from fuzzy_matching_spark.kernel import fuzz


def lcs_dp(s1: str, s2: str) -> int:
    """Independent quadratic DP used only to validate the bit-parallel kernel."""
    if not s1 or not s2:
        return 0
    prev = [0] * (len(s2) + 1)
    for a in s1:
        cur = [0]
        for j, b in enumerate(s2, 1):
            cur.append(prev[j - 1] + 1 if a == b else max(prev[j], cur[-1]))
        prev = cur
    return prev[-1]


ALPHABET = "abcабв "


@given(
    st.text(alphabet=ALPHABET, max_size=80),
    st.text(alphabet=ALPHABET, max_size=80),
)
@settings(max_examples=300, deadline=None)
def test_lcs_bitparallel_matches_dp(s1, s2):
    assert fuzz.lcs_length(s1, s2) == lcs_dp(s1, s2)


def test_lcs_long_strings_multiword():
    rng = random.Random(7)
    for _ in range(20):
        s1 = "".join(rng.choice("abcd") for _ in range(rng.randint(60, 300)))
        s2 = "".join(rng.choice("abcd") for _ in range(rng.randint(60, 300)))
        assert fuzz.lcs_length(s1, s2) == lcs_dp(s1, s2)


@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        ("this is a test", "this is a test!", 2 * 14 / 29 * 100),  # rapidfuzz doc example
        ("programming", "programing", 2 * 10 / 21 * 100),
        ("", "", 0.0),
        ("abc", "", 0.0),
        ("abc", "abc", 100.0),
        ("ivan petrov", "petrov ivan", 2 * 6 / 22 * 100),  # LCS = "petrov"
    ],
)
def test_ratio(s1, s2, expected):
    assert fuzz.ratio(s1, s2) == pytest.approx(expected)


def test_partial_ratio():
    assert fuzz.partial_ratio("alexander", "alex") == 100.0
    assert fuzz.partial_ratio("this is a test", "this is a test!") == 100.0
    # edge-overlap alignment can beat every full window
    assert fuzz.partial_ratio("ab", "zb") == pytest.approx(2 * 1 / 3 * 100)
    assert fuzz.partial_ratio("", "abc") == 0.0
    # equal lengths keep the better of both alignments: 'a aa' slid over
    # 'aaab' meets edge window 'aaa' (2*3/7); 'aaab' over 'a aa' gets 75
    assert fuzz.partial_ratio("a aa", "aaab") == pytest.approx(600 / 7)


def test_token_sort():
    assert fuzz.token_sort_ratio("ivan petrov", "petrov ivan") == 100.0
    assert fuzz.token_sort_ratio("fuzzy wuzzy was a bear", "wuzzy fuzzy was a bear") == 100.0


def test_token_set():
    assert fuzz.token_set_ratio("ivan petrov", "petrov ivan") == 100.0
    # subset relation with non-empty intersection -> 100
    assert fuzz.token_set_ratio("a b", "a b c") == 100.0
    # disjoint tokens degrade to plain ratio on joined diffs
    assert fuzz.token_set_ratio("abc", "xyz") == 0.0


def test_wratio_cascade():
    # equal lengths -> token branch: 0.95 * 100
    assert fuzz.wratio("ivan petrov", "petrov ivan") == pytest.approx(95.0)
    # identical strings
    assert fuzz.wratio("abc", "abc") == 100.0
    # one empty -> 0 (engine guards earlier anyway)
    assert fuzz.wratio("", "abc") == 0.0
    # long/short (len ratio >= 8) takes the 0.6 partial scale
    long = "x" * 100
    assert fuzz.wratio(long, "x" * 4) == pytest.approx(max(2 * 4 / 104 * 100, 60.0, 0.95 * 0.6 * 100))


@given(st.text(alphabet=ALPHABET, max_size=40), st.text(alphabet=ALPHABET, max_size=40))
# equal lengths: only the better of the two alignments is order-independent
@example("a aa", "aaab")
@example("aa a", " aaab ")
@settings(max_examples=200, deadline=None)
def test_scorer_ranges_and_symmetry(s1, s2):
    for name, fn in fuzz.SCORERS.items():
        v = fn(s1, s2)
        assert 0.0 <= v <= 100.0, name
        assert fn(s2, s1) == pytest.approx(v), name


@given(
    st.lists(
        st.tuples(
            st.text(alphabet=ALPHABET, max_size=24),
            st.text(alphabet=ALPHABET, max_size=24),
        ),
        min_size=1,
        max_size=8,
    )
)
@example([("a aa", "aaab"), ("aaab", "a aa")])
@example([("aa a", " aaab ")])
@settings(max_examples=150, deadline=None)
def test_batched_equals_scalar_both_orders(pairs):
    """Every batched scorer equals the scalar kernel in both argument
    orders, on the same batch (so the pair-dedup in the batched kernels
    sees each pair and its mirror)."""
    from fuzzy_matching_spark.functions.scoring import score_pairs

    left = [a for a, _ in pairs] + [b for _, b in pairs]
    right = [b for _, b in pairs] + [a for a, _ in pairs]
    for name, fn in fuzz.SCORERS.items():
        got = score_pairs(name, left, right)
        want = [fn(a, b) for a, b in zip(left, right)]
        assert list(got) == want, name


@given(st.text(alphabet=ALPHABET, min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_identity_scores_100(s):
    assert fuzz.ratio(s, s) == 100.0
    assert fuzz.partial_ratio(s, s) == 100.0

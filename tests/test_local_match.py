"""Driver-local matcher strategy: parity + dispatch-gate tests.

Three fences (operators/local_match.py docstring):

1. ``LocalBatchedMatcher`` == ``OracleMatcher`` exactly (the matrix argmax
   replays the reference's strict-> first-max-wins loop).
2. ``SparkMatcher`` driver path == distributed path exactly on the same
   inputs (both return DataFrames with the same schema and values).
3. The dispatch gate: small inputs go local for every scorer (and for
   transliteration, under a 64x-shrunk pair budget) and for any column
   type; oversize rows, char budget and pair-volume budget each force the
   distributed plan.
"""

import pytest

from fuzzy_matching_spark.config import (
    FuzzyAlgorithm,
    MatchConfig,
    MatchFieldConfig,
    TransliterationConfig,
)
from fuzzy_matching_spark.fixtures.persons import generate_person_pair
from fuzzy_matching_spark.operators import greedy_match
from fuzzy_matching_spark.operators.greedy_match import SparkMatcher
from fuzzy_matching_spark.operators.local_match import LocalBatchedMatcher, pair_volume
from fuzzy_matching_spark.oracle.matcher import OracleMatcher

FIELDS = [
    MatchFieldConfig("Фамилия", 0.4),
    MatchFieldConfig("Имя", 0.3),
    MatchFieldConfig("Отчество", 0.2),
    MatchFieldConfig("email", 0.1),
]


def cfg(**kw):
    base = dict(
        fields=FIELDS,
        threshold=0.7,
        block_field="Фамилия",
        sort_before_match=True,
        fuzzy_algorithm=FuzzyAlgorithm.RATIO,
    )
    base.update(kw)
    return MatchConfig(**base)


def _spark_df(spark, records):
    cols = list(records[0].keys())
    return spark.createDataFrame(
        [tuple(r.get(c, "") for c in cols) for r in records],
        schema=", ".join(f"`{c}` string" for c in cols),
    )


# ---------------------------------------------------------------------------
# fence 1: LocalBatchedMatcher == OracleMatcher
# ---------------------------------------------------------------------------


TRANSLIT_KW = dict(
    fields=[
        MatchFieldConfig("Фамилия", 0.4, transliterate=True),
        MatchFieldConfig("Имя", 0.3, transliterate=True),
        MatchFieldConfig("Отчество", 0.2, transliterate=True),
        MatchFieldConfig("email", 0.1),
    ],
    transliteration=TransliterationConfig(enabled=True, standard="Passport"),
)


@pytest.mark.parametrize(
    "config_kw,n",
    [
        ({}, 300),
        ({"fuzzy_algorithm": FuzzyAlgorithm.TOKEN_SORT}, 300),
        ({"fuzzy_algorithm": FuzzyAlgorithm.PARTIAL_RATIO}, 200),
        ({"fuzzy_algorithm": FuzzyAlgorithm.TOKEN_SET}, 200),
        ({"fuzzy_algorithm": FuzzyAlgorithm.WRatio}, 200),
        (TRANSLIT_KW, 150),
        ({"sort_before_match": False}, 200),
        ({"block_field": None}, 80),
        ({"threshold": 0.9}, 200),
    ],
    ids=[
        "ratio",
        "token_sort",
        "partial_ratio",
        "token_set",
        "wratio",
        "translit",
        "nosort",
        "noblock",
        "thr09",
    ],
)
def test_local_equals_oracle(config_kw, n):
    config = cfg(**config_kw)
    orig, var = generate_person_pair(n, seed=42)
    o_m, o_c = OracleMatcher(config).match_and_consolidate(orig, var)
    l_m, l_c = LocalBatchedMatcher(config).match_and_consolidate(orig, var)
    # EXACT similarity equality — config_score_matrix is float-identical to
    # the scalar kernel, and the argmax replays the same tie rule
    assert [
        (m["Оригинал"]["id"], m["Вариант"]["id"], m["Схожесть"]) for m in o_m
    ] == [(m["Оригинал"]["id"], m["Вариант"]["id"], m["Схожесть"]) for m in l_m]
    assert [r["id"] for r in o_c] == [r["id"] for r in l_c]


def test_local_equals_oracle_on_ties():
    """All-equal scores within a block: first-max-wins + exclusivity order."""
    orig = [{"id": f"a{i}", "k": "X", "v": "same"} for i in range(6)]
    var = [{"id": f"b{i}", "k": "X", "v": "same"} for i in range(6)]
    config = MatchConfig(
        fields=[MatchFieldConfig("v", 1.0)],
        threshold=0.5,
        block_field="k",
        sort_before_match=False,
        fuzzy_algorithm=FuzzyAlgorithm.RATIO,
    )
    o_m, o_c = OracleMatcher(config).match_and_consolidate(orig, var)
    l_m, l_c = LocalBatchedMatcher(config).match_and_consolidate(orig, var)
    assert [(m["Оригинал"]["id"], m["Вариант"]["id"]) for m in o_m] == [
        (m["Оригинал"]["id"], m["Вариант"]["id"]) for m in l_m
    ]
    assert [r["id"] for r in o_c] == [r["id"] for r in l_c]


# ---------------------------------------------------------------------------
# fence 2: SparkMatcher driver path == distributed path
# ---------------------------------------------------------------------------


def _run(spark, matcher, orig, var):
    m_df, c_df = matcher.match_and_consolidate(
        _spark_df(spark, orig), _spark_df(spark, var)
    )
    matches = sorted(
        (r["Оригинал"]["id"], r["Вариант"]["id"], round(r["Схожесть"], 9))
        for r in m_df.collect()
    )
    cons = sorted(r["id"] for r in c_df.collect())
    return matches, cons, m_df


@pytest.mark.parametrize(
    "algo", [FuzzyAlgorithm.RATIO, FuzzyAlgorithm.TOKEN_SORT], ids=["ratio", "token_sort"]
)
def test_driver_path_equals_distributed(spark, monkeypatch, algo):
    orig, var = generate_person_pair(150, seed=42)
    config = cfg(fuzzy_algorithm=algo)

    local = SparkMatcher(config)
    lm, lc, lm_df = _run(spark, local, orig, var)
    assert local.last_strategy == "driver"

    monkeypatch.setattr(greedy_match, "DRIVER_MAX_ROWS", 0)
    dist = SparkMatcher(config)
    dm, dc, dm_df = _run(spark, dist, orig, var)
    assert dist.last_strategy == "distributed"
    dist.unpersist()

    assert lm == dm and len(lm) > 0
    assert lc == dc
    # same output schema (column names + top-level types)
    assert [f.name for f in lm_df.schema.fields] == [
        f.name for f in dm_df.schema.fields
    ]
    assert [f.name for f in lm_df.schema["Оригинал"].dataType.fields] == [
        f.name for f in dm_df.schema["Оригинал"].dataType.fields
    ]


def test_driver_path_empty_right(spark):
    orig, _ = generate_person_pair(20, seed=1)
    config = cfg()
    matcher = SparkMatcher(config)
    m_df, c_df = matcher.match_and_consolidate(
        _spark_df(spark, orig), _spark_df(spark, orig).limit(0)
    )
    assert matcher.last_strategy == "driver"
    assert m_df.count() == 0
    assert c_df.count() == len(orig)


# ---------------------------------------------------------------------------
# fence 3: the dispatch gate
# ---------------------------------------------------------------------------


def test_gate_every_scorer_goes_driver(spark):
    """All five scorers are local-eligible (config_score_matrix covers
    them), so a small input dispatches to the driver for each."""
    orig, var = generate_person_pair(40, seed=5)
    for algo in FuzzyAlgorithm:
        matcher = SparkMatcher(cfg(fuzzy_algorithm=algo))
        matcher.match_and_consolidate(_spark_df(spark, orig), _spark_df(spark, var))
        assert matcher.last_strategy == "driver", algo


def test_gate_translit_pair_budget_shrinks_64x(spark, monkeypatch):
    """Transliterate-enabled configs score scalar per unique pair, so the
    gate divides their pair budget by 64: a volume that fits the batched
    budget forces the distributed plan once transliteration is on."""
    orig, var = generate_person_pair(60, seed=5)
    vol = pair_volume(orig, var, cfg())
    assert vol > 0
    budget = vol * 32  # fits plain (vol <= budget), not translit (vol > budget/64)
    monkeypatch.setattr(greedy_match, "DRIVER_PAIR_BUDGET", budget)
    plain = SparkMatcher(cfg())
    plain.match_and_consolidate(_spark_df(spark, orig), _spark_df(spark, var))
    assert plain.last_strategy == "driver"

    translit = SparkMatcher(cfg(**TRANSLIT_KW))
    translit.match_and_consolidate(_spark_df(spark, orig), _spark_df(spark, var))
    assert translit.last_strategy == "distributed"
    translit.unpersist()


def test_gate_oversize_goes_distributed(spark, monkeypatch):
    monkeypatch.setattr(greedy_match, "DRIVER_MAX_ROWS", 50)
    orig, var = generate_person_pair(60, seed=5)
    matcher = SparkMatcher(cfg())
    matcher.match_and_consolidate(_spark_df(spark, orig), _spark_df(spark, var))
    assert matcher.last_strategy == "distributed"
    matcher.unpersist()


def test_gate_char_budget_goes_distributed(spark, monkeypatch):
    monkeypatch.setattr(greedy_match, "DRIVER_CHAR_BUDGET", 100)
    orig, var = generate_person_pair(60, seed=5)
    matcher = SparkMatcher(cfg())
    matcher.match_and_consolidate(_spark_df(spark, orig), _spark_df(spark, var))
    assert matcher.last_strategy == "distributed"
    matcher.unpersist()


def test_gate_pair_budget_goes_distributed(spark, monkeypatch):
    monkeypatch.setattr(greedy_match, "DRIVER_PAIR_BUDGET", 10)
    orig, var = generate_person_pair(60, seed=5)
    matcher = SparkMatcher(cfg())
    matcher.match_and_consolidate(_spark_df(spark, orig), _spark_df(spark, var))
    assert matcher.last_strategy == "distributed"
    matcher.unpersist()


def test_long_column_takes_driver_path(spark, monkeypatch):
    """Non-string columns go through the same string coercion on both
    paths, so a ``long`` id no longer refuses the driver: same matches
    with the same similarities, same consolidated multiset."""
    from collections import Counter

    schema = "doc_id long, name string"
    left = [(1, "ann"), (2, "bob"), (3, "carl"), (4, None)]
    right = [(13, "anna"), (14, "rob"), (15, "karl"), (16, "bob")]
    config = MatchConfig(
        fields=[MatchFieldConfig("name", 1.0)],
        threshold=0.5,
        block_field=None,
        sort_before_match=True,
        sort_field="doc_id",
        fuzzy_algorithm=FuzzyAlgorithm.RATIO,
    )

    def run(matcher):
        m_df, c_df = matcher.match_and_consolidate(
            spark.createDataFrame(left, schema), spark.createDataFrame(right, schema)
        )
        matches = sorted(
            (r["Оригинал"]["doc_id"], r["Вариант"]["doc_id"], r["Схожесть"])
            for r in m_df.collect()
        )
        return matches, Counter(tuple(r) for r in c_df.collect())

    local = SparkMatcher(config)
    driver = run(local)
    assert local.last_strategy == "driver"

    monkeypatch.setattr(greedy_match, "DRIVER_MAX_ROWS", 0)
    dist = SparkMatcher(config)
    distributed = run(dist)
    assert dist.last_strategy == "distributed"
    dist.unpersist()

    assert driver == distributed
    assert len(driver[0]) > 0


def test_pair_volume_counts_block_intersection():
    orig = [{"k": "A", "v": "x"}] * 3 + [{"k": "B", "v": "y"}] * 2
    var = [{"k": "A", "v": "x"}] * 4 + [{"k": "C", "v": "z"}] * 5
    config = MatchConfig(
        fields=[MatchFieldConfig("v", 1.0)],
        threshold=0.5,
        block_field="k",
        fuzzy_algorithm=FuzzyAlgorithm.RATIO,
    )
    assert pair_volume(orig, var, config) == 12  # only the common 'A' block
    config_nb = MatchConfig(
        fields=[MatchFieldConfig("v", 1.0)],
        threshold=0.5,
        block_field=None,
        fuzzy_algorithm=FuzzyAlgorithm.RATIO,
    )
    assert pair_volume(orig, var, config_nb) == 45

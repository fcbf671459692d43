"""Spark matcher vs oracle parity (SURVEY.md §5.2.2).

The distributed matcher must reproduce the reference semantics *exactly* on
the person fixtures: same match pairs, same similarities, same consolidated
multiset.  Scoring is shared kernel code, so this exercises orchestration:
blocking, cogroup intersection, per-block order, greedy exclusivity,
cleanliness winner pick and anti-join re-entry.
"""

import pytest

from fuzzy_matching_spark.config import (
    FuzzyAlgorithm,
    MatchConfig,
    MatchFieldConfig,
    TransliterationConfig,
)
from fuzzy_matching_spark.fixtures.persons import generate_person_pair
from fuzzy_matching_spark.operators.greedy_match import SparkMatcher
from fuzzy_matching_spark.oracle.matcher import OracleMatcher

FIELDS = [
    MatchFieldConfig("Фамилия", 0.4),
    MatchFieldConfig("Имя", 0.3),
    MatchFieldConfig("Отчество", 0.2),
    MatchFieldConfig("email", 0.1),
]


def base_config(**kw):
    base = dict(
        fields=FIELDS,
        threshold=0.7,
        block_field="Фамилия",
        sort_before_match=True,
        fuzzy_algorithm=FuzzyAlgorithm.RATIO,
    )
    base.update(kw)
    return MatchConfig(**base)


def spark_df(spark, records):
    cols = list(records[0].keys())
    return spark.createDataFrame(
        [tuple(r.get(c, "") for c in cols) for r in records],
        schema=", ".join(f"`{c}` string" for c in cols),
    )


def match_key(rec_pair):
    return (rec_pair[0]["id"], rec_pair[1]["id"])


def run_both(spark, config, n=150, seed=42):
    originals, variants = generate_person_pair(n, seed=seed)
    o_matches, o_cons = OracleMatcher(config).match_and_consolidate(originals, variants)

    df1 = spark_df(spark, originals)
    df2 = spark_df(spark, variants)
    # driver_match_max_rows=0: this suite's purpose is the DISTRIBUTED
    # plan vs the oracle; without the pin, small simple configs would
    # silently dispatch to the driver-local path (tests/test_local_match.py
    # covers that path and the dispatch gate)
    matcher = SparkMatcher(config, driver_match_max_rows=0)
    s_matches_df, s_cons_df = matcher.match_and_consolidate(df1, df2)
    assert matcher.last_strategy == "distributed"
    s_matches = [
        (r["Оригинал"].asDict(), r["Вариант"].asDict(), r["Схожесть"])
        for r in s_matches_df.collect()
    ]
    s_cons = [r.asDict() for r in s_cons_df.collect()]
    return (o_matches, o_cons), (s_matches, s_cons)


@pytest.mark.parametrize(
    "config_kw",
    [
        {},  # flagship: blocked + sorted + RATIO
        {"fuzzy_algorithm": FuzzyAlgorithm.TOKEN_SORT},
        {"fuzzy_algorithm": FuzzyAlgorithm.PARTIAL_RATIO},
        {"fuzzy_algorithm": FuzzyAlgorithm.WRatio},
        {"threshold": 0.9},
        {"sort_before_match": False},
        {"block_field": None},  # single ALL block
        {
            "fields": [
                MatchFieldConfig("Фамилия", 0.4, transliterate=True),
                MatchFieldConfig("Имя", 0.3, transliterate=True),
                MatchFieldConfig("Отчество", 0.2, transliterate=True),
                MatchFieldConfig("email", 0.1),
            ],
            "transliteration": TransliterationConfig(enabled=True, standard="Passport"),
        },
    ],
    ids=["flagship", "token_sort", "partial", "wratio", "thr09", "nosort", "noblock", "translit"],
)
def test_spark_matches_oracle(spark, config_kw):
    config = base_config(**config_kw)
    n = 60 if config_kw.get("block_field", "x") is None else 150
    (o_matches, o_cons), (s_matches, s_cons) = run_both(spark, config, n=n)

    o_pairs = sorted(
        (m["Оригинал"]["id"], m["Вариант"]["id"], round(m["Схожесть"], 9)) for m in o_matches
    )
    s_pairs = sorted((m[0]["id"], m[1]["id"], round(m[2], 9)) for m in s_matches)
    assert s_pairs == o_pairs

    o_ids = sorted(r["id"] for r in o_cons)
    s_ids = sorted(r["id"] for r in s_cons)
    assert s_ids == o_ids


def test_per_field_algorithm_override(spark):
    config = base_config(
        fields=[
            MatchFieldConfig("Фамилия", 0.4, fuzzy_algorithm=FuzzyAlgorithm.TOKEN_SET),
            MatchFieldConfig("Имя", 0.3),
            MatchFieldConfig("Отчество", 0.2, fuzzy_algorithm=FuzzyAlgorithm.PARTIAL_RATIO),
            MatchFieldConfig("email", 0.1, fuzzy_algorithm=FuzzyAlgorithm.RATIO),
        ],
        fuzzy_algorithm=FuzzyAlgorithm.TOKEN_SORT,
    )
    (o_matches, _), (s_matches, _) = run_both(spark, config, n=100)
    o_pairs = sorted(
        (m["Оригинал"]["id"], m["Вариант"]["id"], round(m["Схожесть"], 9)) for m in o_matches
    )
    s_pairs = sorted((m[0]["id"], m[1]["id"], round(m[2], 9)) for m in s_matches)
    assert s_pairs == o_pairs
    assert len(s_pairs) > 0


def test_parallelism_invariance(spark):
    """local[8] session at two shuffle-partition settings -> identical output
    (stand-in for the N vs 4N determinism requirement at test scale)."""
    config = base_config()
    originals, variants = generate_person_pair(120, seed=7)
    df1 = spark_df(spark, originals)
    df2 = spark_df(spark, variants)

    results = []
    for parts in ("2", "16"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        m, c = SparkMatcher(config, driver_match_max_rows=0).match_and_consolidate(df1, df2)
        results.append(
            (
                sorted((r["Оригинал"]["id"], r["Вариант"]["id"], round(r["Схожесть"], 9)) for r in m.collect()),
                sorted(r["id"] for r in c.collect()),
            )
        )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert results[0] == results[1]


def _local_vs_distributed(spark, config, originals, variants):
    """(matches, consolidated multiset) from LocalBatchedMatcher and from
    the distributed plan on the same records.  NULLs are fed to Spark as
    NULLs and to the local matcher as "" — the coercion both plans apply."""
    from collections import Counter

    from fuzzy_matching_spark.operators.local_match import LocalBatchedMatcher

    def coerce(rows):
        return [{k: ("" if v is None else v) for k, v in r.items()} for r in rows]

    def record_key(rec):
        return tuple(sorted(rec.items()))

    l_matches, l_cons = LocalBatchedMatcher(config).match_and_consolidate(
        coerce(originals), coerce(variants)
    )
    local = (
        sorted((m["Оригинал"]["id"], m["Вариант"]["id"], m["Схожесть"]) for m in l_matches),
        Counter(record_key(r) for r in l_cons),
    )
    matcher = SparkMatcher(config, driver_match_max_rows=0)
    m_df, c_df = matcher.match_and_consolidate(
        spark_df(spark, originals), spark_df(spark, variants)
    )
    assert matcher.last_strategy == "distributed"
    dist = (
        sorted((r["Оригинал"]["id"], r["Вариант"]["id"], r["Схожесть"]) for r in m_df.collect()),
        Counter(record_key(r.asDict()) for r in c_df.collect()),
    )
    matcher.unpersist()
    return local, dist


def _block_sizes(records, config):
    return [len(b) for b in OracleMatcher(config)._blocks(records).values()]


def _drop_block(originals, variants):
    """A block key on the left only and another on the right only."""
    first = lambda r: r["Фамилия"][:1].upper()  # noqa: E731
    only_left, only_right = sorted({first(r) for r in originals})[:2]
    return (
        [r for r in originals if first(r) != only_right],
        [r for r in variants if first(r) != only_left],
    )


def _blank_block_values(originals, variants):
    """Empty and NULL block values: no block, but unmatched re-entry."""
    for i, r in enumerate(originals[:20]):
        r["Фамилия"] = None if i % 2 else ""
    for i, r in enumerate(variants[10:30]):
        r["Фамилия"] = "" if i % 2 else None
    return originals, variants


_TRANSLIT = dict(
    fields=[
        MatchFieldConfig("Фамилия", 0.4, transliterate=True),
        MatchFieldConfig("Имя", 0.3),
        MatchFieldConfig("Отчество", 0.2, fuzzy_algorithm=FuzzyAlgorithm.PARTIAL_RATIO),
        MatchFieldConfig("email", 0.1),
    ],
    transliteration=TransliterationConfig(enabled=True, standard="Passport"),
)


@pytest.mark.parametrize(
    "sizes,seed,config_kw,tile,edit",
    [
        # crosses rebalance_min_rows; the largest blocks span two tiles a side
        ((1600, 1600), 11, {}, None, None),
        # many ragged tiles per block: ranks stay block-global across tiles
        ((300, 300), 5, {"fuzzy_algorithm": FuzzyAlgorithm.WRatio}, 16, None),
        ((120, 900), 13, {}, None, None),
        ((200, 200), 3, {}, None, _drop_block),
        ((200, 200), 4, {}, None, _blank_block_values),
        ((300, 300), 8, {"group_fields": ["Пол"]}, None, None),
        ((150, 150), 9, _TRANSLIT, None, None),
    ],
    ids=["multi_tile", "small_tiles", "lopsided", "one_sided_keys", "blank_keys",
         "group_fields", "translit"],
)
def test_tiled_scoring_matches_local(spark, monkeypatch, sizes, seed, config_kw, tile, edit):
    """Distributed tiled scoring == LocalBatchedMatcher: same matches with
    the same similarities, same consolidated multiset."""
    from fuzzy_matching_spark.operators import greedy_match

    if tile is not None:
        monkeypatch.setattr(greedy_match, "TILE", tile)
    config = base_config(**config_kw)
    originals, _ = generate_person_pair(sizes[0], seed=seed)
    _, variants = generate_person_pair(sizes[1], seed=seed)
    if edit is not None:
        originals, variants = edit(originals, variants)
    if sizes[0] > 1000 or tile is not None:
        # the case only tests what it claims if blocks span several tiles
        assert max(_block_sizes(originals, config)) > greedy_match.TILE
        assert max(_block_sizes(variants, config)) > greedy_match.TILE
    local, dist = _local_vs_distributed(spark, config, originals, variants)
    assert dist == local
    assert len(local[0]) > 0

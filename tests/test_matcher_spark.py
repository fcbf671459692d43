"""Spark matcher vs oracle parity (SURVEY.md §5.2.2).

The distributed matcher must reproduce the reference semantics *exactly* on
the person fixtures: same match pairs, same similarities, same consolidated
multiset.  Scoring is shared kernel code, so this exercises orchestration:
blocking, cogroup intersection, per-block order, greedy exclusivity,
cleanliness winner pick and unmatched re-entry.
"""

import re
from collections import Counter

import pytest

from fuzzy_matching_spark.config import (
    FuzzyAlgorithm,
    MatchConfig,
    MatchFieldConfig,
    TransliterationConfig,
)
from fuzzy_matching_spark.fixtures.persons import generate_person_pair
from fuzzy_matching_spark.operators import greedy_match
from fuzzy_matching_spark.operators.greedy_match import SparkMatcher, minhash_candidates
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


@pytest.fixture
def distributed(monkeypatch):
    """Turn the driver-local gate off: without it, small simple configs
    would dispatch to the driver-local path (tests/test_local_match.py
    covers that path and the dispatch gate)."""
    monkeypatch.setattr(greedy_match, "DRIVER_MAX_ROWS", 0)


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
    # callers turn the gate off (the `distributed` fixture): this suite's
    # purpose is the DISTRIBUTED plan vs the oracle
    matcher = SparkMatcher(config)
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
def test_spark_matches_oracle(spark, distributed, config_kw):
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


def test_per_field_algorithm_override(spark, distributed):
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


def test_parallelism_invariance(spark, distributed):
    """local[8] session at two shuffle-partition settings -> identical output
    (stand-in for the N vs 4N determinism requirement at test scale)."""
    config = base_config()
    originals, variants = generate_person_pair(120, seed=7)
    df1 = spark_df(spark, originals)
    df2 = spark_df(spark, variants)

    results = []
    for parts in ("2", "16"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        m, c = SparkMatcher(config).match_and_consolidate(df1, df2)
        results.append(
            (
                sorted((r["Оригинал"]["id"], r["Вариант"]["id"], round(r["Схожесть"], 9)) for r in m.collect()),
                sorted(r["id"] for r in c.collect()),
            )
        )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert results[0] == results[1]


def _record_key(rec):
    return tuple(sorted(rec.items()))


def _local_vs_distributed(spark, config, originals, variants):
    """(matches, consolidated multiset) from LocalBatchedMatcher and from
    the distributed plan on the same records.  NULLs are fed to Spark as
    NULLs and to the local matcher as "" — the coercion both plans apply."""
    from fuzzy_matching_spark.operators.local_match import LocalBatchedMatcher

    def coerce(rows):
        return [{k: ("" if v is None else v) for k, v in r.items()} for r in rows]

    l_matches, l_cons = LocalBatchedMatcher(config).match_and_consolidate(
        coerce(originals), coerce(variants)
    )
    local = (
        sorted((m["Оригинал"]["id"], m["Вариант"]["id"], m["Схожесть"]) for m in l_matches),
        Counter(_record_key(r) for r in l_cons),
    )
    matcher = SparkMatcher(config)
    m_df, c_df = matcher.match_and_consolidate(
        spark_df(spark, originals), spark_df(spark, variants)
    )
    assert matcher.last_strategy == "distributed"
    dist = (
        sorted((r["Оригинал"]["id"], r["Вариант"]["id"], r["Схожесть"]) for r in m_df.collect()),
        Counter(_record_key(r.asDict()) for r in c_df.collect()),
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
        # the largest blocks span two tiles a side
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
def test_tiled_scoring_matches_local(
    spark, monkeypatch, distributed, sizes, seed, config_kw, tile, edit
):
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


def test_blocked_plan_is_one_python_stage(spark, distributed):
    """The blocked plan scores and assigns each block in one cogroup call:
    its executed plan holds exactly one Python operator.  Each side reaches
    it through one fixed-count block-key exchange that AQE does not
    coalesce (a coalesced cogroup scores every block in one task)."""
    originals, variants = generate_person_pair(200, seed=23)
    matcher = SparkMatcher(base_config())
    pairs, _, _ = matcher.match_pairs(
        spark_df(spark, originals), spark_df(spark, variants)
    )
    assert pairs.collect()
    # the final adaptive plan, without the initial plan AQE also prints
    plan = pairs._jdf.queryExecution().executedPlan().executedPlan().toString()
    matcher.unpersist()
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    for op in ("MapInPandas", "FlatMapGroupsInPandas", "EvalPython"):
        assert op not in plan
    par = 2 * spark.sparkContext.defaultParallelism
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    assert [(kind, args.split(", ")[-1]) for kind, args in exchanges] == [
        ("hashpartitioning", str(par))
    ] * 2
    assert "AQEShuffleRead" not in plan


@pytest.mark.parametrize("gate", ["driver", "distributed"])
def test_matcher_jobs_carry_phase_tags(spark, monkeypatch, gate):
    """The jobs SparkMatcher issues itself are described ``matcher.probe``
    (the driver gate's collect) and ``matcher.pin`` (the input pin count);
    the caller's description is restored afterwards."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty()
        listed = jsc.statusStore().jobsList(None)
        return [listed.apply(i) for i in range(listed.size())]

    if gate == "distributed":
        monkeypatch.setattr(greedy_match, "DRIVER_MAX_ROWS", 0)
    originals, variants = generate_person_pair(100, seed=29)
    df1, df2 = spark_df(spark, originals), spark_df(spark, variants)
    df1.count()  # so the status store lists at least one earlier job
    last = max(job.jobId() for job in jobs())
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        matcher = SparkMatcher(base_config())
        matcher.match_and_consolidate(df1, df2)
        assert matcher.last_strategy == gate
        assert sc.getLocalProperty("spark.job.description") == "caller"
        expected = {"matcher.probe"} if gate == "driver" else {"matcher.pin"}
        described = [job.description() for job in jobs() if job.jobId() > last]
        assert {d.get() if d.isDefined() else None for d in described} == expected
        matcher.unpersist()
    finally:
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("mode", ["blocked", "lsh", "driver"])
def test_unpersist_releases_every_cached_frame(spark, monkeypatch, mode):
    """The distributed plan always pins its prepared inputs (the
    ``_fm_seq`` determinism guard) and caches the greedy pair table; once
    both outputs are consumed, ``unpersist`` must leave no cached Dataset
    and no persisted RDD behind.  The driver path caches nothing."""
    jsc = spark.sparkContext._jsc
    # start from an empty cache so only this matcher's persists are counted
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    originals, variants = generate_person_pair(300, seed=21)
    kw = {"candidates": minhash_candidates()} if mode == "lsh" else {}
    if mode == "blocked":
        monkeypatch.setattr(greedy_match, "DRIVER_MAX_ROWS", 0)
    matcher = SparkMatcher(base_config())
    matches, consolidated = matcher.match_and_consolidate(
        spark_df(spark, originals), spark_df(spark, variants), **kw
    )
    assert matcher.last_strategy == ("driver" if mode == "driver" else "distributed")
    assert matches.collect()
    assert consolidated.collect()
    if mode != "driver":
        assert not cache_manager.isEmpty()
        matcher.unpersist(blocking=True)
    assert cache_manager.isEmpty()
    assert len(jsc.getPersistentRDDs()) == 0


def _plan_nodes(node) -> list[str]:
    """Operator names of an executed plan, through its query stages but not
    into the plans behind cached relations."""
    names = [node.nodeName()]
    children = node.children()
    for i in range(children.size()):
        names += _plan_nodes(children.apply(i))
    if "QueryStage" in names[0]:
        names += _plan_nodes(node.plan())
    return names


def test_lsh_component_join_reads_cached_edges(spark):
    """Candidate mode scores each candidate pair once: the scored edges are
    cached, so the component join feeding the greedy reads them from memory
    instead of re-running candidates, joins and the Python scorer."""
    originals, variants = generate_person_pair(300, seed=21)
    matcher = SparkMatcher(base_config())
    pairs, _, _ = matcher.match_pairs(
        spark_df(spark, originals), spark_df(spark, variants),
        candidates=minhash_candidates(),
    )
    assert pairs.collect()
    nodes = _plan_nodes(pairs._jdf.queryExecution().executedPlan().executedPlan())
    matcher.unpersist()
    assert "InMemoryTableScan" in nodes
    assert "ArrowEvalPython" not in nodes


def _outputs(matches, consolidated):
    """(sorted match triples of whole records, consolidated multiset)."""
    return (
        sorted(
            (_record_key(r["Оригинал"].asDict()), _record_key(r["Вариант"].asDict()), r["Схожесть"])
            for r in matches.collect()
        ),
        Counter(_record_key(r.asDict()) for r in consolidated.collect()),
    )


@pytest.mark.parametrize("empty", ["left", "right"])
def test_distributed_empty_side(spark, distributed, empty):
    """With one input empty, the one outer-joined frame holds only the other
    side's rows: no matches, and those rows are the consolidated output."""
    originals, variants = generate_person_pair(40, seed=31)
    df1, df2 = spark_df(spark, originals), spark_df(spark, variants)
    if empty == "left":
        df1, kept = df1.limit(0), variants
    else:
        df2, kept = df2.limit(0), originals
    matcher = SparkMatcher(base_config())
    matches, consolidated = matcher.match_and_consolidate(df1, df2)
    assert matcher.last_strategy == "distributed"
    got_matches, got_cons = _outputs(matches, consolidated)
    matcher.unpersist()
    assert got_matches == []
    assert got_cons == Counter(_record_key(r) for r in kept)


def test_user_columns_named_like_pair_columns(spark, monkeypatch):
    """Input columns named ``sim``, ``left_seq`` and ``right_seq`` pass
    through both paths as plain record fields, with the same results."""
    originals, variants = generate_person_pair(150, seed=37)
    for side, records in (("l", originals), ("r", variants)):
        for i, r in enumerate(records):
            r.update(sim=f"{side}{i % 7}", left_seq=str(i), right_seq=f"{side}{i}")
    config = base_config()
    results = []
    for gate in ("driver", "distributed"):
        if gate == "distributed":
            monkeypatch.setattr(greedy_match, "DRIVER_MAX_ROWS", 0)
        matcher = SparkMatcher(config)
        matches, consolidated = matcher.match_and_consolidate(
            spark_df(spark, originals), spark_df(spark, variants)
        )
        assert matcher.last_strategy == gate
        results.append(_outputs(matches, consolidated))
        matcher.unpersist()
    assert results[0] == results[1]
    assert len(results[0][0]) > 0


def test_consolidation_has_no_anti_join(spark, distributed):
    """Both outputs come from one outer-joined frame: the executed plan of
    ``consolidated`` holds a full outer join and no LEFT ANTI join."""
    originals, variants = generate_person_pair(100, seed=41)
    matcher = SparkMatcher(base_config())
    _, consolidated = matcher.match_and_consolidate(
        spark_df(spark, originals), spark_df(spark, variants)
    )
    assert consolidated.collect()
    plan = consolidated._jdf.queryExecution().executedPlan().executedPlan().toString()
    matcher.unpersist()
    assert "FullOuter" in plan
    assert "LeftAnti" not in plan


@pytest.mark.parametrize("mode", ["driver", "blocked", "lsh"])
def test_config_with_no_fields_equals_oracle(spark, monkeypatch, mode):
    """``api.match_datasets`` without a config matches on no fields: every
    path equals the oracle — no matches, every record consolidated."""
    originals, variants = generate_person_pair(20, seed=43)
    config = MatchConfig(fields=[])
    o_matches, o_cons = OracleMatcher(config).match_and_consolidate(originals, variants)
    assert o_matches == [] and len(o_cons) == len(originals) + len(variants)
    if mode != "driver":
        monkeypatch.setattr(greedy_match, "DRIVER_MAX_ROWS", 0)
    matcher = SparkMatcher(config)
    matches, consolidated = matcher.match_and_consolidate(
        spark_df(spark, originals),
        spark_df(spark, variants),
        candidates=minhash_candidates() if mode == "lsh" else None,
    )
    assert matcher.last_strategy == ("driver" if mode == "driver" else "distributed")
    got_matches, got_cons = _outputs(matches, consolidated)
    matcher.unpersist()
    assert got_matches == []
    assert got_cons == Counter(_record_key(r) for r in o_cons)

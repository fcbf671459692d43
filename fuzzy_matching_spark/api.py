"""Public API — parity surface with the reference's ``fuzzy_matching.api``
(``/root/reference/fuzzy_matching/api.py:55-373``), Spark-native types.

Signature-compatible entry points; datasets may be DataFrames, file paths
(csv/json by extension) or in-memory ``list[dict]`` (converted through the
same string-coercion load rules).  Results are DataFrames — call
``collect_matches`` for the reference's list-of-dicts shape.

Reference defect fixed rather than reproduced (SURVEY.md §7.5):
``generate_test_datasets`` in the reference raises ``NameError`` on
undefined ``gen_fields`` (``api.py:323,334``); ours works.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession

from fuzzy_matching_spark.config import (
    FuzzyAlgorithm,
    MatchConfig,
    MatchFieldConfig,
    TransliterationConfig,
)
from fuzzy_matching_spark.fixtures.persons import generate_person_pair
from fuzzy_matching_spark.io import readers, writers
from fuzzy_matching_spark.operators.greedy_match import SparkMatcher
from fuzzy_matching_spark.operators.transliterate import transliterate_dataset as _translit_op

__all__ = [
    "create_config",
    "create_matcher",
    "load_dataset",
    "match_datasets",
    "transliterate_dataset",
    "generate_test_datasets",
    "save_results",
    "collect_matches",
]


def create_config(
    fields: list[dict],
    threshold: float = 0.7,
    block_field: str | None = None,
    transliteration_enabled: bool = False,
    transliteration_standard: str = "Passport",
    fuzzy_algorithm: str | None = "TOKEN_SORT",
) -> MatchConfig:
    """Dict-list -> MatchConfig; unknown algorithm names warn and fall back
    (per-field -> main algorithm; main -> TOKEN_SORT), as in the reference."""
    match_fields = []
    for fd in fields:
        algorithm = None
        if "algorithm" in fd:
            try:
                algorithm = FuzzyAlgorithm[fd["algorithm"]]
            except KeyError:
                warnings.warn(
                    f"unknown algorithm '{fd['algorithm']}' for field "
                    f"'{fd['field']}'; using the main algorithm"
                )
        match_fields.append(
            MatchFieldConfig(
                field=fd["field"],
                weight=fd.get("weight", 1.0),
                transliterate=fd.get("transliterate", False),
                fuzzy_algorithm=algorithm,
            )
        )
    main_algorithm = None
    if fuzzy_algorithm:
        try:
            main_algorithm = FuzzyAlgorithm[fuzzy_algorithm]
        except KeyError:
            warnings.warn(
                f"unknown main algorithm '{fuzzy_algorithm}'; using TOKEN_SORT"
            )
            main_algorithm = FuzzyAlgorithm.TOKEN_SORT
    return MatchConfig(
        fields=match_fields,
        threshold=threshold,
        block_field=block_field,
        transliteration=TransliterationConfig(
            enabled=transliteration_enabled,
            standard=transliteration_standard,
            threshold=threshold,
        ),
        fuzzy_algorithm=main_algorithm or FuzzyAlgorithm.RATIO,
    )


def create_matcher(config: MatchConfig | None = None, **kwargs) -> SparkMatcher:
    if config is None:
        config = create_config(**kwargs) if kwargs else create_config(fields=[])
    return SparkMatcher(config)


def _as_df(spark: SparkSession, dataset, field_mapping=None) -> DataFrame:
    if isinstance(dataset, DataFrame):
        return dataset
    if isinstance(dataset, str):
        return load_dataset(spark, dataset, field_mapping=field_mapping)
    # list[dict]: all-string schema in first-record key order, missing -> ''
    cols = list(dataset[0].keys()) if dataset else []
    rows = [tuple(str(r.get(c, "")) for c in cols) for r in dataset]
    return spark.createDataFrame(rows, schema=", ".join(f"`{c}` string" for c in cols))


def load_dataset(
    spark: SparkSession,
    path: str,
    file_format: str | None = None,
    field_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Extension-sniffing reader dispatch (reference ``api.py:148-181``)."""
    fmt = file_format
    if fmt is None:
        lowered = path.lower()
        if lowered.endswith(".csv"):
            fmt = "csv"
        elif lowered.endswith(".json"):
            fmt = "json"
        elif lowered.endswith(".parquet") or "/" in lowered and lowered.endswith("/"):
            fmt = "parquet"
        else:
            raise ValueError(f"cannot infer format from path: {path}")
    if fmt == "csv":
        return readers.load_csv(spark, path, field_mapping)
    if fmt == "json":
        return readers.load_json(spark, path, field_mapping)
    if fmt == "parquet":
        return spark.read.parquet(path)
    raise ValueError(f"unsupported format: {fmt}")


def match_datasets(
    spark: SparkSession,
    dataset1,
    dataset2,
    config: MatchConfig | None = None,
    field_mapping: dict[str, str] | None = None,
    candidate_source: str = "block",
    **kwargs,
) -> tuple[DataFrame, DataFrame]:
    """-> (matches, consolidated) DataFrames (reference ``api.py:184-217``).

    ``candidate_source`` selects how candidate pairs are generated before
    the weighted-field scoring + greedy 1:1 assignment:

    * ``"block"`` (default) — the reference's first-char/field blocking.
    * ``"lsh"`` — MinHash/LSH band collisions over the concatenated match
      fields (:func:`~fuzzy_matching_spark.operators.greedy_match.minhash_candidates`);
      the corpus-scale path where explicit blocks would be too coarse.
    """
    candidates = None
    if candidate_source == "lsh":
        from fuzzy_matching_spark.operators.greedy_match import minhash_candidates

        candidates = minhash_candidates()
    elif candidate_source != "block":
        raise ValueError(
            f"unknown candidate_source {candidate_source!r}; expected 'block' or 'lsh'"
        )
    matcher = create_matcher(config, **kwargs)
    df1 = _as_df(spark, dataset1, field_mapping)
    df2 = _as_df(spark, dataset2, field_mapping)
    return matcher.match_and_consolidate(df1, df2, candidates=candidates)


def transliterate_dataset(
    spark: SparkSession,
    dataset,
    target_lang: str = "en",
    transliteration_standard: str = "Passport",
    fields: list[str] | None = None,
    field_mapping: dict[str, str] | None = None,
) -> DataFrame:
    df = _as_df(spark, dataset, field_mapping)
    config = MatchConfig(
        fields=[MatchFieldConfig(f, 1.0, transliterate=True) for f in (fields or df.columns)],
        transliteration=TransliterationConfig(enabled=True, standard=transliteration_standard),
    )
    return _translit_op(df, config, target_lang=target_lang, fields=fields)


def generate_test_datasets(
    spark: SparkSession,
    n: int = 100,
    language: str = "ru",
    seed: int = 42,
    probabilities: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic original/variant pair tables (fixes the reference's
    broken ``generate_test_datasets``)."""
    originals, variants = generate_person_pair(
        n, seed=seed, language=language, probabilities=probabilities
    )
    return _as_df(spark, originals), _as_df(spark, variants)


def save_results(
    matches: DataFrame | None,
    consolidated: DataFrame | None,
    matches_path: str | None = None,
    consolidated_path: str | None = None,
    file_format: str = "json",
    single_file: bool = False,
) -> None:
    if matches is not None and matches_path:
        if file_format == "csv":
            writers.save_matches_csv(matches, matches_path, single_file)
        else:
            writers.save_matches_json(matches, matches_path, single_file)
    if consolidated is not None and consolidated_path:
        if file_format == "csv":
            writers.save_consolidated_csv(consolidated, consolidated_path, single_file)
        else:
            writers.save_consolidated_json(consolidated, consolidated_path, single_file)


def collect_matches(matches: DataFrame) -> list[dict]:
    """Reference-shaped match triples (``data_matcher.py:676-680``)."""
    return [
        {
            "Оригинал": r["Оригинал"].asDict(),
            "Вариант": r["Вариант"].asDict(),
            "Схожесть": r["Схожесть"],
        }
        for r in matches.collect()
    ]

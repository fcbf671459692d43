"""io readers/writers, public API, transliterate op."""

import json

import pytest

from fuzzy_matching_spark import api
from fuzzy_matching_spark.config import FuzzyAlgorithm, MatchConfig, MatchFieldConfig, TransliterationConfig
from fuzzy_matching_spark.io import readers
from fuzzy_matching_spark.operators.transliterate import transliterate_dataset


# --- readers -----------------------------------------------------------------

def test_csv_rename_concat(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("first,last,age\n ivan , petrov ,33\n,smith,44\n")
    df = readers.load_csv(
        spark, str(p), {"first": "name", "last": "name", "age": "age"}
    )
    rows = [r.asDict() for r in df.collect()]
    # row 1: both parts -> space-joined; row 2: empty first replaced by second
    assert {"name": "ivan petrov", "age": "33"} in rows
    assert {"name": "smith", "age": "44"} in rows


def test_csv_missing_source_column(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a\nx\n")
    df = readers.load_csv(spark, str(p), {"a": "a", "nope": "b"})
    assert df.collect()[0].asDict() == {"a": "x", "b": ""}


def test_json_load(spark, tmp_path):
    p = tmp_path / "in.json"
    p.write_text(json.dumps([{"Имя": " Пётр ", "n": 5}], ensure_ascii=False))
    df = readers.load_json(spark, str(p), None)
    row = df.collect()[0].asDict()
    assert row["Имя"] == "Пётр"
    assert row["n"] == "5"  # string coercion


# --- api ---------------------------------------------------------------------

def test_create_config_algorithm_fallbacks():
    with pytest.warns(UserWarning):
        cfg = api.create_config(
            [{"field": "x", "weight": 0.5, "algorithm": "BOGUS"}],
            fuzzy_algorithm="TOKEN_SET",
        )
    assert cfg.fields[0].fuzzy_algorithm is None
    assert cfg.fuzzy_algorithm == FuzzyAlgorithm.TOKEN_SET
    with pytest.warns(UserWarning):
        cfg2 = api.create_config([{"field": "x"}], fuzzy_algorithm="NOPE")
    assert cfg2.fuzzy_algorithm == FuzzyAlgorithm.TOKEN_SORT


def test_match_datasets_lists_end_to_end(spark):
    cfg = api.create_config(
        [{"field": "name", "weight": 1.0}], threshold=0.7, fuzzy_algorithm="RATIO"
    )
    matches, consolidated = api.match_datasets(
        spark,
        [{"name": "ivan petrov"}, {"name": "zzz"}],
        [{"name": "ivan petrov"}],
        config=cfg,
    )
    got = api.collect_matches(matches)
    assert len(got) == 1
    assert got[0]["Схожесть"] == pytest.approx(1.0)
    assert consolidated.count() == 2


def test_generate_test_datasets_fixed(spark):
    d1, d2 = api.generate_test_datasets(spark, n=10, seed=1)
    assert d1.count() == d2.count() == 10
    assert "Фамилия" in d1.columns


def test_save_results_roundtrip(spark, tmp_path):
    cfg = api.create_config([{"field": "name", "weight": 1.0}], threshold=0.5)
    matches, consolidated = api.match_datasets(
        spark, [{"name": "anna"}], [{"name": "anna"}], config=cfg
    )
    mpath = str(tmp_path / "m")
    cpath = str(tmp_path / "c")
    api.save_results(matches, consolidated, mpath, cpath, file_format="csv", single_file=True)
    back = spark.read.option("header", True).csv(mpath)
    row = back.collect()[0]
    assert row["Схожесть"] == "1.00"
    assert "anna" in row["Оригинал"]


# --- transliterate op ----------------------------------------------------------

def test_transliterate_dataset_op(spark):
    cfg = MatchConfig(
        fields=[MatchFieldConfig("name", 1.0, transliterate=True)],
        transliteration=TransliterationConfig(enabled=True, standard="Passport"),
    )
    df = spark.createDataFrame(
        [("Щедрин",), ("Ivanov",), ("",)], schema="name string"
    )
    out = {r["name"] for r in transliterate_dataset(df, cfg, target_lang="en").collect()}
    assert "Shchedrin" in out   # capitalized because source was
    assert "Ivanov" in out      # already en -> untouched
    assert "" in out

    out_ru = {r["name"] for r in transliterate_dataset(df, cfg, target_lang="ru").collect()}
    assert "Щедрин" in out_ru
    assert "Иванов" in out_ru


def test_transliterate_disabled_noop(spark):
    cfg = MatchConfig(fields=[MatchFieldConfig("name", 1.0)])
    df = spark.createDataFrame([("Щедрин",)], schema="name string")
    assert transliterate_dataset(df, cfg).collect()[0]["name"] == "Щедрин"

"""Configs fail when they are built, and the session builder leaves a
spark-submit launcher's master, driver memory and UI alone.  No Spark session is started here."""

import pytest
from pyspark.sql import SparkSession

from fuzzy_matching_spark.config import DedupConfig, MatchConfig, MatchFieldConfig
from fuzzy_matching_spark.pipeline.session import build_session


@pytest.mark.parametrize(
    "kw",
    [
        {"verify_mode": "Always"},
        {"tokenize": "words"},
        {"anchor_hash": "MD5"},
        {"verify_threshold": 1.7},
        {"max_bucket_size": -1},
        {"num_perm": 0, "bands": 0, "rows_per_band": 0},
    ],
    ids=lambda kw: ",".join(f"{k}={v}" for k, v in kw.items()),
)
def test_dedup_config_rejects(kw):
    with pytest.raises(ValueError):
        DedupConfig(**kw)


@pytest.mark.parametrize(
    "kw",
    [
        {"threshold": 1.5},
        {"fields": [MatchFieldConfig("a", 0.5), MatchFieldConfig("b", -0.1)]},
    ],
    ids=["threshold=1.5", "negative_weight"],
)
def test_match_config_rejects(kw):
    with pytest.raises(ValueError):
        MatchConfig(**{"fields": [MatchFieldConfig("a", 1.0)], **kw})


def test_default_configs_build():
    DedupConfig()
    MatchConfig(fields=[MatchFieldConfig("a", 1.0)], threshold=0.0)
    MatchConfig(fields=[MatchFieldConfig("a", 0.0)], threshold=1.0)


@pytest.mark.parametrize("launcher", ["python", "spark-submit"])
def test_build_session_leaves_launcher_conf(monkeypatch, launcher):
    """In a plain process an unset master becomes ``local[...]``, the
    shuffle partitions 32, and the driver memory and UI are set; under
    spark-submit (``PYSPARK_GATEWAY_PORT`` set) all four are left to the
    launcher.  Explicit values are kept either way."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    if launcher == "spark-submit":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    else:
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    opts = build_session()
    defaults = ("local[3]", "32") if launcher == "python" else (None, None)
    assert (opts.get("spark.master"), opts.get("spark.sql.shuffle.partitions")) == defaults
    assert opts["spark.python.daemon.module"].endswith("worker_daemon")
    launcher_keys = ("spark.driver.memory", "spark.ui.enabled")
    if launcher == "python":
        assert [opts.get(k) for k in launcher_keys] == ["8g", "false"]
    else:
        assert not set(launcher_keys) & set(opts)
    opts = build_session(master="local[2]", shuffle_partitions=5)
    assert (opts["spark.master"], opts["spark.sql.shuffle.partitions"]) == ("local[2]", "5")

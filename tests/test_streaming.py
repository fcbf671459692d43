"""Structured Streaming dedup flows: batch-equivalence and incrementality.

The streaming operators must produce exactly what their batch twins produce
on the same input — the file source + availableNow trigger turns a static
directory into a finite stream, so every assertion here is deterministic.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from fuzzy_matching_spark.config import DedupConfig
from fuzzy_matching_spark.operators import minhash, textops
from fuzzy_matching_spark.streaming import (
    read_document_stream,
    stream_exact_dedup,
    stream_hash_counts,
    stream_lsh_candidates,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "pack my box with five dozen liquor jugs"),
    (3, "the quick brown fox jumps over a lazy dog"),  # near dup of 0
    (4, "sphinx of black quartz judge my vow"),
    (5, "pack my box with five dozen liquor jugs"),  # exact dup of 2
]


def _write_docs(spark, tmp_path, rows, n_files=1):
    path = str(tmp_path / f"docs-{uuid.uuid4().hex[:8]}")
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    df.repartition(n_files).write.parquet(path)
    return path


def _run_to_memory(stream_df, mode):
    name = "sink_" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


def test_stream_hash_counts_matches_batch(spark, tmp_path):
    path = _write_docs(spark, tmp_path, DOCS)
    stream = read_document_stream(spark, path)
    assert stream.isStreaming
    sink = _run_to_memory(stream_hash_counts(stream), mode="complete")
    got = spark.table(sink)
    # fold the histogram into the batch twin's (total, distinct, dup) stats
    stats = got.agg(
        F.sum("n_docs").alias("total_docs"),
        F.count("*").alias("distinct_docs"),
        (F.sum("n_docs") - F.count("*")).alias("dup_docs"),
    ).collect()[0]
    want = textops.exact_dedup_stats(
        spark.read.parquet(path), text_col="text"
    ).collect()[0]
    assert stats.asDict() == want.asDict() == {
        "total_docs": 6, "distinct_docs": 4, "dup_docs": 2,
    }


def test_stream_exact_dedup_first_occurrence(spark, tmp_path):
    rows = [(i, t, f"2026-01-01 00:0{i}:00") for i, t in DOCS]
    path = str(tmp_path / "ts-docs")
    spark.createDataFrame(
        rows, schema="doc_id long, text string, ts string"
    ).withColumn("event_time", F.col("ts").cast("timestamp")).drop("ts").coalesce(
        1
    ).write.parquet(path)
    stream = read_document_stream(spark, path)
    sink = _run_to_memory(
        stream_exact_dedup(stream, delay="30 minutes"), mode="append"
    )
    got = sorted(r["doc_id"] for r in spark.table(sink).collect())
    # one survivor per distinct text; within a micro-batch the earliest
    # arrival (here: lowest doc_id, since rows are in arrival order) wins
    assert len(got) == 4 and got[0] == 0


def test_stream_lsh_candidates_incremental(spark, tmp_path):
    """Two micro-batches: intra pairs inside each, cross pairs against the
    persisted index — together exactly the batch candidate set."""
    cfg = DedupConfig()
    path = _write_docs(spark, tmp_path, DOCS, n_files=3)
    stream = read_document_stream(spark, path, max_files_per_trigger=1)
    q = stream_lsh_candidates(
        stream,
        index_dir=str(tmp_path / "index"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=cfg,
        content_col="text",
    )
    q.awaitTermination()

    got = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    batch_docs = spark.read.parquet(path)
    sigs = minhash.minhash_signatures(batch_docs, cfg, content_col="text")
    want_pairs, _ = minhash.candidate_pairs(minhash.band_table(sigs), cfg)
    want = {
        tuple(sorted((r["id_a"], r["id_b"]))) for r in want_pairs.collect()
    }
    # incremental union == batch set; dup groups (0,1), (2,5) must be found
    assert got == want
    assert {(0, 1), (2, 5)} <= got

    # the index now carries every doc's bands (resumable/incremental state)
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.select("doc_id").distinct().count() == len(DOCS)

    # resuming on the same checkpoint with no new files is a no-op
    stream2 = read_document_stream(spark, path)
    q2 = stream_lsh_candidates(
        stream2,
        index_dir=str(tmp_path / "index"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=cfg,
        content_col="text",
    )
    q2.awaitTermination()
    again = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    assert again == want


def _load_dedup_job():
    """The spark-submit entry script, loaded as a module."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "dedup_job_entry",
        os.path.join(os.path.dirname(__file__), "..", "jobs", "dedup_job.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dedup_job_streaming_mode(spark, tmp_path, monkeypatch):
    """The spark-submit entry's --streaming flag drains a landing dir and
    leaves pairs + band index + checkpoint behind (rerunnable)."""
    import sys

    mod = _load_dedup_job()
    landing = _write_docs(spark, tmp_path, DOCS, n_files=2)
    out = str(tmp_path / "out")
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "dedup_job.py",
            "--input", landing,
            "--output", out,
            "--checkpoint-dir", str(tmp_path / "job-ckpt"),
            "--streaming",
            "--content-col", "text",
        ],
    )
    mod.main()
    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in spark.read.parquet(f"{out}/pairs_stream").collect()
    }
    assert {(0, 1), (2, 5)} <= pairs
    assert spark.read.parquet(f"{out}/band_index").count() > 0


@pytest.mark.parametrize(
    "flags,expected",
    [
        ([], DedupConfig()),
        (
            ["--num-perm", "128", "--bands", "32", "--rows-per-band", "4", "--seed", "7"],
            DedupConfig(num_perm=128, bands=32, rows_per_band=4, seed=7),
        ),
    ],
    ids=["defaults", "given"],
)
def test_dedup_job_config_defaults_are_dedupconfig(spark, tmp_path, monkeypatch, flags, expected):
    """A flag left out keeps DedupConfig's default; a given flag is passed on."""
    import sys

    mod = _load_dedup_job()
    built = []

    class Stop(Exception):
        pass

    def capture(spark, config, **kw):
        built.append(config)
        raise Stop

    monkeypatch.setattr(mod, "load_corpus", lambda *a, **kw: None)
    monkeypatch.setattr(mod, "DedupPipeline", capture)
    monkeypatch.setattr(
        sys,
        "argv",
        ["dedup_job.py", "--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"), *flags],
    )
    with pytest.raises(Stop):
        mod.main()
    assert built == [expected]


def test_dedup_job_mode_choices_are_the_config_table():
    """The job's --tokenize / --verify-mode / --anchor-hash choices are
    exactly DedupConfig's allowed values."""
    from fuzzy_matching_spark.config import DEDUP_MODES

    choices = {
        a.dest: tuple(a.choices)
        for a in _load_dedup_job().parser()._actions
        if a.dest in DEDUP_MODES
    }
    assert choices == DEDUP_MODES

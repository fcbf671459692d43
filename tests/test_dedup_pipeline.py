"""Dedup pipeline correctness: recall vs brute-force oracle, invariants,
per-mutation truth-table coverage, CC behavior, determinism.

The BASELINE metric is dup-pair recall >= 0.99 at identical shingle/signature
config: ground truth here is brute-force exact shingle Jaccard over all
pairs (the "oracle" for corpus dedup — same kernel, no LSH approximation).
"""

import hashlib
import itertools
import json
from dataclasses import asdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzy_matching_spark.config import DedupConfig
from fuzzy_matching_spark.fixtures.corpus import generate_corpus
from fuzzy_matching_spark.operators import connected_components as cc
from fuzzy_matching_spark.operators.connected_components import connected_components
from fuzzy_matching_spark.operators.minhash import shingle_hashes
from fuzzy_matching_spark.pipeline.dedup_job import DedupPipeline


@pytest.fixture(scope="module")
def fixture():
    return generate_corpus(n_base=120, seed=42)


@pytest.fixture(scope="module")
def corpus_df(spark, fixture):
    return spark.createDataFrame(fixture.rows)


def brute_force_dup_pairs(rows, config):
    """All-pairs exact Jaccard >= threshold (the dedup oracle)."""
    sh = [shingle_hashes(r["content"], config.shingle_size, config.tokenize) for r in rows]
    out = set()
    for i, j in itertools.combinations(range(len(rows)), 2):
        inter = np.intersect1d(sh[i], sh[j], assume_unique=True).size
        union = sh[i].size + sh[j].size - inter
        if union and inter / union >= config.verify_threshold:
            out.add((i, j))
    return out


def key(r):
    return (r["repo"], r["path"], r["commit"])


def test_minhash_recall_vs_bruteforce(spark, fixture, corpus_df):
    config = DedupConfig(verify_threshold=0.7)
    truth_pairs = brute_force_dup_pairs(fixture.rows, config)
    assert len(truth_pairs) > 50, "fixture must contain real dups"

    result = DedupPipeline(spark, config, detectors=("minhash",)).run(corpus_df)
    # map doc_id -> row index via natural key
    ids = {key(r): i for i, r in enumerate(fixture.rows)}
    id_rows = result.corpus.select("doc_id", "repo", "path", "commit").collect()
    docid_to_idx = {r["doc_id"]: ids[(r["repo"], r["path"], r["commit"])] for r in id_rows}

    comp = {r["doc_id"]: r["component"] for r in result.clusters.collect()}
    idx_comp = {docid_to_idx[d]: c for d, c in comp.items()}

    found = sum(1 for (i, j) in truth_pairs if idx_comp[i] == idx_comp[j])
    recall = found / len(truth_pairs)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99 ({found}/{len(truth_pairs)})"


def test_sha256_invariant_end_to_end(spark, corpus_df):
    """content_sha256 computed by the pipeline equals an independent
    python hashlib digest for every row (per-row invariant, BASELINE)."""
    import hashlib

    result = DedupPipeline(spark, DedupConfig(), detectors=()).run(corpus_df)
    rows = result.corpus.select("content", "content_sha256").collect()
    for r in rows[:200]:
        assert hashlib.sha256(r["content"].encode()).hexdigest() == r["content_sha256"]


def test_exact_copies_always_cluster(spark, fixture, corpus_df):
    result = DedupPipeline(spark, DedupConfig(), detectors=()).run(corpus_df)
    comp = {r["doc_id"]: r["component"] for r in result.clusters.collect()}
    docs = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in result.corpus.select("doc_id", "repo", "path", "commit").collect()
    }
    exact = [t for t in fixture.truth if t["mutation"] == "exact"]
    assert exact
    for t in exact:
        a = docs[(t["src_repo"], t["src_path"], t["src_commit"])]
        b = docs[(t["dst_repo"], t["dst_path"], t["dst_commit"])]
        assert comp[a] == comp[b], "sha-identical files must share a component"


def test_substring_detector_catches_suffix_variants(spark, fixture, corpus_df):
    config = DedupConfig()
    result = DedupPipeline(spark, config, detectors=("substring",)).run(corpus_df)
    comp = {r["doc_id"]: r["component"] for r in result.clusters.collect()}
    docs = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in result.corpus.select("doc_id", "repo", "path", "commit").collect()
    }
    suffix = [t for t in fixture.truth if t["mutation"] == "suffix"]
    assert suffix
    caught = sum(
        1
        for t in suffix
        if comp[docs[(t["src_repo"], t["src_path"], t["src_commit"])]]
        == comp[docs[(t["dst_repo"], t["dst_path"], t["dst_commit"])]]
    )
    assert caught / len(suffix) >= 0.99


def test_simhash_detector_catches_reformat(spark, fixture, corpus_df):
    config = DedupConfig(simhash_max_hamming=6)
    result = DedupPipeline(spark, config, detectors=("simhash",)).run(corpus_df)
    comp = {r["doc_id"]: r["component"] for r in result.clusters.collect()}
    docs = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in result.corpus.select("doc_id", "repo", "path", "commit").collect()
    }
    reformat = [t for t in fixture.truth if t["mutation"] == "reformat"]
    assert reformat
    caught = sum(
        1
        for t in reformat
        if comp[docs[(t["src_repo"], t["src_path"], t["src_commit"])]]
        == comp[docs[(t["dst_repo"], t["dst_path"], t["dst_commit"])]]
    )
    # reformat preserves the token stream -> simhash distance ~0
    assert caught / len(reformat) >= 0.95


def test_metrics_present(spark, corpus_df):
    result = DedupPipeline(spark, DedupConfig(), detectors=("minhash",)).run(corpus_df)
    m = {(r["stage"], r["metric"]): r["value"] for r in result.metrics.collect()}
    assert ("ingest", "docs") in m
    assert ("minhash", "candidate_pairs") in m
    assert ("minhash", "buckets_dropped") in m
    assert ("edges", "total_edges") in m


# threshold 0 forces the distributed hash-min loop; the default exercises
# the driver union-find fast path — both must produce min-id labels
@pytest.mark.parametrize("driver_threshold", [2_000_000, 0])
def test_connected_components_basic(spark, monkeypatch, driver_threshold):
    monkeypatch.setattr(cc, "DRIVER_MAX_EDGES", driver_threshold)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        schema="id_a long, id_b long",
    )
    labels = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10
    assert labels[20] == labels[21] == labels[22] == labels[23] == 20


@pytest.mark.parametrize("driver_threshold", [2_000_000, 0])
def test_connected_components_chain_convergence(spark, monkeypatch, driver_threshold):
    monkeypatch.setattr(cc, "DRIVER_MAX_EDGES", driver_threshold)
    # a 40-vertex path graph: worst case for hash-min diameter
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], schema="id_a long, id_b long"
    )
    labels = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert set(labels.values()) == {100}


def test_connected_components_paths_agree(spark, monkeypatch):
    """Driver union-find and the distributed loop must label identically."""
    import random

    rng = random.Random(9)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, schema="id_a long, id_b long")
    fast = sorted(map(tuple, connected_components(df).collect()))
    monkeypatch.setattr(cc, "DRIVER_MAX_EDGES", 0)
    dist = sorted(map(tuple, connected_components(df).collect()))
    assert fast == dist


def test_checkpoint_resume(spark, corpus_df, tmp_path):
    config = DedupConfig()
    ckpt = str(tmp_path / "ckpt")
    p1 = DedupPipeline(spark, config, detectors=("minhash",), checkpoint_dir=ckpt)
    r1 = p1.run(corpus_df)
    c1 = sorted((r["doc_id"], r["component"]) for r in r1.clusters.collect())

    p2 = DedupPipeline(spark, config, detectors=("minhash",), checkpoint_dir=ckpt)
    r2 = p2.run(corpus_df)
    c2 = sorted((r["doc_id"], r["component"]) for r in r2.clusters.collect())
    assert c1 == c2
    resumed = [m for m in p2._metrics if m[1] == "resumed_from_checkpoint"]
    assert resumed, "second run must resume from stage checkpoints"

    # A `minhash_sigs` checkpoint in the older `sig array<long>` layout,
    # keyed as that layout's code keyed it (no format tag), must not be
    # resumed into code that reads `s8`.
    legacy_key = hashlib.sha256(
        (json.dumps(asdict(config), sort_keys=True) + repr(["minhash"])).encode()
    ).hexdigest()[:16]
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(1, [7] * config.num_perm, [9] * config.bands, 500)],
        schema="doc_id long, sig array<long>, bands array<long>, n_shingles int",
    ).write.parquet(f"{legacy}/minhash_sigs_{legacy_key}")
    p3 = DedupPipeline(spark, config, detectors=("minhash",), checkpoint_dir=legacy)
    r3 = p3.run(corpus_df)
    assert sorted((r["doc_id"], r["component"]) for r in r3.clusters.collect()) == c1
    assert not [m for m in p3._metrics if m[1] == "resumed_from_checkpoint"]


@pytest.mark.parametrize("collect_metrics", [True, False])
@pytest.mark.parametrize("verify_mode", ["auto", "always"])
def test_run_releases_every_cached_frame(spark, corpus_df, tmp_path, verify_mode, collect_metrics):
    """After run(), both writes and unpersisting the handed-over edges, no
    cached Dataset and no persisted RDD is left: every persist the pipeline
    made is released."""
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    config = DedupConfig(verify_mode=verify_mode)
    result = DedupPipeline(
        spark, config, detectors=("minhash",), collect_metrics=collect_metrics
    ).run(corpus_df)
    result.clusters.write.parquet(str(tmp_path / "clusters"))
    result.edges.write.parquet(str(tmp_path / "edges"))
    assert not cache_manager.isEmpty()  # edges reach the caller cached
    result.edges.unpersist(blocking=True)
    assert cache_manager.isEmpty()
    assert len(jsc.getPersistentRDDs()) == 0


@pytest.mark.parametrize("driver_threshold", [2_000_000, 0])
def test_connected_components_tolerates_duplicate_edges(spark, monkeypatch, driver_threshold):
    """Callers skip the distinct shuffle; duplicate/reversed edges must not
    change labels on either path."""
    monkeypatch.setattr(cc, "DRIVER_MAX_EDGES", driver_threshold)
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (2, 3), (2, 3), (10, 11), (10, 11)],
        schema="id_a long, id_b long",
    )
    labels = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10

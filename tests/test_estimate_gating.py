"""Soundness of the estimate-based accept/drop fast path.

OPH densification makes sparse-signature estimates correlated: two docs
with true Jaccard ~1/3 can estimate near 1.0 (and true duplicates can
estimate below the drop line).  Sparse pairs must therefore always be
exactly verified — the fast accept/drop band is dense-signature-only."""

import numpy as np
from pyspark.sql import functions as F

from fuzzy_matching_spark.config import DedupConfig
from fuzzy_matching_spark.operators import minhash
from fuzzy_matching_spark.pipeline.dedup_job import DedupPipeline


def _sparse_pair_rows():
    """Two short docs with low true Jaccard that share their only LSH-relevant
    structure: a long exactly-shared prefix plus distinct tails, short enough
    that n_shingles << num_perm."""
    shared = "def f(x): return x  # common"
    a = shared + " AAAAAAAAAAAAAAAAAAAAAAAA"
    b = shared + " ZYXWVUTSRQPONMLKJIHGFEDC"
    return [
        {"repo": "r", "path": "a.py", "commit": "1" * 40, "lang": "py", "content": a},
        {"repo": "r", "path": "b.py", "commit": "2" * 40, "lang": "py", "content": b},
    ]


def _true_jaccard(a: str, b: str, config: DedupConfig) -> float:
    sa = minhash.shingle_hashes(a, config.shingle_size, config.tokenize)
    sb = minhash.shingle_hashes(b, config.shingle_size, config.tokenize)
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    return inter / (sa.size + sb.size - inter)


def test_sparse_pair_never_accepted_by_estimate(spark):
    config = DedupConfig(verify_threshold=0.7)
    rows = _sparse_pair_rows()
    true_j = _true_jaccard(rows[0]["content"], rows[1]["content"], config)
    assert true_j < 0.7  # the pair is NOT a duplicate at the configured cut

    result = DedupPipeline(spark, config, detectors=("minhash",)).run(
        spark.createDataFrame(rows)
    )
    mh_edges = result.edges.filter(F.col("detector") == "minhash")
    assert mh_edges.count() == 0, "sub-threshold sparse pair must not become an edge"

    m = {(r["stage"], r["metric"]): r["value"] for r in result.metrics.collect()}
    # the pair was an LSH candidate (shared prefix collides in some band)
    # and was routed to exact verification, not the estimate fast path
    assert m[("minhash", "candidate_pairs")] >= 1
    assert m[("minhash", "accepted_by_estimate")] == 0
    assert m[("minhash", "ambiguous_pairs")] >= 1


def test_sparse_true_duplicates_survive(spark):
    """Symmetric direction: sparse docs that ARE duplicates must not be
    fast-dropped by an unreliable low estimate."""
    config = DedupConfig(verify_threshold=0.7)
    text = "import os\nimport sys\nprint(os.path.join(sys.argv[1], 'x'))\n"
    rows = [
        {"repo": "r", "path": "a.py", "commit": "1" * 40, "lang": "py", "content": text},
        {"repo": "r", "path": "b.py", "commit": "2" * 40, "lang": "py", "content": text + "# z\n"},
    ]
    true_j = _true_jaccard(rows[0]["content"], rows[1]["content"], config)
    assert true_j >= 0.7

    result = DedupPipeline(spark, config, detectors=("minhash",)).run(
        spark.createDataFrame(rows)
    )
    assert result.edges.filter(F.col("detector") == "minhash").count() == 1


def test_verify_mode_always_matches_auto_on_dense_corpus(spark):
    """On a corpus of dense-signature docs the auto fast path must produce
    the same edge set as exhaustive verification (3-sigma margins only move
    work between the estimate and the verifier, not the decision)."""
    from fuzzy_matching_spark.fixtures.corpus import generate_corpus

    fx = generate_corpus(n_base=40, seed=11)
    df = spark.createDataFrame(fx.rows)
    edges = {}
    for mode in ("auto", "always"):
        config = DedupConfig(verify_mode=mode)
        res = DedupPipeline(spark, config, detectors=("minhash",)).run(df)
        edges[mode] = {
            (r["id_a"], r["id_b"])
            for r in res.edges.filter(F.col("detector") == "minhash").collect()
        }
    assert edges["auto"] == edges["always"]


def test_truncated_signatures_estimate_parity(spark):
    """``minhash_signatures`` emits each component's low byte as ``s8``
    (``(sig & 255) - 128``): it must equal the low byte of a per-doc numpy
    ``_oph_batch`` signature, and ``estimate_similarity`` over the
    truncated projection must give ``sim == agree / num_perm`` where
    ``agree`` counts equal bytes."""
    from fuzzy_matching_spark.fixtures.corpus import generate_corpus_df

    config = DedupConfig()
    docs = generate_corpus_df(spark, n_base=120, seed=11, partitions=4).withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    )
    sigs = minhash.minhash_signatures(docs, config).persist()
    assert set(sigs.columns) == {"doc_id", "s8", "bands", "n_shingles"}

    # independent reference: one doc at a time through the numpy kernel
    content = {r["doc_id"]: r["content"] for r in docs.select("doc_id", "content").collect()}
    s8_map = {}
    for r in sigs.collect():
        sh = minhash.shingle_hashes(content[r["doc_id"]], config.shingle_size, config.tokenize)
        sig = minhash._oph_batch(sh, np.zeros(sh.size, dtype=np.uint64), 1, config.num_perm)[0]
        want = (sig & np.uint64(255)).astype(np.int64) - 128
        got = np.array(r["s8"], dtype=np.int64)
        assert got.tolist() == want.tolist()
        assert r["n_shingles"] == sh.size
        s8_map[r["doc_id"]] = got
    assert len(s8_map) == len(content)

    pairs, _ = minhash.candidate_pairs(minhash.band_table(sigs), config)
    s8 = minhash.truncated_signatures(sigs)
    assert set(s8.columns) == {"doc_id", "s8", "n_shingles"}
    est = minhash.estimate_similarity(pairs, s8).collect()
    assert len(est) > 0
    for r in est:
        agree = int((s8_map[r["id_a"]] == s8_map[r["id_b"]]).sum())
        assert r["sim"] == agree / config.num_perm
    sigs.unpersist()

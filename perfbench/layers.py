"""Traced replays that give each layer's numbers (``--trace 1`` only).

Each replay calls one module's public functions in the order the program
calls them, inside a span with its own job group, and persists and counts
what the call returns so the work lands inside the span.  Event-log totals
per job group (:mod:`perfbench.tracing`) supply jobs, tasks, Python-worker
time and bytes; spans supply walls; counts come from the replay itself.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_matching_spark.fixtures.persons import generate_person_pair
from fuzzy_matching_spark.functions.scoring import config_score_matrix, score_pairs
from fuzzy_matching_spark.io.readers import load_corpus
from fuzzy_matching_spark.kernel import fuzz, pairscore
from fuzzy_matching_spark.operators import minhash
from fuzzy_matching_spark.operators.connected_components import connected_components
from fuzzy_matching_spark.operators.greedy_match import SparkMatcher
from fuzzy_matching_spark.operators.local_match import LocalBatchedMatcher, pair_volume
from fuzzy_matching_spark.oracle.matcher import OracleMatcher
from fuzzy_matching_spark.streaming import read_document_stream, stream_lsh_candidates

from perfbench.tracing import GroupStats
from perfbench.workloads import jaccard, parquet_rows, write_parquet_parts

MB = 2**20


def _group_metrics(prefix: str, g, wall: float, cores: int) -> dict:
    return {
        f"{prefix}.jobs": g.jobs,
        f"{prefix}.stages": g.stages,
        f"{prefix}.tasks": g.tasks,
        f"{prefix}.task_s": g.task_s,
        f"{prefix}.core_util": g.task_s / (wall * cores) if wall else 0.0,
        f"{prefix}.python_s": g.python_s,
        f"{prefix}.bytes_to_py_mb": g.bytes_to_py / MB,
        f"{prefix}.bytes_from_py_mb": g.bytes_from_py / MB,
        f"{prefix}.shuffle_write_mb": g.shuffle_write / MB,
        f"{prefix}.spill_mb": g.spill / MB,
        f"{prefix}.gc_s": g.gc_s,
    }


# -- dedup_corpus -------------------------------------------------------------


def minhash_replay(wl, tracer) -> dict:
    """The pipeline's MinHash call order, one span per call, then CC."""
    spark, cfg = wl.spark, wl.config
    t = cfg.verify_threshold
    corpus = load_corpus(spark, wl.corpus_dir)
    docs = wl.pipeline().ingest(corpus)
    # one representative per distinct content, as DedupPipeline picks it
    w = Window.partitionBy("content_sha256").orderBy("doc_id")
    rep = docs.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    rep = rep.persist()
    rep.count()
    held = [rep]
    with tracer.span("minhash.signatures", group="minhash.signatures"):
        sigs = minhash.minhash_signatures(rep, cfg).persist()
        held.append(sigs)
        sigs.count()
    with tracer.span("minhash.candidates", group="minhash.candidates"):
        pairs, buckets = minhash.candidate_pairs(minhash.band_table(sigs), cfg)
        pairs = pairs.persist()
        held.append(pairs)
        n_cand = pairs.count()
        n_dropped_buckets = buckets.filter(F.col("skipped")).count()
    with tracer.span("minhash.estimate", group="minhash.estimate"):
        sig8 = minhash.truncated_signatures(sigs).persist()
        held.append(sig8)
        sig8.count()
        # DedupPipeline.minhash_edges' 3-sigma accept / verify / drop split
        margin = 3.0 * (t * (1 - t) / cfg.num_perm) ** 0.5
        dense = (F.col("ns_a") >= cfg.num_perm) & (F.col("ns_b") >= cfg.num_perm)
        cls = (
            F.when(dense & (F.col("sim") >= t + margin), F.lit(1))
            .when(~dense | ((F.col("sim") >= t - margin) & (F.col("sim") < t + margin)), F.lit(2))
            .otherwise(F.lit(0))
        )
        est = minhash.estimate_similarity(pairs, sig8).select(
            "id_a", "id_b", cls.alias("cls")
        ).persist()
        held.append(est)
        by_cls = {r["cls"]: r["count"] for r in est.groupBy("cls").count().collect()}
    with tracer.span("minhash.verify", group="minhash.verify"):
        ambiguous = est.filter(F.col("cls") == 2).select("id_a", "id_b")
        verified = minhash.verify_pairs_exact(ambiguous, rep, cfg).persist()
        held.append(verified)
        n_verify = verified.count()
        n_verified_ok = verified.filter(F.col("sim") >= t).count()
    edges = (
        est.filter(F.col("cls") == 1).select("id_a", "id_b")
        .unionByName(verified.filter(F.col("sim") >= t).select("id_a", "id_b"))
        .persist()
    )
    held.append(edges)
    n_edges = edges.count()
    with tracer.span("cc", group="cc"):
        labels = connected_components(edges)
        n_components = labels.select("component").distinct().count()
    for df in held:
        df.unpersist()
    settled = by_cls.get(0, 0) + by_cls.get(1, 0)
    return {
        "minhash.candidate_pairs": n_cand,
        "minhash.buckets_dropped": n_dropped_buckets,
        "minhash.settled_frac": settled / n_cand if n_cand else 0.0,
        "minhash.verify_pairs": n_verify,
        "minhash.verify_yield": n_verified_ok / n_verify if n_verify else 0.0,
        "cc.edges": n_edges,
        "cc.components": n_components,
    }


def stream_replay(wl, tracer, n_files: int) -> dict:
    """availableNow replay of the corpus, one landed file per micro-batch."""
    spark, cfg = wl.spark, wl.config
    root = os.path.join(wl.work, "stream")
    in_dir, index_dir, pairs_dir = (os.path.join(root, d) for d in ("in", "index", "pairs"))
    rows = wl.rows[["doc_id", "repo", "path", "commit", "lang", "content"]]
    rows = rows.sample(frac=1.0, random_state=wl.seed).reset_index(drop=True)
    write_parquet_parts(rows, in_dir, n_files)
    with tracer.span("stream.replay") as span:
        query = stream_lsh_candidates(
            read_document_stream(spark, in_dir, max_files_per_trigger=1),
            index_dir=index_dir,
            pairs_dir=pairs_dir,
            checkpoint_dir=os.path.join(root, "checkpoint"),
            config=cfg,
        )
        # the stream's micro-batches run under its own job group, the run id
        span.group = str(query.runId)
        query.awaitTermination()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    progress.sort(key=lambda p: p["batchId"])
    add = [p["durationMs"]["addBatch"] / 1000 for p in progress]
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    later = add[1:]  # batch 0 also pays first-use costs
    half = len(later) // 2
    growth = (
        statistics.median(later[-half:]) / statistics.median(later[:half]) if half else 0.0
    )
    cand = pd.read_parquet(pairs_dir, columns=["id_a", "id_b"])
    distinct = {tuple(sorted(p)) for p in zip(cand["id_a"].tolist(), cand["id_b"].tolist())}
    shingles: dict[int, object] = {}

    def sh(doc_id):
        if doc_id not in shingles:
            shingles[doc_id] = minhash.shingle_hashes(
                wl.content[doc_id], cfg.shingle_size, cfg.tokenize
            )
        return shingles[doc_id]

    good = sum(jaccard(sh(a), sh(b)) >= cfg.verify_threshold for a, b in distinct)
    return {
        "stream.add_batch_p50_s": statistics.median(later) if later else 0.0,
        "stream.overhead_p50_s": statistics.median(
            [tr - ad for tr, ad in zip(trig[1:], later)]
        ) if later else 0.0,
        "stream.latency_growth": growth,
        "stream.index_files": sum(f.endswith(".parquet") for f in os.listdir(index_dir)),
        "stream.index_rows": parquet_rows(index_dir),
        "stream.pairs_written": parquet_rows(pairs_dir),
        "stream.candidate_yield": good / len(distinct) if distinct else 0.0,
    }


def dedup_layers(wl, tracer, stream_files: int) -> dict:
    direct = minhash_replay(wl, tracer)
    direct.update(stream_replay(wl, tracer, stream_files))
    return direct


def dedup_eventlog(wl, tracer, groups, cores: int) -> dict:
    g = lambda name: groups.get(name, GroupStats())  # noqa: E731
    out = _group_metrics("pipeline", g("pipeline"), tracer.seconds("pipeline"), cores)
    out.update({
        "io.read_s": tracer.seconds("io.read"),
        "io.write_s": tracer.seconds("io.write"),
        "minhash.signatures_s": tracer.seconds("minhash.signatures"),
        "minhash.signatures_bytes_from_py_mb": g("minhash.signatures").bytes_from_py / MB,
        "minhash.candidates_s": tracer.seconds("minhash.candidates"),
        "minhash.estimate_s": tracer.seconds("minhash.estimate"),
        "minhash.verify_s": tracer.seconds("minhash.verify"),
        "cc.s": tracer.seconds("cc"),
        "stream.python_s": sum(
            g(s.group).python_s for s in tracer.spans if s.name == "stream.replay"
        ),
    })
    return out


# -- match_persons --------------------------------------------------------------

SMALL_PERSONS = 1000  # 2 x 1000 rows: under the 4,096-row driver-local gate
SCORING_PAIRS = 4000
KERNEL_PAIRS = 1500


def _blocks(wl) -> tuple[dict, dict]:
    """The matcher's blocks of each side (first letter of ``block_field``)."""
    blocker = OracleMatcher(wl.config)
    return blocker._blocks(wl.orig), blocker._blocks(wl.var)


def _blocked_sample(b1: dict, b2: dict, n_pairs: int, seed: int) -> list[tuple[dict, dict]]:
    """Seeded sample of (left, right) records that share a block."""
    keys = sorted(k for k in b1 if k in b2)
    rng = random.Random(seed)
    out = []
    for _ in range(n_pairs):
        k = rng.choice(keys)
        out.append((rng.choice(b1[k]), rng.choice(b2[k])))
    return out


def _edge_count(b1: dict, b2: dict, config) -> int:
    """Blocked pairs scoring >= threshold (and > 0), from the input."""
    n = 0
    for k, left in b1.items():
        if k in b2:
            m = config_score_matrix(
                pd.DataFrame(left, dtype=object), pd.DataFrame(b2[k], dtype=object), config
            )
            n += int(((m > 0.0) & (m >= config.threshold)).sum())
    return n


def _rate(n: int, fn) -> float:
    t0 = time.perf_counter()
    fn()
    return n / (time.perf_counter() - t0)


def scoring_rates(wl, b1: dict, b2: dict) -> dict:
    sample = _blocked_sample(b1, b2, SCORING_PAIRS, wl.seed)

    def full(r):
        return f"{r['Фамилия']} {r['Имя']} {r['Отчество']}".lower()

    left = [full(a) for a, _b in sample]
    right = [full(b) for _a, b in sample]
    out = {}
    for algo in ("ratio", "partial_ratio", "token_sort_ratio", "token_set_ratio", "wratio"):
        key = {"token_sort_ratio": "token_sort", "token_set_ratio": "token_set"}.get(algo, algo)
        out[f"scoring.{key}_pairs_per_s"] = _rate(
            len(left), lambda a=algo: score_pairs(a, left, right)
        )
    # the matcher's per-block kernel: weighted config matrix of the largest block
    k = max((k for k in b1 if k in b2), key=lambda k: len(b1[k]) * len(b2[k]))
    l_df, r_df = pd.DataFrame(b1[k], dtype=object), pd.DataFrame(b2[k], dtype=object)
    out["scoring.config_pairs_per_s"] = _rate(
        len(l_df) * len(r_df), lambda: config_score_matrix(l_df, r_df, wl.config)
    )
    # the oracle's scalar per-pair scorer, uncached
    fuzz.score.cache_clear()
    kernel_sample = sample[:KERNEL_PAIRS]
    out["kernel.fuzz_pairs_per_s"] = _rate(
        len(kernel_sample),
        lambda: [pairscore.weighted_similarity(a, b, wl.config) for a, b in kernel_sample],
    )
    return out


def match_layers(wl, tracer, small_persons: int = SMALL_PERSONS) -> dict:
    spark, cfg = wl.spark, wl.config
    matcher = SparkMatcher(cfg)
    with tracer.span("matcher.match_pairs", group="matcher.match_pairs"):
        pairs, _d1, _d2 = matcher.match_pairs(wl.d1, wl.d2)
        pairs = pairs.persist()
        pairs.count()
    pairs.unpersist()
    matcher.unpersist()
    block_pairs = pair_volume(wl.orig, wl.var, cfg)
    b1, b2 = _blocks(wl)
    edges = _edge_count(b1, b2, cfg)
    # driver-local plan: a small input under the row gate
    small_orig, small_var = generate_person_pair(small_persons, seed=wl.seed)
    s1, s2 = wl.frames(small_orig, small_var)
    small = SparkMatcher(cfg)
    with tracer.span("local.op", group="local.op"):
        matches, consolidated = small.match_and_consolidate(s1, s2)
        matches.collect()
        consolidated.collect()
    small.unpersist()
    with tracer.span("local.kernel"):
        LocalBatchedMatcher(cfg).match_and_consolidate(small_orig, small_var)
    spark.catalog.clearCache()
    out = {
        "matcher.block_pairs": block_pairs,
        "matcher.edges": edges,
        "matcher.edge_yield": edges / block_pairs if block_pairs else 0.0,
        "matcher.distributed": int(wl.strategy == "distributed"),
        "local.distributed": int(small.last_strategy == "distributed"),
    }
    out.update(scoring_rates(wl, b1, b2))
    return out


def match_eventlog(wl, tracer, groups, cores: int) -> dict:
    g = lambda name: groups.get(name, GroupStats())  # noqa: E731
    op_wall = tracer.seconds("matcher.op")
    full = _group_metrics("matcher", g("matcher"), op_wall, cores)
    keep = ("jobs", "stages", "tasks", "python_s", "bytes_to_py_mb",
            "shuffle_write_mb", "core_util", "gc_s")
    out = {k: v for k, v in full.items() if k.split(".", 1)[1] in keep}
    local_wall = tracer.seconds("local.op")
    kernel = tracer.seconds("local.kernel")
    out.update({
        "matcher.match_pairs_s": tracer.seconds("matcher.match_pairs"),
        "matcher.consolidate_s": tracer.seconds("matcher.consolidate"),
        "local.jobs": g("local.op").jobs,
        "local.kernel_s": kernel,
        "local.spark_share": 1 - kernel / local_wall if local_wall else 0.0,
    })
    return out

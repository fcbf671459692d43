"""The benchmark's workloads: inputs from a seed, a reference, the op, a check.

Each workload lands or builds its input in ``setup()`` (the program sees
only the generated rows), computes a reference answer on the driver, and
then runs ``op()`` as often as the harness asks.  ``check()`` compares the
op's output with the reference; ``reset()`` releases what the op left
behind (caches, output directories) outside the timed region.

* ``dedup_corpus`` -- what ``jobs/dedup_job.py`` does, in process:
  ``load_corpus`` -> ``DedupPipeline(...).run`` -> clusters and edges
  written as parquet.  Reference: the generator's (base, variant) pairs
  whose exact shingle Jaccard reaches ``verify_threshold``.
* ``match_persons`` -- ``SparkMatcher.match_and_consolidate`` on distorted
  person pairs, large enough to take the distributed plan.  Reference:
  ``LocalBatchedMatcher`` on the same rows (tests pin it to the oracle).
"""

from __future__ import annotations

import gc
import os
import re
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fuzzy_matching_spark.config import (
    DedupConfig,
    FuzzyAlgorithm,
    MatchConfig,
    MatchFieldConfig,
)
from fuzzy_matching_spark.fixtures.corpus import generate_corpus
from fuzzy_matching_spark.fixtures.persons import generate_person_pair
from fuzzy_matching_spark.io.readers import load_corpus
from fuzzy_matching_spark.operators.greedy_match import SparkMatcher
from fuzzy_matching_spark.operators.local_match import LocalBatchedMatcher
from fuzzy_matching_spark.operators.minhash import shingle_hashes
from fuzzy_matching_spark.pipeline.dedup_job import DedupPipeline

RECALL_FLOOR = 0.99  # the north-star gate for dedup_corpus


@dataclass
class Verdict:
    ok: bool
    recall: float
    precision: float
    detail: str = ""


def _jvm_gc(spark) -> None:
    spark.sparkContext._jvm.java.lang.System.gc()
    gc.collect()


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def write_parquet_parts(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Land ``df`` as ``n_files`` parquet files (round-robin rows)."""
    _rmtree(out_dir)
    os.makedirs(out_dir)
    for k in range(n_files):
        part = df.iloc[k::n_files].reset_index(drop=True)
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(out_dir, f"part-{k:05d}.parquet"),
        )


def parquet_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return inter / union if union else 1.0


class DedupCorpus:
    name = "dedup_corpus"
    # (n_base, files kept): a base has 0-3 variants (p=0.6), ~2.2 files on
    # average, so 500 bases give ~1,100 files; keeping the first 1,000
    # makes the input size the same for every seed
    sizes = {"full": (500, 1000), "tiny": (40, 80)}
    input_files = 8
    warmup_ops = 1
    timed_ops = 2

    def __init__(self, spark, work: str, seed: int, size: str = "full"):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_base, self.n_files = self.sizes[size]
        self.config = DedupConfig()
        self.corpus_dir = os.path.join(work, "corpus")
        self.out_dir = os.path.join(work, "out")
        self._result = None

    def setup(self) -> None:
        fx = generate_corpus(self.n_base, seed=self.seed)
        self.rows = pd.DataFrame(fx.rows[: self.n_files])
        self.fx_truth = fx.truth
        self.items = len(self.rows)
        write_parquet_parts(self.rows, self.corpus_dir, self.input_files)
        self.truth = None  # built by the first check, on a warm JVM

    def _reference(self) -> None:
        """Map rows to the pipeline's doc_id and keep the truth pairs.

        The pipeline's doc_id is xxhash64(repo, path, commit); Spark computes
        it once so the reference speaks the output's ids.
        """
        ids = (
            self.spark.read.parquet(self.corpus_dir)
            .select(F.xxhash64("repo", "path", "commit").alias("doc_id"), "repo", "path", "commit")
            .toPandas()
        )
        key_to_id = {
            (r.repo, r.path, r.commit): int(r.doc_id) for r in ids.itertuples(index=False)
        }
        self.rows["doc_id"] = [
            key_to_id[(r.repo, r.path, r.commit)] for r in self.rows.itertuples(index=False)
        ]
        self.doc_base = {
            int(d): int(re.search(r"mod_(\d+)\.", p).group(1))
            for d, p in zip(self.rows["doc_id"], self.rows["path"])
        }
        self.content = dict(zip(self.rows["doc_id"], self.rows["content"]))
        cfg = self.config
        self.truth = []
        for t in self.fx_truth:
            a = key_to_id.get((t["src_repo"], t["src_path"], t["src_commit"]))
            b = key_to_id.get((t["dst_repo"], t["dst_path"], t["dst_commit"]))
            if a is None or b is None:  # cut off with the tail of the corpus
                continue
            sa = shingle_hashes(self.content[a], cfg.shingle_size, cfg.tokenize)
            sb = shingle_hashes(self.content[b], cfg.shingle_size, cfg.tokenize)
            if jaccard(sa, sb) >= cfg.verify_threshold:
                self.truth.append((a, b))

    def pipeline(self) -> DedupPipeline:
        return DedupPipeline(
            self.spark, self.config, detectors=("minhash",), collect_metrics=False
        )

    def write(self, result) -> None:
        result.clusters.write.mode("overwrite").parquet(os.path.join(self.out_dir, "clusters"))
        result.edges.write.mode("overwrite").parquet(os.path.join(self.out_dir, "edges"))

    def op(self) -> None:
        corpus = load_corpus(self.spark, self.corpus_dir)
        self._result = self.pipeline().run(corpus)
        self.write(self._result)

    def traced_op(self, tracer) -> None:
        with tracer.span("dedup.op"):
            with tracer.span("io.read", group="io.read"):
                corpus = load_corpus(self.spark, self.corpus_dir)
                corpus.count()
            with tracer.span("pipeline", group="pipeline"):
                self._result = self.pipeline().run(corpus)
            with tracer.span("io.write", group="io.write"):
                self.write(self._result)

    def check(self) -> Verdict:
        if self.truth is None:
            self._reference()
        tbl = pq.read_table(os.path.join(self.out_dir, "clusters"), columns=["doc_id", "component"])
        ids = tbl.column("doc_id").to_numpy()
        comps = tbl.column("component").to_numpy()
        if len(ids) != self.items or set(ids.tolist()) != set(self.doc_base):
            return Verdict(False, 0.0, 0.0, f"clusters cover {len(ids)} rows, want {self.items}")
        comp = dict(zip(ids.tolist(), comps.tolist()))
        hit = sum(comp[a] == comp[b] for a, b in self.truth)
        recall = hit / len(self.truth) if self.truth else 1.0
        # co-clustered pairs, and those whose two files share a base
        per_comp = Counter(comps.tolist())
        per_comp_base = Counter((c, self.doc_base[d]) for d, c in comp.items())
        pairs = sum(n * (n - 1) // 2 for n in per_comp.values())
        same = sum(n * (n - 1) // 2 for n in per_comp_base.values())
        precision = same / pairs if pairs else 1.0
        ok = recall >= RECALL_FLOOR
        detail = "" if ok else f"recall {recall:.4f} below {RECALL_FLOOR}"
        return Verdict(ok, recall, precision, detail)

    def reset(self) -> None:
        if self._result is not None:
            self._result.edges.unpersist()
            self._result = None
        self.spark.catalog.clearCache()
        _rmtree(self.out_dir)
        _jvm_gc(self.spark)


def match_config() -> MatchConfig:
    return MatchConfig(
        fields=[
            MatchFieldConfig("Фамилия", 0.4, fuzzy_algorithm=FuzzyAlgorithm.WRatio),
            MatchFieldConfig("Имя", 0.3, fuzzy_algorithm=FuzzyAlgorithm.TOKEN_SORT),
            MatchFieldConfig("Отчество", 0.2, fuzzy_algorithm=FuzzyAlgorithm.PARTIAL_RATIO),
            MatchFieldConfig("email", 0.1, fuzzy_algorithm=FuzzyAlgorithm.RATIO),
        ],
        threshold=0.7,
        block_field="Фамилия",
        sort_before_match=True,
    )


def _record_key(rec: dict) -> tuple:
    return tuple(sorted((k, v if v is not None else "") for k, v in rec.items()))


def _match_ids(match: dict) -> tuple:
    return match["Оригинал"]["id"], match["Вариант"]["id"]


class MatchPersons:
    name = "match_persons"
    # persons per side; 2 x 2,100 rows is above SparkMatcher's 4,096-row
    # driver-local gate, so the distributed plan runs
    sizes = {"full": 2100, "tiny": 40}
    # the first op runs at about twice a warm one and the second still
    # reads ~10% high; the median of three timed ops leaves that one out
    # without paying a second warm-up in every run
    warmup_ops = 1
    timed_ops = 3

    def __init__(self, spark, work: str, seed: int, size: str = "full"):
        self.spark = spark
        self.seed = seed
        self.n = self.sizes[size]
        self.config = match_config()
        self.matcher = None
        self.strategy = None
        self._out = None

    def frames(self, orig, var):
        # pandas-built frames evaluate JVM-side like file scans; list-built
        # frames would replay a pickled Python RDD on every action
        return (
            self.spark.createDataFrame(pd.DataFrame(orig, dtype=object)),
            self.spark.createDataFrame(pd.DataFrame(var, dtype=object)),
        )

    def setup(self) -> None:
        self.orig, self.var = generate_person_pair(self.n, seed=self.seed)
        self.d1, self.d2 = self.frames(self.orig, self.var)
        self.items = len(self.orig) + len(self.var)
        matches, consolidated = LocalBatchedMatcher(self.config).match_and_consolidate(
            self.orig, self.var
        )
        self.ref_pairs = {_match_ids(m) for m in matches}
        self.ref_consolidated = Counter(_record_key(r) for r in consolidated)

    def op(self) -> None:
        self.matcher = SparkMatcher(self.config)
        matches, consolidated = self.matcher.match_and_consolidate(self.d1, self.d2)
        self._out = (matches.collect(), consolidated.collect())
        self.strategy = self.matcher.last_strategy

    def traced_op(self, tracer) -> None:
        self.matcher = SparkMatcher(self.config)
        with tracer.span("matcher.op", group="matcher"):
            with tracer.span("matcher.plan"):
                matches, consolidated = self.matcher.match_and_consolidate(self.d1, self.d2)
            with tracer.span("matcher.consolidate"):
                self._out = (matches.collect(), consolidated.collect())
        self.strategy = self.matcher.last_strategy

    def check(self) -> Verdict:
        matches, consolidated = self._out
        pairs = {_match_ids(r.asDict(recursive=True)) for r in matches}
        cons = Counter(_record_key(r.asDict()) for r in consolidated)
        both = len(pairs & self.ref_pairs)
        recall = both / len(self.ref_pairs) if self.ref_pairs else 1.0
        precision = both / len(pairs) if pairs else 1.0
        ok = pairs == self.ref_pairs and cons == self.ref_consolidated
        detail = "" if ok else (
            f"{len(pairs)} matches vs {len(self.ref_pairs)} reference; "
            f"consolidated multiset {'equal' if cons == self.ref_consolidated else 'differs'}"
        )
        return Verdict(ok, recall, precision, detail)

    def reset(self) -> None:
        if self.matcher is not None:
            self.matcher.unpersist()
            self.matcher = None
        self._out = None
        self.spark.catalog.clearCache()
        _jvm_gc(self.spark)


WORKLOADS = {w.name: w for w in (DedupCorpus, MatchPersons)}

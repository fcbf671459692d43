"""End-to-end near-duplicate detection + clustering pipeline (north rule).

Stages (each optionally checkpointed to Parquet keyed by a config hash, so a
rerun resumes from the last completed stage — the batch equivalent of
"resumable from any stage checkpoint"):

  ingest    corpus (repo, path, commit, lang, content)
            -> doc_id = xxhash64(repo, path, commit), content_sha256
  exact     sha-level duplicate edges (hash groupBy — no shuffle of content,
            only of 64-bit ids + 64-char hashes)
  minhash   signatures -> LSH bands -> candidate pairs -> exact-Jaccard
            verification >= verify_threshold
  simhash   64-bit signatures -> banded Hamming lookup -> Hamming <= t
  substring fingerprint anchors -> candidates -> exact window verification
  cluster   union of detector edge sets -> hash-min connected components
  report    clusters table + per-stage metrics (rows, pairs, dropped
            buckets, bucket-size skew histogram)

The detectors are independently switchable; the exact detector is always on
(it is free relative to the others and strictly increases recall).

Each frame is materialized at most once (``DedupPipeline._materialize``):
only frames read by several concurrent consumers get a count barrier, and
the Spark jobs the pipeline issues itself carry the job description
``dedup.<stage>.<name>`` so an event log attributes them to their phase.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_matching_spark.config import DedupConfig
from fuzzy_matching_spark.operators import fingerprint, minhash, simhash
from fuzzy_matching_spark.operators.connected_components import connected_components
from fuzzy_matching_spark.pipeline.session import job_phase

__all__ = ["DedupPipeline", "DedupResult"]

# Mixed into the checkpoint key: bump it whenever a stage checkpoint's
# schema changes, so a run never resumes a checkpoint written in an older
# layout (2: ``minhash_sigs`` carries ``s8 array<tinyint>``, not
# ``sig array<long>``).
CHECKPOINT_FORMAT = 2
# Row cap for broadcasting the (doc_id, s8, n_shingles) signature projection
# into the estimate join (~160 B/row serialized, so ~80 MB at the cap); above
# it the join is left to AQE's shuffle plan (see ``minhash_edges``).
SIG8_BROADCAST_MAX_ROWS = 500_000


@dataclass
class DedupResult:
    corpus: DataFrame    # + doc_id, content_sha256
    edges: DataFrame     # doc_id pairs with detector + score + score_kind
                         # (score_kind: "exact" = exact measure [shingle
                         # Jaccard / Hamming / sha match]; "estimate" =
                         # signature-agreement estimate, see minhash_edges)
    clusters: DataFrame  # doc_id -> component (singletons included)
    metrics: DataFrame   # stage, metric, value


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: DedupConfig | None = None,
        detectors: tuple[str, ...] = ("minhash",),
        checkpoint_dir: str | None = None,
        collect_metrics: bool = True,
    ):
        """``collect_metrics=False`` skips the per-stage count jobs (each is
        a full Spark job); use for latency-sensitive benchmarking — lineage
        numbers belong in production runs, not in the timed region."""
        self.spark = spark
        self.config = config or DedupConfig()
        self.detectors = detectors
        self.checkpoint_dir = checkpoint_dir
        self.collect_metrics = collect_metrics
        self._metrics: list[tuple[str, str, float]] = []
        self._temp_persists: list[DataFrame] = []
        # JVM RDDs of the verifier's shingle checkpoints
        self._temp_checkpoints: list = []
        cfg_json = (
            json.dumps(asdict(self.config), sort_keys=True)
            + repr(sorted(detectors))
            + f"format={CHECKPOINT_FORMAT}"
        )
        self.config_hash = hashlib.sha256(cfg_json.encode()).hexdigest()[:16]

    # -- checkpoint / materialization helpers -----------------------------

    def _stage(self, name: str, builder) -> DataFrame:
        """Build (or resume) a stage; checkpointing keyed by (stage, config)."""
        if not self.checkpoint_dir:
            return builder()
        path = f"{self.checkpoint_dir}/{name}_{self.config_hash}"
        # probe for the _SUCCESS marker instead of read.parquet(try/except):
        # a failed read logs a Java stack trace even when caught
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
        if hpath.getFileSystem(hconf).exists(hpath):
            self._metrics.append((name, "resumed_from_checkpoint", 1.0))
            return self.spark.read.parquet(path)
        with job_phase(self.spark, f"dedup.checkpoint.{name}"):
            builder().write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _materialize(
        self,
        df: DataFrame,
        stage: str,
        name: str,
        *,
        persist: bool = True,
        barrier: bool = True,
        metric: bool = False,
        keep: bool = False,
    ) -> tuple[DataFrame, int | None]:
        """Persist ``df`` and/or count it once, as phase ``<stage>.<name>``.

        ``barrier=True`` fills a persisted multi-consumer frame BEFORE its
        consumers fan out.  Spark's DAGScheduler submits every stage whose
        parents are done, so two consumer stages of a persisted-but-unfilled
        frame run CONCURRENTLY against its lineage and each recomputes it —
        the cache dedups storage, never work.  At 1 core stages serialize
        and the first consumer fills the cache, so the race is invisible;
        at N cores it silently multiplies the expensive subtrees (the
        estimate join reads the signature frame on BOTH sides, so the
        Python signature stage ran 2-3x).  Measured on the 264k-file bench
        corpus at 4 fenced cores: fused-without-barriers walls were bimodal
        85 <-> 217 s for identical passes, while the barriered pipeline was
        a stable ~73 s.  So only frames that really fan out get a barrier;
        a frame with one consumer (or whose one consumer fills it, such as
        the connected-components size probe for ``edges``) gets none.

        ``metric=True`` records the count as the ``(stage, name)`` metric
        row when ``collect_metrics`` is on (counting without a barrier only
        then).  The persist is registered BEFORE the count: if that job
        throws, run()'s finally block must still be able to unpersist, or
        the CacheManager registration leaks in long-lived sessions.
        ``keep=True`` is for frames the caller receives in the DedupResult —
        their cache must outlive run().

        Returns the frame and its row count (None when nothing counted).
        """
        if persist:
            df = df.persist()
            if not keep:
                self._temp_persists.append(df)
        record = metric and self.collect_metrics
        if not (barrier or record):
            return df, None
        with job_phase(self.spark, f"dedup.{stage}.{name}"):
            n = df.count()
        if record:
            self._metrics.append((stage, name, float(n)))
        return df, n

    # -- stages ------------------------------------------------------------

    def ingest(self, corpus: DataFrame) -> DataFrame:
        """Attach doc_id + the per-row sha256 content invariant.

        No repartition: the sha window in ``run`` re-shuffles every row
        right after this, so the Arrow stages downstream (signatures,
        verification shingling) inherit the window's partitioning, not the
        scan's.
        """
        return corpus.withColumn(
            "doc_id", F.xxhash64("repo", "path", "commit")
        ).withColumn("content_sha256", F.sha2("content", 256))

    def minhash_edges(self, docs: DataFrame) -> DataFrame:
        # The signatures do not carry the shingle sets: persisting every
        # doc's set multiplies the cached signature footprint by ~100x
        # (measured: GC/paging collapse at 330k docs on an 8g driver).
        # The verifier instead re-shingles only the *participating* docs —
        # a small fraction of the corpus — behind a semi-join.
        sigs = self._stage(
            "minhash_sigs", lambda: minhash.minhash_signatures(docs, self.config)
        )
        # perfbench dedup_corpus (1,000 files, local[4]), 4 alternating pairs
        # in each of two sittings: "always" read +26% / +10% median peak RSS
        # and a lower op_p50_s (5.43 vs 5.91 s in the sitting without other
        # runs); recall the same on both sides
        auto = self.config.verify_mode == "auto"
        n_sigs = None
        if auto:
            # the band chain and BOTH sides of the estimate join read sigs:
            # persist and fill it once (this count also fills `tagged`)
            sigs, n_sigs = self._materialize(sigs, "minhash", "signatures")
        bands = minhash.band_table(sigs)
        if self.collect_metrics:
            # the bucket-skew metrics re-read the band table; without them
            # the candidate window is the only consumer and a persist just
            # adds cache-write traffic + an extra materialization barrier
            bands, _ = self._materialize(bands, "minhash", "bands", barrier=False)
        pairs, bucket_metrics = minhash.candidate_pairs(bands, self.config)
        if self.collect_metrics:
            with job_phase(self.spark, "dedup.minhash.buckets"):
                skew = bucket_metrics.filter(F.col("skipped")).agg(
                    F.count("*").alias("n"),
                    F.coalesce(F.sum("size"), F.lit(0)).alias("rows"),
                ).collect()[0]
            self._metrics.append(("minhash", "buckets_dropped", float(skew["n"])))
            self._metrics.append(("minhash", "rows_in_dropped_buckets", float(skew["rows"])))
        t = self.config.verify_threshold
        # In "always" mode pairs has three consumers (both sides of `ids` +
        # the verify join); in "auto" mode the estimate join is the only one.
        pairs, _ = self._materialize(
            pairs, "minhash", "candidate_pairs",
            persist=not auto or self.collect_metrics, barrier=not auto, metric=True,
        )
        if not auto:
            # correctness mode: every candidate pair gets the exact
            # shingle-Jaccard; surviving edges are provably >= t
            with job_phase(self.spark, "dedup.minhash.verify"):
                verified = minhash.verify_pairs_exact(
                    pairs, docs, self.config, checkpoints=self._temp_checkpoints
                )
            return verified.filter(F.col("sim") >= t).select(
                "id_a",
                "id_b",
                F.lit("minhash").alias("detector"),
                F.col("sim").alias("score"),
                F.lit("exact").alias("score_kind"),
            )
        # Sketch-then-confirm (the LSH at 25x5 floods boilerplate-heavy
        # corpora with just-below-threshold candidates, and the exact verify
        # moves ~16 KB of shingle hashes per pair — so settle as many pairs
        # as possible from the 125-byte estimate):
        #   est >= t+3sigma  -> accept directly (P[true J < t] < 2e-3)
        #   est in (t-3sigma, t+3sigma) -> exact shingle-Jaccard verify
        #   est <= t-3sigma  -> drop (P[true J >= t] < 2e-3)
        # sigma = sqrt(t(1-t)/P) ~ 0.041 at t=0.7, P=125.
        #
        # The 3-sigma bound assumes *independent* signature components,
        # which only holds for dense signatures.  When a doc has fewer
        # shingles than permutations, OPH fills the empty buckets by
        # circular borrowing, so the densified components of two sparse
        # docs are strongly correlated — a true-Jaccard-1/3 pair can
        # estimate at 0.98 (and a true duplicate can estimate below
        # t-3sigma).  Pairs where EITHER side is sparse therefore bypass
        # the estimate entirely and go to exact verification, in both
        # directions — the fast accept AND the fast drop are dense-only.
        margin = 3.0 * (t * (1 - t) / self.config.num_perm) ** 0.5
        dense = (F.col("ns_a") >= self.config.num_perm) & (
            F.col("ns_b") >= self.config.num_perm
        )
        # Explicit broadcast of the (doc_id, s8, n_shingles) projection when
        # the (already-counted) signature frame is small: the default
        # autoBroadcastJoinThreshold (10 MB) is below the projection's size
        # well before the corpus stops being broadcast-friendly, and the
        # shuffle plan moves the O(pairs) candidate stream through two full
        # exchanges instead (measured on the 264k bench corpus: est joins
        # 5.1 s -> 1.3 s at 2 fenced cores, 2.4 s -> 0.5 s at 8).
        # Size-gated, so at corpus scale the plan degrades to AQE's shuffle
        # join instead of OOMing executors.
        s8 = minhash.truncated_signatures(sigs)
        bcast = 0 < n_sigs <= SIG8_BROADCAST_MAX_ROWS
        # barrier AFTER est: accepted (union branch) and ambiguous (verify
        # branch) consume it from independent stages.  An un-persisted est
        # was tried in r5 and REVERTED: each consumer then re-runs the
        # signature-agreement arithmetic (the zip_with agree count over
        # O(pairs) rows) and, on the broadcast plan, rebuilds the
        # driver-side broadcast per job; measured per-phase at 2 fenced
        # cores the two recomputes cost +60 s against the ~10 s the est
        # cache write saves.  The 3-way classification is computed BEFORE
        # the persist so the cache holds (id_a, id_b, sim, cls) — the ns_*
        # density columns exist only to derive cls and never earn cache
        # residency; downstream consumers are pure class filters.
        est_raw = minhash.estimate_similarity(pairs, F.broadcast(s8) if bcast else s8)
        cls = (
            F.when(dense & (F.col("sim") >= t + margin), F.lit(1))  # accept
            .when(
                (~dense)
                | ((F.col("sim") >= t - margin) & (F.col("sim") < t + margin)),
                F.lit(2),  # ambiguous -> exact verify
            )
            .otherwise(F.lit(0))  # drop
            .cast("tinyint")
        )
        est, _ = self._materialize(
            est_raw.select("id_a", "id_b", "sim", cls.alias("cls")), "minhash", "estimate"
        )
        # accepted and ambiguous are class filters over the filled est
        # cache: each re-read is a columnar scan, not a recompute, so
        # neither earns a persist of its own
        accepted = est.filter(F.col("cls") == 1)
        self._materialize(
            accepted, "minhash", "accepted_by_estimate",
            persist=False, barrier=False, metric=True,
        )
        ambiguous = est.filter(F.col("cls") == 2).select("id_a", "id_b")
        self._materialize(
            ambiguous, "minhash", "ambiguous_pairs",
            persist=False, barrier=False, metric=True,
        )
        # the verifier's local checkpoint plans (and so runs the shuffle
        # stages of) its shingle input at call time: tag those jobs too
        with job_phase(self.spark, "dedup.minhash.verify"):
            verified = minhash.verify_pairs_exact(
                ambiguous, docs, self.config, checkpoints=self._temp_checkpoints
            )
        verified = verified.filter(F.col("sim") >= t)
        # score semantics marker (ADVICE r2): estimate-accepted edges carry
        # the byte-truncated signature-agreement estimate (quantized to
        # 1/num_perm steps, up to ~3 sigma off the true Jaccard), while
        # verified edges carry the exact shingle Jaccard — downstream
        # consumers must not treat the two uniformly.
        edges = accepted.select(
            "id_a", "id_b", "sim", F.lit("estimate").alias("score_kind")
        ).unionByName(
            verified.select("id_a", "id_b", "sim", F.lit("exact").alias("score_kind"))
        )
        # all persists (sigs/pairs/bands/est) are registered where
        # persisted and released at the end of run(): connected components
        # is what first materializes the edge union, so dropping caches
        # here would silently recompute the candidate join
        return edges.select(
            "id_a",
            "id_b",
            F.lit("minhash").alias("detector"),
            F.col("sim").alias("score"),
            "score_kind",
        )

    def simhash_edges(self, docs: DataFrame) -> DataFrame:
        sigs = self._stage(
            "simhash_sigs", lambda: simhash.simhash_signatures(docs, self.config)
        )
        bands = simhash.simhash_band_table(sigs, self.config)
        cands = simhash.simhash_candidates(bands, self.config)
        verified = simhash.verify_hamming(cands, self.config)
        return verified.select(
            "id_a",
            "id_b",
            F.lit("simhash").alias("detector"),
            (1.0 - F.col("hamming") / F.lit(64.0)).alias("score"),
            F.lit("exact").alias("score_kind"),
        )

    def substring_edges(self, docs: DataFrame) -> DataFrame:
        anchors = self._stage(
            "anchors", lambda: fingerprint.anchor_table(docs, self.config)
        )
        cands = fingerprint.substring_candidates(anchors, self.config)
        verified = fingerprint.verify_substring_pairs(cands, docs, self.config)
        return verified.select(
            "id_a",
            "id_b",
            F.lit("substring").alias("detector"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("score_kind"),
        )

    # -- entry point -------------------------------------------------------

    def run(self, corpus: DataFrame) -> DedupResult:
        try:
            return self._run(corpus)
        finally:
            for df in self._temp_persists:
                df.unpersist()
            for rdd in self._temp_checkpoints:
                rdd.unpersist(False)
            self._temp_persists.clear()
            self._temp_checkpoints.clear()

    def _run(self, corpus: DataFrame) -> DedupResult:
        # NOT persisted: every consumer reads the superset `tagged` cache
        # below — a second content-bearing cache would double the largest
        # resident object (the corpus text) for one extra scan, and cache
        # memory pressure is what degrades high-core-count runs first.
        docs = self._stage("ingest", lambda: self.ingest(corpus))
        self._materialize(docs, "ingest", "docs", persist=False, barrier=False, metric=True)

        # Near-dup detectors see one representative per distinct content
        # (min doc_id of each sha256 class): byte-identical copies already
        # form a star through the exact edges below, so running
        # MinHash/SimHash over every copy would only re-discover those
        # components while inflating the LSH bucket joins quadratically in
        # the copy count.  The rep pick AND the exact star edges come from
        # ONE sha-partitioned window pass (both window functions share the
        # spec, so Spark computes them in a single shuffle+sort).
        from pyspark.sql.window import Window

        w_sha = Window.partitionBy("content_sha256").orderBy("doc_id")
        tagged = docs.withColumn("_rn", F.row_number().over(w_sha)).withColumn(
            "_min", F.first("doc_id").over(w_sha)
        )
        # The MinHash detector's first barrier (signatures in auto mode,
        # candidate pairs in always mode) is tagged's only reader and fills
        # it before the exact-edges branch reads it.  The other detectors
        # have no barrier of their own, so without MinHash count it here.
        tagged, _ = self._materialize(
            tagged, "ingest", "tag", barrier="minhash" not in self.detectors
        )
        rep_docs = tagged.filter(F.col("_rn") == 1).drop("_rn", "_min")
        self._materialize(
            rep_docs, "ingest", "distinct_contents", persist=False, barrier=False, metric=True
        )

        exact = tagged.filter(F.col("doc_id") != F.col("_min")).select(
            F.col("_min").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            F.lit("exact").alias("detector"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("score_kind"),
        )
        edge_frames = [exact]
        if "minhash" in self.detectors:
            edge_frames.append(self.minhash_edges(rep_docs))
        if "simhash" in self.detectors:
            edge_frames.append(self.simhash_edges(rep_docs))
        if "substring" in self.detectors:
            edge_frames.append(self.substring_edges(rep_docs))

        edges = edge_frames[0]
        for e in edge_frames[1:]:
            edges = edges.unionByName(e)
        edges = self._stage("edges", lambda: edges)
        # edges always persists: connected_components reads it at least twice
        # (size probe + either collect or the superstep loop), and it is
        # handed to the caller in the DedupResult.  No barrier: the size
        # probe is its first reader and fills it.
        edges, _ = self._materialize(
            edges, "edges", "total_edges", barrier=False, metric=True, keep=True
        )

        # no distinct here: connected_components tolerates duplicate edges
        # (union-find ignores them; the distributed path dedups in `sym`)
        with job_phase(self.spark, "dedup.cluster.components"):
            labels = connected_components(edges.select("id_a", "id_b"))
        # ids from a plain scan of the ingested rows, not from `tagged`:
        # the clusters frame is consumed after run() has released tagged's
        # cache, and re-deriving tagged would replay the content shuffle
        ids = docs.select("doc_id")
        clusters = (
            ids.join(labels, ids.doc_id == labels.id, "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("component"),
            )
        )
        clusters = self._stage("clusters", lambda: clusters)

        metrics = self.spark.createDataFrame(
            [(s, m, v) for s, m, v in self._metrics],
            schema="stage string, metric string, value double",
        )
        return DedupResult(corpus=docs, edges=edges, clusters=clusters, metrics=metrics)

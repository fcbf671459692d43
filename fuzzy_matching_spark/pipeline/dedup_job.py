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

__all__ = ["DedupPipeline", "DedupResult"]


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
        # wall seconds per materialization point, keyed by barrier label —
        # always collected (two time.time() calls per barrier is free) so
        # scaling investigations can attribute the wall without a re-run;
        # surfaced in the metrics table as (stage, "wall_sec", v).
        self.phase_walls: dict[str, float] = {}
        cfg_json = json.dumps(asdict(self.config), sort_keys=True) + repr(sorted(detectors))
        self.config_hash = hashlib.sha256(cfg_json.encode()).hexdigest()[:16]

    # -- checkpoint helpers ----------------------------------------------

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
        df = builder()
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def _barrier(self, df: DataFrame, label: str | None = None) -> DataFrame:
        """Eagerly materialize a persisted frame BEFORE its consumers fan out.

        Spark's DAGScheduler submits every stage whose parents are done, so
        two consumer stages of a persisted-but-unfilled frame run
        CONCURRENTLY against its lineage and each recomputes it — the cache
        dedups storage, never work.  At 1 core stages serialize and the
        first consumer fills the cache, so the race is invisible; at N
        cores it silently multiplies the expensive subtrees (the estimate
        join reads the signature frame on BOTH sides, so the Python
        signature stage ran 2-3x).  Measured on the 264k-file bench corpus
        at 4 fenced cores: fused-without-barriers walls were bimodal
        85 <-> 217 s for identical passes (scheduling luck), while the
        barriered pipeline is a stable ~73 s and scales at the box ceiling
        (1 -> 4 cores eff 1.02 vs 0.4-0.6 unbarriered).  The count itself
        adds one job whose tasks do the work the first consumer had to do
        anyway; with ``collect_metrics=True`` the metric counts used to
        provide exactly this barrier by accident.

        Returns the row count — already paid for, and callers use it for
        size-gated plan choices (e.g. broadcasting sig8).
        """
        import time as _time

        t0 = _time.time()
        n = df.count()
        if label:
            self.phase_walls[label] = round(
                self.phase_walls.get(label, 0.0) + _time.time() - t0, 3
            )
        return n

    def _count_metric(
        self, stage: str, metric: str, df: DataFrame, keep: bool = False,
        force_persist: bool = False,
    ) -> DataFrame:
        # Persist only when something will read the frame twice: the metric
        # count is one consumer, so with ``collect_metrics=False`` a
        # single-consumer frame is NOT cached (``force_persist=True`` marks
        # frames with multiple downstream consumers regardless).  A persist
        # that nothing reads twice only adds cache-write traffic and an
        # InMemoryRelation boundary that blocks whole-stage fusion with the
        # consumer.
        if self.collect_metrics or force_persist:
            df = df.persist()
            # register BEFORE the eager count/barrier: if that job throws,
            # run()'s finally block must still be able to unpersist, or the
            # CacheManager registration leaks in long-lived sessions.
            # ``keep=True`` is for frames the caller receives in the
            # DedupResult — their cache must outlive run().
            if not keep:
                self._temp_persists.append(df)
            if force_persist and not self.collect_metrics:
                # force_persist marks genuinely multi-consumer frames; with
                # metrics off nothing counts them before the consumers fan
                # out, so fill the cache here (see _barrier)
                self._barrier(df, label=f"{stage}.{metric}")
        if self.collect_metrics:
            self._metrics.append((stage, metric, float(df.count())))
        return df

    # -- stages ------------------------------------------------------------

    def ingest(self, corpus: DataFrame) -> DataFrame:
        """Attach doc_id + the per-row sha256 content invariant.

        If the source has fewer splits than ~2 waves of the cluster's
        slots (one small parquet file, a fresh generator, a small-file
        corpus the scan packed into few splits), spread it first — every
        downstream Arrow stage (signatures, verification shingling)
        inherits the scan's partitioning, and too few splits serializes
        them all: 7 splits on 4 cores runs waves of 4+3, idling half the
        cores in the second wave (measured as a ~25% wall tax at 4 fenced
        cores).  At corpus scale inputs have plenty of splits and this is
        a no-op.
        """
        par = self.spark.sparkContext.defaultParallelism
        if corpus.rdd.getNumPartitions() < 2 * par:
            corpus = corpus.repartition(4 * par)
        return corpus.withColumn(
            "doc_id", F.xxhash64("repo", "path", "commit")
        ).withColumn("content_sha256", F.sha2("content", 256))

    def minhash_edges(self, docs: DataFrame) -> DataFrame:
        # sigs feed three consumers (banding, the estimate prefilter, skew
        # metrics) — persist or every consumer re-runs the mapInPandas scan
        # NOTE deliberately NOT keep_shingles=True: persisting every doc's
        # shingle set multiplies the cached signature footprint by ~100x
        # (measured: GC/paging collapse at 330k docs on an 8g driver).
        # The verifier instead re-shingles only the *participating* docs —
        # a small fraction of the corpus — behind a semi-join.
        sigs = self._stage(
            "minhash_sigs", lambda: minhash.minhash_signatures(docs, self.config)
        )
        # consumers: the band chain (always), the truncated-signature frame
        # (auto mode only), the skew metrics (collect_metrics only).  In
        # always-mode-without-metrics the band chain is the lone reader and
        # the Python signature stage should fuse straight into it.
        if self.config.verify_mode != "always" or self.collect_metrics:
            sigs = sigs.persist()
            self._temp_persists.append(sigs)
        bands = minhash.band_table(sigs)
        if self.collect_metrics:
            # the bucket-skew metrics re-read the band table; without them
            # the candidate window is the only consumer and a persist just
            # adds cache-write traffic + an extra materialization barrier
            bands = bands.persist()
            self._temp_persists.append(bands)
        pairs, bucket_metrics = minhash.candidate_pairs(bands, self.config)
        if self.collect_metrics:
            skew = bucket_metrics.filter(F.col("skipped")).agg(
                F.count("*").alias("n"), F.coalesce(F.sum("size"), F.lit(0)).alias("rows")
            ).collect()[0]
            self._metrics.append(("minhash", "buckets_dropped", float(skew["n"])))
            self._metrics.append(("minhash", "rows_in_dropped_buckets", float(skew["rows"])))
        t = self.config.verify_threshold
        # In "always" mode pairs has three consumers (both sides of `ids` +
        # the verify join); in "auto" mode the estimate join is the only one.
        pairs = self._count_metric(
            "minhash", "candidate_pairs", pairs,
            force_persist=self.config.verify_mode == "always",
        )
        if self.config.verify_mode == "always":
            # correctness mode: every candidate pair gets the exact
            # shingle-Jaccard; surviving edges are provably >= t
            verified = minhash.verify_pairs_exact(pairs, docs, self.config).filter(
                F.col("sim") >= t
            )
            return verified.select(
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
        # pre-truncated signature frame: ~8x smaller than the sig cache, so
        # both estimate join sides read (and at small scale BROADCAST) 125
        # bytes/doc instead of shuffling 1 KB/doc arrays; at corpus scale it
        # exceeds the broadcast threshold and AQE keeps the shuffle join
        # barrier BEFORE the estimate join: est reads sig8 on BOTH sides, so
        # an unfilled sig8 cache would be computed twice concurrently — and
        # each computation drags the whole Python signature stage with it
        # (sigs is persisted but equally unfilled).  One count materializes
        # sigs -> sig8 exactly once; the band chain then reads the sigs
        # cache.  (see _barrier for the measured cost of skipping this)
        # register each persist BEFORE its barrier count: if the count job
        # throws, run()'s finally block must still unpersist (ADVICE r4)
        sig8 = minhash.truncated_signatures(sigs).persist()
        self._temp_persists.append(sig8)
        n_sig8 = self._barrier(sig8, label="minhash.sig8")
        # Explicit broadcast when the (already-counted) truncated frame is
        # small: the default autoBroadcastJoinThreshold (10 MB) is below the
        # frame's size well before the corpus stops being
        # broadcast-friendly, and the shuffle plan moves the O(pairs)
        # candidate stream through two full exchanges instead (measured on
        # the 264k bench corpus: est joins 5.1 s -> 1.3 s at 2 fenced
        # cores, 2.4 s -> 0.5 s at 8).  Size-gated, so at corpus scale the
        # plan degrades to AQE's shuffle join instead of OOMing executors.
        cap = self.config.sig8_broadcast_max_rows
        bcast = 0 < n_sig8 <= cap
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
        est_raw = minhash.estimate_similarity(
            pairs, F.broadcast(sig8) if bcast else sig8
        )
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
        est = est_raw.select("id_a", "id_b", "sim", cls.alias("cls")).persist()
        self._temp_persists.append(est)
        self._barrier(est, label="minhash.estimate")
        accepted = est.filter(F.col("cls") == 1)
        accepted = self._count_metric("minhash", "accepted_by_estimate", accepted)
        ambiguous = est.filter(F.col("cls") == 2).select("id_a", "id_b")
        # ambiguous feeds the verify join three ways (both sides of `ids` +
        # the pair join itself)
        ambiguous = self._count_metric(
            "minhash", "ambiguous_pairs", ambiguous, force_persist=True
        )
        verified = minhash.verify_pairs_exact(ambiguous, docs, self.config).filter(
            F.col("sim") >= t
        )
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
        # all persists (sigs/pairs/ambiguous/bands/sig8/est) are registered
        # where persisted and released at the end of run(): connected
        # components is what first materializes the edge union, so dropping
        # caches here would silently recompute the candidate join
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
            self._temp_persists.clear()

    def _run(self, corpus: DataFrame) -> DedupResult:
        # NOT persisted: every consumer reads the superset `tagged` cache
        # below — a second content-bearing cache would double the largest
        # resident object (the corpus text) for one extra scan, and cache
        # memory pressure is what degrades high-core-count runs first.
        docs = self._stage("ingest", lambda: self.ingest(corpus))
        if self.collect_metrics:
            self._metrics.append(("ingest", "docs", float(docs.count())))

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
        tagged = (
            docs.withColumn("_rn", F.row_number().over(w_sha))
            .withColumn("_min", F.first("doc_id").over(w_sha))
            .persist()
        )
        self._temp_persists.append(tagged)
        # barrier: the exact-edges branch and the detector branch (rep_docs)
        # consume tagged from independent stages; filling it here also
        # materializes the docs cache underneath it (see _barrier)
        self._barrier(tagged, label="ingest.tag")
        rep_docs = tagged.filter(F.col("_rn") == 1).drop("_rn", "_min")
        if self.collect_metrics:
            self._metrics.append(("ingest", "distinct_contents", float(rep_docs.count())))

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
        # handed to the caller in the DedupResult
        edges = self._count_metric("edges", "total_edges", edges, keep=True, force_persist=True)

        # no distinct here: connected_components tolerates duplicate edges
        # (union-find ignores them; the distributed path dedups in `sym`)
        pair_edges = edges.select("id_a", "id_b")
        import time as _time

        t0 = _time.time()
        labels = connected_components(pair_edges)
        # the small-graph path is driver-blocking (toPandas + union-find +
        # createDataFrame all complete inside the call), so this wall is the
        # pipeline's main SERIAL section; the distributed path returns a
        # lazy frame and the wall lands in the caller's first action instead
        self.phase_walls["cluster.components"] = round(_time.time() - t0, 3)
        ids = tagged.select("doc_id")
        clusters = (
            ids.join(labels, ids.doc_id == labels.id, "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("component"),
            )
        )
        clusters = self._stage("clusters", lambda: clusters)

        for k, v in self.phase_walls.items():
            self._metrics.append((k, "wall_sec", v))
        metrics = self.spark.createDataFrame(
            [(s, m, v) for s, m, v in self._metrics],
            schema="stage string, metric string, value double",
        )
        return DedupResult(corpus=docs, edges=edges, clusters=clusters, metrics=metrics)

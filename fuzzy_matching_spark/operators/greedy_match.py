"""Distributed reference-parity matcher: blocked pair scoring + greedy 1:1.

The reference's flagship operator chain (SURVEY.md §2.3 J1-J3, §3.1):
first-char blocking, block-key *intersection*, and a greedy 1:1 best-match
assignment that is order-dependent (left records in input order, strict ``>``
argmax, right-exclusivity).  The Spark mapping separates the parallel part
from the sequential part:

* derive the block key as a Catalyst expression (``functions.text.block_key``);
  the block cogroup *is* the reference's intersection rule
  (``data_matcher.py:438-441``) — keys on one side only produce no pairs.
* **one Python stage per block** — both sides are cogrouped on the block
  key, so one ``applyInPandas`` call receives a whole block from each side
  (each record crosses the JVM->Python boundary once).  The call sorts each
  side into the reference's processing order, scores the block in slices
  of at most ``TILE`` x ``TILE`` cells with the driver-local kernel
  (``functions.scoring.config_score_matrix``), keeps only the >= threshold
  edges and runs the greedy over them, replaying the reference's
  sequential argmax (``data_matcher.py:438-499`` also scores and assigns
  one block at a time).  Sequential work is O(edges), not O(block^2).
  Blocks are hash-partitioned over a fixed 2 x ``defaultParallelism`` tasks.
  A hot block key ('S' holds ~10% of a real corpus) is one task, and the
  blocks that hash into that task with it add to it, so that task bounds
  the stage's wall; skewed keys belong in LSH candidate mode
  (``match_pairs(candidates=...)``), which has no block key.
* consolidation is pure DataFrame algebra over one frame — left rows LEFT
  JOIN the pair table, FULL OUTER JOIN the right rows — read as ``matches``
  (rows with a sim) and ``consolidated`` (one ``when()``: the unmatched
  record or the cleaner one, ``data_matcher.py:447-499``).

Determinism: input order is pinned by ``_fm_seq``; within a block the
processing order is (sort keys..., _fm_seq), which equals the reference's
global stable sort restricted to the block.  Output is
therefore independent of parallelism (local[8] == local[32]; SURVEY.md
§5.2.4).

Scale note: first-char blocking gives at most a few hundred blocks — the
reference's design.  The scale path swaps this candidate generator for
MinHash/LSH (``operators/minhash.py``) while keeping the same verify +
consolidate algebra.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_matching_spark.config import DedupConfig, MatchConfig
from fuzzy_matching_spark.functions import scoring
from fuzzy_matching_spark.functions.text import block_key, cleanliness_col
from fuzzy_matching_spark.pipeline.session import job_phase

__all__ = ["SparkMatcher", "attach_seq", "minhash_candidates"]

SEQ = "_fm_seq"
BK = "_fm_bk"


# Rows per side of one ``config_score_matrix`` call in the blocked scorer.
# A block is scored in TILE x TILE slices inside its one task, so TILE only
# bounds the size of each kernel call's matrices (a 2,527 x 2,500 block
# would otherwise build 6.3 M-cell float64 matrices per field); it is not
# a unit of work per task.  Measured on one core, all blocks of the persons
# fixture through the cogroup body, RATIO, median of 7 runs at 2 x 2,100
# rows: T=128 0.40 s, T=256 0.26 s, T=512 0.25 s, T=1024 0.21 s; median of
# 3 at 2 x 10,000 rows: T=256 4.86 s, T=512 5.33 s, T=1024 4.70 s.  Below
# 256 the per-call cost shows; above it the times are level within noise,
# so the smallest matrices of the level range.
TILE = 256

# The driver-local strategy gate (``SparkMatcher._try_local``): a blocked
# match runs on the driver when both inputs together hold at most
# DRIVER_MAX_ROWS rows, DRIVER_CHAR_BUDGET characters of match-field and
# block-field text and DRIVER_PAIR_BUDGET blocked pairs (the pair budget
# divided by ``scoring.kernel_cost``).  DRIVER_MAX_ROWS = 0 turns the gate
# off.
DRIVER_MAX_ROWS = 4_096
DRIVER_CHAR_BUDGET = 2_000_000
DRIVER_PAIR_BUDGET = 2_000_000

# minhash_candidates' shingling and banding: 64 bands x 2 rows over 3-char
# shingles, P[collide] = 1-(1-J^2)^64 > 0.99 for J >= 0.3 — generous
# because the weighted-field scorer, not the LSH, is the precision gate.
LSH_CONFIG = DedupConfig(
    shingle_size=3, tokenize="char", num_perm=128, bands=64, rows_per_band=2
)


def _as_strings(df: DataFrame) -> DataFrame:
    """Every column but ``_fm_seq`` cast to string, NULL -> "" (the
    reference loads every field as str).  One ``selectExpr``: building
    the same projection from Column objects costs a py4j round-trip per
    call, ~0.1 s per side on the driver path's 7-column inputs."""

    def q(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    return df.selectExpr(
        *[
            q(c) if c == SEQ else f"coalesce(cast({q(c)} as string), '') as {q(c)}"
            for c in df.columns
        ]
    )


def _block_matcher(config: MatchConfig, lkeys: list[str], rkeys: list[str]):
    """Cogroup body: score and assign one block.

    Each side is sorted by its processing order ((order cols..., seq); the
    unique seq makes it total), so a row's position is its within-block
    rank.  The block is scored in ``TILE`` x ``TILE`` slices with the
    driver-local kernel; only the cells that can take part in the greedy
    (``sim > 0`` and ``sim >= threshold``) become edges."""
    threshold = config.threshold
    tile = TILE  # read here, on the driver: the workers import the default
    greedy = _make_greedy(1, 1)

    def match(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return greedy(pd.DataFrame())
        left = left.sort_values([*lkeys, SEQ], kind="stable", ignore_index=True)
        right = right.sort_values([*rkeys, SEQ], kind="stable", ignore_index=True)
        lr, rr, sims = [], [], []
        for i0 in range(0, len(left), tile):
            lt = left.iloc[i0 : i0 + tile]
            for j0 in range(0, len(right), tile):
                m = scoring.config_score_matrix(lt, right.iloc[j0 : j0 + tile], config)
                i, j = np.nonzero((m > 0.0) & (m >= threshold))
                lr.append(i + i0)
                rr.append(j + j0)
                sims.append(m[i, j])
        lr, rr = np.concatenate(lr), np.concatenate(rr)
        return greedy(
            pd.DataFrame(
                {
                    "_lk0": lr,
                    "_rk0": rr,
                    "left_seq": left[SEQ].to_numpy()[lr],
                    "right_seq": right[SEQ].to_numpy()[rr],
                    "sim": np.concatenate(sims),
                }
            )
        )

    return match


def minhash_candidates():
    """Candidate-generator factory: MinHash/LSH in place of first-char blocks.

    Returns a callable ``gen(d1, d2, match_fields) -> DataFrame[left_seq,
    right_seq]`` suitable for ``SparkMatcher.match_pairs(candidates=...)``
    — the corpus-scale swap the blocking docstring promises (north rule:
    LSH band hashing generates candidates, the reference's weighted-field
    scorer verifies them).

    Mechanics: each side's match fields are concatenated to one lowercase
    text per record, both sides are unioned with a side-tagged id
    (``seq*2 + side`` — ``monotonically_increasing_id`` keeps bit 63 clear,
    so the shift cannot overflow), and ``minhash.candidate_pairs`` runs on
    the union; only cross-side collisions survive.  Banding is
    ``LSH_CONFIG``.
    """
    from fuzzy_matching_spark.operators import minhash

    def gen(d1: DataFrame, d2: DataFrame, match_fields: list) -> DataFrame:
        def tagged(d, side):
            text = F.lower(
                F.concat_ws(
                    " ",
                    *[
                        F.coalesce(F.col(f).cast("string"), F.lit(""))
                        for f in match_fields
                        if f in d.columns
                    ],
                )
            )
            return d.select(
                (F.col(SEQ) * 2 + side).alias("doc_id"), text.alias("content")
            )

        un = tagged(d1, 0).unionByName(tagged(d2, 1))
        sigs = minhash.minhash_signatures(un, LSH_CONFIG)
        pairs, _ = minhash.candidate_pairs(minhash.band_table(sigs), LSH_CONFIG)
        # candidate_pairs emits id_a < id_b; keep cross-side pairs in both
        # orientations and map the tagged ids back to per-side seqs.
        # Integer un-tagging (shiftright, never `/ 2`): Spark's `/` is double
        # division, and seqs above 2^52 (partition ids >= ~2^19 in
        # monotonically_increasing_id — plausible at 10^12 rows) would be
        # silently corrupted by the long->double->long round-trip.
        lr = pairs.filter(
            (F.col("id_a") % 2 == 0) & (F.col("id_b") % 2 == 1)
        ).select(
            F.shiftright(F.col("id_a"), 1).alias("left_seq"),
            F.shiftright(F.col("id_b"), 1).alias("right_seq"),
        )
        rl = pairs.filter(
            (F.col("id_a") % 2 == 1) & (F.col("id_b") % 2 == 0)
        ).select(
            F.shiftright(F.col("id_b"), 1).alias("left_seq"),
            F.shiftright(F.col("id_a"), 1).alias("right_seq"),
        )
        return lr.unionByName(rl)

    return gen


def _make_greedy(nlk: int, nrk: int):
    """Greedy 1:1 assignment over one block's or one connected component's
    edge list, whose edges all have sim >= threshold and > 0.

    Lefts are processed in (order keys ``_lk*``..., left_seq) order; within
    a left, candidates scan by (sim desc, right's order keys ``_rk*``...,
    right_seq).  Strict-``>`` argmax and right-exclusivity semantics are
    identical to the reference (data_matcher.py:472-497): strict ``>``
    keeps the earliest right at equal scores, and a right is consumed on
    first assignment.  A block passes each row's within-block rank as its
    one order key; candidate mode passes the order fields themselves.
    """
    lcols = [f"_lk{i}" for i in range(nlk)] + ["left_seq"]
    rcols = [f"_rk{i}" for i in range(nrk)] + ["right_seq"]
    asc = [True] * len(lcols) + [False] + [True] * len(rcols)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"left_seq": [], "right_seq": [], "sim": []}).astype(
                {"left_seq": "int64", "right_seq": "int64", "sim": "float64"}
            )
        pdf = pdf.sort_values(lcols + ["sim"] + rcols, ascending=asc, kind="stable")
        taken: set[int] = set()
        out_l, out_r, out_s = [], [], []
        cur = None
        assigned = False
        for ls, rs, sim in zip(pdf["left_seq"], pdf["right_seq"], pdf["sim"]):
            if ls != cur:
                cur = ls
                assigned = False
            if assigned or rs in taken:
                continue
            taken.add(rs)
            assigned = True
            out_l.append(int(ls))
            out_r.append(int(rs))
            out_s.append(float(sim))
        return pd.DataFrame({"left_seq": out_l, "right_seq": out_r, "sim": out_s})

    return greedy


def attach_seq(df: DataFrame) -> DataFrame:
    """Attach a stable input-order sort key (``_fm_seq``).

    This is the DataFrame analog of the reference's list order / ``id()``
    identity tracking (``data_matcher.py:472-497``).  The key only needs to
    be *unique* and *monotone in input order* — it is used as a sort
    tiebreaker within blocks and as a pair id for the consolidation joins,
    never as a dense 0..n-1 index — so ``monotonically_increasing_id()``
    ((partition_id << 33) + row_in_partition) is exactly right: ascending
    across (partition, row), which equals input order for file sources and
    ``createDataFrame``.  Zero extra jobs, shuffles, or windows; the
    previous per-partition-offset implementation ran two eager collect
    jobs plus a window per input and dominated small-match latency.
    """
    if SEQ in df.columns:
        return df
    return df.withColumn(SEQ, F.monotonically_increasing_id())


class SparkMatcher:
    """Distributed ``match_and_consolidate`` with reference semantics.

    The prepared inputs are always persisted, so the ``_fm_seq`` row ids
    are computed once and every downstream consumer (scoring cogroup,
    the consolidation frame's joins) reads the same snapshot — the
    determinism guard for inputs downstream of a shuffle/aggregation,
    whose partition row order Spark does not promise to reproduce across
    re-evaluations.  :meth:`unpersist` releases them.

    One strategy decision: a blocked match (no ``candidates``) whose
    inputs fit the driver gate (``DRIVER_MAX_ROWS`` rows together,
    ``DRIVER_CHAR_BUDGET`` characters, ``DRIVER_PAIR_BUDGET`` blocked pairs
    divided by ``scoring.kernel_cost``) runs on the driver through the same
    batched kernel the executors use
    (:mod:`fuzzy_matching_spark.operators.local_match`);
    at that size the distributed plan is pure stage latency.  The probe
    reads at most ``DRIVER_MAX_ROWS + 1`` string-coerced rows per side in
    one ``limit`` collect, never a full scan, so it is safe at any input
    scale.  Everything else takes the one distributed plan (see
    :meth:`match_pairs`): a cogroup on the block key whose one Python call
    per block scores the block with ``config_score_matrix`` and assigns
    it; both outputs are read off one outer-joined frame.
    ``last_strategy`` records which path ran.  The jobs the matcher issues
    itself carry ``spark.job.description`` ``matcher.probe`` (the
    gate's collect) and ``matcher.pin`` (the input pin count).
    """

    def __init__(self, config: MatchConfig):
        self.config = config
        # observability: "driver" | "distributed", set per match call
        self.last_strategy: str | None = None
        self.match_fields = [fc.field for fc in config.fields]
        self.weights = {fc.field: fc.weight for fc in config.fields}
        # every frame this matcher persists (pinned inputs, the greedy pair
        # cache) — released by unpersist(); long-lived sessions that run many
        # match jobs call it once the results are consumed, otherwise
        # executor storage accumulates across invocations (ADVICE r3)
        self._persisted: list[DataFrame] = []

    def unpersist(self, blocking: bool = False) -> None:
        """Release every frame this matcher persisted.

        Call after the returned matches/consolidated DataFrames have been
        fully consumed (written/collected): their plans reference the pinned
        inputs, so unpersisting earlier silently recomputes them — and for
        shuffled sources may break the ``_fm_seq`` determinism guarantee the
        pin exists to provide.
        """
        for df in self._persisted:
            df.unpersist(blocking)
        self._persisted.clear()

    # ------------------------------------------------------------------
    def _prepare(self, df: DataFrame) -> DataFrame:
        """String-coerce record fields (reference loads everything as str)."""
        out = attach_seq(_as_strings(df))
        if self.config.block_field:
            key = block_key(F.col(self.config.block_field))
            if self.config.group_fields:
                key = F.concat_ws(
                    "\x1f", key, *[F.col(g) for g in self.config.group_fields]
                )
                # keep NULL semantics: empty block value disables the row
                key = F.when(block_key(F.col(self.config.block_field)).isNotNull(), key)
        else:
            key = F.lit("ALL")
        return out.withColumn(BK, key)

    def _order_cols(self, d: DataFrame) -> list[str]:
        config = self.config
        if not config.sort_before_match:
            return []
        cols = (
            [config.sort_field] if config.sort_field else [fc.field for fc in config.fields]
        )
        return [c for c in cols if c in d.columns]

    def match_pairs(
        self,
        df1: DataFrame,
        df2: DataFrame,
        candidates=None,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Run blocking + scoring + greedy; returns ``(pairs, d1, d2)``.

        ``pairs`` has columns ``left_seq, right_seq, sim``.

        ``candidates`` swaps the candidate generator: a callable
        ``gen(d1, d2, match_fields) -> DataFrame[left_seq, right_seq]``
        (e.g. :func:`minhash_candidates`) replaces the block cogroup —
        the corpus-scale path promised by the module docstring.  Scoring
        semantics (weighted fields, thresholds) and the order-exact greedy
        are identical; ``block_field``/``group_fields`` are ignored because
        the LSH bands *are* the blocking.  See ``_match_pairs_candidates``
        for the component-wise greedy that replaces per-block grouping.

        Execution shape: both sides are cogrouped on the block key and
        one ``applyInPandas`` call per block sorts each side into the
        reference's processing order, scores the block in ``TILE`` x
        ``TILE`` slices with ``config_score_matrix`` — the kernel
        ``LocalBatchedMatcher`` runs on the driver, so any scorer and
        transliteration take the same path — and runs the greedy over the
        >= threshold *edges*.  Each record crosses to Python once, and
        scoring and assignment share one Python stage: on a small box the
        per-task fixed cost of a Python stage outweighs the scoring.  The
        edge-list greedy is output-identical to the full-matrix argmax:
        any right that could ever be assigned scores >= threshold (and
        > 0), so dropping sub-threshold pairs cannot change an argmax that
        leads to an assignment.  Blocks are hash-partitioned over a fixed
        2 x ``defaultParallelism`` tasks.  The trade-off: a hot block is one
        task, so the task that holds it, with any block that hashes into
        it too, bounds the stage's wall; inputs with skewed keys belong
        in candidate mode.
        """
        # _fm_seq derives from monotonically_increasing_id, which is only
        # stable across re-evaluations for sources with deterministic
        # partition row order (file scans, createDataFrame).  The prepared
        # frames feed BOTH the scoring cogroup here and the consolidation
        # joins in match_and_consolidate, so pin them:
        # persist + the pin count below populate the cache BEFORE any
        # downstream consumer runs, so every stage reads the same snapshot
        # and the seqs cannot diverge even for shuffled inputs — short of
        # cache eviction under memory pressure, the one residual
        # (documented) hazard.  localCheckpoint would close that too but
        # measured 3-5x slower end-to-end (its lazy materialization races
        # concurrent consumers; eager forfeits pipeline overlap).
        # The persist intentionally outlives this call: the returned
        # matches/consolidated plans keep referencing d1/d2.
        d1 = self._prepare(df1).persist()
        d2 = self._prepare(df2).persist()
        self._persisted.extend([d1, d2])
        # ONE pin job for both sides: the union scan materializes both
        # persisted frames.  (InMemoryRelation caches whole rows on first
        # scan, so the narrow projection still populates the full pin.)
        with job_phase(df1.sparkSession, "matcher.pin"):
            d1.select(SEQ).unionAll(d2.select(SEQ)).count()
        if candidates is not None:
            return self._match_pairs_candidates(d1, d2, candidates)
        lkeys, rkeys = self._order_cols(d1), self._order_cols(d2)
        # A fixed partition count: AQE coalesces a shuffle by bytes, but the
        # scoring cost grows with the square of a block's rows, so coalescing
        # packs every block of a modest input into one task.  AQE leaves an
        # explicit count alone, and the cogroup reuses this partitioning.
        # Twice the cores, because few block keys hash unevenly: on the
        # persons fixture 4 partitions put the three largest blocks in one
        # task (65% of the cells), 8 leave the largest alone (41%), and
        # 2 x 40,000 persons took 46-59 s warm at 4 against 33-36 s at 8.
        par = 2 * df1.sparkSession.sparkContext.defaultParallelism

        def side(d: DataFrame, keys: list[str]):
            cols = [c for c in dict.fromkeys(keys + self.match_fields) if c in d.columns]
            return (
                d.filter(F.col(BK).isNotNull())
                .select(BK, SEQ, *cols)
                .repartition(par, F.col(BK))
                .groupBy(BK)
            )

        pairs = side(d1, lkeys).cogroup(side(d2, rkeys)).applyInPandas(
            _block_matcher(self.config, lkeys, rkeys),
            schema="left_seq long, right_seq long, sim double",
        )
        return pairs, d1, d2

    def _match_pairs_candidates(
        self, d1: DataFrame, d2: DataFrame, candidates
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Candidate-driven scoring + component-wise order-exact greedy.

        Scale shape: the candidate frame (left_seq, right_seq) is joined to
        both sides' match-field values as they are, every pair is scored
        one Arrow row per pair by a pandas UDF over
        ``scoring.config_score_pairs`` (the aligned shape of the per-field
        rule the blocked path scores as matrices; candidate pairs are
        sparse, so there is no tile structure to score), and only the >=
        threshold edges survive.  There is no per-record pre-transform and
        no JVM-side prune: every candidate pair reaches the scorer.
        The greedy then runs per *connected component* of the thresholded
        bipartite edge graph instead of per block: a right can only be
        contended by lefts inside its own component, and the reference's
        global processing order restricted to a component is the sort-key
        tuple (order fields..., input seq) carried on each edge — so the
        per-component greedy is output-identical to a global sequential
        greedy (locked by tests/test_lsh_matcher.py), while sequential work
        stays O(component edges) and components parallelize freely.  No
        global window/rank anywhere — this is what survives 10^12 rows.
        """
        from fuzzy_matching_spark.operators.connected_components import (
            connected_components,
        )

        config = self.config
        cand = candidates(d1, d2, self.match_fields)
        lkeys = self._order_cols(d1)
        rkeys = self._order_cols(d2)

        def side(d: DataFrame, seq: str, tag: str, keys: list[str]) -> DataFrame:
            # the scorer reads one struct per side: the seq (so a row count
            # exists even with no match fields) and each match field present
            fields = [f for f in dict.fromkeys(self.match_fields) if f in d.columns]
            return d.select(
                F.col(SEQ).alias(seq),
                *[F.col(c).alias(f"_{tag}k{i}") for i, c in enumerate(keys)],
                F.struct(SEQ, *fields).alias(f"_fm_{tag}"),
            )

        joined = cand.join(side(d1, "left_seq", "l", lkeys), "left_seq").join(
            side(d2, "right_seq", "r", rkeys), "right_seq"
        )

        # spread the lefts across the cluster, each left's candidates in one
        # partition so its repeated values collapse in the scorer's
        # unique-pair pass.  No partition count: AQE sizes the exchange.  A
        # fixed max(32, 2 x cores) measured 16-19 s against 10-12 s on the
        # 500-document greedy_match_lsh_oracle query and no faster on
        # 2 x 2,100 persons (37.8 s vs 38.4 s warm, 820,394 candidates).
        joined = joined.repartition(F.col("left_seq"))

        @F.pandas_udf("double")
        def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.Series:
            return pd.Series(scoring.config_score_pairs(left, right, config))

        # asNondeterministic: the score IS deterministic, but without this
        # the optimizer pushes the >= threshold filter (which references the
        # UDF column) below the load-balancing repartition exchange and
        # DUPLICATES the UDF — the expensive pass then runs inside the skewed
        # join stage, defeating the rebalance (observed: 2x Python work, 1
        # hot task)
        scored = joined.withColumn(
            "sim", score.asNondeterministic()(F.col("_fm_l"), F.col("_fm_r"))
        )
        edges = scored.filter(
            (F.col("sim") > 0.0) & (F.col("sim") >= F.lit(config.threshold))
        ).select(
            "left_seq",
            "right_seq",
            *[f"_lk{i}" for i in range(len(lkeys))],
            *[f"_rk{i}" for i in range(len(rkeys))],
            "sim",
        ).persist()
        # connected_components counts, then collects, and the component join
        # reads the edges a third time: score the candidates once
        self._persisted.append(edges)

        # component labels over the bipartite edge graph; ids side-tagged so
        # the two seq spaces cannot collide (seq has bit 63 clear)
        eid = edges.select(
            (F.col("left_seq") * 2).alias("id_a"),
            (F.col("right_seq") * 2 + 1).alias("id_b"),
        )
        labels = connected_components(eid).select(
            F.col("id").alias("_lid"), F.col("component").alias("_comp")
        )
        comp_edges = edges.withColumn("_lid", F.col("left_seq") * 2).join(
            labels, "_lid"
        )
        pairs = comp_edges.groupBy("_comp").applyInPandas(
            _make_greedy(len(lkeys), len(rkeys)),
            schema="left_seq long, right_seq long, sim double",
        )
        return pairs, d1, d2

    def _try_local(self, df1: DataFrame, df2: DataFrame):
        """Probe the driver-local strategy gate; run it if everything fits.

        Returns ``(matches, consolidated)`` DataFrames, or ``None`` to fall
        back to the distributed plan.  Bounded by construction: one job
        collects at most ``DRIVER_MAX_ROWS + 1`` rows per side via
        ``limit`` — on a 100 TB source that is a one-partition scan.  The
        probe reads the columns through ``_prepare``'s string coercion, so
        any column type takes the same path as on the executors.
        """
        cap = DRIVER_MAX_ROWS
        if cap <= 0:
            return None
        # tag-union both capped sides and split driver-side: each limit
        # collapses to a single-partition GlobalLimit, so per-side row
        # order in the collect is input order
        side = "_probe_side"
        probe = (
            _as_strings(df1).limit(cap + 1).withColumn(side, F.lit(0))
            .unionByName(
                _as_strings(df2).limit(cap + 1).withColumn(side, F.lit(1)),
                allowMissingColumns=True,
            )
        )
        names = (df1.columns, df2.columns)
        l1, l2 = sides = ([], [])
        with job_phase(df1.sparkSession, "matcher.probe"):
            rows = probe.collect()
        for r in rows:
            d = r.asDict()
            k = d[side]
            sides[k].append({c: d[c] for c in names[k]})
        if len(l1) + len(l2) > cap:
            return None

        from fuzzy_matching_spark.operators import local_match

        probe_fields = set(self.match_fields)
        if self.config.block_field:
            probe_fields.add(self.config.block_field)
        chars = sum(
            len(r.get(f, "")) for rows in (l1, l2) for r in rows for f in probe_fields
        )
        if chars > DRIVER_CHAR_BUDGET:
            return None
        # block membership is order-independent, so the volume probe needs
        # no sort replay.  The pair budget shrinks by the config's kernel
        # cost, keeping the driver path only where one core still beats the
        # cluster's ~1.5 s of fixed stage latency.
        budget = DRIVER_PAIR_BUDGET // scoring.kernel_cost(self.config)
        if local_match.pair_volume(l1, l2, self.config) > budget:
            return None
        self.last_strategy = "driver"
        cols = [c for c in df1.columns if c not in (SEQ, BK)]
        return local_match.run_local(df1.sparkSession, cols, l1, l2, self.config)

    def match_and_consolidate(
        self, df1: DataFrame, df2: DataFrame, candidates=None
    ) -> tuple[DataFrame, DataFrame]:
        """Distributed twin of the reference entry point.

        Returns ``(matches, consolidated)``:

        * ``matches``: ``Оригинал`` (struct of df1 cols), ``Вариант`` (struct
          of df2 cols), ``Схожесть`` double — the reference's match triple
          (``data_matcher.py:676-680``).
        * ``consolidated``: one cleaner record per match + all unmatched
          records from both inputs (schemas must agree).
        * ``candidates``: optional generator forwarded to
          :meth:`match_pairs` (LSH mode).
        """
        if candidates is None:
            local = self._try_local(df1, df2)
            if local is not None:
                return local
        self.last_strategy = "distributed"
        pairs, d1, d2 = self.match_pairs(df1, df2, candidates=candidates)
        # The greedy cogroup is the expensive stage and both outputs read
        # it; persist its tiny output (id pairs + sim) so it runs once.
        pairs = pairs.persist()
        self._persisted.append(pairs)
        cols = [c for c in d1.columns if c not in (SEQ, BK)]

        clean = cleanliness_col(self.match_fields, self.weights)
        field_len = sum(
            (F.length(F.coalesce(F.col(f).cast("string"), F.lit(""))) for f in self.match_fields),
            F.lit(0),
        )

        def side(d: DataFrame, tag: str) -> DataFrame:
            return d.select(
                F.col(SEQ).alias(f"_fm_{tag}"),
                F.struct(*cols).alias(f"_fm_rec_{tag}"),
                clean.alias(f"_fm_clean_{tag}"),
                field_len.alias(f"_fm_flen_{tag}"),
            )

        # One row per consolidated record: each left row with its partner
        # seq and sim (NULL when unmatched), FULL OUTER joined to the right
        # rows.  Only private _fm_ names, so no user column can collide.
        frame = (
            side(d1, "l")
            .join(pairs.toDF("_fm_l", "_fm_r", "_fm_sim"), "_fm_l", "left")
            .join(side(d2, "r"), "_fm_r", "full")
        )

        a, b = F.col("_fm_rec_l"), F.col("_fm_rec_r")
        matches = frame.filter(F.col("_fm_sim").isNotNull()).select(
            a.alias("Оригинал"), b.alias("Вариант"), F.col("_fm_sim").alias("Схожесть")
        )

        # right-only and left-only rows re-enter as they are; a match keeps
        # the cleaner record: lower score wins; tie -> shorter field length;
        # tie -> left (reference select_cleaner_record, data_matcher.py:262-281)
        cl, cr = F.col("_fm_clean_l"), F.col("_fm_clean_r")
        record = (
            F.when(F.col("_fm_l").isNull(), b)
            .when(F.col("_fm_sim").isNull(), a)
            .when(cl < cr, a)
            .when(cr < cl, b)
            .when(F.col("_fm_flen_l") <= F.col("_fm_flen_r"), a)
            .otherwise(b)
        )
        consolidated = frame.select(record.alias("_fm_rec")).select("_fm_rec.*")
        return matches, consolidated

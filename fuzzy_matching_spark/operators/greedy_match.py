"""Distributed reference-parity matcher: blocked pair scoring + greedy 1:1.

The reference's flagship operator chain (SURVEY.md §2.3 J1-J3, §3.1):
first-char blocking, block-key *intersection*, and a greedy 1:1 best-match
assignment that is order-dependent (left records in input order, strict ``>``
argmax, right-exclusivity).  The Spark mapping separates the parallel part
from the sequential part:

* derive the block key as a Catalyst expression (``functions.text.block_key``);
  the block equi-join *is* the reference's intersection rule
  (``data_matcher.py:438-441``) — keys on one side only produce no pairs.
* **scoring stage** — each side is ranked within its block and cut into
  tiles of at most ``TILE`` ranks; the block equi-join pairs tiles, the
  tile pairs are hash-spread over the cluster, and one ``mapInPandas``
  scores each tile pair as a score-matrix block with the driver-local
  kernel (``functions.scoring.config_score_matrix``).  A record crosses
  the JVM->Python boundary once per tile of the other side, not once per
  candidate pair, and a hot block key ('S' holds ~10% of a real corpus)
  still splits into many independent tile-pair tasks instead of
  serializing one cogroup task.
* **assignment stage** — only the >= threshold edges (with block-local
  ranks) are shuffled to a per-block greedy that replays the reference's
  sequential argmax.  Sequential work is O(edges), not O(block^2).
* consolidation is pure DataFrame algebra: cleanliness scores as JVM column
  arithmetic, winner pick via ``when()``, unmatched re-entry via LEFT ANTI
  joins (``data_matcher.py:447-499``).

Determinism: input order is pinned by ``_fm_seq``; within a block the
processing rank is row_number over (sort keys..., _fm_seq), which equals
the reference's global stable sort restricted to the block.  Output is
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

from fuzzy_matching_spark.config import MatchConfig
from fuzzy_matching_spark.functions.text import block_key, cleanliness_col

__all__ = ["SparkMatcher", "attach_seq", "minhash_candidates"]

SEQ = "_fm_seq"
BK = "_fm_bk"


# Ranks per tile side in the blocked scorer: each tile pair is one
# ``config_score_matrix`` call of at most TILE x TILE cells.  Smaller tiles
# spread a hot block over more tasks but send each record to Python more
# often (once per tile of the other side); larger tiles amortize the
# per-call overhead.  Measured on the perfbench ``match_persons`` workload
# (2 x 2,100 persons, 679,986 blocked pairs; local[4] on a 4-core shared
# host), 5 alternating seeds per size, median op wall: T=128 3.65 s,
# T=256 3.51 s, T=512 3.59 s — flat within noise, so the middle one.
TILE = 256


def _tile_scorer(config: MatchConfig):
    """``mapInPandas`` body: score each (left tile, right tile) pair of a
    block with the driver-local kernel (``config_score_matrix``) and emit
    only the edges that can take part in the greedy — ``sim > 0`` and
    ``sim >= threshold`` — with their block ranks and seqs."""
    from fuzzy_matching_spark.functions.scoring import config_score_matrix

    threshold = config.threshold

    def score(batches):
        for pdf in batches:
            out = []
            for bk, ta, tb in zip(pdf[BK], pdf["_ta"], pdf["_tb"]):
                left = pd.DataFrame.from_records(list(ta))
                right = pd.DataFrame.from_records(list(tb))
                m = config_score_matrix(left, right, config)
                i, j = np.nonzero((m > 0.0) & (m >= threshold))
                if i.size:
                    out.append(
                        pd.DataFrame(
                            {
                                BK: bk,
                                "_lr": left["_rank"].to_numpy()[i],
                                "_rr": right["_rank"].to_numpy()[j],
                                "left_seq": left["_seq"].to_numpy()[i],
                                "right_seq": right["_seq"].to_numpy()[j],
                                "sim": m[i, j],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    return score


def minhash_candidates(dedup_config=None, fields=None):
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
    the union; only cross-side collisions survive.  Banding defaults to
    (64 bands x 2 rows) over 3-char shingles: P[collide] = 1-(1-J^2)^64
    > 0.99 for J >= 0.3 — generous because the weighted-field scorer, not
    the LSH, is the precision gate.

    ``fields`` restricts which match fields feed the LSH text (default: the
    matcher's own match fields).
    """
    from fuzzy_matching_spark.config import DedupConfig
    from fuzzy_matching_spark.operators import minhash

    cfg = dedup_config or DedupConfig(
        shingle_size=3, tokenize="char", num_perm=128, bands=64, rows_per_band=2
    )

    def gen(d1: DataFrame, d2: DataFrame, match_fields: list) -> DataFrame:
        use = fields or match_fields

        def tagged(d, side):
            text = F.lower(
                F.concat_ws(
                    " ",
                    *[
                        F.coalesce(F.col(f).cast("string"), F.lit(""))
                        for f in use
                        if f in d.columns
                    ],
                )
            )
            return d.select(
                (F.col(SEQ) * 2 + side).alias("doc_id"), text.alias("content")
            )

        un = tagged(d1, 0).unionByName(tagged(d2, 1))
        sigs = minhash.minhash_signatures(un, cfg)
        pairs, _ = minhash.candidate_pairs(minhash.band_table(sigs), cfg)
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


def _greedy_over_edges(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference-order greedy 1:1 assignment over one block's edge list.

    Rows are (block, left rank, right rank, seqs, sim) with sim already
    >= threshold and > 0.  Processing lefts in rank order and scanning
    each left's candidates by (sim desc, right rank asc) reproduces the
    reference's argmax semantics exactly: strict ``>`` keeps the earliest
    right at equal scores, and a right is consumed on first assignment.
    """
    if pdf.empty:
        return pd.DataFrame({"left_seq": [], "right_seq": [], "sim": []}).astype(
            {"left_seq": "int64", "right_seq": "int64", "sim": "float64"}
        )
    pdf = pdf.sort_values(
        ["_lr", "sim", "_rr"], ascending=[True, False, True], kind="stable"
    )
    taken: set[int] = set()
    out_l, out_r, out_s = [], [], []
    cur = None
    assigned = False
    for lr, rr, ls, rs, sim in zip(
        pdf["_lr"], pdf["_rr"], pdf["left_seq"], pdf["right_seq"], pdf["sim"]
    ):
        if lr != cur:
            cur = lr
            assigned = False
        if assigned or rr in taken:
            continue
        taken.add(rr)
        assigned = True
        out_l.append(int(ls))
        out_r.append(int(rs))
        out_s.append(float(sim))
    return pd.DataFrame({"left_seq": out_l, "right_seq": out_r, "sim": out_s})


def _make_component_greedy(nlk: int, nrk: int):
    """Greedy 1:1 assignment over one connected component's edge list.

    The generalization of :func:`_greedy_over_edges` from per-block ranks to
    explicit order-key tuples: lefts are processed in (order fields...,
    left_seq) order; within a left, candidates scan by (sim desc, right's
    order fields..., right_seq).  Strict-``>`` argmax and right-exclusivity
    semantics are identical to the reference (data_matcher.py:472-497).
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

    ``rebalance_min_rows``: at or below this many total input rows the
    match counts as *small*: the blocked plan ranks each side in 8
    block-key partitions instead of ``spark.sql.shuffle.partitions``, and
    the greedy's pair table is broadcast into the consolidation joins, so
    a latency-class input pays as few stage barriers as possible.  The
    decision reads the exact input counts, which are free: d1/d2 are
    pinned and must materialize anyway.  Candidates (LSH) mode also skips
    its pair-stream rebalance below it.

    ``pin_inputs``: persist the prepared inputs so the ``_fm_seq`` row ids
    are computed once and every downstream consumer (scoring join,
    consolidation join-backs, anti-joins) reads the same snapshot — the
    determinism guard for inputs downstream of a shuffle/aggregation,
    whose partition row order Spark does not promise to reproduce across
    re-evaluations.  ``False`` skips the cache for callers that guarantee
    deterministic sources (file scans, createDataFrame) and manage memory
    tightly.

    ``driver_match_max_rows`` / ``driver_match_char_budget`` /
    ``driver_match_pair_budget``: the driver-local strategy gate (see
    :mod:`fuzzy_matching_spark.operators.local_match`).  When a blocked
    match (no ``candidates``) has both inputs together fitting in
    ``max_rows``, their match-field text in ``char_budget`` and the
    blocked pair volume in ``pair_budget`` (scaled down 64x for
    transliterate-enabled configs, whose scoring is scalar per unique
    pair), the whole match — any scorer, transliteration included — runs
    on the driver through the same batched LCS kernel the executors use;
    at toy sizes the distributed plan is pure stage latency, ~6 scheduler
    round-trips for sub-millisecond partitions.  All three budgets bound
    the probe itself (``limit(cap+1)`` collects, never a full scan), so
    the gate is safe to leave on at any input scale;
    ``driver_match_max_rows=0`` disables it (tests that target the
    distributed plan pin this).  The gate's pair budget is further scaled
    down by a per-scorer cost factor (PARTIAL_RATIO expands each pair into
    a window sweep, WRatio cascades into it): a single driver core should
    only take on work it finishes faster than the cluster's fixed stage
    latency.  ``last_strategy`` records which path ran.

    The blocked scoring stage has one plan (see :meth:`match_pairs`):
    tiles of the within-block rank order, joined on the block key,
    hash-spread and scored as ``config_score_matrix`` blocks.
    """

    def __init__(
        self,
        config: MatchConfig,
        rebalance_min_rows: int = 3_000,
        pin_inputs: bool = True,
        driver_match_max_rows: int = 4_096,
        driver_match_char_budget: int = 2_000_000,
        driver_match_pair_budget: int = 2_000_000,
    ):
        self.config = config
        self.rebalance_min_rows = rebalance_min_rows
        self.pin_inputs = pin_inputs
        self.driver_match_max_rows = driver_match_max_rows
        self.driver_match_char_budget = driver_match_char_budget
        self.driver_match_pair_budget = driver_match_pair_budget
        # observability: "driver" | "distributed", set per match call
        self.last_strategy: str | None = None
        self.match_fields = [fc.field for fc in config.fields]
        self.weights = {fc.field: fc.weight for fc in config.fields}
        # every frame this matcher persists (pinned inputs, the greedy pair
        # cache) — released by unpersist(); long-lived sessions that run many
        # match jobs call it once the results are consumed, otherwise
        # executor storage accumulates across invocations (ADVICE r3)
        self._persisted: list[DataFrame] = []
        # set by match_pairs: True when the input was at or under
        # rebalance_min_rows, enabling the latency-oriented consolidation plan
        self._last_small = False

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
        out = df
        for f in df.columns:
            if f == SEQ:
                continue
            out = out.withColumn(f, F.coalesce(F.col(f).cast("string"), F.lit("")))
        out = attach_seq(out)
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

    # ------------------------------------------------------------------
    def _ranked(self, d: DataFrame, rank_col: str, numparts: int | None = None) -> DataFrame:
        """Within-block processing rank = the reference's stable sort order
        ((sort keys..., input seq) — unique SEQ makes it total).

        ``numparts`` pre-partitions on the block key: the window, the tile
        grouping and the block equi-join all accept clustering by ``BK``,
        so one explicit k-partition exchange here satisfies them with a
        single shuffle per side sized for the small-input path
        (latency-bound, where per-stage scheduling dominates); large
        inputs keep ``spark.sql.shuffle.partitions``.  Pure execution
        hint — row content, ranks and greedy output are
        partitioning-independent."""
        from pyspark.sql.window import Window

        if numparts:
            d = d.repartition(numparts, F.col(BK))
        w = Window.partitionBy(BK).orderBy(
            *[F.col(c) for c in self._order_cols(d)], F.col(SEQ)
        )
        return d.filter(F.col(BK).isNotNull()).withColumn(
            rank_col, F.row_number().over(w)
        )

    def _tiles(self, d: DataFrame, rank_col: str, tile_col: str, list_col: str) -> DataFrame:
        """Group a ranked side into tiles of at most ``TILE`` consecutive
        within-block ranks: one row per (block, tile) holding the tile's
        records as ``array<struct<rank, seq, match fields...>>``."""
        fields = [f for f in dict.fromkeys(self.match_fields) if f in d.columns]
        tile = F.floor((F.col(rank_col) - 1) / F.lit(TILE)).alias(tile_col)
        rec = F.struct(
            F.col(rank_col).alias("_rank"), F.col(SEQ).alias("_seq"), *fields
        )
        return d.groupBy(F.col(BK), tile).agg(F.collect_list(rec).alias(list_col))

    def _is_simple(self) -> bool:
        """Fast-path eligibility: every field scores RATIO/TOKEN_SORT and no
        transliteration — values can be pre-transformed once per record."""
        from fuzzy_matching_spark.config import FuzzyAlgorithm

        config = self.config
        translit_on = config.transliteration.enabled
        return all(
            not (fc.transliterate and translit_on)
            and (fc.fuzzy_algorithm or config.fuzzy_algorithm)
            in (FuzzyAlgorithm.RATIO, FuzzyAlgorithm.TOKEN_SORT)
            for fc in config.fields
        )

    def _side_cols(self, d: DataFrame, prefix: str, simple: bool) -> list:
        from fuzzy_matching_spark.functions import scoring

        cols = []
        for i, fc in enumerate(self.config.fields):
            src = F.col(fc.field) if fc.field in d.columns else F.lit("")
            if simple:
                algo = fc.fuzzy_algorithm or self.config.fuzzy_algorithm
                src = scoring.transform_value_udf(algo.value)(src)
            cols.append(src.alias(f"{prefix}{i}"))
        return cols

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
        (e.g. :func:`minhash_candidates`) replaces the block equi-join —
        the corpus-scale path promised by the module docstring.  Scoring
        semantics (weighted fields, thresholds) and the order-exact greedy
        are identical; ``block_field``/``group_fields`` are ignored because
        the LSH bands *are* the blocking.  See ``_match_pairs_candidates``
        for the component-wise greedy that replaces per-block grouping.

        Execution shape: each side is ranked within its block and cut into
        tiles of at most ``TILE`` consecutive ranks; the block equi-join
        pairs tiles, not records, and one ``mapInPandas`` scores each tile
        pair as a ``config_score_matrix`` block — the kernel
        ``LocalBatchedMatcher`` runs on the driver, so any scorer and
        transliteration take the same path.  A record crosses to Python
        once per tile of the other side instead of once per candidate
        pair, and a hot block still spreads: it becomes
        ``ceil(n_a/T) * ceil(n_b/T)`` independent tasks.  Only the >=
        threshold *edges* (with block-local ranks) reach the per-block
        sequential greedy, which is cheap because the edge list is small.
        The edge-list greedy is output-identical to the full-matrix
        argmax: any right that could ever be assigned scores >= threshold
        (and > 0), so dropping sub-threshold pairs cannot change an argmax
        that leads to an assignment.
        """
        config = self.config
        # _fm_seq derives from monotonically_increasing_id, which is only
        # stable across re-evaluations for sources with deterministic
        # partition row order (file scans, createDataFrame).  The prepared
        # frames feed BOTH the scoring join here and the consolidation
        # join-backs in match_and_consolidate, so pin them (ADVICE r2):
        # persist + the eager size-gating counts below populate the cache
        # BEFORE any downstream consumer runs, so every stage reads the
        # same snapshot and the seqs cannot diverge even for shuffled
        # inputs — short of cache eviction under memory pressure, the one
        # residual (documented) hazard.  localCheckpoint would close that
        # too but measured 3-5x slower end-to-end (its lazy materialization
        # races concurrent consumers; eager forfeits pipeline overlap).
        # The persist intentionally outlives this call: the returned
        # matches/consolidated plans keep referencing d1/d2.
        d1 = self._prepare(df1)
        d2 = self._prepare(df2)
        if self.pin_inputs:
            d1 = d1.persist()
            d2 = d2.persist()
            self._persisted.extend([d1, d2])
        # reset BEFORE branching: a stale True from an earlier small blocked
        # run must not leak a broadcast hint onto a (possibly huge)
        # candidates-mode pair table in match_and_consolidate
        self._last_small = False
        if candidates is not None:
            return self._match_pairs_candidates(d1, d2, candidates)
        # ONE pin/stats job for both sides (was two counts, VERDICT r3 #6):
        # the union scan materializes both persisted frames and returns the
        # total row count that decides ``small``.  (InMemoryRelation caches
        # whole rows on first scan, so the narrow projection still
        # populates the full pin.)
        total_rows = d1.select(SEQ).unionAll(d2.select(SEQ)).count()
        small = total_rows <= self.rebalance_min_rows
        self._last_small = small  # consumed by match_and_consolidate
        numparts = 8 if small else None
        ta = self._tiles(self._ranked(d1, "_lr", numparts), "_lr", "_ti", "_ta")
        tb = self._tiles(self._ranked(d2, "_rr", numparts), "_rr", "_tj", "_tb")
        # the block equi-join pairs every left tile with every right tile of
        # its block; spreading the tile pairs by hash turns a hot block into
        # ceil(n_a/T) * ceil(n_b/T) independent tasks
        par = df1.sparkSession.sparkContext.defaultParallelism
        tile_pairs = (
            ta.join(tb, BK)
            .repartition(2 * par, F.col(BK), F.col("_ti"), F.col("_tj"))
            .select(BK, "_ta", "_tb")
        )
        edges = tile_pairs.mapInPandas(
            _tile_scorer(config),
            schema=f"{BK} string, _lr int, _rr int, left_seq long, right_seq long, sim double",
        )
        pairs = edges.groupBy(BK).applyInPandas(
            _greedy_over_edges, schema="left_seq long, right_seq long, sim double"
        )
        return pairs, d1, d2

    def _match_pairs_candidates(
        self, d1: DataFrame, d2: DataFrame, candidates
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Candidate-driven scoring + component-wise order-exact greedy.

        Scale shape: the candidate frame (left_seq, right_seq) is joined to
        both sides' pre-transformed values, scored one Arrow row per pair by
        the batched pair scorers (candidate pairs are sparse, so there is no
        tile structure to score as matrix blocks), and only the >=
        threshold edges survive.
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
        from fuzzy_matching_spark.functions import scoring
        from fuzzy_matching_spark.operators.connected_components import (
            connected_components,
        )

        config = self.config
        cand = candidates(d1, d2, self.match_fields)

        nf = len(config.fields)
        weights = [fc.weight for fc in config.fields]
        total_w = sum(weights)
        simple = self._is_simple()
        lkeys = self._order_cols(d1)
        rkeys = self._order_cols(d2)

        asel = d1.select(
            F.col(SEQ).alias("left_seq"),
            *[F.col(c).alias(f"_lk{i}") for i, c in enumerate(lkeys)],
            *self._side_cols(d1, "_fa", simple),
        )
        bsel = d2.select(
            F.col(SEQ).alias("right_seq"),
            *[F.col(c).alias(f"_rk{i}") for i, c in enumerate(rkeys)],
            *self._side_cols(d2, "_fb", simple),
        )
        joined = cand.join(asel, "left_seq").join(bsel, "right_seq")

        if simple and config.threshold > 0 and total_w > 0:
            # lossless prune: per-field ratio upper bound from exact
            # transformed lengths, weighted like the real score
            ub = F.lit(0.0)
            for i, w in enumerate(weights):
                la = F.length(f"_fa{i}")
                lb = F.length(f"_fb{i}")
                fub = F.when(
                    la + lb > 0, 2.0 * F.least(la, lb) / (la + lb)
                ).otherwise(F.lit(0.0))
                ub = ub + fub * F.lit(w)
            joined = joined.filter(ub / F.lit(total_w) >= F.lit(config.threshold))

        # rectangular batches for the matrix kernel: keep each left's
        # candidate run together while spreading lefts across the cluster
        # (skipped for small inputs — see the class docstring)
        if d1.count() + d2.count() > self.rebalance_min_rows:
            par = joined.sparkSession.sparkContext.defaultParallelism
            joined = joined.repartition(max(32, par * 2), F.col("left_seq"))

        scorer = (
            scoring.make_simple_pair_scorer(weights)
            if simple
            else scoring.make_general_pair_scorer(config)
        )
        scored = joined.withColumn(
            "sim",
            scorer(*[F.col(f"_f{s}{i}") for i in range(nf) for s in ("a", "b")]),
        )
        edges = scored.filter(
            (F.col("sim") > 0.0) & (F.col("sim") >= F.lit(config.threshold))
        ).select(
            "left_seq",
            "right_seq",
            *[f"_lk{i}" for i in range(len(lkeys))],
            *[f"_rk{i}" for i in range(len(rkeys))],
            "sim",
        )

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
            _make_component_greedy(len(lkeys), len(rkeys)),
            schema="left_seq long, right_seq long, sim double",
        )
        return pairs, d1, d2

    def _try_local(self, df1: DataFrame, df2: DataFrame):
        """Probe the driver-local strategy gate; run it if everything fits.

        Returns ``(matches, consolidated)`` DataFrames, or ``None`` to fall
        back to the distributed plan.  Bounded by construction: reads at
        most ``driver_match_max_rows + 1`` rows per side via ``limit`` —
        on a 100 TB source that is a one-partition scan, and an oversize
        probe costs two trivial jobs before the distributed plan proceeds.
        String-typed columns are required (the engine's data model; the
        distributed ``_prepare`` would stringify, but mixed-type frames
        keep the fully-tested distributed path).
        """
        from pyspark.sql.types import StringType

        cap = self.driver_match_max_rows
        if cap <= 0:
            return None
        if any(
            not isinstance(f.dataType, StringType)
            for f in list(df1.schema.fields) + list(df2.schema.fields)
        ):
            return None
        if df1.schema == df2.schema:
            # one probe job, not two: tag-union both capped sides and split
            # driver-side.  Each limit collapses to a single-partition
            # GlobalLimit, so per-side row order in the collect matches the
            # two-collect path.  Saves one full action round-trip — at this
            # input size the wall is almost entirely action latency.
            tagged = df1.limit(cap + 1).withColumn(
                "_probe_side", F.lit(0)
            ).unionByName(df2.limit(cap + 1).withColumn("_probe_side", F.lit(1)))
            rows1, rows2 = [], []
            for r in tagged.collect():
                (rows1 if r["_probe_side"] == 0 else rows2).append(r)
            drop = ("_probe_side",)
        else:
            rows1 = df1.limit(cap + 1).collect()
            if len(rows1) > cap:
                return None
            rows2 = df2.limit(cap - len(rows1) + 1).collect()
            drop = ()
        if len(rows1) > cap or len(rows1) + len(rows2) > cap:
            return None

        from fuzzy_matching_spark.operators import local_match

        cols = [c for c in df1.columns if c not in (SEQ, BK)]
        # the same string coercion _prepare applies (None -> "")
        def coerce(rows):
            return [
                {
                    c: (v if v is not None else "")
                    for c, v in zip(r.__fields__, r)
                    if c not in drop
                }
                for r in rows
            ]

        l1, l2 = coerce(rows1), coerce(rows2)
        probe_fields = set(self.match_fields)
        if self.config.block_field:
            probe_fields.add(self.config.block_field)
        chars = sum(
            len(r.get(f, "")) for rows in (l1, l2) for r in rows for f in probe_fields
        )
        if chars > self.driver_match_char_budget:
            return None
        # block membership is order-independent, so the volume probe needs
        # no sort replay
        from fuzzy_matching_spark.config import FuzzyAlgorithm

        pair_budget = self.driver_match_pair_budget
        # Per-scorer kernel cost relative to RATIO, measured on the n=1000
        # persons fixture (155k blocked pairs, one core): PARTIAL_RATIO
        # sweeps every alignment window, but through the vectorized
        # all-windows kernel (batchlcs.partial_ratio_windows) that is ~5x
        # a plain ratio batch, not ~70x; WRatio cascades into it for
        # length-mismatched pairs (~5x), TOKEN_SET scores one derived
        # diff-string LCS plus arithmetic (~2x).  The divisor keeps the
        # driver path only where one core still beats the cluster's ~1.5 s
        # of fixed stage latency.
        _cost = {
            FuzzyAlgorithm.RATIO: 1,
            FuzzyAlgorithm.TOKEN_SORT: 1,
            FuzzyAlgorithm.TOKEN_SET: 2,
            FuzzyAlgorithm.WRatio: 5,
            FuzzyAlgorithm.PARTIAL_RATIO: 5,
        }
        scorer_cost = max(
            _cost.get(fc.fuzzy_algorithm or self.config.fuzzy_algorithm, 1)
            for fc in self.config.fields
        ) if self.config.fields else 1
        divisor = scorer_cost
        if any(
            fc.transliterate and self.config.transliteration.enabled
            for fc in self.config.fields
        ):
            # transliterate-enabled fields score pair-wise through a scalar
            # unique-pair path (direction depends on BOTH sides' detected
            # languages — scoring._translit_field_matrix), not the batched
            # LCS kernel; a single driver core should only take that on at
            # a fraction of the batched budget
            divisor = max(divisor, 64)
        pair_budget //= divisor
        if local_match.pair_volume(l1, l2, self.config) > pair_budget:
            return None
        self.last_strategy = "driver"
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
        # The greedy cogroup is the expensive stage and is consumed by three
        # branches (winner pick + two anti-joins); persist its tiny output
        # (id pairs + sim) so the plan runs it once, not three times.
        pairs = pairs.persist()
        self._persisted.append(pairs)
        # small inputs: the pair table is tiny (<= rebalance_min_rows rows of
        # three scalars), so broadcast it into the three consumers — the
        # join-backs and anti-joins then read the pinned inputs in place
        # with NO shuffle at all.  Large inputs keep shuffle joins: a
        # corpus-scale match output can exceed any broadcast budget.
        bpairs = F.broadcast(pairs) if self._last_small else pairs
        cols = [c for c in d1.columns if c not in (SEQ, BK)]

        clean = cleanliness_col(self.match_fields, self.weights)
        field_len = sum(
            F.length(F.coalesce(F.col(f).cast("string"), F.lit("")))
            for f in self.match_fields
        )
        a = d1.withColumn("_clean", clean).withColumn("_flen", field_len).alias("a")
        b = d2.withColumn("_clean", clean).withColumn("_flen", field_len).alias("b")

        joined = (
            bpairs.alias("p")
            .join(a, F.col("p.left_seq") == F.col(f"a.{SEQ}"))
            .join(b, F.col("p.right_seq") == F.col(f"b.{SEQ}"))
        )

        s1 = F.struct(*[F.col(f"a.{c}").alias(c) for c in cols])
        s2 = F.struct(*[F.col(f"b.{c}").alias(c) for c in cols])
        matches = joined.select(
            s1.alias("Оригинал"), s2.alias("Вариант"), F.col("p.sim").alias("Схожесть")
        )

        # cleaner-record pick: lower score wins; tie -> shorter field length;
        # tie -> left (reference select_cleaner_record, data_matcher.py:262-281)
        winner = (
            F.when(F.col("a._clean") < F.col("b._clean"), s1)
            .when(F.col("b._clean") < F.col("a._clean"), s2)
            .otherwise(F.when(F.col("a._flen") <= F.col("b._flen"), s1).otherwise(s2))
        )
        winners = joined.select(winner.alias("w")).select("w.*")

        un1 = (
            d1.join(bpairs.select("left_seq"), d1[SEQ] == F.col("left_seq"), "left_anti")
            .select(*cols)
        )
        un2 = (
            d2.join(bpairs.select("right_seq"), d2[SEQ] == F.col("right_seq"), "left_anti")
            .select(*cols)
        )
        consolidated = winners.unionByName(un1).unionByName(un2)
        return matches, consolidated

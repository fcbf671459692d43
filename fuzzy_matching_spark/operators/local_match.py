"""Driver-local batched matcher — the small-input execution strategy.

``SparkMatcher.match_and_consolidate`` dispatches here when both inputs
together fit under a bounded row / character / pair-volume budget — any
scorer, transliteration included (``config_score_matrix`` covers them
all; a transliterating field transforms each distinct pair in scalar
Python, so ``scoring.kernel_cost`` shrinks its pair budget 64x).
At that size the distributed plan's wall is pure fixed latency — half a
dozen stages of scheduler and Python-worker round-trips over
sub-millisecond partitions — while one driver core pushes the whole
blocked candidate set through the same batched bit-parallel LCS kernel
the executors run (``functions.scoring.score_matrix``) in well under a
second.  This is the same size-by-strategy reasoning the pipeline already
applies elsewhere: connected components runs a driver union-find below
2M edges, Spark itself swaps sort-merge joins for broadcasts below a size
threshold.  Inputs above the budget never reach this module — the probe
reads at most ``greedy_match.DRIVER_MAX_ROWS + 1`` rows per side (one
tag-unioned ``limit`` + ``collect``), so the gate itself is 100 TB-safe.

Semantics are bit-identical to :class:`~fuzzy_matching_spark.oracle.
matcher.OracleMatcher`, the reference-parity ground truth
(``/root/reference/fuzzy_matching/core/data_matcher.py:412-499``): this
class *is* the oracle with the per-pair scalar scoring loop replaced by
:func:`~fuzzy_matching_spark.functions.scoring.config_score_matrix`
(float-identical by construction — same kernels, same per-field
accumulation order) and the argmax replayed over the precomputed matrix.
``np.argmax`` returns the FIRST maximum, which reproduces the reference's
strict ``>`` first-max-wins tie rule exactly; right-exclusivity is the
same take-set.  ``tests/test_local_match.py`` locks all three equalities:
local == oracle, local == distributed, and the dispatch gate itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from fuzzy_matching_spark.oracle.matcher import OracleMatcher

__all__ = ["LocalBatchedMatcher", "pair_volume", "run_local"]


class LocalBatchedMatcher(OracleMatcher):
    """OracleMatcher with matrix-batched block scoring (driver fast path)."""

    def _process_block(self, block1: list[dict], block2: list[dict]) -> list[dict]:
        from fuzzy_matching_spark.functions.scoring import config_score_matrix

        if not block1 or not block2:
            return []
        m = config_score_matrix(
            pd.DataFrame(block1, dtype=object),
            pd.DataFrame(block2, dtype=object),
            self.config,
        )
        taken = np.zeros(len(block2), dtype=bool)
        matches: list[dict] = []
        for i, rec1 in enumerate(block1):
            avail = np.flatnonzero(~taken)
            if avail.size == 0:
                break  # no rights left; remaining lefts can't match
            sub = m[i, avail]
            k = int(np.argmax(sub))  # first max == reference tie rule
            best_sim = float(sub[k])
            # reference: best is only set when sim > 0.0 (strict > against
            # the 0.0 initializer), then kept iff >= threshold
            if best_sim > 0.0 and best_sim >= self.threshold:
                j = int(avail[k])
                matches.append(
                    {"Оригинал": rec1, "Вариант": block2[j], "Схожесть": best_sim}
                )
                taken[j] = True
        return matches


def pair_volume(rows1: list[dict], rows2: list[dict], config) -> int:
    """Candidate-pair count the blocked greedy would score: sum over common
    block keys of |b1| x |b2| (the reference's cost model).  Cheap dict
    pass; used by the dispatch gate to bound driver-side scoring work
    directly instead of by a row-count proxy."""
    matcher = OracleMatcher(config)
    if not config.block_field:
        return len(rows1) * len(rows2)
    b1 = matcher._blocks(rows1)
    b2 = matcher._blocks(rows2)
    return sum(len(v) * len(b2[k]) for k, v in b1.items() if k in b2)


def run_local(spark, cols: list[str], rows1: list[dict], rows2: list[dict], config):
    """Execute the local matcher and wrap results as DataFrames with the
    distributed output schema: ``matches(Оригинал struct, Вариант struct,
    Схожесть double)`` over ``cols`` (both structs use the left frame's
    column order, as the distributed plan does) and ``consolidated`` with
    the plain columns."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    matches, consolidated = LocalBatchedMatcher(config).match_and_consolidate(
        rows1, rows2
    )
    # Build the result frames from pandas, not Python lists: Arrow-backed
    # local relations evaluate JVM-side, while list-built frames replay a
    # pickled Python RDD through a Python worker on EVERY action — measured
    # ~0.8-1.0 s per count/collect vs ~0.06-0.2 s via Arrow.  At this input
    # size those two caller actions were most of the wall.  Structs are
    # assembled with a JVM projection over flat columns (Arrow struct
    # conversion from object columns is the one shaky spot in the pandas
    # path, flat strings + doubles are not).
    flat_schema = StructType(
        [StructField(f"_o_{c}", StringType()) for c in cols]
        + [StructField(f"_v_{c}", StringType()) for c in cols]
        + [StructField("Схожесть", DoubleType())]
    )
    m_flat = pd.DataFrame(
        [
            [m["Оригинал"].get(c, "") for c in cols]
            + [m["Вариант"].get(c, "") for c in cols]
            + [m["Схожесть"]]
            for m in matches
        ],
        columns=[f.name for f in flat_schema.fields],
        dtype=object,
    )
    m_flat["Схожесть"] = m_flat["Схожесть"].astype("float64")
    matches_df = spark.createDataFrame(m_flat, flat_schema).select(
        F.struct(*[F.col(f"_o_{c}").alias(c) for c in cols]).alias("Оригинал"),
        F.struct(*[F.col(f"_v_{c}").alias(c) for c in cols]).alias("Вариант"),
        "Схожесть",
    )
    rec_t = StructType([StructField(c, StringType()) for c in cols])
    c_flat = pd.DataFrame(
        [[r.get(c, "") for c in cols] for r in consolidated],
        columns=cols,
        dtype=object,
    )
    return matches_df, spark.createDataFrame(c_flat, rec_t)

"""Training-data text-analysis operators over a documents table.

All JVM-side column pipelines (language ID, quality scoring, token counting,
token-set Jaccard dedup) except document fingerprinting, which reuses the
vectorized rolling-hash kernel from :mod:`operators.fingerprint`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_matching_spark.functions.text import (
    detect_language_col,
    quality_score_col,
    token_count_col,
)

__all__ = [
    "language_profile",
    "quality_scores",
    "token_stats",
    "token_jaccard_pairs",
    "exact_dedup_stats",
]

# token_jaccard_pairs takes the bitmask plan up to this many distinct tokens:
# one bit per token in a signed long, sign bit clear; 0 always runs PPJoin.
# Measured on the sf0.1 documents (31 distinct tokens), t = 0.8, collected,
# local[4]: bitmask 14.8-21.2 s against PPJoin 113.7-155.0 s, same
# 2,968,398 pairs.
BITMASK_VOCAB_LIMIT = 62


def language_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Detected-language histogram: (detected_lang, n_docs)."""
    return (
        docs.select(detect_language_col(text_col).alias("detected_lang"))
        .groupBy("detected_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def quality_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, quality) heuristic in [0,1], rounded for stable comparison."""
    return docs.select(
        F.col(id_col), F.round(quality_score_col(text_col), 6).alias("quality")
    )


def token_stats(docs: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Per-group token totals: (group, n_docs, total_tokens, avg_tokens)."""
    with_counts = docs.withColumn("_toks", token_count_col(text_col))
    return with_counts.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("_toks").alias("total_tokens"),
        F.round(F.avg("_toks"), 6).alias("avg_tokens"),
    )


def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-hash dedup summary: (total_docs, distinct_docs, dup_docs)."""
    hashed = docs.select(F.sha2(F.col(text_col), 256).alias("h"))
    return hashed.agg(
        F.count("*").alias("total_docs"),
        F.countDistinct("h").alias("distinct_docs"),
        (F.count("*") - F.countDistinct("h")).alias("dup_docs"),
    )


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-set Jaccard near-dup pairs >= threshold (n-gram Jaccard, n=1).

    Classic explode/aggregate semantics — expressible in ANSI SQL, used as
    the SQL-checkable member of the dedup family.  Two physical plans,
    chosen by measured vocabulary size (one tiny aggregate job):

    * **small vocabulary** (<= ``BITMASK_VOCAB_LIMIT`` distinct tokens,
      e.g. log/telemetry corpora): every token set is encoded as one
      64-bit bitmask over the global vocabulary, so intersection/union are
      ``bit_count`` codegen ops instead of string-array intersections, the
      candidate join carries 8-byte masks instead of token arrays, and the
      Jaccard filter runs *before* the pair-dedup so only >= t survivors
      reach the distinct.  The vocabulary (bounded by the limit) is the
      only driver-side piece — a deliberate, size-gated exception to the
      no-collect rule.
    * **general vocabulary**: PPJoin-style lossless pruning — rare-first
      prefix filter (two sets with Jaccard >= t must share a token within
      each other's first ``|d| - ceil(t*|d|) + 1`` rarest tokens) +
      size-ratio filter, then exact ``array_intersect`` on candidates.
      The token-frequency table is joined with a plain shuffle join (AQE
      broadcasts it when it actually fits — a hard ``broadcast()`` of the
      full vocabulary OOMs at corpus scale).

    Both plans only *remove* pairs that provably cannot reach the
    threshold, so the result set is identical to the naive formulation
    (the DuckDB oracle runs the naive SQL).
    """
    tok_arrays = docs.select(
        F.col(id_col),
        F.array_distinct(F.split(F.trim(text_col), r"\s+")).alias("toks"),
    ).withColumn("sz", F.size("toks"))

    # global token frequencies: rare-first ordering for the prefix filter,
    # and the vocabulary-size measurement that picks the physical plan
    freq = (
        tok_arrays.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    vocab_probe = freq.limit(BITMASK_VOCAB_LIMIT + 1).collect()
    if len(vocab_probe) <= BITMASK_VOCAB_LIMIT:
        return _token_jaccard_bitmask(
            tok_arrays, vocab_probe, threshold, id_col
        )
    return _token_jaccard_ppjoin(tok_arrays, freq, threshold, id_col)


def _token_jaccard_bitmask(tok_arrays, vocab_rows, threshold, id_col):
    """Small-vocabulary plan: single-long bitmask token sets.

    ``vocab_rows`` is the full (token, df) list, bounded by the vocab limit.
    Bits are assigned rare-first so a mask's *lowest* set bits are its
    rarest tokens — the prefix filter becomes a mask over the low bits.

    When the threshold leaves enough slack (bands of >= 2 bits), the
    quadratic stage is delegated to :func:`_token_jaccard_mask_banded`,
    which joins DISTINCT masks on banded-Hamming keys and expands back to
    doc pairs — the candidate volume then scales with distinct token SETS
    (bounded by the corpus, not by doc count) and the band values spread
    candidates over many join keys instead of <= 62 bit buckets.
    """
    ordered = sorted(vocab_rows, key=lambda r: (r["df"], r["tok"]))
    V = len(ordered)
    # J(A,B) >= t  <=>  |A xor B| <= (1-t)*|A or B|  and |A or B| <= V,
    # so a qualifying pair's masks differ in at most d_max bits; with
    # B = d_max+1 bands they agree exactly on >= 1 band (pigeonhole).
    d_max = int((1.0 - threshold) * V + 1e-9)
    n_bands = d_max + 1
    # Bands of >= 2 bits, else the prefix plan.  Measured on the sf0.1
    # documents (V = 31), local[4]: at t = 0.5, where this test picks
    # prefix, both plans read 21-30 s counted with the same pairs; at
    # t = 0.3 prefix took 48 s and banded ran over 13 min.  Banded is only
    # taken from t ~ 0.53 up; at the headline's t = 0.8, collected, two
    # alternating pairs in one session (the first run cold): banded 31.0 /
    # 19.9 s, prefix 24.6 / 22.4 s, both 2,968,398 pairs with the same
    # digest; an earlier sitting's four pairs read banded 22.3 / 16.1 /
    # 18.2 / 13.6 s against prefix 21.6 / 23.1 / 20.4 / 19.8 s.
    if V > 0 and 2 * n_bands <= V:
        return _token_jaccard_mask_banded(
            tok_arrays, ordered, threshold, id_col, V, n_bands
        )
    masked = _mask_docs(tok_arrays, ordered, id_col)

    # prefix filter: the ceil(t*sz)-1 rarest tokens can be skipped; a pair
    # with Jaccard >= t must share one of the remaining (rarest-first)
    # prefix tokens.  Index each doc under its prefix token *bits*.
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    # positions of set bits, rare-first = ascending bit index (static
    # per-bit literals — the vocab bound keeps this a <=62-element array)
    bits = F.filter(
        F.array(
            *[
                F.when(
                    F.col("mask").bitwiseAND(F.lit(1 << i).cast("long")) != 0, F.lit(i)
                )
                for i in range(len(ordered))
            ]
        ),
        lambda x: x.isNotNull(),
    )
    # pmask = bitmask of the doc's prefix bits; a pair is emitted ONLY at
    # the lowest bit the two prefixes share, so every candidate pair
    # materializes exactly once and no pair-dedup shuffle is needed
    prefix_bits = F.slice(bits, F.lit(1), prefix_len.cast("int"))
    prefix = (
        masked.withColumn(
            "pmask",
            F.aggregate(
                prefix_bits,
                F.lit(0).cast("long"),
                # pow(2, x) is exact for powers of two; shiftleft() cannot
                # take a lambda variable as the shift amount
                lambda acc, x: acc.bitwiseOR(F.pow(F.lit(2.0), x).cast("long")),
            ),
        )
        .withColumn("bit", F.explode(prefix_bits))
        .select(id_col, "sz", "mask", "pmask", "bit")
    )

    a = prefix.select(
        F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"),
        F.col("mask").alias("mask_a"), F.col("pmask").alias("pmask_a"), "bit",
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"),
        F.col("mask").alias("mask_b"), F.col("pmask").alias("pmask_b"), "bit",
    )
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b")))
    shared_low = (
        "((pmask_a & pmask_b) & -(pmask_a & pmask_b))"
        " = shiftleft(CAST(1 AS BIGINT), bit)"
    )
    return (
        a.join(b, "bit")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_a") >= threshold * F.col("sz_b"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
            & F.expr(shared_low)
        )
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _mask_docs(tok_arrays, ordered, id_col):
    """(id, sz, mask): each doc's token set as one 64-bit vocabulary mask."""
    bit_map = F.create_map(
        *[
            x
            for i, r in enumerate(ordered)
            for x in (F.lit(r["tok"]), F.lit(1 << i).cast("long"))
        ]
    )
    return tok_arrays.select(
        F.col(id_col),
        "sz",
        F.aggregate(
            F.transform("toks", lambda t: bit_map[t]),
            F.lit(0).cast("long"),
            lambda acc, v: acc.bitwiseOR(v),
        ).alias("mask"),
    )


def _token_jaccard_mask_banded(tok_arrays, ordered, threshold, id_col, V, n_bands):
    """Distinct-mask banded-Hamming plan for small vocabularies.

    The quadratic stage runs over DISTINCT masks, not docs: identical token
    sets collapse before any pairing, so candidate volume is bounded by the
    number of distinct sets (<= 2^V, and in practice the corpus's set
    diversity) regardless of doc count — the property that keeps this plan
    alive at 10^12 docs.  The V vocabulary bits are split into ``n_bands``
    contiguous bands; a qualifying pair agrees exactly on >= 1 band
    (pigeonhole over the XOR-popcount bound), so an equi-join on
    (band, band_value) finds every candidate, with join keys spread over
    the bands' value spaces instead of <= V single-bit buckets.  Each mask
    pair is emitted exactly once — at its LOWEST agreeing band — so no
    pair-dedup shuffle is needed.  Doc expansion is two joins of the
    verified mask pairs against the (id, mask) table (AQE broadcasts the
    doc side when it fits) plus a same-mask self-join for the Jaccard-1
    groups; both emit only true result rows.
    """
    # band layout: first (V % n_bands) bands get an extra bit
    base, extra = divmod(V, n_bands)
    lows, widths, lo = [], [], 0
    for b in range(n_bands):
        w = base + (1 if b < extra else 0)
        lows.append(lo)
        widths.append(w)
        lo += w

    masked = _mask_docs(tok_arrays, ordered, id_col)
    ids = masked.filter(F.col("mask") != 0).select(id_col, "mask")

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("mask", lows[b])
                .bitwiseAND(F.lit((1 << widths[b]) - 1).cast("long"))
                .alias("val"),
            )
            for b in range(n_bands)
        ]
    )
    bands = (
        ids.select("mask")
        .distinct()
        .select("mask", F.explode(band_structs).alias("bv"))
        .select("mask", "bv.band", "bv.val")
    )

    a = bands.select(F.col("mask").alias("mask_a"), "band", "val")
    b = bands.select(F.col("mask").alias("mask_b"), "band", "val")
    xor = F.col("mask_a").bitwiseXOR(F.col("mask_b"))
    # bitmap of agreeing bands; keeping a pair only where the joined band
    # is the LOWEST set bit makes each pair materialize exactly once
    agree_bits = None
    for i in range(n_bands):
        bit = F.when(
            xor.bitwiseAND(
                F.lit(((1 << widths[i]) - 1) << lows[i]).cast("long")
            )
            == 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        agree_bits = bit if agree_bits is None else agree_bits.bitwiseOR(bit)
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b")))
    mask_pairs = (
        a.join(b, ["band", "val"])
        .filter(F.col("mask_a") < F.col("mask_b"))
        .withColumn("_agree", agree_bits)
        .filter(
            F.col("_agree").bitwiseAND(-F.col("_agree"))
            == F.expr("shiftleft(CAST(1 AS BIGINT), band)")
        )
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("mask_a", "mask_b", "jaccard")
    )

    cross = (
        mask_pairs.join(
            ids.select(F.col(id_col).alias("_ia"), F.col("mask").alias("mask_a")),
            "mask_a",
        )
        .join(
            ids.select(F.col(id_col).alias("_ib"), F.col("mask").alias("mask_b")),
            "mask_b",
        )
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "jaccard",
        )
    )
    same = (
        ids.select(F.col(id_col).alias("id_a"), "mask")
        .join(ids.select(F.col(id_col).alias("id_b"), "mask"), "mask")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(same)


def _token_jaccard_ppjoin(tok_arrays, freq, threshold, id_col):
    """General plan: rare-first prefix + size filter + exact array verify."""
    exploded = tok_arrays.select(id_col, "sz", F.explode("toks").alias("tok"))
    ranked = exploded.join(freq, "tok").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("tok"))
        ),
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(id_col, "sz", "tok")

    a = prefix.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "tok")
    b = prefix.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "tok")
    cands = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_a") >= threshold * F.col("sz_b"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )

    ta = tok_arrays.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    tb = tok_arrays.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("toks_a") + F.size("toks_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

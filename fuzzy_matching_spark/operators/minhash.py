"""MinHash + LSH near-duplicate candidate generation (north-rule detector #1).

Replaces the reference's first-char blocking (``data_matcher.py:232-260``)
as the candidate generator at corpus scale: the same *shape* — an equi-join
on a derived key — but the key is an LSH band hash, so candidate volume is
controlled by (bands, rows) instead of alphabet size (SURVEY.md §2.3 J1).

Dataflow (all Arrow-batched, no per-row Python):

1. ``minhash_signatures`` — mapInPandas: content -> k-shingle set -> 64-bit
   shingle hashes (vectorized polynomial rolling hash over codepoints) ->
   ``num_perm`` multiply-shift permutations -> signature (array<long>) +
   per-band fold hashes (array<long>).
2. ``band_table`` — ``posexplode`` of the band array: (doc_id, band, bh).
3. ``candidate_pairs`` — self-equi-join on (band, bh) with ``id_a < id_b``;
   hot buckets above ``max_bucket_size`` are *excluded and counted* (license
   headers / generated boilerplate would otherwise quadratically explode one
   reducer); AQE skew-join handles residual imbalance.
4. ``verify_pairs_exact`` — join contents back and compute the exact shingle
   Jaccard per pair in a pandas UDF (correctness mode), or
   ``estimate_similarity`` from signature agreement (cheap mode: ±1/sqrt(P)).

Determinism: all hash seeds derive from ``DedupConfig.seed``; output is
independent of partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_matching_spark.config import DedupConfig

__all__ = [
    "shingle_hashes",
    "shingle_table",
    "truncated_signatures",
    "minhash_signatures",
    "band_table",
    "candidate_pairs",
    "verify_pairs_exact",
    "estimate_similarity",
]

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_POLY_BASE = np.uint64(1000003)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer — decorrelates sequential seeds (public domain)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK64
    return x ^ (x >> np.uint64(31))


def _perm_params(num_perm: int, seed: int):
    """(a, b) multiply-add parameters; a forced odd for bijectivity mod 2^64."""
    base = _splitmix64(np.arange(seed, seed + 2 * num_perm, dtype=np.uint64))
    a = base[:num_perm] | np.uint64(1)
    b = base[num_perm:]
    return a, b


def shingle_hashes(text: str, k: int, tokenize: str = "char") -> np.ndarray:
    """Unique 64-bit hashes of the k-shingles of ``text`` (vectorized).

    ``char`` mode: k-grams over unicode codepoints via a rolling polynomial
    hash (k vector ops, O(n) total).  ``word`` mode: k-grams over whitespace
    tokens (token ids first, then the same polynomial fold).
    """
    if tokenize == "word":
        toks = text.split()
        if len(toks) < k:
            # degenerate doc: a single shingle hashing the whole text
            return np.array([_fold_bytes(" ".join(toks).encode("utf-8"))], dtype=np.uint64)
        # stable token ids: hash each token's bytes with a per-token fold
        units = np.fromiter(
            (_fold_bytes(t.encode("utf-8")) for t in toks), dtype=np.uint64, count=len(toks)
        )
    else:
        cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        if cps.size < k:
            return np.array([_fold_bytes(text.encode("utf-8"))], dtype=np.uint64)
        units = cps

    n = units.size
    m = n - k + 1
    h = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        h = (h * _POLY_BASE + units[j : j + m]) & _MASK64
    return np.unique(_splitmix64(h))


def _fold_bytes(b: bytes) -> np.uint64:
    h = 1469598103934665603  # FNV-ish fold, splitmix-finalized
    for byte in b:
        h = ((h ^ byte) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return _splitmix64(np.array([h], dtype=np.uint64))[0]


def _minhash_one(shingles: np.ndarray, a: np.ndarray, b: np.ndarray, chunk: int = 512) -> np.ndarray:
    """Classic minwise: min over shingles of (a*x + b) mod 2^64.

    O(S * P) work and memory traffic — chunked so the (P, chunk) grid stays
    cache-resident (4096-wide grids thrash the shared L3 when 32 workers run
    concurrently; measured ~4x aggregate slowdown).  Kept as the
    ``minhash_mode="classic"`` compatibility path; the default scale path is
    :func:`_oph_batch` (O(S) per doc).
    """
    num_perm = a.size
    sig = np.full(num_perm, _MASK64, dtype=np.uint64)
    for lo in range(0, shingles.size, chunk):
        x = shingles[lo : lo + chunk]
        # (P, C) grid; uint64 wraparound is the intended modulus
        grid = (a[:, None] * x[None, :] + b[:, None]) & _MASK64
        np.minimum(sig, grid.min(axis=1), out=sig)
    return sig


def _oph_batch(shingles: np.ndarray, doc_idx: np.ndarray, n_docs: int, num_perm: int) -> np.ndarray:
    """One-permutation hashing for a whole Arrow batch: (n_docs, num_perm).

    Each shingle hash lands in bucket ``h % P`` and contributes its remixed
    value to that bucket's minimum — one O(S_total) scatter-min for the
    entire batch instead of P dense passes per doc (Li, Owen, Zhang 2012).
    Empty buckets (rare: P(empty) = (1-1/P)^S ~ 2e-7 at S=2000, P=125) are
    filled by circular borrowing from the next non-empty bucket, bucket-index
    salted so borrowed rows stay band-decorrelated (densification in the
    spirit of Shrivastava 2017).

    ``shingles``: concatenated unique shingle hashes of all docs in the
    batch; ``doc_idx``: parallel array of doc ordinals (0..n_docs-1).
    """
    P = np.uint64(num_perm)
    buckets = shingles % P
    flat = (doc_idx * np.uint64(num_perm) + buckets).astype(np.int64)
    # Per-doc shingle arrays arrive value-sorted (np.unique output), so the
    # first occurrence of each (doc, bucket) key is that bucket's minimum.
    # Scatter in reverse: fancy assignment applies writes in index order, so
    # with duplicated keys the last write — the first original occurrence —
    # wins.  One O(S) pass; np.unique / minimum.at on uint64 are 25-400x
    # slower (measured).  The write-order contract is locked by a unit test
    # against a per-doc reference implementation.
    sig = np.full(n_docs * num_perm, _MASK64, dtype=np.uint64)
    sig[flat[::-1]] = shingles[::-1]
    sig = sig.reshape(n_docs, num_perm)

    empty = sig == _MASK64
    if empty.any():
        # circular densification: walk left over doubled columns so every
        # empty bucket inherits the nearest filled bucket to its right
        doubled = np.concatenate([sig, sig], axis=1)
        for j in range(2 * num_perm - 2, -1, -1):
            col = doubled[:, j]
            mask = col == _MASK64
            if mask.any():
                doubled[mask, j] = doubled[mask, j + 1]
        filled = doubled[:, :num_perm]
        salt = _splitmix64(np.arange(num_perm, dtype=np.uint64) + np.uint64(0x5EED))
        sig = np.where(empty, (filled + salt[None, :]) & _MASK64, sig)
    return sig


def _band_fold(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Fold each band's rows into one 64-bit value (order-sensitive)."""
    return _band_fold_batch(sig[None, :], bands, rows)[0]


def _band_fold_batch(sig_mat: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Vectorized band fold for a (n_docs, num_perm) signature matrix."""
    n = sig_mat.shape[0]
    view = sig_mat.reshape(n, bands, rows)
    out = np.zeros((n, bands), dtype=np.uint64)
    for j in range(rows):
        out = (out * _POLY_BASE + view[:, :, j]) & _MASK64
    # mix in the band index so identical folds in different bands don't join
    return _splitmix64(out + np.arange(bands, dtype=np.uint64)[None, :])


def minhash_signatures(
    df: DataFrame,
    config: DedupConfig,
    content_col: str = "content",
    id_col: str = "doc_id",
    keep_shingles: bool = False,
) -> DataFrame:
    """-> (doc_id, sig array<long>, bands array<long>, n_shingles int).

    ``keep_shingles=True`` additionally returns the sorted unique shingle
    hashes (``sh array<long>``) so the exact verifier can reuse them —
    shingling is the dominant Python cost of the pipeline, and without
    this the verifier re-shingles every participating doc (plus pays a
    semi-join stage to find them).
    """
    k = config.shingle_size
    tokenize = config.tokenize
    num_perm = config.num_perm
    n_bands, rows = config.bands, config.rows_per_band
    seed = config.seed
    mode = getattr(config, "minhash_mode", "oph")

    out_schema = f"`{id_col}` long, sig array<long>, bands array<long>, n_shingles int"
    if keep_shingles:
        out_schema += ", sh array<long>"

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = _perm_params(num_perm, seed) if mode == "classic" else (None, None)
        for pdf in batches:
            n = len(pdf)
            shlists = [
                shingle_hashes(text or "", k, tokenize) for text in pdf[content_col]
            ]
            counts = np.array([s.size for s in shlists], dtype=np.int64)
            if mode == "classic":
                sig_mat = np.stack([_minhash_one(sh, a, b) for sh in shlists]) if n else \
                    np.empty((0, num_perm), dtype=np.uint64)
            else:
                all_sh = np.concatenate(shlists) if n else np.array([], dtype=np.uint64)
                doc_idx = np.repeat(np.arange(n, dtype=np.uint64), counts)
                sig_mat = _oph_batch(all_sh, doc_idx, n, num_perm)
            bands_mat = _band_fold_batch(sig_mat, n_bands, rows)
            out = {
                id_col: pdf[id_col],
                "sig": list(sig_mat.view(np.int64)),
                "bands": list(bands_mat.view(np.int64)),
                "n_shingles": counts,
            }
            if keep_shingles:
                out["sh"] = [s.view(np.int64) for s in shlists]
            yield pd.DataFrame(out)

    return df.select(id_col, content_col).mapInPandas(compute, schema=out_schema)


def band_table(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """posexplode(bands) -> (doc_id, band int, bh long)."""
    return sig_df.select(
        id_col, F.posexplode("bands").alias("band", "bh")
    )


def candidate_pairs(
    bands_df: DataFrame,
    config: DedupConfig,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Self-join on (band, bh) -> distinct (id_a < id_b) candidate pairs.

    Returns ``(pairs, bucket_metrics)``; buckets larger than
    ``max_bucket_size`` are excluded from pair expansion and surfaced in the
    metrics frame (band, bh, size, skipped) — never silently dropped.

    The size filter is a window count over (band, bh): it reuses the one
    (band, bh) exchange the self-join needs and was measured faster on
    this box than a groupBy-count joined back to the rows, which moves one
    extra row per bucket through a second join.  The tradeoff: the window
    buffers each (band, bh) partition in one task before the filter runs,
    so a pathological hot bucket (millions of identical entries) is sorted
    and possibly spilled in a single task even though it is then dropped;
    the map-side-combined groupBy-count never concentrates those rows.
    """
    from pyspark.sql.window import Window

    sizes = bands_df.groupBy("band", "bh").agg(F.count("*").alias("size"))
    metrics = sizes.withColumn("skipped", F.col("size") > config.max_bucket_size)
    w = Window.partitionBy("band", "bh")
    kept = (
        bands_df.withColumn("_bsz", F.count("*").over(w))
        .filter((F.col("_bsz") > 1) & (F.col("_bsz") <= config.max_bucket_size))
        .drop("_bsz")
    )

    left = kept.select(F.col("band"), F.col("bh"), F.col(id_col).alias("id_a"))
    right = kept.select(F.col("band"), F.col("bh"), F.col(id_col).alias("id_b"))
    pairs = (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return pairs, metrics


def estimate_similarity(pairs: DataFrame, sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Jaccard estimate = fraction of agreeing signature components.

    -> (id_a, id_b, sim, ns_a, ns_b); ``ns_*`` are the sides' shingle
    counts so callers can gate the estimate's trust on signature density
    (OPH densification makes estimates of *sparse* docs — fewer shingles
    than permutations — correlated and unreliable; see
    ``DedupPipeline.minhash_edges``).

    The signatures are truncated to their low byte (``array<tinyint>``)
    before the pair join: the join is the expensive part — O(pairs) rows x
    2 signatures each — and 125 bytes moves 8x less than 125 longs.  A
    truncation false-match inflates the estimate by at most (1-J)/256
    (~0.004), which only widens the keep-side of the prefilter band —
    recall-safe for the drop rule; the accept rule is only applied to
    dense-signature pairs where the residual bias is far inside the
    3-sigma margin.  All arithmetic stays JVM-side (``transform``/
    ``zip_with``).

    If ``sig_df`` already carries a truncated ``s8`` column (see
    :func:`truncated_signatures`), it is used directly — a pre-truncated,
    separately-persisted frame is ~8x smaller than the signature cache, so
    the optimizer can see a broadcast-sized relation where the full
    signatures would force a shuffle join.  At corpus scale the frame
    outgrows the broadcast threshold and the join degrades gracefully to
    the shuffle plan — the choice is AQE's, per size, not hardcoded.
    """
    if "s8" in sig_df.columns:
        sig8 = F.col("s8")
    else:
        sig8 = F.transform(
            "sig", lambda x: (x.bitwiseAND(F.lit(255)) - 128).cast("tinyint")
        )
    a = sig_df.select(
        F.col(id_col).alias("id_a"), sig8.alias("s8_a"), F.col("n_shingles").alias("ns_a")
    )
    b = sig_df.select(
        F.col(id_col).alias("id_b"), sig8.alias("s8_b"), F.col("n_shingles").alias("ns_b")
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    agree = F.size(
        F.filter(
            F.zip_with("s8_a", "s8_b", lambda x, y: x == y), lambda v: v
        )
    )
    return joined.select(
        "id_a",
        "id_b",
        (agree / F.size("s8_a")).cast("double").alias("sim"),
        "ns_a",
        "ns_b",
    )


def truncated_signatures(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """-> (doc_id, s8 array<tinyint>, n_shingles): the 1-byte-per-component
    signature projection used by :func:`estimate_similarity`.

    Built once and persisted by the pipeline so BOTH sides of the estimate
    join read the small frame (125 B/doc instead of 1 KB/doc) — under the
    broadcast threshold this turns the estimate stage's two shuffle joins
    into broadcast joins with zero extra exchanges.
    """
    s8 = F.transform(
        "sig", lambda x: (x.bitwiseAND(F.lit(255)) - 128).cast("tinyint")
    )
    return sig_df.select(F.col(id_col), s8.alias("s8"), F.col("n_shingles"))


def shingle_table(
    docs: DataFrame,
    config: DedupConfig,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """-> (doc_id, sh array<long>): sorted unique k-shingle hashes per doc.

    The exact-verification primitive: one Arrow-batched shingling pass over
    whatever subset of the corpus the caller supplies (typically a semi-join
    of the participating pair ids).  Callers that join the result more than
    once should persist/checkpoint it — shingling is the dominant Python
    cost of the pipeline.
    """
    k, tokenize = config.shingle_size, config.tokenize

    def shingle(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sh": [
                        shingle_hashes(t or "", k, tokenize).view(np.int64)
                        for t in pdf[content_col]
                    ],
                }
            )

    return docs.select(id_col, content_col).mapInPandas(
        shingle, schema=f"`{id_col}` long, sh array<long>"
    )


def verify_pairs_exact(
    pairs: DataFrame,
    corpus: DataFrame,
    config: DedupConfig,
    content_col: str = "content",
    id_col: str = "doc_id",
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard per candidate pair.

    ``shingles_df`` (doc_id + ``sh array<long>``, e.g. from
    ``minhash_signatures(..., keep_shingles=True)``) lets the verifier
    reuse already-computed shingle sets.  Without it, each *participating*
    doc is shingled exactly once (semi-join of the corpus against the pair
    ids — the re-shingle-per-pair alternative costs O(pairs x doc_len)
    Python work and dominated the stage).  The sorted unique hash arrays
    are joined to the pairs and intersected with a linear merge
    (``np.intersect1d`` on pre-sorted arrays, Arrow-batched).

    A JVM-side alternative (``size(array_intersect)`` + inclusion-
    exclusion union — bit-identical output) was tried in r4 and REVERTED:
    on the 176k-file code corpus at 8 fenced cores it cost +20 s wall
    (69.3 s vs 46.7 s, tight medians-of-3 in adjacent box phases).
    Spark's ArrayIntersect builds a per-row hash set with no
    vectorization, which loses decisively to the presorted numpy merge
    once shingle arrays reach code-file sizes (10^2-10^4 elements); the
    saved mapInPandas stage does not pay for that.  Exactness here is
    what makes the >=0.99-recall-vs-oracle guarantee testable.
    """
    if shingles_df is not None:
        sh_df = shingles_df.select(id_col, "sh")
    else:
        # no .distinct() on ids: left-semi join already deduplicates the
        # probe side, and the distinct costs a full exchange + aggregate
        ids = pairs.select(F.col("id_a").alias(id_col)).union(
            pairs.select(F.col("id_b").alias(id_col))
        )
        participating = corpus.select(id_col, content_col).join(ids, id_col, "left_semi")
        # sh_df feeds BOTH sides of the pair join below; without a persist
        # Spark recomputes the whole semi-join + Python shingling subtree
        # once per side (measured: the verify stage's wall doubled).
        # Callers that manage cache lifecycles themselves should pass
        # ``shingles_df``; this localCheckpoint keeps the standalone path
        # single-compute without leaking a persist the caller can't release.
        # LAZY, deliberately: Spark executes the join's build sides as
        # concurrent subqueries, and a lazy checkpoint IS raced — the sides
        # briefly materialize the subtree redundantly (event-log: 2-3
        # overlapping jobs).  Measured at 8 fenced cores, that overlap
        # still beats eager by ~35% wall (21 s vs 32 s): eager materializes
        # the checkpoint — and its whole upstream — as a serial stage
        # before the main action, forfeiting all pipeline overlap.
        sh_df = shingle_table(
            participating, config, id_col=id_col, content_col=content_col
        ).localCheckpoint(eager=False)
    a = sh_df.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh_df.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")

    def jaccard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sims = []
            for sa, sb in zip(pdf["sh_a"], pdf["sh_b"]):
                sa = np.asarray(sa)
                sb = np.asarray(sb)
                inter = np.intersect1d(sa, sb, assume_unique=True).size
                union = sa.size + sb.size - inter
                sims.append(inter / union if union else 0.0)
            yield pd.DataFrame({"id_a": pdf["id_a"], "id_b": pdf["id_b"], "sim": sims})

    return joined.mapInPandas(jaccard, schema="id_a long, id_b long, sim double")

"""SimHash near-duplicate detector (north-rule detector #2).

64-bit SimHash: hash every token to 64 bits; each bit position accumulates
+count / -count votes across tokens; the signature bit is the vote sign.
Near-duplicates differ in few bit positions (Hamming distance), so candidate
lookup splits the 64 bits into ``simhash_bands`` contiguous slices — two docs
within Hamming distance d collide on at least one slice whenever
d < bands (pigeonhole) — and equi-joins per slice, then verifies true
Hamming distance ≤ ``simhash_max_hamming``.

Same join geometry as MinHash LSH (derived-key equi-join + verify), but
no bucket cap: every slice bucket expands in full, and AQE's skew-join
splitting is the only skew handling (``max_bucket_size`` applies to MinHash
only).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import hashlib

from fuzzy_matching_spark.config import DedupConfig

__all__ = ["simhash_signatures", "simhash_band_table", "simhash_candidates", "verify_hamming"]

_BIT_CHUNK = 8192  # unique tokens per dense (chunk, 64) vote expansion


def token_hash(token: str, seed: int) -> int:
    """64-bit token hash: low 64 bits of md5(f"{seed}:{token}").

    md5 (not a keyed SipHash) so the *identical* hash is computable in
    ANSI-SQL engines — the driver's DuckDB oracle reproduces the full
    SimHash signature with ``('0x' || substr(md5(seed || ':' || tok), 1,
    16))::UBIGINT``, which makes the detector's output SQL-checkable
    end-to-end.  Cryptographic strength is irrelevant here; 64 uniform
    bits per distinct token are what SimHash needs.
    """
    h = hashlib.md5(f"{seed}:{token}".encode("utf-8")).hexdigest()
    return int(h[:16], 16)


def _simhash_one(text: str, seed: int, cache: dict) -> np.uint64:
    toks = text.split()
    if not toks:
        return np.uint64(0)
    # unique-with-counts weighting: identical result to voting per token
    # instance, but the dense (tokens, 64) vote matrix is bounded by the
    # number of *unique* tokens — and chunked, so a multi-MB doc cannot
    # transiently allocate hundreds of MB inside an Arrow batch
    uniq, counts = np.unique(np.array(toks, dtype=object), return_counts=True)
    hashes = np.empty(uniq.size, dtype=np.uint64)
    for i, tok in enumerate(uniq):
        hv = cache.get(tok)
        if hv is None:
            hv = token_hash(tok, seed)
            cache[tok] = hv
        hashes[i] = hv
    votes = np.zeros(64, dtype=np.int64)
    shift = np.arange(64, dtype=np.uint64)[None, :]
    for lo in range(0, uniq.size, _BIT_CHUNK):
        h = hashes[lo : lo + _BIT_CHUNK]
        c = counts[lo : lo + _BIT_CHUNK]
        bits = ((h[:, None] >> shift) & np.uint64(1)).astype(np.int64)
        votes += ((2 * bits - 1) * c[:, None]).sum(axis=0)
    sig_bits = (votes > 0).astype(np.uint64)
    return np.uint64((sig_bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))


def simhash_signatures(
    df: DataFrame,
    config: DedupConfig,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """-> (doc_id, simhash long)."""
    seed = config.seed

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}  # token -> hash, shared across the worker's batches
        for pdf in batches:
            if len(cache) > 1_000_000:  # bound worker memory on huge vocabularies
                cache.clear()
            sigs = [
                np.int64(np.uint64(_simhash_one(t or "", seed, cache)))
                for t in pdf[content_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sigs})

    return df.select(id_col, content_col).mapInPandas(
        compute, schema=f"`{id_col}` long, simhash long"
    )


def simhash_band_table(sig_df: DataFrame, config: DedupConfig, id_col: str = "doc_id") -> DataFrame:
    """Slice the 64-bit signature into ``simhash_bands`` key columns (JVM-side)."""
    n = config.simhash_bands
    width = 64 // n
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(n)
        ]
    )
    return sig_df.select(id_col, "simhash", F.posexplode(slices).alias("band", "bh"))


def simhash_candidates(
    band_df: DataFrame, config: DedupConfig, id_col: str = "doc_id"
) -> DataFrame:
    """Equi-join per (band, slice value); distinct (id_a < id_b) pairs with sigs."""
    left = band_df.select(
        "band", "bh", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a")
    )
    right = band_df.select(
        "band", "bh", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b")
    )
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )


def verify_hamming(cands: DataFrame, config: DedupConfig) -> DataFrame:
    """Keep pairs with popcount(xor) <= simhash_max_hamming (pure JVM)."""
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= config.simhash_max_hamming)
        .select("id_a", "id_b", "hamming")
    )

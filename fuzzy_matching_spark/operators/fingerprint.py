"""Exact long-substring duplicate detector (north-rule detector #3).

The north rule asks for a "suffix-array pass for exact long-substring
dedup".  A literal distributed suffix array is the wrong tool on Spark (its
construction is a global sort over all suffixes); the established
equivalent for *detection* — used by MOSS-style fingerprinting and
content-defined chunking — is 0-mod-q anchor sampling:

1. per document, rolling-hash every window of ``substring_min_len`` chars;
2. keep windows whose hash ≡ 0 (mod ``fingerprint_mod``) as anchors (every
   shared substring of length >= 2L contains a shared anchor window with
   probability 1 - (1-1/q)^L; with L=64, q=8 that is effectively 1);
3. equi-join docs on anchor hash (same join geometry as LSH banding);
4. verify *exactly*: ``substring(content, pos, L)`` equality JVM-side — no
   false positives survive.

Anchors are position-stamped so verification is a cheap fixed-width
substring compare, not a full-document diff.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_matching_spark.config import DedupConfig
from fuzzy_matching_spark.operators.minhash import _splitmix64, _MASK64, _POLY_BASE

__all__ = ["anchor_table", "substring_candidates", "verify_substring_pairs"]


_B_INT = int(_POLY_BASE)
_BINV_INT = pow(_B_INT, -1, 1 << 64)  # B is odd -> invertible mod 2^64


def _window_hashes(text: str, L: int) -> np.ndarray:
    """Rolling polynomial hash of every L-char window, fully vectorized.

    Window hash W(i) = sum_t c[i+t] * B^(L-1-t)  (mod 2^64).  Using the
    modular inverse of B (B odd): S(i) = cumsum(c[j] * Binv^j) gives
    W(i) = (S(i+L) - S(i)) * B^(i+L-1) — three numpy passes, no Python loop;
    uint64 wraparound is the intended modulus.
    """
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = cps.size
    if n < L:
        return np.array([], dtype=np.uint64)
    m = n - L + 1
    binv = np.uint64(_BINV_INT & 0xFFFFFFFFFFFFFFFF)
    inv_pows = np.ones(n, dtype=np.uint64)
    if n > 1:
        inv_pows[1:] = binv
        inv_pows = np.cumprod(inv_pows)  # Binv^0 .. Binv^(n-1), wrapping
    prefix = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(cps * inv_pows, out=prefix[1:])
    diff = prefix[L:] - prefix[:-L]  # length m
    scale0 = np.uint64(pow(_B_INT, L - 1, 1 << 64))
    scales = np.full(m, _POLY_BASE, dtype=np.uint64)
    scales[0] = scale0
    scales = np.cumprod(scales)  # B^(L-1), B^L, ... B^(L-1+m-1)
    return _splitmix64(diff * scales)


def anchor_table(
    df: DataFrame,
    config: DedupConfig,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """-> (doc_id, anchor, pos int): 0-mod-q sampled window fingerprints.

    ``anchor`` is a long (rolling mode, the scale default) or the md5 hex
    string of the window (md5 mode — SQL-reproducible; see
    ``config.DEDUP_MODES``).  Both modes select ~1/q of the windows by
    a content-determined rule, so shared substrings align across docs.
    """
    L = config.substring_min_len
    q = config.fingerprint_mod

    if config.anchor_hash == "md5":
        import hashlib

        # Selection is decoupled from the anchor digest (VERDICT r2 #6):
        # a window is an anchor iff its *codepoint sum* ≡ 0 (mod q) — a
        # vectorized O(n) moving sum (cumsum diff), content-defined so
        # shared substrings still align across docs — and only the ~1/q
        # selected windows pay an md5 call.  The old rule (md5 every
        # window, select on the digest) cost O(n) Python md5 calls per doc:
        # ~1M calls for a 1 MB doc.  Both the selection sum and the digest
        # stay SQL-reproducible (DuckDB: list_sum of unicode() over the
        # window / md5 of substr) — see the substring_dedup_pairs oracle.

        def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids, anchors, positions = [], [], []
                for doc_id, text in zip(pdf[id_col], pdf[content_col]):
                    text = text or ""
                    cps = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    m = cps.size - L + 1
                    if m <= 0:
                        continue
                    prefix = np.zeros(cps.size + 1, dtype=np.int64)
                    np.cumsum(cps, out=prefix[1:])
                    wsum = prefix[L:] - prefix[:-L]
                    sel = np.nonzero(wsum % q == 0)[0]
                    if sel.size == 0:
                        sel = np.array([0])  # guarantee one anchor per doc
                    ids.extend([doc_id] * sel.size)
                    anchors.extend(
                        hashlib.md5(text[i : i + L].encode("utf-8")).hexdigest()
                        for i in sel
                    )
                    positions.extend(sel.tolist())
                yield pd.DataFrame({id_col: ids, "anchor": anchors, "pos": positions})

        return df.select(id_col, content_col).mapInPandas(
            compute, schema=f"`{id_col}` long, anchor string, pos int"
        )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, anchors, positions = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[content_col]):
                wh = _window_hashes(text or "", L)
                if wh.size == 0:
                    continue
                sel = np.nonzero(wh % np.uint64(q) == 0)[0]
                if sel.size == 0:
                    sel = np.array([0])  # guarantee one anchor per doc
                ids.extend([doc_id] * sel.size)
                anchors.extend(wh[sel].view(np.int64).tolist())
                positions.extend(sel.tolist())
            yield pd.DataFrame({id_col: ids, "anchor": anchors, "pos": positions})

    return df.select(id_col, content_col).mapInPandas(
        compute, schema=f"`{id_col}` long, anchor long, pos int"
    )


def substring_candidates(
    anchors: DataFrame, config: DedupConfig, id_col: str = "doc_id"
) -> DataFrame:
    """Self-join on anchor hash -> (id_a, id_b, pos_a, pos_b) distinct pairs.

    Size-capped via a distributed window count (see minhash.candidate_pairs
    for why not a driver-side broadcast of ok keys)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("anchor")
    kept = (
        anchors.withColumn("_asz", F.count("*").over(w))
        .filter((F.col("_asz") > 1) & (F.col("_asz") <= config.max_bucket_size))
        .drop("_asz")
    )
    left = kept.select("anchor", F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"))
    right = kept.select("anchor", F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"))
    return (
        left.join(right, "anchor")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", "pos_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def verify_substring_pairs(
    cands: DataFrame,
    corpus: DataFrame,
    config: DedupConfig,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact verification: the L-char windows at the anchor positions match.

    Pure JVM substring compare — a surviving pair provably shares an exact
    substring of length >= substring_min_len.
    """
    L = config.substring_min_len
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(content_col).alias("content_a"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(content_col).alias("content_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    win_a = F.substring(F.col("content_a"), F.col("pos_a") + 1, L)
    win_b = F.substring(F.col("content_b"), F.col("pos_b") + 1, L)
    return (
        joined.filter(win_a == win_b)
        .select("id_a", "id_b", F.lit(True).alias("exact_substring"))
    )

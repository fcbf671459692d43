#!/usr/bin/env python
"""spark-submit entry point for the near-duplicate detection pipeline.

Cluster usage (north rule)::

    spark-submit --py-files fuzzy_matching_spark.zip jobs/dedup_job.py \
        --input  my_catalog.corpus.files        --input-format table \
        --output /warehouse/dedup_out           --checkpoint-dir /warehouse/dedup_ckpt \
        --detectors minhash,simhash             --verify-threshold 0.7

Local smoke::

    python jobs/dedup_job.py --input /tmp/corpus.parquet --output /tmp/out

Incremental ingest (Structured Streaming, availableNow semantics: drain
everything new, exit; rerun as new files land — see
``fuzzy_matching_spark.streaming``)::

    spark-submit --py-files fuzzy_matching_spark.zip jobs/dedup_job.py \
        --input /landing/docs --output /warehouse/stream_out \
        --checkpoint-dir /warehouse/stream_ckpt --streaming

The job is resumable: stage outputs land in ``--checkpoint-dir`` keyed by a
hash of the full configuration, so a rerun after failure skips completed
stages.  Outputs: ``clusters/`` (doc_id, component), ``edges/`` (detector
pair evidence), ``metrics/`` (per-stage lineage + skew accounting).

The session comes from ``pipeline.session.build_session``: spark-submit's
``--master`` stands, and the engine conf is added on top of it.  That conf
starts each executor's Python workers from the engine's worker daemon
(``spark.python.daemon.module``), so the package must be importable where
an executor starts its daemon: build the zip from the repo root
(``zip -r fuzzy_matching_spark.zip fuzzy_matching_spark``) and ship it with
``--py-files``.  A cluster that does not put ``--py-files`` on the
executors' Python path at daemon start needs the package installed in the
executors' Python environment instead.
"""

from __future__ import annotations

import argparse
import dataclasses
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fuzzy_matching_spark.config import DEDUP_MODES, DedupConfig
from fuzzy_matching_spark.io.readers import load_corpus
from fuzzy_matching_spark.pipeline.dedup_job import DedupPipeline
from fuzzy_matching_spark.pipeline.session import build_session


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-format", default="parquet", choices=["parquet", "table"])
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--detectors", default="minhash")
    # a flag left out is absent from args, so DedupConfig supplies its value
    cfg = ap.add_argument_group(
        "DedupConfig fields (default: DedupConfig's)",
        argument_default=argparse.SUPPRESS,
    )
    cfg.add_argument("--shingle-size", type=int)
    cfg.add_argument("--num-perm", type=int)
    cfg.add_argument("--bands", type=int)
    cfg.add_argument("--rows-per-band", type=int)
    cfg.add_argument("--verify-threshold", type=float)
    cfg.add_argument("--max-bucket-size", type=int)
    for name, allowed in DEDUP_MODES.items():
        cfg.add_argument("--" + name.replace("_", "-"), choices=allowed)
    cfg.add_argument(
        "--seed",
        type=int,
        help="SimHash token-hash seed; MinHash signatures do not depend on it "
        "(their shingle and bucket hashes are fixed)",
    )
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="incremental ingest: treat --input as a landing directory and "
        "run the Structured Streaming MinHash/LSH flow (availableNow: "
        "process everything new, then exit; rerun to pick up later "
        "arrivals — state lives in --checkpoint-dir and the band index "
        "under --output)",
    )
    ap.add_argument("--content-col", default="content")
    ap.add_argument("--id-col", default="doc_id")
    return ap


def main() -> None:
    args = parser().parse_args()
    spark = build_session(app_name="fms-dedup")

    fields = {f.name for f in dataclasses.fields(DedupConfig)}
    config = DedupConfig(**{k: v for k, v in vars(args).items() if k in fields})
    if args.streaming:
        if args.input_format != "parquet":
            raise SystemExit("--streaming requires --input-format parquet "
                             "(a file-source landing directory)")
        from fuzzy_matching_spark.streaming import (
            read_document_stream,
            stream_lsh_candidates,
        )

        ckpt = args.checkpoint_dir or f"{args.output}/_stream_checkpoint"
        q = stream_lsh_candidates(
            read_document_stream(spark, args.input),
            index_dir=f"{args.output}/band_index",
            pairs_dir=f"{args.output}/pairs_stream",
            checkpoint_dir=ckpt,
            config=config,
            content_col=args.content_col,
            id_col=args.id_col,
        )
        q.awaitTermination()
        print(f"[metric] stream.batches_processed = {q.lastProgress['batchId'] + 1}"
              if q.lastProgress else "[metric] stream.batches_processed = 0")
        return

    corpus = load_corpus(spark, args.input, fmt=args.input_format)
    pipeline = DedupPipeline(
        spark,
        config,
        detectors=tuple(d for d in args.detectors.split(",") if d),
        checkpoint_dir=args.checkpoint_dir,
    )
    result = pipeline.run(corpus)

    result.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    result.edges.write.mode("overwrite").parquet(f"{args.output}/edges")
    result.metrics.coalesce(1).write.mode("overwrite").parquet(f"{args.output}/metrics")

    for row in result.metrics.collect():
        print(f"[metric] {row['stage']}.{row['metric']} = {row['value']}")


if __name__ == "__main__":
    main()

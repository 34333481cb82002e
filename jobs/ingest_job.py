#!/usr/bin/env python
"""spark-submit entry point for the continuous-ingestion dedup loop —
the production loop for a training-data pipeline.

    zip -r soweego_spark.zip soweego_spark
    spark-submit --py-files soweego_spark.zip \
        jobs/ingest_job.py \
        --input /lake/documents --n-batches 3 \
        --state /lake/_ingest_state [--output /lake/clean_docs] \
        [--num-perm 32 --bands 8 --shingle-n 3 --threshold 0.7] \
        [--compact-every 1] [--max-batches K] [--batch-paths p1,p2,...]

Per batch: exact dedup against the persisted seen-key table, MinHash
near-dedup against the persisted (bucketed) corpus band table, fold ONLY
the survivors' keys/tokens/bands into state. Every per-batch artifact is
a StageCheckpointer stage under --state, so a KILLED RUN RESUMES BY
RERUNNING THE SAME COMMAND — completed batches manifest-hit and load
from parquet (no --resume flag needed; resumption is the default and is
exercised via spark-submit in tests/test_ingest_job.py).

``--max-batches K`` stops after K batches (the deliberate kill point).
``--input + --n-batches`` splits one documents table into deterministic
disjoint batches by doc_id modulus; ``--batch-paths`` feeds explicit
per-batch parquet paths instead (the real arrival order).

The session comes from ``SparkSession.builder.getOrCreate()`` WITHOUT a
hard-coded master, so whatever ``--master`` spark-submit was given
(yarn, k8s, local[N]) applies.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of the documents table")
    ap.add_argument("--n-batches", type=int, default=3)
    ap.add_argument("--batch-paths",
                    help="comma-separated per-batch parquet paths "
                         "(overrides --input/--n-batches)")
    ap.add_argument("--state", required=True,
                    help="checkpoint root for all loop state")
    ap.add_argument("--output", default=None,
                    help="optional parquet path for the union of all "
                         "kept documents")
    ap.add_argument("--num-perm", type=int, default=32)
    ap.add_argument("--bands", type=int, default=8)
    ap.add_argument("--shingle-n", type=int, default=3)
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--within-batch", default="conservative",
                    choices=["conservative", "exact"])
    ap.add_argument("--compact-every", type=int, default=1)
    ap.add_argument("--band-buckets", type=int, default=32)
    ap.add_argument("--max-batches", type=int, default=None,
                    help="stop after K batches (kill point for resume)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("soweego-spark-ingest")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from soweego_spark.operators import pins
    from soweego_spark.plans.ingest_loop import (
        IngestConfig,
        run_ingest_loop,
        split_batches,
    )

    if args.batch_paths:
        paths = [p for p in args.batch_paths.split(",") if p]
        batches = [
            (p, (lambda p=p: spark.read.parquet(p).select("doc_id", "text")))
            for p in paths
        ]
    else:
        if not args.input:
            ap.error("--input or --batch-paths is required")
        batches = split_batches(spark, args.input, args.n_batches)

    cfg = IngestConfig(
        num_perm=args.num_perm,
        bands=args.bands,
        shingle_n=args.shingle_n,
        jaccard_threshold=args.threshold,
        within_batch=args.within_batch,
        compact_every=args.compact_every,
        band_buckets=args.band_buckets,
    )
    with pins.scope():
        res = run_ingest_loop(
            spark, args.state, batches, cfg, max_batches=args.max_batches
        )

        if args.output and (args.max_batches is None
                            or args.max_batches >= len(batches)):
            from soweego_spark.plans.checkpoint import StageCheckpointer

            ckpt = StageCheckpointer(args.state, spark)
            kept = None
            for i in range(1, len(batches) + 1):
                mf = ckpt.manifest(f"kept_b{i}")
                part = ckpt.load(f"kept_b{i}", mf["config_hash"])
                kept = part if kept is None else kept.unionByName(part)
            kept.write.mode("overwrite").parquet(args.output)

    print(json.dumps({"metric": "ingest_loop", **res.as_dict()}))
    spark.stop()


if __name__ == "__main__":
    main()

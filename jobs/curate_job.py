#!/usr/bin/env python
"""spark-submit entry point for the end-to-end training-corpus curation
pipeline (plans/curate.py): quality filters -> exact dedup -> MinHash
near-dedup -> benchmark decontamination -> tokenize -> sequence packing.

    zip -r soweego_spark.zip soweego_spark
    spark-submit --py-files soweego_spark.zip \
        jobs/curate_job.py \
        --input /lake/documents --state /lake/_curate_state \
        [--bench /lake/benchmarks] [--output /lake/packed_segments] \
        [--tokenizer whitespace|bpe] [--seq-len 2048] [--n-shards 64] \
        [--num-perm 32 --bands 8 --shingle-n 3 --threshold 0.7] \
        [--within-batch exact|conservative] [--no-gopher] [--no-lm] \
        [--max-stages K]

Every stage is a StageCheckpointer stage under --state, so a KILLED RUN
RESUMES BY RERUNNING THE SAME COMMAND — completed stages manifest-hit
and load from parquet (``--max-stages K`` is the deliberate kill point;
resumption is exercised in tests/test_curate.py).

The session comes from ``SparkSession.builder.getOrCreate()`` WITHOUT a
hard-coded master, so whatever ``--master`` spark-submit was given
(yarn, k8s, local[N]) applies.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet path of the documents table")
    ap.add_argument("--state", required=True,
                    help="checkpoint root for all stage state")
    ap.add_argument("--bench", default=None,
                    help="parquet path of benchmark docs to decontaminate "
                         "against (omit to skip the stage)")
    ap.add_argument("--output", default=None,
                    help="optional parquet path for the packed segment map")
    ap.add_argument("--tokenizer", default="whitespace",
                    choices=["whitespace", "bpe"])
    ap.add_argument("--bpe-merges", type=int, default=200)
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--num-perm", type=int, default=32)
    ap.add_argument("--bands", type=int, default=8)
    ap.add_argument("--shingle-n", type=int, default=3)
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--within-batch", default="exact",
                    choices=["exact", "conservative"])
    ap.add_argument("--no-gopher", action="store_true")
    ap.add_argument("--no-lm", action="store_true")
    ap.add_argument("--lm-max-oov-pct", type=int, default=30)
    ap.add_argument("--lm-min-avg-num", type=int, default=2)
    ap.add_argument("--lm-min-avg-den", type=int, default=1)
    ap.add_argument("--max-stages", type=int, default=None,
                    help="stop after K stages (kill point for resume)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("soweego-spark-curate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from soweego_spark.operators import pins
    from soweego_spark.plans.curate import (
        CurateConfig,
        load_stage,
        run_curate,
    )

    cfg = CurateConfig(
        gopher=not args.no_gopher,
        lm=not args.no_lm,
        lm_max_oov_pct=args.lm_max_oov_pct,
        lm_min_avg_num=args.lm_min_avg_num,
        lm_min_avg_den=args.lm_min_avg_den,
        num_perm=args.num_perm,
        bands=args.bands,
        shingle_n=args.shingle_n,
        jaccard_threshold=args.threshold,
        within_batch=args.within_batch,
        tokenizer=args.tokenizer,
        bpe_merges=args.bpe_merges,
        seq_len=args.seq_len,
        n_shards=args.n_shards,
    )

    def docs_thunk():
        return spark.read.parquet(args.input).select("doc_id", "text")

    bench_thunk = None
    if args.bench:
        def bench_thunk():  # noqa: F811 — intentional rebind
            return spark.read.parquet(args.bench).select("doc_id", "text")

    with pins.scope():
        res = run_curate(
            spark, args.state, docs_thunk, cfg,
            bench_thunk=bench_thunk, max_stages=args.max_stages,
        )

        if args.output and any(s["stage"] == "pack" for s in res["stages"]):
            load_stage(spark, args.state, "pack").write.mode(
                "overwrite"
            ).parquet(args.output)

    print(json.dumps({"metric": "curate_pipeline", **res}))
    spark.stop()


if __name__ == "__main__":
    main()

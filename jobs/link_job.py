#!/usr/bin/env python
"""spark-submit entry point for the end-to-end record-linkage pipeline.

Production shape (north rule: "runs via spark-submit --py-files on
multi-executor clusters"):

    zip -r soweego_spark.zip soweego_spark
    spark-submit --py-files soweego_spark.zip \
        jobs/link_job.py \
        --pages /lake/pages --labeled /lake/labeled_pairs \
        --output /lake/er_out --checkpoints /lake/_ckpt \
        [--classifier NAME] [--threshold 0.5] [--synthetic N]

``--classifier`` takes any model family in
``soweego_spark.operators.classify.TRAINERS`` (default ``logistic``).

Reads the pages table (parquet; Iceberg in production), runs
extract -> block -> featurize -> train -> score -> rules -> threshold ->
connected components with per-stage checkpoints, and writes three outputs:
``matches`` (url_a, url_b, score), ``clusters`` (url, cluster_id) and the
headerless links CSV. ``--synthetic N`` generates the deterministic
fixture instead of reading --pages (for smoke runs without data).

The session comes from ``SparkSession.builder.getOrCreate()`` WITHOUT a
hard-coded master, so whatever ``--master`` spark-submit was given (yarn,
k8s, local[N]) applies.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    from soweego_spark.operators import classify as clf

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of the pages table")
    ap.add_argument("--labeled", help="parquet path of labeled pairs")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoints", default=None)
    ap.add_argument("--classifier", default="logistic",
                    choices=sorted(clf.TRAINERS))
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--top-k", type=int, default=5)
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic entities instead of --pages")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("soweego-spark-link")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from soweego_spark.operators import pins
    from soweego_spark.plans.checkpoint import StageCheckpointer
    from soweego_spark.plans.pipeline import PipelineConfig, run_pipeline
    from soweego_spark.sources.readers import write_links_csv

    closure: dict = {}
    if args.synthetic:
        from soweego_spark.sources.pages import generate_pages, pages_to_spark

        fx = generate_pages(n_entities=args.synthetic, seed=42)
        pages, _, labeled, _ = pages_to_spark(spark, fx)
        closure = {
            r.code: list(r.related)
            for r in fx.occupation_closure.itertuples(index=False)
        }
    else:
        if not (args.pages and args.labeled):
            ap.error("--pages and --labeled are required without --synthetic")
        pages = spark.read.parquet(args.pages)
        labeled = spark.read.parquet(args.labeled)

    ck = (
        StageCheckpointer(
            args.checkpoints,
            spark,
            # signatures is the repeatedly re-joined side of pair assembly:
            # persist it bucketed by url so a RESUMED run's blocking /
            # assemble joins read it Exchange-free
            bucket_specs={
                "signatures": {
                    "bucket_cols": ["url"],
                    "sort_cols": ["url"],
                    "n_buckets": 32,
                }
            },
        )
        if args.checkpoints
        else None
    )
    cfg = PipelineConfig(
        top_k=args.top_k,
        threshold=args.threshold,
        classifier=args.classifier,
        occupation_closure=closure,
    )
    with pins.scope():
        res = run_pipeline(spark, pages, labeled, cfg, checkpointer=ck)

        res.matches.write.mode("overwrite").parquet(f"{args.output}/matches")
        res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
        write_links_csv(res.matches, f"{args.output}/links_csv")

    print("METRICS " + json.dumps(res.metrics), file=sys.stderr)
    print(json.dumps({"status": "ok", "metrics": res.metrics}))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""spark-submit entry point for the validator ("sync") side of the engine.

Reference analogue: ``python -m soweego sync links|dead_ids|bios``
(validator/checks.py) — the reconciliation pass that compares Wikidata-side
records against a target catalog and emits curation statements. Production
shape mirrors jobs/link_job.py:

    spark-submit --py-files soweego_spark.zip jobs/sync_job.py \
        --wd /lake/wd_side --target /lake/catalog_side \
        --output /lake/sync_out [--synthetic N]

Inputs (parquet; Iceberg in production):
  wd(tid, urls ARRAY<STRING>,
     dates   ARRAY<STRUCT<idx LONG, y INT, mo INT, d INT, depth INT>>,
     claims  ARRAY<STRUCT<idx LONG, pid STRING, qid STRING,
                          values ARRAY<STRING>>>)
  target(same tid key; urls; dates; statements ARRAY<STRUCT<idx LONG,
         pid STRING, value STRING>>)

Outputs, one directory each:
  links     SO1 set algebra per shared id (shared / wd_only / extra /
            deprecate flag)
  dead_ids  J6 anti join — wd identifiers missing from the catalog
  bio_dates SO2 greedy shared-precision date matches
  bio_claims SO2 greedy normalized-label claim matches

``--synthetic N`` builds a deterministic fixture instead of reading inputs
(smoke runs without data).
"""

from __future__ import annotations

import argparse
import json
import sys


def _synthetic_inputs(spark, n: int):
    """Deterministic wd/target fixture with planted overlaps and gaps."""
    from pyspark.sql import functions as F

    base = spark.range(n).select(F.col("id").alias("tid"))
    wd = base.select(
        "tid",
        F.array(
            F.concat(F.lit("https://catalog-a.example/artist/a-"), F.col("tid")),
            F.concat(F.lit("https://site.example/p/"), F.col("tid")),
        ).alias("urls"),
        F.array(
            F.struct(
                F.lit(0).cast("long").alias("idx"),
                (F.lit(1900) + (F.col("tid") % 80)).cast("int").alias("y"),
                F.lit(3).cast("int").alias("mo"),
                F.lit(14).cast("int").alias("d"),
                F.lit(2).cast("int").alias("depth"),
            )
        ).alias("dates"),
        F.array(
            F.struct(
                F.lit(0).cast("long").alias("idx"),
                F.lit("occupation").alias("pid"),
                F.concat(F.lit("Q"), F.col("tid")).alias("qid"),
                F.array(F.lit("singer"), F.lit("composer")).alias("values"),
            )
        ).alias("claims"),
    )
    # target: 2/3 of ids exist; urls overlap on the catalog profile for
    # even ids only; dates agree at year precision; half the statements
    # match a wd label.
    tgt = base.filter(F.col("tid") % 3 != 0).select(
        "tid",
        F.when(
            F.col("tid") % 2 == 0,
            F.array(
                F.concat(
                    F.lit("https://catalog-a.example/artist/a-"), F.col("tid")
                )
            ),
        )
        .otherwise(F.array(F.concat(F.lit("https://other.example/"), F.col("tid"))))
        .alias("urls"),
        F.array(
            F.struct(
                F.lit(0).cast("long").alias("idx"),
                (F.lit(1900) + (F.col("tid") % 80)).cast("int").alias("y"),
                F.lit(7).cast("int").alias("mo"),
                F.lit(1).cast("int").alias("d"),
                F.lit(0).cast("int").alias("depth"),  # year precision
            )
        ).alias("dates"),
        F.array(
            F.struct(
                F.lit(0).cast("long").alias("idx"),
                F.lit("occupation").alias("pid"),
                # even ids match a wd label; odd ids are unmatched and
                # RESOLVABLE (q<digits> -> the fallback QID resolution path)
                F.when(F.col("tid") % 2 == 0, F.lit("Singer"))
                .otherwise(F.concat(F.lit("q"), (F.col("tid") % 500)))
                .alias("value"),
            )
        ).alias("statements"),
    )
    return wd, tgt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--wd", help="parquet path of the Wikidata-side table")
    ap.add_argument("--target", help="parquet path of the catalog-side table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--synthetic", type=int, default=0)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("soweego-spark-sync")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from soweego_spark.functions.text import norm_lower
    from soweego_spark.operators.validator import (
        dead_ids,
        match_bio_claims,
        match_bio_dates,
        validate_links,
    )

    if args.synthetic:
        wd, tgt = _synthetic_inputs(spark, args.synthetic)
    else:
        if not (args.wd and args.target):
            ap.error("--wd and --target are required without --synthetic")
        wd = spark.read.parquet(args.wd)
        tgt = spark.read.parquet(args.target)

    links = validate_links(
        wd.select("tid", "urls"), tgt.select("tid", "urls")
    )
    dead = dead_ids(wd.select("tid"), tgt.select("tid"))

    wd_dates = wd.select(
        "tid", F.explode("dates").alias("d")
    ).select("tid", F.col("d.idx").alias("wd_idx"), "d.y", "d.mo", "d.d", "d.depth")
    t_dates = tgt.select(
        "tid", F.explode("dates").alias("d")
    ).select("tid", F.col("d.idx").alias("t_idx"), "d.y", "d.mo", "d.d", "d.depth")
    bio_dates = match_bio_dates(wd_dates, t_dates)

    wd_claims = wd.select("tid", F.explode("claims").alias("c")).select(
        "tid", F.col("c.idx").alias("wd_idx"), "c.pid", "c.qid", "c.values"
    )
    t_claims = (
        tgt.select("tid", F.explode("statements").alias("s"))
        .select(
            "tid",
            F.col("s.idx").alias("t_idx"),
            F.col("s.pid"),
            # reference _compare_other normalizes the target value
            # (checks.py:908) — same byte-parity kernel here.
            norm_lower(F.col("s.value")).alias("t_value"),
        )
    )
    bio_claims = match_bio_claims(wd_claims, t_claims)

    links.write.mode("overwrite").parquet(f"{args.output}/links")
    dead.write.mode("overwrite").parquet(f"{args.output}/dead_ids")
    bio_dates.write.mode("overwrite").parquet(f"{args.output}/bio_dates")
    bio_claims.write.mode("overwrite").parquet(f"{args.output}/bio_claims")

    # Downstream of the matchers: the reference's upload flow —
    # 1. unmatched target values resolve to QIDs (checks.py:913-917,
    #    injected resolver; offline default resolves q<digits>),
    # 2. the resolved extras become an add/reference statement PLAN
    #    against the wd side's existing claims (wikidata_bot semantics),
    # 3. deprecation candidates from the link check become a
    #    delete/deprecate plan,
    # 4. both plans stream to payload files (the exact upload batches).
    from soweego_spark.operators import pins
    from soweego_spark.operators.ingest import (
        plan_claim_additions,
        plan_identifier_actions,
    )
    from soweego_spark.operators.validator import resolve_unmatched_claims
    from soweego_spark.sources.remote import emit_statements, jsonl_dir_emitter

    CATALOG_PID = "P1953"  # the catalog's identifier property
    with pins.scope():
        # pinned: extras/additions each feed a parquet write, the payload
        # emitter, AND a stats count — without a persist the injected QID
        # resolver (a remote API in production) would re-fire per consumer
        extras = pins.persist(resolve_unmatched_claims(t_claims, bio_claims))
        proposed = extras.select(
            F.concat(F.lit("Q"), F.col("tid").cast("string")).alias("qid"),
            "pid",
            F.col("t_qid").alias("value"),
            F.col("tid").cast("string").alias("catalog_id"),
        )
        existing = wd_claims.select(
            F.concat(F.lit("Q"), F.col("tid").cast("string")).alias("qid"),
            "pid",
            F.explode("values").alias("value"),
        )
        additions = pins.persist(plan_claim_additions(
            proposed,
            existing,
            heuristic="Q1266546",
            retrieved="2026-08-16",
            catalog_qid="Q14005",
            catalog_pid=CATALOG_PID,
        ))
        ident_claims = wd.select(
            F.concat(F.lit("Q"), F.col("tid").cast("string")).alias("qid"),
            F.lit(CATALOG_PID).alias("pid"),
            F.col("tid").cast("string").alias("value"),
        )
        deprecations = plan_identifier_actions(
            links.filter("deprecate").select(
                F.concat(F.lit("Q"), F.col("tid").cast("string")).alias("qid"),
                F.col("tid").cast("string").alias("tid"),
            ),
            ident_claims,
            catalog_pid=CATALOG_PID,
            action="deprecate",
        )
        additions.write.mode("overwrite").parquet(f"{args.output}/additions_plan")
        deprecations.write.mode("overwrite").parquet(
            f"{args.output}/deprecations_plan"
        )
        emit_statements(
            additions.select(
                "qid", "pid", "value", "action", "ref_target_pid", "references"
            ),
            jsonl_dir_emitter(f"{args.output}/payloads"),
        )

        stats = {
            "links": links.count(),
            "deprecate": links.filter("deprecate").count(),
            "dead_ids": dead.count(),
            "bio_date_matches": bio_dates.count(),
            "bio_claim_matches": bio_claims.count(),
            "resolved_extras": extras.count(),
            "planned_additions": additions.count(),
            "planned_deprecations": deprecations.count(),
        }
    print("STATS " + json.dumps(stats), file=sys.stderr)
    print(json.dumps({"status": "ok", "stats": stats}))
    spark.stop()


if __name__ == "__main__":
    main()

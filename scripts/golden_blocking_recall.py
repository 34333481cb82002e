#!/usr/bin/env python
"""Golden blocking-recall breakdown (round 6, VERDICT r5 task 6 prep):
for each profession, classify every declared positive as retrieved /
zero-token-overlap (no shared name token with ANY target row — script
mismatch or absent person) / tid-absent-from-TSV / ranked-below-top-k.
The breakdown decides where recall work should go: a transliteration
key only helps the zero-overlap bucket; rank misses need a different
lever (top_k or ranking).

Usage: python scripts/golden_blocking_recall.py [top_k]
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from soweego_spark.operators import pins
from soweego_spark.plans import golden
from soweego_spark.session import get_spark


def main() -> None:
    top_k = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark(cpus=16, app_name="golden-recall",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for prof in golden.PROFESSIONS:
        wd = pins.persist(golden.preprocess_wikidata_golden(
            golden.read_wikidata_set(spark, golden.SAMPLES_DIR, prof)
        ))
        tgt = pins.persist(
            golden.golden_target(spark, golden.SAMPLES_DIR, prof)
        )
        pos = wd.filter(F.col("tid_positive").isNotNull()).select(
            "qid", F.col("tid_positive").alias("tid")
        )
        n_pos = pos.count()
        tids = tgt.select("tid").distinct()
        present = pos.join(tids, "tid", "left_semi")
        n_present = present.count()

        pairs = golden.block_golden(wd, tgt, top_k=top_k)
        retrieved = pos.join(pairs, ["qid", "tid"], "left_semi")
        n_ret = retrieved.count()

        # zero-overlap: the positive's wd item shares no name token with
        # ITS OWN tid's target row (candidate can never score)
        wtoks = wd.select("qid", F.explode("name_tokens").alias("token"))
        ttoks = tgt.select("tid", F.explode("name_tokens").alias("token"))
        overlapping = (
            present.join(wtoks, "qid")
            .join(ttoks, ["tid", "token"], "left_semi")
            .select("qid", "tid")
            .distinct()
        )
        n_overlap = overlapping.count()

        missed = present.join(pairs, ["qid", "tid"], "left_anti")
        miss_rank = missed.join(
            overlapping, ["qid", "tid"], "left_semi"
        ).count()
        out[prof] = {
            "positives": n_pos,
            "tid_absent": n_pos - n_present,
            "zero_overlap_with_own_tid": n_present - n_overlap,
            "ranked_below_topk": miss_rank,
            "retrieved": n_ret,
            "recall": round(n_ret / n_pos, 4),
            "recall_of_present": round(n_ret / max(n_present, 1), 4),
        }
        pins.release(wd)
        pins.release(tgt)
        print(prof, json.dumps(out[prof]), flush=True)
    print(json.dumps({"top_k": top_k, "professions": out}))
    spark.stop()


if __name__ == "__main__":
    main()

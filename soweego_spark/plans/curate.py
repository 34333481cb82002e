"""End-to-end training-corpus curation pipeline (the engine behind
``jobs/curate_job.py``).

One batch run composes the curation operators in the order a web-scale
training-data pipeline applies them (cf. the Gopher / CCNet / GPT-3
dataset reports — all public):

1. **quality** — Gopher repetition/ratio filters
   (operators/textquality.gopher_quality) and/or the CCNet-style n-gram
   LM filter (operators/lmfilter: model trained on a deterministic
   md5-slot reference slice of the quality survivors, every survivor
   scored, integer-exact decision).
2. **exact** — exact dedup, keep the min doc_id per identical text.
3. **neardup** — MinHash-LSH near-dedup of the batch against itself
   (operators/dedup.incremental_minhash_neardup with an EMPTY corpus:
   band self-collisions, exact-Jaccard confirm, conservative or exact
   sequential-greedy within-batch semantics).
4. **decontam** — benchmark decontamination: drop survivors sharing any
   k-token gram with the benchmark set (operators/corpus.decontaminate;
   bench side broadcast, scan side never shuffles).
5. **counts** — per-doc token counts, whitespace or learned-BPE subword
   (operators/bpe: distributed word counts + bounded driver merge
   learning + type-table fold).
6. **pack** — GPT-style sequence packing of the survivors' token streams
   into fixed-length training rows (operators/corpus.pack_counts: one
   shard Exchange + per-shard window cumsum; the segment map is the
   output artifact).

Resume model — same as the ingestion loop (plans/ingest_loop.py): every
stage is a :class:`StageCheckpointer` stage whose config hash chains the
stage parameters and the previous stage's hash, so rerunning the same
command over the same state root IS the resume path: completed stages
manifest-hit and load lazily from parquet, only missing stages compute.
``max_stages`` stops after N stages (the deliberate kill point for
resume tests). Reference analogue: the importer's resumable per-file
memo chain (soweego importer/importer.py), re-expressed as checkpointed
DataFrame stages.

Scale notes (100 TB): every stage is the already-audited plan of its
operator — no new shuffle shapes are introduced by the composition, and
no stage collects the corpus (the only driver transfer is the bounded
BPE type-table TakeOrdered when ``tokenizer='bpe'``). The whole-pipeline
hash gate (``curate_pipeline`` in ``__spark_entry__.py``) replays every
stage in DuckDB, so a divergence anywhere upstream flips the final
segment map red.
"""
from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from soweego_spark.operators import pins
from soweego_spark.plans.checkpoint import StageCheckpointer, config_hash


@dataclass
class CurateConfig:
    # quality
    gopher: bool = True
    lm: bool = True
    lm_slots: int = 5
    lm_n: int = 2
    lm_max_oov_pct: int = 30
    lm_min_avg_num: int = 2
    lm_min_avg_den: int = 1
    lm_count_cap: int = 1_000_000
    # near-dup
    num_perm: int = 32
    bands: int = 8
    shingle_n: int = 3
    jaccard_threshold: float = 0.7
    within_batch: str = "exact"
    max_component_edges: int = 1_000_000
    # decontamination
    decontam_k: int = 8
    # tokenize + pack
    tokenizer: str = "whitespace"  # or "bpe"
    bpe_merges: int = 200
    bpe_type_cap: int = 1_000_000
    seq_len: int = 2048
    n_shards: int = 64
    # "md5" replays every hash decision in DuckDB (the curate_pipeline
    # gate); production default stays xxhash64
    hash_family: str = "xxhash64"

    def params(self) -> dict:
        return {k: getattr(self, k) for k in self.__dataclass_fields__}


def _lm_keep(docs: DataFrame, cfg: CurateConfig) -> DataFrame:
    """LM-filter survivors of ``docs``: the model trains on the
    deterministic md5 slot-0 slice (lmref salt, matching the lm_filter
    gate's split rule); EVERY doc — reference slice included — is scored
    against it and kept iff the integer-exact decision passes."""
    from soweego_spark.operators.dedup import md5_60_sql
    from soweego_spark.operators.lmfilter import lm_counts, lm_filter

    slot = md5_60_sql("concat('lmref:', CAST(doc_id AS STRING))")
    ref = docs.where(f"pmod({slot}, {int(cfg.lm_slots)}) = 0")
    model = lm_counts(ref, n=cfg.lm_n)
    decided = lm_filter(
        docs,
        model,
        n=cfg.lm_n,
        max_oov_pct=cfg.lm_max_oov_pct,
        min_avg_count_num=cfg.lm_min_avg_num,
        min_avg_count_den=cfg.lm_min_avg_den,
        count_cap=cfg.lm_count_cap,
    )
    return docs.join(
        decided.where("keep").select("doc_id"), "doc_id", "left_semi"
    )


def run_curate(
    spark: SparkSession,
    root,
    docs_thunk,
    cfg: CurateConfig | None = None,
    bench_thunk=None,
    max_stages: int | None = None,
) -> dict:
    """Run (or resume) the curation pipeline. ``docs_thunk`` returns the
    raw (doc_id long, text string) frame; ``bench_thunk`` (optional) the
    benchmark docs for decontamination. Returns a result dict with
    per-stage doc counts, the final segment count, and wall seconds; the
    packed segment map lives in the ``pack`` stage's parquet under
    ``root``."""
    cfg = cfg or CurateConfig()
    ckpt = StageCheckpointer(root, spark)
    chain = config_hash(cfg.params())
    result: dict = {"stages": []}
    t_start = time.time()
    n_stages = 0

    def stage(name: str, compute) -> DataFrame | None:
        nonlocal chain, n_stages
        if max_stages is not None and n_stages >= max_stages:
            return None
        stage_cfg = {"stage": name, "prev": chain, **cfg.params()}
        chain = config_hash(stage_cfg)
        out = ckpt.stage(name, stage_cfg, compute)
        n_stages += 1
        # the manifest carries the row count, read from the footers
        rows = ckpt.manifest(name)["row_count"]
        result["stages"].append({"stage": name, "rows": rows})
        return out

    # 1. quality -----------------------------------------------------
    def compute_quality() -> DataFrame:
        from soweego_spark.operators.textquality import gopher_quality

        docs = docs_thunk().select("doc_id", "text")
        if cfg.gopher:
            # materialize the (id-only, batch-bounded) keep list ONCE:
            # the LM stage consumes the gopher-filtered frame three times
            # (model slice, scoring scan, final semi join) and each
            # consumer re-ran the whole gopher bigram shuffle from
            # scratch — the dominant cost of the quality stage at sf0.1
            # (r7 stage diagnostic; released with the stage's pin scope)
            passed = gopher_quality(docs).where("quality_pass").selectExpr(
                "id AS doc_id"
            )
            if cfg.lm:
                passed = pins.checkpoint(passed)
            docs = docs.join(passed, "doc_id", "left_semi")
        if cfg.lm:
            docs = _lm_keep(docs, cfg)
        return docs

    kept = stage("quality", compute_quality)
    if kept is None:
        return _finish(result, t_start)

    # 2. exact dedup -------------------------------------------------
    def compute_exact(src=kept) -> DataFrame:
        # keep-min per ~192-bit content key: only (doc_id, 30 B key)
        # shuffles, never the documents (dedup.content_keys rationale)
        key = (
            "struct(xxhash64(text) AS h, md5(CAST(text AS BINARY)) AS m, "
            "length(text) AS n)"
        )
        winners = (
            src.selectExpr("doc_id", f"{key} AS _ck")
            .withColumn("_rep", F.expr("min(doc_id) OVER (PARTITION BY _ck)"))
            .where("doc_id = _rep")
            .select("doc_id")
        )
        return src.join(winners, "doc_id", "left_semi")

    kept = stage("exact", compute_exact)
    if kept is None:
        return _finish(result, t_start)

    # 3. near-dup ----------------------------------------------------
    def compute_neardup(src=kept) -> DataFrame:
        from soweego_spark.operators.dedup import (
            incremental_minhash_neardup,
            shingles,
        )

        toks = shingles(src, n=cfg.shingle_n)
        # corpus_toks=None — the operator's explicit no-corpus contract:
        # the corpus probe/confirm branch never plans (r7)
        survivors = incremental_minhash_neardup(
            toks,
            None,
            jaccard_threshold=cfg.jaccard_threshold,
            num_perm=cfg.num_perm,
            bands=cfg.bands,
            hash_family=cfg.hash_family,
            within_batch=cfg.within_batch,
            max_component_edges=cfg.max_component_edges,
        )
        return src.join(survivors.select("doc_id"), "doc_id", "left_semi")

    kept = stage("neardup", compute_neardup)
    if kept is None:
        return _finish(result, t_start)

    # 4. decontamination ---------------------------------------------
    if bench_thunk is not None:

        def compute_decontam(src=kept) -> DataFrame:
            from soweego_spark.operators.corpus import decontaminate

            hits = decontaminate(
                src, bench_thunk().select("doc_id", "text"), k=cfg.decontam_k
            )
            return src.join(hits.select("doc_id"), "doc_id", "left_anti")

        kept = stage("decontam", compute_decontam)
        if kept is None:
            return _finish(result, t_start)

    # 5. token counts ------------------------------------------------
    def compute_counts(src=kept) -> DataFrame:
        if cfg.tokenizer == "bpe":
            from soweego_spark.operators.bpe import bpe_encode, bpe_train

            merges = bpe_train(
                src, n_merges=cfg.bpe_merges, type_cap=cfg.bpe_type_cap
            )
            return (
                bpe_encode(src, merges)
                .groupBy("doc_id")
                .agg(F.sum(F.size("toks")).cast("long").alias("n"))
            )
        from soweego_spark.operators.corpus import _words

        return _words(src, "doc_id", "text").selectExpr(
            "doc_id", "CAST(size(w) AS BIGINT) AS n"
        )

    counts = stage("counts", compute_counts)
    if counts is None:
        return _finish(result, t_start)

    # 6. pack --------------------------------------------------------
    def compute_pack(src=counts) -> DataFrame:
        from soweego_spark.operators.corpus import pack_counts

        return pack_counts(src, seq_len=cfg.seq_len, n_shards=cfg.n_shards)

    stage("pack", compute_pack)
    return _finish(result, t_start)


def _finish(result: dict, t_start: float) -> dict:
    result["wall_seconds"] = round(time.time() - t_start, 2)
    result["completed_stages"] = len(result["stages"])
    return result


def load_stage(spark: SparkSession, root, name: str) -> DataFrame:
    """Load a completed stage's frame from the state root (manifest
    lookup — the same read path resume uses)."""
    ckpt = StageCheckpointer(root, spark)
    mf = ckpt.manifest(name)
    if mf is None:
        raise ValueError(f"stage {name!r} has no manifest under {root}")
    return ckpt.load(name, mf["config_hash"])

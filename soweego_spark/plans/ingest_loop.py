"""Production continuous-ingestion dedup loop (the engine behind
``jobs/ingest_job.py``).

This IS the training-data pipeline's production loop: per batch of raw
documents — exact dedup against the persisted seen-key table, MinHash
near-dedup against the persisted corpus band table, then fold ONLY the
survivors' keys/tokens/bands back into state. Reference analogue: the
importer's resumable per-file memo chain (soweego importer/importer.py
skips already-imported dump files; blocking works per-chunk,
linker/blocking.py:86-94) — re-expressed as checkpointed DataFrame
stages instead of a pickle memo.

Resume model: every per-batch artifact (the kept docs AND each state
fold) is a :class:`StageCheckpointer` stage whose config hash chains the
batch id, the dedup parameters, and the previous batch's hash. Re-running
the loop over the same root is therefore idempotent and IS the resume
path — completed batches manifest-hit and load lazily from parquet; only
missing stages compute. A killed run resumes by rerunning the same
command (exercised end-to-end via spark-submit in
tests/test_ingest_job.py).

State-table layout at scale (the 100-TB consideration):

* ``seen`` — fixed-width content keys, ~30 B/doc; join-able lake table.
* ``bands`` — (band_id, band_hash, doc_id), ``bands``/doc; the table the
  per-batch probe joins against, persisted BUCKETED on the probe key so
  the probe plans Exchange-free on the corpus side (the side that grows
  forever; plan-asserted through the composed loop in the job test).
* ``toks`` — survivors' shingle arrays for the Jaccard confirm join.

``compact_every`` trades write volume against probe shape: 1 (default)
rewrites the full state tables every batch — O(corpus) writes per batch,
but every probe join hits ONE bucketed table Exchange-free; k>1 appends
O(batch) delta stages and only compacts every k batches — between
compactions the probe joins base ∪ deltas, which shuffles the (small)
delta side. At lake scale run k≈daily-batches-per-compaction; in either
mode reads stay monotone over manifests, so kill points between any two
stages resume cleanly.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401 — sibling parity

from soweego_spark.operators.dedup import (
    band_keys,
    content_keys,
    incremental_exact_dedup,
    incremental_minhash_neardup,
    minhash_signatures,
    shingles,
)
from soweego_spark.plans.checkpoint import StageCheckpointer, config_hash


@dataclass
class IngestConfig:
    num_perm: int = 32
    bands: int = 8
    shingle_n: int = 3
    jaccard_threshold: float = 0.7
    within_batch: str = "conservative"
    max_component_edges: int = 1_000_000
    band_buckets: int = 32
    compact_every: int = 1
    # "md5" makes every hash decision replayable in DuckDB — the
    # cross-engine gate (__spark_entry__.ingest_loop_3batch) runs the
    # whole composed loop under it; production default stays xxhash64
    hash_family: str = "xxhash64"

    def params(self) -> dict:
        return {
            "num_perm": self.num_perm,
            "bands": self.bands,
            "shingle_n": self.shingle_n,
            "jaccard_threshold": self.jaccard_threshold,
            "within_batch": self.within_batch,
            "max_component_edges": self.max_component_edges,
            "compact_every": self.compact_every,
            "hash_family": self.hash_family,
        }


@dataclass
class IngestResult:
    batches: list[dict] = field(default_factory=list)
    total_in: int = 0
    total_kept: int = 0
    wall_seconds: float = 0.0

    def as_dict(self) -> dict:
        return {
            "batches": self.batches,
            "total_in": self.total_in,
            "total_kept": self.total_kept,
            "wall_seconds": round(self.wall_seconds, 2),
            "docs_per_sec": round(
                self.total_in / self.wall_seconds, 1
            ) if self.wall_seconds else None,
        }


def _union(a: DataFrame | None, b: DataFrame) -> DataFrame:
    return b if a is None else a.unionByName(b)


def run_ingest_loop(
    spark: SparkSession,
    root,
    batches: list[tuple[str, callable]],
    cfg: IngestConfig | None = None,
    max_batches: int | None = None,
) -> IngestResult:
    """Run (or resume) the ingestion loop over ``batches`` — an ordered
    list of ``(batch_id, thunk)`` where each thunk returns a DataFrame
    with at least (doc_id long, text string). ``max_batches`` stops after
    the first N batches (the job's kill point for resume tests)."""
    cfg = cfg or IngestConfig()
    bucket_spec = {
        "bucket_cols": ["band_id", "band_hash"],
        "n_buckets": cfg.band_buckets,
    }
    n = len(batches) if max_batches is None else min(max_batches, len(batches))
    # bucket every compaction batch's band stage (stage names are known
    # up front: compactions land on multiples of compact_every plus the
    # final batch)
    specs = {
        f"bands_b{i}": bucket_spec
        for i in range(1, len(batches) + 1)
        if i % cfg.compact_every == 0 or i == len(batches)
    }
    ckpt = StageCheckpointer(root, spark, bucket_specs=specs)

    seen: DataFrame | None = None
    corpus_toks: DataFrame | None = None
    corpus_bands: DataFrame | None = None
    chain = config_hash(cfg.params())
    result = IngestResult()
    t_start = time.time()

    for i, (batch_id, thunk) in enumerate(batches[:n], 1):
        t0 = time.time()
        stage_cfg = {"batch": i, "id": batch_id, "prev": chain,
                     **cfg.params()}
        chain = config_hash(stage_cfg)

        def compute_kept(
            thunk=thunk, seen=seen, corpus_toks=corpus_toks,
            corpus_bands=corpus_bands,
        ) -> DataFrame:
            batch = thunk()
            exact_kept, _ = incremental_exact_dedup(batch, seen)
            toks = shingles(exact_kept, n=cfg.shingle_n)
            # corpus_toks=None on the first batch: the operator's
            # explicit no-corpus contract skips the whole corpus branch
            # at plan time (r7) — an empty createDataFrame is a
            # LogicalRDD the optimizer cannot prove empty
            kept = incremental_minhash_neardup(
                toks,
                corpus_toks,
                jaccard_threshold=cfg.jaccard_threshold,
                num_perm=cfg.num_perm,
                bands=cfg.bands,
                hash_family=cfg.hash_family,
                corpus_banded=corpus_bands,
                within_batch=cfg.within_batch,
                max_component_edges=cfg.max_component_edges,
            )
            return exact_kept.join(
                kept.select("doc_id"), "doc_id", "left_semi"
            )

        kept_docs = ckpt.stage(f"kept_b{i}", stage_cfg, compute_kept)

        # fold ONLY the survivors' state forward, each fold its own
        # manifest-memoized stage (a kill between any two stages resumes)
        kept_toks_delta = ckpt.stage(
            f"toks_d{i}", stage_cfg,
            lambda kd=kept_docs: shingles(kd, n=cfg.shingle_n),
        )
        seen_delta = ckpt.stage(
            f"seen_d{i}", stage_cfg,
            lambda kd=kept_docs: content_keys(kd),
        )
        bands_delta = ckpt.stage(
            f"bands_d{i}", stage_cfg,
            lambda kt=kept_toks_delta: band_keys(
                minhash_signatures(
                    kt, num_perm=cfg.num_perm, hash_family=cfg.hash_family
                ),
                num_perm=cfg.num_perm, bands=cfg.bands,
            ),
        )
        seen = _union(seen, seen_delta)
        corpus_toks = _union(corpus_toks, kept_toks_delta)
        corpus_bands = _union(corpus_bands, bands_delta)
        if i % cfg.compact_every == 0 or i == n == len(batches):
            # compaction: rewrite the unified state tables (the bands
            # stage is BUCKETED on the probe key — see module docstring)
            seen = ckpt.stage(
                f"seen_b{i}", stage_cfg,
                lambda s=seen: s.distinct(),
            )
            corpus_toks = ckpt.stage(
                f"toks_b{i}", stage_cfg, lambda t=corpus_toks: t
            )
            corpus_bands = ckpt.stage(
                f"bands_b{i}", stage_cfg, lambda b=corpus_bands: b
            )

        n_in = thunk().count()
        # the kept stage's manifest carries the row count, read from the
        # footers: no scan of the kept parquet
        n_kept = ckpt.manifest(f"kept_b{i}")["row_count"]
        result.batches.append(
            {"batch": i, "id": batch_id, "docs_in": n_in,
             "docs_kept": n_kept,
             "seconds": round(time.time() - t0, 2)}
        )
        result.total_in += n_in
        result.total_kept += n_kept

    result.wall_seconds = time.time() - t_start
    return result


def split_batches(
    spark: SparkSession, input_path: str, n_batches: int
) -> list[tuple[str, callable]]:
    """Deterministic disjoint batches from one documents table:
    ``doc_id % n_batches`` (stable under re-reads; no sampling)."""

    def make(i: int):
        def thunk() -> DataFrame:
            return (
                spark.read.parquet(input_path)
                .select("doc_id", "text")
                .filter(F.pmod(F.col("doc_id"), F.lit(n_batches)) == i)
            )
        return thunk

    return [
        (f"{input_path}#mod{i}/{n_batches}", make(i))
        for i in range(n_batches)
    ]

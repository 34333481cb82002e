"""The benchmark workloads: link and curate.

Each workload builds its inputs from the seed (and only from the seed),
writes them under its work directory, and runs one batch job per pass
through the library's public entry point. ``check`` validates a pass's
outputs, including that they repeat across passes of one seed, and
returns the pass's quality figures; ``traced`` re-runs the same calls
one layer at a time under a :class:`~perfbench.trace.Tracer`; ``quality`` (link) and
``confirm_frac`` (curate) compute quality counters after the spans have
closed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LAYERS = (
    "extract", "blocking", "pairfeatures", "classify.train",
    "classify.score", "classify.threshold", "cluster", "classify.eval",
    "textquality", "dedup", "corpus", "checkpoint",
)
# Input sizes: link, entities; curate, documents.
SIZES = {"link": 420, "curate": 1500}
# Link keeps a seeded sample of this many of the generated pages (~1540),
# so its input size is the same on every seed.
LINK_PAGES = 1400
# Pairwise F1 of link over seeds 1-15 at 400 entities: 0.9985-1.0.
MIN_LINK_F1 = 0.995


class CheckFailed(RuntimeError):
    """A pass's outputs are wrong; the benchmark exits non-zero."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# ------------------------------------------------------------ documents

# The shape of the repository's sf0.1 ``documents`` table (TESTDATA.md),
# as measured on its 5000 rows: words drawn uniformly from these 30;
# 10-100 words per doc, uniform; 5% of the docs (250) are another doc's
# text plus the word "dup", the base drawn with replacement, so two copies
# of one base are exact duplicates of each other (8 such pairs there).
# No doc is low-quality: run_curate keeps all 5000 through its quality
# stage, then 4992 after exact and 4756 after near-dup dedup.
VOCABULARY = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_COPY_FRAC = 0.05


def make_documents(n: int, seed: int) -> pd.DataFrame:
    """``n`` documents shaped like the sf0.1 ``documents`` table.

    Columns: ``doc_id`` (a seed-salted permutation, so dedup winners vary
    with the seed), ``text`` and ``group`` (a base doc and its near copies
    share a group; every other doc is alone in its group). A copy adds one
    word-3-shingle to its base's, so shingle Jaccard is at least 8/9, above
    the 0.7 dedup threshold; unrelated docs share almost no shingles.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCABULARY)
    n_copy = round(NEAR_COPY_FRAC * n)
    n_base = n - n_copy
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(10, 101))))
             for _ in range(n_base)]
    groups = list(range(n_base))
    for g in rng.integers(0, n_base, size=n_copy):
        texts.append(texts[g] + " dup")
        groups.append(int(g))
    order = rng.permutation(n)
    ids = rng.permutation(n) * 7 + int(rng.integers(1, 7))
    return pd.DataFrame({
        "doc_id": ids.astype("int64"),
        "text": [texts[i] for i in order],
        "group": [groups[i] for i in order],
    })


def write_docs(docs: pd.DataFrame, path: Path, n_files: int,
               cols: tuple = ("doc_id", "text")) -> None:
    """The program's input: ``docs[cols]`` as parquet in ``n_files``
    files, so a read starts with one task per file."""
    path.mkdir(parents=True)
    for i, part in enumerate(np.array_split(np.arange(len(docs)), n_files)):
        pq.write_table(
            pa.Table.from_pandas(docs.iloc[part][list(cols)],
                                 preserve_index=False),
            path / f"part-{i:05d}.parquet", coerce_timestamps="us",
        )


def dedup_f1(pred_drop: set, true_drop: set) -> float:
    tp = len(pred_drop & true_drop)
    if not pred_drop and not true_drop:
        return 1.0
    return 2 * tp / (len(pred_drop) + len(true_drop))


def _ids(path: Path) -> set:
    return set(pq.read_table(path, columns=["doc_id"]).column(0).to_pylist())


def _manifests(root: Path) -> dict:
    return {
        d.name: json.loads((d / "_stage_manifest.json").read_text())["row_count"]
        for d in sorted(root.iterdir())
        if (d / "_stage_manifest.json").exists()
    }


def _digest(path: Path) -> str:
    df = pq.read_table(path).to_pandas()
    df = df.sort_values(sorted(df.columns)).reset_index(drop=True)
    h = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False)
    return hashlib.sha256(h.values.tobytes()).hexdigest()[:16]


def dir_bytes(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Curate:
    """``run_curate`` over the documents, a fresh state root per pass;
    outputs are read back from the stage parquet."""

    name = "curate"
    STAGE_LAYER = {"quality": "textquality", "exact": "dedup",
                   "neardup": "dedup", "counts": "corpus", "pack": "corpus"}

    def __init__(self, spark, work: Path, seed: int, n_files: int):
        self.spark = spark
        self.work = work
        self.docs = make_documents(SIZES[self.name], seed)
        self.n_docs = len(self.docs)
        self.input = work / "docs"
        write_docs(self.docs, self.input, n_files)
        self._passes = 0
        self.reference: dict | None = None

    def fresh_root(self) -> Path:
        self._passes += 1
        root = self.work / f"state-{self._passes}"
        shutil.rmtree(root, ignore_errors=True)
        return root

    def run(self, root: Path, max_stages: int | None = None) -> dict:
        from soweego_spark.plans.curate import CurateConfig, run_curate

        return run_curate(self.spark, str(root),
                          lambda: self.spark.read.parquet(str(self.input)),
                          CurateConfig(), max_stages=max_stages)

    def check(self, root: Path, result: dict) -> dict:
        """Outputs must repeat across passes; returns dedup F1, kept
        shares and the state size."""
        require(result["completed_stages"] == 5,
                f"curate completed {result['completed_stages']} of 5 stages")
        kept = _ids(root / "neardup" / "data")
        require(kept <= set(self.docs.doc_id),
                "curate kept a doc that is not in the input")
        repeat = {"rows": _manifests(root),
                  "digest": _digest(root / "pack" / "data")}
        if self.reference is None:
            self.reference = repeat
        require(repeat == self.reference,
                f"outputs differ across passes of one seed: {repeat} "
                f"vs {self.reference}")
        quality = _ids(root / "quality" / "data")
        written = dir_bytes(root)
        return {
            "f1": dedup_f1(quality - kept, self._true_drops(quality)),
            "kept_frac": {"textquality": len(quality) / self.n_docs,
                          "dedup": len(kept) / max(len(quality), 1)},
            "write_amp": written / dir_bytes(self.input),
            "written_mb": written / 2**20,
        }

    def _true_drops(self, survivors: set) -> set:
        """Sequential-greedy by id: in each planted group, every member
        that passed the quality filters but the smallest id is a
        duplicate."""
        d = self.docs[self.docs.doc_id.isin(survivors)]
        firsts = d.groupby("group").doc_id.transform("min")
        return set(d.doc_id[d.doc_id != firsts])

    def traced(self, tracer, root: Path, store) -> dict:
        """``run_curate(max_stages=k)`` for k = 1..5 over one root, one
        span per step: step k loads stages 1..k-1 from their manifests
        (checkpoint reads) and computes stage k. Stage spans come from a
        wrapper around ``StageCheckpointer.stage``."""
        from soweego_spark.plans.checkpoint import StageCheckpointer

        with _wrap_stages(StageCheckpointer, tracer, store,
                          self.STAGE_LAYER.get):
            for k in range(1, len(self.STAGE_LAYER) + 1):
                with tracer.span(f"step{k}", "curate.step"):
                    result = self.run(root, max_stages=k)
        return result

    def confirm_frac(self, root: Path) -> float:
        """Confirmed near-dup edges / band-candidate pairs over the
        exact-dedup survivors."""
        from pyspark.sql import functions as F

        from soweego_spark.operators import dedup
        from soweego_spark.plans.curate import CurateConfig

        cfg = CurateConfig()
        docs = self.spark.read.parquet(str(root / "exact" / "data"))
        toks = dedup.shingles(docs, n=cfg.shingle_n)
        banded = dedup.band_keys(
            dedup.minhash_signatures(toks, num_perm=cfg.num_perm),
            num_perm=cfg.num_perm, bands=cfg.bands)
        left = banded.select("band_id", "band_hash", F.col("doc_id").alias("a"))
        right = banded.select("band_id", "band_hash", F.col("doc_id").alias("b"))
        cand = (left.join(right, ["band_id", "band_hash"])
                .where("a < b").select("a", "b").distinct().count())
        confirmed = dedup.minhash_lsh_candidates(
            toks, jaccard_threshold=cfg.jaccard_threshold,
            num_perm=cfg.num_perm, bands=cfg.bands,
        ).count()
        return confirmed / cand if cand else 0.0


@contextmanager
def _wrap_stages(cls, tracer, store, layer_of):
    """Make every ``cls.stage`` call a span. A stage whose manifest
    already exists loads from parquet: a ``checkpoint`` read; any other
    stage's layer is ``layer_of(name)``."""
    original = cls.stage

    def stage(self, name, config, compute):
        hit = self.manifest(name) is not None
        layer = "checkpoint" if hit else layer_of(name)
        with tracer.span(name, layer) as sp:
            out = original(self, name, config, compute)
        sp.rows_out = (self.manifest(name) or {}).get("row_count", 0)
        sp.pinned_mb = store.pinned_mb()
        return out

    cls.stage = stage
    try:
        yield
    finally:
        cls.stage = original


def _cache_rdd_id(spark, df) -> int:
    """Id of the RDD that holds ``df``'s cached blocks."""
    cached = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(df._jdf).get()
    return cached.cachedRepresentation().cacheBuilder() \
        .cachedColumnBuffers().id()


class Link:
    name = "link"

    def __init__(self, spark, work: Path, seed: int, n_files: int):
        from soweego_spark.sources.pages import generate_pages

        self.spark = spark
        fx = generate_pages(n_entities=SIZES[self.name], seed=seed)
        pages = fx.pages.sample(n=LINK_PAGES, random_state=seed % 2**32)
        pages = pages.sort_index()  # generation order, as generated
        self.urls = list(pages.url)
        self.n_docs = len(self.urls)
        labeled = fx.labeled_pairs[fx.labeled_pairs.url_a.isin(self.urls)
                                   & fx.labeled_pairs.url_b.isin(self.urls)]
        self.pages_path = str(work / "pages")
        self.labeled_path = str(work / "labeled")
        # tz-aware, so Spark reads warc_ts as TIMESTAMP like createDataFrame
        pages = pages.assign(warc_ts=pages.warc_ts.dt.tz_localize("UTC"))
        write_docs(pages, work / "pages", n_files, cols=pages.columns)
        write_docs(labeled, work / "labeled", 1, cols=labeled.columns)
        self.positives = {
            (a, b) for a, b, y in labeled[["url_a", "url_b", "label"]]
            .itertuples(index=False) if y == 1
        }
        self.f1: float | None = None

    def fresh_root(self) -> None:
        return None  # run_pipeline without a checkpointer keeps no state

    def frames(self):
        return (self.spark.read.parquet(self.pages_path),
                self.spark.read.parquet(self.labeled_path))

    def run(self, root=None):
        from soweego_spark.plans.pipeline import PipelineConfig, run_pipeline

        pages, labeled = self.frames()
        res = run_pipeline(self.spark, pages, labeled, PipelineConfig())
        res.clusters.write.format("noop").mode("overwrite").save()
        return res.metrics, res.clusters

    def check(self, root, result) -> dict:
        metrics, clusters = result
        f1 = metrics["f1"]
        require(f1 >= MIN_LINK_F1, f"link f1 {f1:.5f} < {MIN_LINK_F1}")
        if self.f1 is None:
            self.f1 = f1
        require(f1 == self.f1, f"link f1 {f1} differs from {self.f1}")
        urls = [r.url for r in clusters.select("url").collect()]
        require(len(urls) == len(set(urls)) and set(urls) == set(self.urls),
                "link clusters do not cover every page exactly once")
        return {"f1": f1}

    def traced(self, tracer, root, store):
        """The calls ``run_pipeline`` makes, with the same arguments, one
        layer per span; each layer's output is materialized in its span.

        ``run_pipeline`` caches the signatures, features and matches; the
        pairs and scored rows are cached here only, to charge each layer
        its own work. ``pinned_mb`` leaves those two caches out, so it
        counts the blocks the flow itself holds."""
        from soweego_spark.operators import blocking as blk
        from soweego_spark.operators import classify as clf
        from soweego_spark.operators import pairfeatures as pf
        from soweego_spark.operators.cluster import assign_clusters
        from soweego_spark.operators.extract import extract_signatures
        from soweego_spark.plans.pipeline import PipelineConfig

        cfg = PipelineConfig()
        pages, labeled = self.frames()
        self.outputs = {}
        ours: set[int] = set()  # RDD ids of the caches only this file makes

        def pinned(sp):
            sp.pinned_mb = store.pinned_mb(exclude=ours)

        def layer(name, make, flow_caches=True):
            with tracer.span(name) as sp:
                df = make().cache()
                sp.rows_out = df.count()
            if not flow_caches:
                ours.add(_cache_rdd_id(self.spark, df))
            pinned(sp)
            self.outputs[name] = df
            return df

        sig = layer("extract", lambda: extract_signatures(pages))
        pairs = layer("blocking", lambda: blk.block_candidates(
            sig, top_k=cfg.top_k, token_df_cap=cfg.token_df_cap,
            use_lsh=cfg.use_lsh, use_url_key=cfg.use_url_key,
            lsh_rows_per_band=cfg.lsh_rows_per_band), flow_caches=False)
        features = layer("pairfeatures", lambda: pf.compute_features(
            pf.assemble_pairs(pairs, sig,
                              occupation_closure=cfg.occupation_closure),
            occupation_closure=cfg.occupation_closure, carry_rule_cols=True))
        with tracer.span("classify.train") as sp:
            X, y = clf.collect_training_matrix(features, labeled)
            model = clf.train_logistic(X, y)  # the default classifier
            sp.rows_out = len(y)
        pinned(sp)
        scored = layer("classify.score", lambda: clf.apply_rules(
            clf.score(features, model), pair_rows=None,
            name_rule=cfg.name_rule, url_rule=cfg.url_rule),
            flow_caches=False)
        matches = layer("classify.threshold", lambda: clf.threshold_and_dedup(
            scored, threshold=cfg.threshold))
        with tracer.span("cluster") as sp:
            clusters = assign_clusters(sig.select("url"), matches)
            clusters.write.format("noop").mode("overwrite").save()
        pinned(sp)
        with tracer.span("classify.eval") as sp:
            metrics = clf.confusion_and_f1(matches, labeled)
        pinned(sp)
        return metrics, clusters

    def quality(self) -> dict:
        """Candidate pairs per blocking family, recall on labeled
        positives, and the share of candidates classified as matches."""
        from soweego_spark.operators import blocking as blk
        from soweego_spark.plans.pipeline import PipelineConfig

        cfg = PipelineConfig()
        sig = self.outputs["extract"]
        pairs = {(r.url_a, r.url_b) for r in self.outputs["blocking"].collect()}
        return {
            "blocking.pairs_token": blk.token_blocking(
                sig, top_k=cfg.top_k, token_df_cap=cfg.token_df_cap).count(),
            "blocking.pairs_url": blk.url_blocking(sig).count(),
            "blocking.pairs_lsh": blk.lsh_blocking(
                sig, rows_per_band=cfg.lsh_rows_per_band).count(),
            "blocking.recall": len(self.positives & pairs)
            / max(len(self.positives), 1),
            "classify.match_frac": self.outputs["classify.threshold"].count()
            / max(len(pairs), 1),
        }

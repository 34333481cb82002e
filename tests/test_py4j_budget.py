"""Py4J round trips per build of the link and curate operators.

Under PySpark 4 a Column operation costs about five py4j round trips
(call-site capture included; ``F.col`` thirteen) and ``isin(list)`` one
per element, so an operator that spells its expressions as Column ops pays
thousands of them before any task runs. ``blocking``, ``pairfeatures``
and the curate operators (``dedup``, ``textquality``, ``lmfilter``,
``corpus``) write their fixed expressions, literal word lists included,
as SQL text (one call to parse each); these budgets hold them to it. As
Column ops on these inputs they took 2,026 (``block_candidates``), 4,539
(``assemble_pairs``), 5,105 (``compute_features``) and 12,756
(``compute_features`` per-pair fallback with a closure) calls per build;
at curate's settings, 3,085 (``shingles`` + ``minhash_signatures`` +
``band_keys``), 1,050 (``gopher_quality``), 602 (``lm_counts``), 1,204
(``lm_filter``) and 635 (``pack_counts``); the curate budgets are a
fifth of those. Nothing is cached between builds: the counted build
costs what any build after the session's first does.
"""

from __future__ import annotations

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from soweego_spark.operators import blocking as blk
from soweego_spark.operators import corpus, dedup, lmfilter, textquality
from soweego_spark.operators import pairfeatures as pf
from soweego_spark.operators.extract import extract_signatures
from soweego_spark.sources.pages import generate_pages, pages_to_spark

CLOSURE = {"Q1": ["Q2", "Q3"], "Q4": ["Q5"]}


@pytest.fixture(scope="module")
def sig(spark):
    pages, *_ = pages_to_spark(spark, generate_pages(150, seed=3))
    out = extract_signatures(pages).cache()
    out.count()
    yield out
    out.unpersist()


def _py4j_calls(build) -> int:
    """Commands sent to the JVM while ``build()`` runs, GC deletes left
    out (their number depends on when the Python GC runs)."""
    sent = 0
    send = ClientServerConnection.send_command

    def counting(self, command):
        nonlocal sent
        if not command.startswith("m\nd\n"):
            sent += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
    return sent


@pytest.mark.parametrize(
    "operator,budget",
    [("block_candidates", 500), ("assemble_pairs", 1000),
     ("compute_features", 200), ("compute_features_fallback", 200)],
)
def test_build_stays_within_py4j_budget(sig, operator, budget):
    pairs = blk.block_candidates(sig)
    rows = pf.assemble_pairs(pairs, sig)
    cols = [c for c in sig.columns if c != "url"]
    raw = pairs.join(
        sig.select(F.col("url").alias("url_a"),
                   *[F.col(c).alias(f"a_{c}") for c in cols]), "url_a",
    ).join(
        sig.select(F.col("url").alias("url_b"),
                   *[F.col(c).alias(f"b_{c}") for c in cols]), "url_b",
    )
    build = {
        "block_candidates": lambda: blk.block_candidates(sig),
        "assemble_pairs": lambda: pf.assemble_pairs(pairs, sig),
        "compute_features": lambda: pf.compute_features(
            rows, carry_rule_cols=True
        ),
        # raw a_*/b_* rows: the stop words and the closure per pair
        "compute_features_fallback": lambda: pf.compute_features(
            raw, occupation_closure=CLOSURE
        ),
    }[operator]
    build()  # the session's one-time setup is not the operator's cost
    calls = _py4j_calls(build)
    assert 0 < calls <= budget, calls


# Calls per build when these operators spelled their expressions as
# Column ops, on the ``docs`` fixture at ``CurateConfig``'s settings.
COLUMN_OPS_CALLS = {
    "minhash": 3085,
    "gopher_quality": 1050,
    "lm_counts": 602,
    "lm_filter": 1204,
    "pack_counts": 635,
}


@pytest.fixture(scope="module")
def docs(spark):
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    return spark.createDataFrame(
        [(i, " ".join(words[(i * j) % 7] for j in range(3 + i % 9)))
         for i in range(40)],
        "doc_id long, text string",
    )


@pytest.mark.parametrize("operator", sorted(COLUMN_OPS_CALLS))
def test_curate_build_stays_within_a_fifth_of_column_ops(docs, operator):
    model = lmfilter.lm_counts(docs, n=2)
    counts = docs.selectExpr("doc_id", "size(split(text, ' ')) AS n")
    build = {
        # the near-dup stage's signature chain
        "minhash": lambda: dedup.band_keys(
            dedup.minhash_signatures(
                dedup.shingles(docs, n=3), num_perm=32
            ),
            num_perm=32, bands=8,
        ),
        "gopher_quality": lambda: textquality.gopher_quality(docs),
        "lm_counts": lambda: lmfilter.lm_counts(docs, n=2),
        "lm_filter": lambda: lmfilter.lm_filter(docs, model, n=2),
        "pack_counts": lambda: corpus.pack_counts(
            counts, seq_len=2048, n_shards=64
        ),
    }[operator]
    build()
    calls = _py4j_calls(build)
    assert 0 < calls <= COLUMN_OPS_CALLS[operator] // 5, calls

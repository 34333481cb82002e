"""Py4J round trips per build of the link operators.

Under PySpark 4 a Column operation costs about five py4j round trips
(call-site capture included; ``F.col`` thirteen) and ``isin(list)`` one
per element, so an operator that spells its expressions as Column ops pays
thousands of them before any task runs. ``blocking`` and ``pairfeatures``
write their fixed expressions, literal word lists included, as SQL text
(one call to parse each); these budgets hold them to it. As Column ops on
this input they took 2,026 (``block_candidates``), 4,539
(``assemble_pairs``), 5,105 (``compute_features``) and 12,756
(``compute_features`` per-pair fallback with a closure) calls per build.
Nothing is cached between builds: the counted build costs what any build
after the session's first does.
"""

from __future__ import annotations

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from soweego_spark.operators import blocking as blk
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

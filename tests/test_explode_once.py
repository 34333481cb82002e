"""``dedup.explode_once``: the rows of ``F.explode`` without the filter
Catalyst infers for a non-outer generator over an attribute.

InferFiltersFromGenerate adds ``size(arr) > 0`` below such a generator and
PushDownPredicates inlines the array's definition into it, so an array
derived in the same query (shingles, gram hashes, word lists) is built a
second time, with the text split once per element where the definition
reads the word list inside a lambda. The plan guard pins that no converted
operator's optimized plan has a ``Filter`` over a lambda; the semantics
tests pin that the helper emits exactly ``explode``'s rows.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from soweego_spark.operators.bpe import bpe_encode, word_type_counts
from soweego_spark.operators.corpus import gram_occurrences
from soweego_spark.operators.dedup import (
    explode_once,
    minhash_signatures,
    shingles,
    simhash_signatures,
)
from soweego_spark.operators.lmfilter import (
    gram_prefix_occurrences,
    lm_counts,
    lm_doc_stats,
)

TEXTS = [
    (1, "the cat sat on the mat"),
    (2, "a b"),
    (3, "one"),
    (4, ""),
    (5, None),
    (6, "the cat sat on a mat today"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def _lambda_filters(df) -> list[str]:
    """Conditions of the optimized plan's Filter nodes that contain a
    lambda function (an inlined array definition)."""
    found = []

    def walk(node):
        if node.nodeName() == "Filter":
            cond = node.condition().toString()
            if "lambdafunction" in cond:
                found.append(cond)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


@pytest.mark.parametrize(
    "name",
    [
        "minhash_signatures",
        "minhash_signatures_md5",
        "lm_counts",
        "lm_counts_bylang",
        "lm_doc_stats",
        "simhash_signatures",
        "gram_occurrences",
        "gram_prefix_occurrences",
        "word_type_counts",
        "bpe_encode",
    ],
)
def test_no_filter_rebuilds_a_derived_array(spark, docs, name):
    bylang = docs.withColumn("lang", F.lit("en"))
    build = {
        "minhash_signatures": lambda: minhash_signatures(shingles(docs)),
        "minhash_signatures_md5": lambda: minhash_signatures(
            shingles(docs), num_perm=8, hash_family="md5"
        ),
        "lm_counts": lambda: lm_counts(docs, n=2),
        "lm_counts_bylang": lambda: lm_counts(bylang, n=2, group_col="lang"),
        "lm_doc_stats": lambda: lm_doc_stats(docs, lm_counts(docs, n=2), n=2),
        "simhash_signatures": lambda: simhash_signatures(docs),
        "gram_occurrences": lambda: gram_occurrences(docs, 3),
        "gram_prefix_occurrences": lambda: gram_prefix_occurrences(docs, 2),
        "word_type_counts": lambda: word_type_counts(docs),
        "bpe_encode": lambda: bpe_encode(docs, [("a", "t")]),
    }[name]
    assert _lambda_filters(build()) == []


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(map(repr, t))
    )


def test_explode_once_rows_equal_explode(spark):
    df = spark.createDataFrame(
        [
            (1, None),
            (2, []),
            (3, ["x", None, "y"]),
            (4, ["z", "z", "z"]),
            (5, ["w"]),
        ],
        "id long, a array<string>",
    )
    assert _sorted_rows(explode_once(df, ["id"], "a", "e")) == _sorted_rows(
        df.select("id", F.explode("a").alias("e"))
    )
    assert _sorted_rows(
        explode_once(df, ["id"], "a", "e", pos="p")
    ) == _sorted_rows(df.select("id", F.posexplode("a").alias("p", "e")))
    assert explode_once(df, ["id"], "a", "e").columns == ["id", "e"]
    assert explode_once(df, ["id"], "a", "e", pos="p").columns == ["id", "p", "e"]


def test_explode_once_rows_equal_explode_on_derived_array(spark):
    """Same rows as explode over an array derived in the query: a doc
    whose filtered word list is empty or null emits nothing."""
    df = spark.createDataFrame(TEXTS, "doc_id long, text string").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != F.lit("")).alias("w"),
    )
    assert _sorted_rows(explode_once(df, ["doc_id"], "w", "word")) == (
        _sorted_rows(df.select("doc_id", F.explode("w").alias("word")))
    )


def test_minhash_signatures_skip_empty_and_null_tokens(spark):
    toks = spark.createDataFrame(
        [(1, []), (2, None), (3, ["a b c"]), (4, ["x", "x"])],
        "doc_id long, tokens array<string>",
    )
    for family in ("xxhash64", "md5"):
        got = minhash_signatures(toks, num_perm=8, hash_family=family)
        assert sorted(r["doc_id"] for r in got.collect()) == [3, 4]

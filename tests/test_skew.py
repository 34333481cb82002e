"""Skew guards under planted hot keys (north rule: partitioning/shuffle/
skew handled explicitly — and tested explicitly, SURVEY.md §7).

The guards are correctness-neutral caps: a blocking key shared by a huge
number of documents carries no linking signal, so dropping it mirrors the
reference's LIMIT-5 relevance cap rather than losing recall.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from soweego_spark.operators import blocking as blk
from soweego_spark.operators.dedup import minhash_lsh_candidates, token_sets


@pytest.fixture(scope="module")
def hot_sig(spark):
    """600 docs sharing the hot token 'smith' (+ unique noise), plus 3 docs
    sharing the rare token 'zweistein'."""
    rows = []
    for i in range(600):
        rows.append((f"hot{i:04d}", ["smith", f"noise{i}"]))
    for i in range(3):
        rows.append((f"rare{i}", ["zweistein", f"other{i}"]))
    return spark.createDataFrame(rows, "url string, name_tokens array<string>")


def test_token_blocking_caps_hot_token(spark, hot_sig):
    pairs = blk.token_blocking(hot_sig, top_k=5, token_df_cap=100)
    got = [(r["url_a"], r["url_b"]) for r in pairs.collect()]
    # Without the cap the hot token alone yields 600*599/2 ≈ 180k pairs.
    # With it, only the rare-token pairs remain.
    assert len(got) == 3  # C(3,2) = 3 rare pairs
    assert all(a.startswith("rare") and b.startswith("rare") for a, b in got)


def test_token_blocking_unbounded_when_under_cap(spark, hot_sig):
    # Raising the cap past the hot df re-admits the hot token, and the
    # per-doc top-k then bounds the OUTPUT, not the cap.
    pairs = blk.token_blocking(hot_sig, top_k=2, token_df_cap=10_000)
    per_doc = (
        pairs.groupBy("url_a").count().agg(F.max("count")).first()[0]
    )
    # rank_a <= 2 OR rank_b <= 2: a doc can appear in more than k pairs via
    # the b-side, but the count stays linear in n, far below the quadratic.
    assert pairs.count() < 5000


def test_lsh_band_cap_bounds_bucket_blowup(spark):
    rows = [(i, "the exact same sentence repeated verbatim here") for i in range(500)]
    rows += [(1000 + i, f"unique snowflake text number {i} with words") for i in range(5)]
    rows += [(2000, "pair text alpha beta gamma delta"), (2001, "pair text alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = token_sets(docs)
    out = minhash_lsh_candidates(toks, jaccard_threshold=0.9, max_bucket_size=50)
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    # The 500-clone bucket (125k potential pairs) is dropped by the cap;
    # the small identical pair below the cap is still found.
    assert (2000, 2001) in got
    assert not any(a < 1000 and b < 1000 for a, b in got)


def test_lsh_blocking_band_cap(spark):
    rows = [(f"c{i:04d}", ["identical", "name", "tokens"]) for i in range(400)]
    rows += [(f"u{i}", [f"unique{i}", f"name{i}"]) for i in range(4)]
    sig = spark.createDataFrame(rows, "url string, name_tokens array<string>")
    sig = sig.withColumn("name", F.array(F.concat_ws(" ", "name_tokens")))
    pairs = blk.lsh_blocking(sig, band_cap=100)
    # every band bucket of the 400 clones exceeds the cap -> no clone-clone
    # pairs (125k potential); the few structurally-similar unique names may
    # still pair with each other, which is the cap working as intended.
    clone_pairs = pairs.filter(
        F.col("url_a").startswith("c") & F.col("url_b").startswith("c")
    )
    assert clone_pairs.count() == 0
    assert pairs.count() <= 6


def test_subset_pairs_target_side_hot_token_capped(spark):
    """A token that is boilerplate-hot on the TARGET side but under-cap on
    the wd side must not fan out df_l x df_r: the symmetric cap drops it,
    which also disqualifies every target set containing it (a pair held
    together only by a boilerplate token carries no subset signal)."""
    wd_rows = [("w1", ["boiler", "alpha"]), ("w2", ["beta", "gamma"])]
    tgt_rows = [(f"t{i:03d}", ["boiler", "alpha"]) for i in range(200)]
    tgt_rows += [("tok2", ["beta", "gamma"])]
    wd = spark.createDataFrame(wd_rows, "url string, name_tokens array<string>")
    tgt = spark.createDataFrame(tgt_rows, "url string, name_tokens array<string>")

    capped = blk.subset_token_pairs(
        wd, tgt, token_df_cap=1000, target_df_cap=100
    )
    got = {(r["url_a"], r["url_b"]) for r in capped.collect()}
    # 'boiler' df=200 on the target side (> 100) while df=1 on the wd side:
    # without the target cap, 200 target sets subset-match w1 (the round-2
    # one-sided-cap behavior, fan-out 1 x 200 per hot token at scale).
    assert got == {("w2", "tok2")}

    uncapped = blk.subset_token_pairs(
        wd, tgt, token_df_cap=1000, target_df_cap=1000
    )
    assert uncapped.count() == 201  # proves the planted fan-out was real

    # the target-side cap is OPT-IN: the default (target_df_cap=None)
    # applies no target cap at all, preserving pre-round-3 caller recall
    default = blk.subset_token_pairs(wd, tgt, token_df_cap=1000)
    assert default.count() == 201


def test_subset_pairs_wd_side_cap_still_applies(spark):
    """The original wd-side cap is unchanged by the symmetric guard."""
    wd_rows = [(f"w{i:03d}", ["hotwd", f"n{i}"]) for i in range(150)]
    wd_rows += [("wx", ["cold", "pair"])]
    tgt_rows = [("ty", ["hotwd"]), ("tz", ["cold", "pair"])]
    wd = spark.createDataFrame(wd_rows, "url string, name_tokens array<string>")
    tgt = spark.createDataFrame(tgt_rows, "url string, name_tokens array<string>")
    out = blk.subset_token_pairs(wd, tgt, token_df_cap=100, target_df_cap=100)
    got = {(r["url_a"], r["url_b"]) for r in out.collect()}
    # 'ty' has a single token -> excluded by the size>1 rule anyway; 'tz'
    # matches only the cold wd doc; 'hotwd' (df=150 > 100) contributes no
    # pairs.
    assert got == {("wx", "tz")}


def test_token_blocking_leaves_no_cached_rdds(spark):
    """Repeated blocking calls in a long-lived session must not accumulate
    persisted RDDs: the block graph runs from lineage, with no internal
    cache to release."""
    sig = spark.createDataFrame(
        [
            (f"u{i}", [f"n{i % 5}"], [f"t{i % 7}", f"t{(i + 1) % 7}", "shared"],
             [f"https://x.example/{i % 3}"])
            for i in range(40)
        ],
        "url string, name array<string>, name_tokens array<string>, "
        "urls array<string>",
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(3):
        blk.token_blocking(sig, top_k=3).count()
        blk.block_candidates(sig, top_k=3).count()
    # ids, not a count: the GC may drop older pins while the calls run
    new_ids = set(spark.sparkContext._jsc.getPersistentRDDs()) - before
    assert new_ids == set(), new_ids

"""Block graph vs a pure-Python reference over the collected signatures.

The reference rebuilds each key family's posting lists with dicts, drops
lists longer than the family's cap, pairs every two entries of a list
with ``itertools.combinations`` (a url listed twice under one key pairs
once per copy, as a token self-join would), keeps each document's top-k
token pairs by shared-token count, and adds every URL / LSH pair. The
MinHash band hashes come from the same Spark expressions the operator
uses (``F.hash`` over signature slices); everything after the keys is
Python.
"""

from __future__ import annotations

import itertools
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from soweego_spark.operators import blocking as blk
from soweego_spark.operators.extract import extract_signatures
from soweego_spark.sources.pages import generate_pages, pages_to_spark

ROWS_PER_BAND = 3  # PipelineConfig.lsh_rows_per_band
NUM_HASHES = 12

SIG_COLS = (
    "url string, name array<string>, name_tokens array<string>, "
    "urls array<string>"
)


def _planted(spark):
    """Over-cap and edge-case keys on top of the generated pages."""
    rows = []
    # token 'hotmoniker' in 4 docs: over a token_df_cap of 3, under 1000
    rows += [(f"zt{i}", [f"hot moniker {i}"], ["hotmoniker", f"tk{i}"], None)
             for i in range(4)]
    # one URL in 51 docs (over URL_DF_CAP) and one in exactly 50 (at cap)
    rows += [(f"zu{i:02d}", [f"urlhot {i}"], [f"uh{i}"], ["https://hot.example/x"])
             for i in range(blk.URL_DF_CAP + 1)]
    rows += [(f"zv{i:02d}", [f"urlcap {i}"], [f"uc{i}"], ["https://cap.example/y"])
             for i in range(blk.URL_DF_CAP)]
    # one name in 201 docs: every band key over BAND_CAP
    rows += [(f"zl{i:03d}", ["lsh clone name"], [f"lc{i}"], None)
             for i in range(blk.BAND_CAP + 1)]
    # a repeated token: shared_tokens counts it once per copy
    rows += [("zr1", ["dup dup"], ["dupword", "dupword", "r1"], None),
             ("zr2", ["dup"], ["dupword"], None)]
    # null elements key nothing
    rows += [("zn1", ["null one"], [None, "n1"], [None]),
             ("zn2", ["null two"], [None, "n2"], [None])]
    return spark.createDataFrame(rows, SIG_COLS)


@pytest.fixture(scope="module")
def sig(spark):
    pages, *_ = pages_to_spark(spark, generate_pages(n_entities=150, seed=3))
    gen = extract_signatures(pages).select("url", "name", "name_tokens", "urls")
    out = gen.unionByName(_planted(spark)).cache()
    out.count()
    yield out
    out.unpersist()


@pytest.fixture(scope="module")
def doc_keys(sig):
    """url -> {family: [keys]} with the band keys hashed by Spark."""
    mh = blk.minhash_signature(
        blk.shingles(F.array_join(F.col("name"), " ")), NUM_HASHES
    )
    bands = F.array(*[
        F.hash(*[F.element_at("mh", b * ROWS_PER_BAND + r + 1)
                 for r in range(ROWS_PER_BAND)])
        for b in range(NUM_HASHES // ROWS_PER_BAND)
    ])
    rows = (
        sig.withColumn("mh", mh)
        .select("url", "name_tokens", "urls", bands.alias("bands"))
        .collect()
    )
    return {
        r["url"]: {
            "token": list(r["name_tokens"] or []),
            "url": list(r["urls"] or []),
            "lsh": list(enumerate(r["bands"])),
        }
        for r in rows
    }


def reference(doc_keys, caps: dict, top_k: int = 5) -> dict:
    """{(url_a, url_b): shared_tokens} for the families named in ``caps``."""
    postings = defaultdict(list)
    for url in sorted(doc_keys):
        for fam in caps:
            for key in doc_keys[url][fam]:
                if key is not None:
                    postings[fam, key].append(url)
    shared, other = Counter(), set()
    for (fam, _), urls in postings.items():
        if len(urls) > caps[fam]:
            continue
        for a, b in itertools.combinations(urls, 2):
            if a == b:
                continue
            pair = (min(a, b), max(a, b))
            if fam == "token":
                shared[pair] += 1
            else:
                other.add(pair)
    ranked = defaultdict(list)
    for (a, b), n in shared.items():
        ranked[a, "gt"].append((-n, b, (a, b)))
        ranked[b, "lt"].append((-n, a, (a, b)))
    kept = {p for lst in ranked.values() for *_, p in sorted(lst)[:top_k]}
    return {p: shared[p] for p in kept | other}


def _pairs(df) -> set:
    return {(r["url_a"], r["url_b"]) for r in df.collect()}


@pytest.mark.parametrize(
    "cfg",
    [{}, {"use_lsh": False}, {"use_url_key": False},
     {"top_k": 2, "token_df_cap": 3}],
    ids=["default", "no_lsh", "no_url", "top2_cap3"],
)
def test_block_candidates_matches_reference(sig, doc_keys, cfg):
    caps = {"token": cfg.get("token_df_cap", 1000)}
    if cfg.get("use_url_key", True):
        caps["url"] = blk.URL_DF_CAP
    if cfg.get("use_lsh", True):
        caps["lsh"] = blk.BAND_CAP
    expected = reference(doc_keys, caps, top_k=cfg.get("top_k", 5))
    got = blk.block_candidates(sig, lsh_rows_per_band=ROWS_PER_BAND, **cfg)
    rows = got.collect()
    assert len(rows) == len(expected)
    assert {(r["url_a"], r["url_b"]) for r in rows} == set(expected)


@pytest.mark.parametrize("top_k,cap", [(5, 1000), (2, 3)])
def test_token_blocking_matches_reference(sig, doc_keys, top_k, cap):
    got = {
        (r["url_a"], r["url_b"]): r["shared_tokens"]
        for r in blk.token_blocking(sig, top_k=top_k, token_df_cap=cap).collect()
    }
    assert got == reference(doc_keys, {"token": cap}, top_k=top_k)


def test_url_and_lsh_blocking_match_reference(sig, doc_keys):
    assert _pairs(blk.url_blocking(sig)) == set(
        reference(doc_keys, {"url": blk.URL_DF_CAP})
    )
    assert _pairs(blk.lsh_blocking(sig, rows_per_band=ROWS_PER_BAND)) == set(
        reference(doc_keys, {"lsh": blk.BAND_CAP})
    )


def test_planted_keys(sig):
    """The planted edge cases do what the reference says they do."""
    capped = _pairs(blk.token_blocking(sig, top_k=5, token_df_cap=3))
    assert not any(a.startswith("zt") and b.startswith("zt") for a, b in capped)
    uncapped = _pairs(blk.token_blocking(sig, top_k=5, token_df_cap=1000))
    assert ("zt0", "zt1") in uncapped

    urls = _pairs(blk.url_blocking(sig))
    assert not any(a.startswith("zu") for a, _ in urls)  # 51 > cap
    n = blk.URL_DF_CAP
    assert sum(a.startswith("zv") for a, _ in urls) == n * (n - 1) // 2

    lsh = _pairs(blk.lsh_blocking(sig, rows_per_band=ROWS_PER_BAND))
    assert not any(a.startswith("zl") and b.startswith("zl") for a, b in lsh)

    shared = {
        (r["url_a"], r["url_b"]): r["shared_tokens"]
        for r in blk.token_blocking(sig).collect()
    }
    assert shared[("zr1", "zr2")] == 2

    plain = _pairs(blk.block_candidates(sig, use_lsh=False))
    assert ("zn1", "zn2") not in plain


def test_block_candidates_plan_and_jobs(spark, sig):
    """One hot-key broadcast and few jobs for all three families."""
    cands = blk.block_candidates(sig, lsh_rows_per_band=ROWS_PER_BAND)
    plan = cands._jdf.queryExecution().executedPlan().toString()
    n_broadcasts = len(re.findall(r"BroadcastExchange", plan))
    assert n_broadcasts <= 1, n_broadcasts

    sc = spark.sparkContext
    group = "test-block-candidates-jobs"
    sc.setJobGroup(group, group)
    try:
        cands.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 10, len(jobs)

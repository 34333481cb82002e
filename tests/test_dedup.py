"""Dedup operator oracles.

MinHash-LSH and SimHash are not ANSI-SQL-expressible, so the driver gives
them a rows-only check; these tests carry the semantics. All hashing in
the operators is deterministic (seeded xxhash64), so the oracles replicate
the *decisions* exactly from collected signatures — no tolerance bands.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from soweego_spark.operators.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    shingles,
    simhash_pairs,
    simhash_signatures,
    token_sets,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def test_minhash_lsh_exact_oracle(spark, docs):
    """Output == {pairs sharing >=1 band slice} ∩ {jaccard >= t}, replayed
    in Python from collected signatures and token sets."""
    t = 0.7
    num_perm, bands = 64, 16
    rows = num_perm // bands
    toks = token_sets(docs)
    tok_by_id = {
        r["doc_id"]: frozenset(r["tokens"]) for r in toks.collect()
    }
    sigs = {
        r["doc_id"]: (tuple(r["sig"]), tok_by_id[r["doc_id"]])
        for r in minhash_signatures(toks, num_perm).collect()
    }
    expected = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        sig_a, tok_a = sigs[a]
        sig_b, tok_b = sigs[b]
        share_band = any(
            sig_a[i * rows : (i + 1) * rows] == sig_b[i * rows : (i + 1) * rows]
            for i in range(bands)
        )
        if share_band and round(_jaccard(set(tok_a), set(tok_b)), 6) >= t:
            expected.add((a, b))

    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(toks, jaccard_threshold=t).collect()
    }
    assert got == expected


def test_minhash_jaccard_values_match_pandas(spark, docs):
    toks = token_sets(docs)
    token_map = {r["doc_id"]: set(r["tokens"]) for r in toks.collect()}
    for r in minhash_lsh_candidates(toks, jaccard_threshold=0.7).collect():
        truth = round(_jaccard(token_map[r["doc_a"]], token_map[r["doc_b"]]), 6)
        assert r["jaccard"] == truth
        assert truth >= 0.7


def test_simhash_pairs_exact_oracle(spark, docs):
    """Pigeonhole blocking has perfect recall and the bit_count filter has
    perfect precision -> output must EQUAL the brute-force Hamming filter."""
    max_h = 8
    sims = {
        r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()
    }
    expected = {
        (a, b): bin((sims[a] ^ sims[b]) & (2**64 - 1)).count("1")
        for a, b in itertools.combinations(sorted(sims), 2)
        if bin((sims[a] ^ sims[b]) & (2**64 - 1)).count("1") <= max_h
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=max_h).collect()
    }
    assert got == expected


def test_planted_near_duplicates_found(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")  # 1-token edit -> high jaccard
    far = "completely different words about spark shuffle partitions and joins"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], ["doc_id", "text"]
    )
    toks = token_sets(df)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(toks, jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert not any(3 in p for p in pairs)

    sh_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(df, max_hamming=10).collect()
    }
    assert (1, 4) in sh_pairs  # identical docs: hamming 0
    assert (3, 4) not in sh_pairs and (1, 3) not in sh_pairs


def test_shingles_contents(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    [row] = shingles(df, n=3).collect()
    assert sorted(row["tokens"]) == ["a b c", "b c d"]


def test_empty_text_has_no_shingles_and_no_near_dups(spark):
    """An empty, blank or null text has no shingles: it gets no MinHash
    signature, so two such docs are never Jaccard-1 near-dups of each
    other (with the token "" they shared one signature and every
    near-dup path dropped all but one of them)."""
    from soweego_spark.operators.dedup import incremental_minhash_neardup

    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "   "), (4, None), (5, "a b c d e f")],
        "doc_id long, text string",
    )
    toks = shingles(df, n=3)
    got = {r["doc_id"]: list(r["tokens"]) for r in toks.collect()}
    assert got[1] == got[2] == got[3] == got[4] == []
    assert sorted(r["doc_id"] for r in minhash_signatures(toks).collect()) == [5]
    for family in ("xxhash64", "md5"):
        assert minhash_lsh_candidates(toks, hash_family=family).count() == 0
    for mode in ("conservative", "exact"):
        kept = incremental_minhash_neardup(toks, None, within_batch=mode)
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3, 4, 5]


def test_exact_duplicates_counts(spark, docs):
    got = exact_duplicates(docs)
    n_groups = got.count()
    n_docs = docs.count()
    truth_groups = docs.select("text").distinct().count()
    assert n_groups == truth_groups
    total = got.agg(F.sum("n_copies")).first()[0]
    assert total == n_docs


def test_winnowing_fingerprints_replay(spark, docs):
    """Winnowing decisions replayed in Python from the Spark k-gram hash
    sequences — exact set equality."""
    from soweego_spark.operators.dedup import (
        kgram_hashes,
        winnowing_fingerprints,
    )

    k, w = 5, 4
    seqs = {
        r["doc_id"]: list(r["hashes"])
        for r in kgram_hashes(docs, k=k).collect()
    }
    expected = set()
    for did, hs in seqs.items():
        n_win = max(len(hs) - w, 0) + 1
        for j in range(n_win):
            expected.add((did, min(hs[j : j + w])))
    got = {
        (r["doc_id"], r["fingerprint"])
        for r in winnowing_fingerprints(docs, k=k, window=w).collect()
    }
    assert got == expected


def test_fingerprint_neardup_finds_planted_overlap(spark):
    from soweego_spark.operators.dedup import fingerprint_neardup

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, shared + " unique one tail words here"),
            (2, "prefix words other " + shared),
            (3, "completely different text with no overlap at all today"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in fingerprint_neardup(df, min_shared=1).collect()
    }
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_minhash_signature_truth(spark, docs):
    """Regression for the pyspark sibling-lambda mis-binding bug: each
    permutation's min must equal the min of per-token hashes computed in a
    separate single-expression DataFrame, and repeat runs must be equal."""
    from pyspark.sql import functions as F

    toks = token_sets(docs).filter("doc_id < 5").cache()
    sigs1 = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(toks, 8).collect()}
    sigs2 = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(toks, 8).collect()}
    assert sigs1 == sigs2
    for r in toks.collect():
        per_tok = spark.createDataFrame([(t,) for t in r["tokens"]], "t string")
        for i in range(8):
            truth = per_tok.select(
                F.xxhash64(F.concat(F.lit(f"p{i}:"), F.col("t"))).alias("h")
            ).agg(F.min("h")).first()[0]
            assert sigs1[r["doc_id"]][i] == truth, (r["doc_id"], i)


def test_blocking_minhash_signature_truth(spark, docs):
    from pyspark.sql import functions as F

    from soweego_spark.operators import blocking as blk

    toks = token_sets(docs).filter("doc_id < 5").cache()
    sh = blk.shingles(F.array_join(F.col("tokens"), " "))
    got = {
        r["doc_id"]: (list(r["mh"]), list(r["sh"]))
        for r in toks.select(
            "doc_id", blk.minhash_signature(sh, 6).alias("mh"), sh.alias("sh")
        ).collect()
    }
    for did, (mh, shingle_list) in got.items():
        per = spark.createDataFrame([(s,) for s in shingle_list], "s string")
        for i in range(6):
            truth = per.select(
                F.xxhash64(
                    F.concat(F.lit(f"m{i}:"), F.col("s"))
                ).alias("h")
            ).agg(F.min("h")).first()[0]
            assert mh[i] == truth, (did, i)


def test_simhash_signature_truth(spark, docs):
    """Simhash bits replayed from per-token hashes collected separately."""
    from pyspark.sql import functions as F

    sample = docs.filter("doc_id < 5")
    toks = token_sets(sample)
    sims = {r["doc_id"]: r["simhash"] for r in simhash_signatures(sample).collect()}
    for r in toks.collect():
        per_tok = spark.createDataFrame([(t,) for t in r["tokens"]], "t string")
        hs = [row["h"] for row in per_tok.select(F.xxhash64("t").alias("h")).collect()]
        expected = 0
        for i in range(64):
            s = sum(1 if (h >> i) & 1 else -1 for h in hs)
            if s > 0:
                expected |= 1 << i
        if expected >= 2**63:
            expected -= 2**64
        assert sims[r["doc_id"]] == expected, r["doc_id"]


def test_md5_family_matches_python_and_finds_planted(spark):
    """The md5 hash family (driver-oracle path) is bit-identical to hashlib
    and the md5-variant operators still find planted near-duplicates."""
    import hashlib

    from pyspark.sql import functions as F

    from soweego_spark.operators.dedup import (
        fingerprint_neardup,
        md5_60,
        md5_60_py,
        minhash_lsh_candidates,
        simhash_pairs,
    )

    vals = ["hello", "wörld", "a b c", ""]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = [r["h"] for r in df.select(md5_60(F.col("t")).alias("h")).collect()]
    assert got == [md5_60_py(v) for v in vals]
    assert md5_60_py("x") == int(hashlib.md5(b"x").hexdigest()[:15], 16)

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")
    far = "completely different words about spark shuffle partitions and joins"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)], ["doc_id", "text"]
    )
    mh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(
            token_sets(docs), jaccard_threshold=0.5, hash_family="md5"
        ).collect()
    }
    assert {(1, 2), (1, 4), (2, 4)} <= mh and not any(3 in p for p in mh)
    sh = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(
            docs, max_hamming=10, bits=60, hash_family="md5"
        ).collect()
    }
    assert (1, 4) in sh and (1, 3) not in sh
    fp = {
        (r["doc_a"], r["doc_b"])
        for r in fingerprint_neardup(
            docs, min_shared=1, hash_family="md5"
        ).collect()
    }
    assert (1, 4) in fp and not any(3 in p for p in fp)


def test_md5_60_cross_engine_property(spark):
    """Property: for arbitrary unicode strings, the md5_60 hash agrees
    byte-for-byte across Spark, DuckDB and Python hashlib — the invariant
    the driver's exact dedup oracles rest on."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from soweego_spark.operators.dedup import md5_60, md5_60_py

    con = duckdb.connect()

    @settings(max_examples=30, deadline=None)
    @given(st.text(min_size=0, max_size=40).filter(lambda s: "\x00" not in s))
    def check(s):
        py = md5_60_py(s)
        [duck] = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [s]
        ).fetchone()
        assert duck == py

    check()
    # Spark side once over a sampled batch (per-example Spark jobs are slow)
    vals = ["", "a", "héllo wörld", "ψυχή", "x" * 40, "tab\tsep", "emoji 🎸"]
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    got = [r["h"] for r in df.select(md5_60(F.col("t")).alias("h")).collect()]
    assert got == [md5_60_py(v) for v in vals]


def test_incremental_exact_dedup(spark):
    from soweego_spark.operators.dedup import incremental_exact_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        "doc_id long, text string",
    )
    _, seen_keys = incremental_exact_dedup(corpus, None)
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),   # exact dup of corpus -> dropped
            (11, "brand new content"),  # novel -> kept
            (12, "brand new content"),  # in-batch dup -> first id wins
            (13, "another novel one"),
        ],
        "doc_id long, text string",
    )
    kept, new_keys = incremental_exact_dedup(new, seen_keys)
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 13]
    # the returned keys feed the NEXT batch's seen table
    seen2 = seen_keys.unionByName(new_keys)
    kept2, _ = incremental_exact_dedup(
        spark.createDataFrame(
            [(20, "another novel one"), (21, "still newer")],
            "doc_id long, text string",
        ),
        seen2,
    )
    assert [r["doc_id"] for r in kept2.collect()] == [21]


def test_incremental_minhash_matches_batch_cross_pairs(spark):
    """Incremental near-dedup drops exactly the new docs that the BATCH
    LSH (over corpus ∪ new) pairs with a corpus doc at the threshold."""
    from soweego_spark.operators.dedup import (
        incremental_minhash_neardup,
        minhash_lsh_candidates,
        token_sets,
    )

    corpus_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "an entirely different corpus document about spark plans"),
        ],
        "doc_id long, text string",
    )
    new_docs = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 (one word changed)
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            (11, "completely unrelated fresh text with novel words here"),
            (12, "an entirely different corpus document about spark plans"),
            # IN-BATCH near-dup of 11: no corpus match, must still drop
            # (min-id survivor: 11 stays, 13 goes)
            (13, "completely unrelated fresh text with novel phrases here"),
        ],
        "doc_id long, text string",
    )
    corpus = token_sets(corpus_docs)
    new = token_sets(new_docs)
    kept = incremental_minhash_neardup(
        new, corpus, jaccard_threshold=0.7
    )
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    assert kept_ids == [11]

    # corpus-probe-only mode keeps both in-batch near-dups
    kept_nb = incremental_minhash_neardup(
        new, corpus, jaccard_threshold=0.7, within_batch=False
    )
    assert sorted(r["doc_id"] for r in kept_nb.collect()) == [11, 13]

    # cross-check vs the batch operator on the union
    both = corpus.unionByName(new)
    pairs = minhash_lsh_candidates(both, jaccard_threshold=0.7)
    confirmed = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    cross = {b for a, b in confirmed if a < 10 and b >= 10}
    assert cross == {10, 12}  # the corpus-dup drops
    assert (11, 13) in confirmed  # the in-batch pair the default catches


def test_incremental_minhash_reuses_persisted_bands(spark):
    from soweego_spark.operators.dedup import (
        band_keys,
        incremental_minhash_neardup,
        minhash_signatures,
        token_sets,
    )

    corpus = token_sets(
        spark.createDataFrame(
            [(1, "shared words one two three four five six")],
            "doc_id long, text string",
        )
    )
    new = token_sets(
        spark.createDataFrame(
            [(10, "shared words one two three four five six")],
            "doc_id long, text string",
        )
    )
    banded = band_keys(minhash_signatures(corpus))
    kept = incremental_minhash_neardup(
        new, corpus, corpus_banded=banded
    )
    assert kept.count() == 0


def test_incremental_minhash_within_batch_exact_vs_conservative(spark):
    """Transitive-chain semantics (round-4 contract): with B~A, C~B but
    C≁A (Jaccard 0.818/0.818/0.667 at threshold 0.7), conservative mode
    drops both B and C (any smaller-id confirmed dup drops you), while
    exact (sequential-greedy) mode keeps C because its only dup B was
    itself dropped."""
    from soweego_spark.operators.dedup import incremental_minhash_neardup

    base = [f"tok{i}" for i in range(10)]  # A = {tok0..tok9}
    a = base
    b = base[1:] + ["bb"]            # J(A,B) = 9/11 ≈ 0.818
    c = base[2:] + ["bb", "cc"]      # J(B,C) = 9/11; J(A,C) = 8/12 < 0.7
    new = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, tokens array<string>"
    )
    corpus = spark.createDataFrame([], "doc_id long, tokens array<string>")

    cons = incremental_minhash_neardup(
        new, corpus, jaccard_threshold=0.7, within_batch="conservative"
    )
    assert sorted(r["doc_id"] for r in cons.collect()) == [1]

    exact = incremental_minhash_neardup(
        new, corpus, jaccard_threshold=0.7, within_batch="exact"
    )
    assert sorted(r["doc_id"] for r in exact.collect()) == [1, 3]

    # exact mode drops corpus dups unconditionally; with B's content
    # already in the corpus, every batch doc here is within threshold of
    # that corpus copy (J=0.818 for all three), so all are dropped.
    corpus2 = spark.createDataFrame(
        [(100, b)], "doc_id long, tokens array<string>"
    )
    exact2 = incremental_minhash_neardup(
        new, corpus2, jaccard_threshold=0.7, within_batch="exact"
    )
    # B(2) ~ corpus doc -> dropped; A(1) J=0.818 vs corpus? J(A,corpus=B)
    # = 0.818 -> also dropped; C ~ corpus(B) 0.818 -> dropped. All gone.
    assert sorted(r["doc_id"] for r in exact2.collect()) == []

    with pytest.raises(ValueError, match="within_batch"):
        incremental_minhash_neardup(
            new, corpus, within_batch="bogus"
        ).collect()


def test_exact_mode_bounds_pinned_checkpoints(spark):
    """Per-batch exact-mode dedup must not accumulate the CC loop's
    converged-edge localCheckpoints: each call leaves at most a handful
    of pinned ID-ONLY RDDs (confirmed edges, corpus-dropped ids, the
    (node, cluster) map), never one per CC iteration and never anything
    holding text/token volume."""
    from soweego_spark.operators.dedup import incremental_minhash_neardup

    base = [f"w{i}" for i in range(10)]
    new = spark.createDataFrame(
        [(1, base), (2, base[1:] + ["x"]), (3, base[2:] + ["x", "y"])],
        "doc_id long, tokens array<string>",
    )
    corpus = spark.createDataFrame([], "doc_id long, tokens array<string>")

    def pinned_ids():  # ids, not a count: the GC may drop older pins
        return set(spark.sparkContext._jsc.getPersistentRDDs())

    before = pinned_ids()
    incremental_minhash_neardup(
        new, corpus, jaccard_threshold=0.7, within_batch="exact"
    ).collect()
    new_ids = pinned_ids() - before
    assert len(new_ids) <= 3, new_ids

    # joins path (max_component_edges=0, the round-6 ADVICE item): the
    # greedy rounds release the input edges and every per-round state;
    # only the returned id-only drop frame may stay pinned per call
    before = pinned_ids()
    incremental_minhash_neardup(
        new,
        corpus,
        jaccard_threshold=0.7,
        within_batch="exact",
        max_component_edges=0,
    ).collect()
    new_ids = pinned_ids() - before
    assert len(new_ids) <= 3, new_ids

    # inside a pin scope (what a stage or a per-batch loop opens) nothing
    # outlives the scope, on either greedy path
    from soweego_spark.operators import pins

    for cap in (1_000_000, 0):
        before = pinned_ids()
        with pins.scope():
            incremental_minhash_neardup(
                new,
                corpus,
                jaccard_threshold=0.7,
                within_batch="exact",
                max_component_edges=cap,
            ).collect()
        assert pinned_ids() - before == set(), cap


def test_greedy_joins_one_action_per_round(spark):
    """Driver-round floor regression (round-6): the joins greedy must
    issue ONE Spark action per round — the lazy-checkpoint-materializing
    count that also decides termination. AQE splits that action into one
    job per Exchange, so the stable observable is the MARGINAL jobs per
    extra round between two chains of known round counts: ~10 with the
    single-action round (no per-round distinct), >=12 with the round-5
    two-action shape."""
    from soweego_spark.operators.dedup import _greedy_component_drops

    sc = spark.sparkContext
    jobs = {}
    # ascending chain of n vertices = ceil((n-1)/2) greedy rounds
    for n, rounds in ((6, 3), (21, 10)):
        edges = spark.createDataFrame(
            [(i + 1, i) for i in range(n - 1)], "doc_id long, other_id long"
        )
        group = f"greedy-jobs-{n}"
        sc.setJobGroup(group, "job-count probe")
        try:
            drops = _greedy_component_drops(edges, max_component_edges=0)
            got = sorted(r["doc_id"] for r in drops.collect())
        finally:
            sc.setJobGroup(None, None)
        assert got == list(range(1, n, 2))
        jobs[rounds] = len(sc.statusTracker().getJobIdsForGroup(group))
    marginal = (jobs[10] - jobs[3]) / 7.0
    assert marginal <= 11.0, jobs


def test_greedy_drops_joins_equivalence(spark):
    """The r5 distributed greedy: on random graphs, the pure-join
    local-minima rounds, the per-component pandas pass, and a Python
    sequential-greedy oracle all produce the identical drop set."""
    import random

    from soweego_spark.operators.dedup import _greedy_component_drops

    rng = random.Random(610)
    for trial in range(3):
        n = 60
        edge_set = set()
        for _ in range(120):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edge_set.add((max(a, b), min(a, b)))
        adj: dict = {}
        for a, b in edge_set:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        kept, dropped = set(), set()
        for v in sorted(adj):
            if adj[v] & kept:
                dropped.add(v)
            else:
                kept.add(v)
        edges = spark.createDataFrame(
            sorted(edge_set), "doc_id long, other_id long"
        )
        for cap in (0, 10**6):  # 0 = force joins path, 1e6 = pandas path
            got = _greedy_component_drops(edges, max_component_edges=cap)
            assert sorted(r["doc_id"] for r in got.collect()) == sorted(
                dropped
            ), (trial, cap)


def test_greedy_chain_joins_path(spark):
    """Ascending chain — the round-pathological shape — through the joins
    path: greedy keeps evens, drops odds (0 kept, 1 dropped, 2 kept...)."""
    from pyspark.sql import functions as F

    from soweego_spark.operators.dedup import _greedy_component_drops

    n = 21
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)], "doc_id long, other_id long"
    )
    drops = _greedy_component_drops(edges, max_component_edges=0)
    assert sorted(r["doc_id"] for r in drops.collect()) == list(
        range(1, n, 2)
    )


def test_greedy_mega_component_joins_path(spark):
    """The r4 weak item's done-criterion: a planted 100k-doc SINGLE
    component (star around doc 0 — the templated-spam shape) resolves
    through the join rounds with the component cap far below its size,
    so no task ever materializes the component graph; greedy keeps the
    center and drops every leaf in one accept/drop round."""
    from pyspark.sql import functions as F

    from soweego_spark.operators.dedup import _greedy_component_drops

    edges = (
        spark.range(1, 100_001)
        .select(F.col("id").alias("doc_id"), F.lit(0).alias("other_id"))
    )
    drops = _greedy_component_drops(edges, max_component_edges=1_000)
    assert drops.count() == 100_000
    assert drops.filter("doc_id = 0").count() == 0


def test_incremental_exact_mode_joins_path_end_to_end(spark):
    """within_batch='exact' with the component cap at 0 (every component
    through the join rounds) reproduces the chain contract: B dropped
    (dup of kept A), C kept (its only dup B was dropped)."""
    from soweego_spark.operators.dedup import incremental_minhash_neardup

    base = [f"tok{i}" for i in range(10)]
    a = base
    b = base[1:] + ["bb"]
    c = base[2:] + ["bb", "cc"]
    new = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, tokens array<string>"
    )
    corpus = spark.createDataFrame([], "doc_id long, tokens array<string>")
    exact = incremental_minhash_neardup(
        new, corpus, jaccard_threshold=0.7, within_batch="exact",
        max_component_edges=0,
    )
    assert sorted(r["doc_id"] for r in exact.collect()) == [1, 3]


@pytest.mark.slow
def test_greedy_joins_scale_proof_constrained_heap():
    """The joins greedy's memory claim demonstrated under a REAL heap
    cap: a 400k-edge single component (over-cap -> CC + join rounds) and
    a chain (pure joins) both resolve oracle-identically in a fresh
    subprocess JVM with spark.driver.memory=1g — the per-component
    pandas dict that would hold the whole component never gets built.
    Full-size numbers (1.5M edges @2g): PERF.md §24."""
    import json
    import os
    import subprocess
    import sys

    import soweego_spark

    repo = os.path.dirname(os.path.dirname(soweego_spark.__file__))
    out = subprocess.run(
        [sys.executable, "scripts/greedy_scale_proof.py", "1g",
         "300000", "100000", "40"],
        capture_output=True, text=True, cwd=repo, timeout=1200,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    results = [json.loads(l) for l in out.stdout.splitlines() if l.strip()]
    assert len(results) == 2
    for r in results:
        assert r["correct"], r
    dense, chain = results
    assert dense["drops"] == 300_000
    assert chain["rounds"] == 20 and chain["drops"] == 20


def test_none_corpus_contract_matches_opaque_empty(spark):
    """r7: corpus_toks=None (the explicit no-corpus contract, which
    skips the whole corpus branch at plan time) must decide identically
    to the same call with an opaque runtime-empty corpus frame, in every
    within_batch mode."""
    from soweego_spark.operators.dedup import incremental_minhash_neardup

    base = [f"w{i}" for i in range(12)]
    new = spark.createDataFrame(
        [
            (1, base),
            (2, base[:10]),
            (3, base[:8]),
            (4, ["q1", "q2", "q3"]),
        ],
        "doc_id long, tokens array<string>",
    )
    opaque_empty = new.where("doc_id < 0")
    for mode in ("conservative", "exact", False):
        a = incremental_minhash_neardup(
            new, None, jaccard_threshold=0.7, within_batch=mode
        )
        b = incremental_minhash_neardup(
            new, opaque_empty, jaccard_threshold=0.7, within_batch=mode
        )
        assert sorted(r.doc_id for r in a.select("doc_id").collect()) == sorted(
            r.doc_id for r in b.select("doc_id").collect()
        ), mode


def test_banded_without_corpus_toks_raises(spark):
    from soweego_spark.operators.dedup import incremental_minhash_neardup

    new = spark.createDataFrame(
        [(1, ["a", "b"])], "doc_id long, tokens array<string>"
    )
    banded = spark.createDataFrame(
        [], "doc_id long, band_id int, band_hash string"
    )
    with pytest.raises(ValueError, match="corpus_banded without"):
        incremental_minhash_neardup(new, None, corpus_banded=banded)


@pytest.mark.parametrize("num_perm,bands", [(30, 8), (64, 10)])
def test_band_count_not_dividing_num_perm_raises(spark, num_perm, bands):
    """A ValueError, not an assert: under ``python -O`` num_perm=30,
    bands=8 would silently band only 24 of the 30 permutations."""
    from soweego_spark.operators.dedup import band_keys

    toks = spark.createDataFrame(
        [(1, ["a", "b"])], "doc_id long, tokens array<string>"
    )
    signed = minhash_signatures(toks, num_perm=num_perm)
    with pytest.raises(ValueError, match="divisible by bands"):
        band_keys(signed, num_perm=num_perm, bands=bands)
    with pytest.raises(ValueError, match="divisible by bands"):
        minhash_lsh_candidates(toks, num_perm=num_perm, bands=bands)


def test_md5_simhash_over_60_bits_raises(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bits=60"):
        simhash_signatures(docs, bits=64, hash_family="md5")
    with pytest.raises(ValueError, match="bits=60"):
        simhash_pairs(docs, bits=61, hash_family="md5")
    simhash_signatures(docs, bits=60, hash_family="md5")

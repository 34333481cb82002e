"""Near-duplicate detection operators: exact, MinHash-LSH, SimHash.

The reference dedups only the candidate-pair index (``~index.duplicated()``,
reference linker/link.py:222-223 and linker/workflow.py:423-425). At web
scale (BASELINE.json north_star: MinHash-LSH bands over shingled text as a
blocking key) we need sub-quadratic near-dup detection; these operators are
the scale path and double as extra blocking keys for the ER pipeline
(soweego_spark/operators/blocking.py).

Everything here is pure DataFrame API — JVM-side hashing
(``xxhash64``) and array built-ins, no Python UDFs — so whole-stage
codegen applies end to end and the only shuffles are:

* one ``groupBy(doc_id)`` to build signatures (map-side combine applies:
  ``min``/``sum`` are partial-aggregatable);
* one ``groupBy(band)`` / self-join per candidate generation, keyed on the
  LSH bucket — the *bucket* is the blocking key, so the join fan-out is
  bounded by bucket size, not corpus size;
* hot buckets (a band value shared by a huge number of docs, the skew
  case) are CAPPED via ``max_bucket_size``: a bucket larger than the cap
  is dropped before the self-join, mirroring the reference's LIMIT-5
  blocking cap (reference linker/blocking.py:138-142) and keeping the
  worst-case pair count at ``buckets * cap^2`` regardless of skew.

Determinism: all hashes are deterministic with literal salts (xxhash64 by
default, or the DuckDB-replicable md5 family below); no randomness, so
results are stable across runs/partitionings, the pytest oracles
(tests/test_dedup.py) replicate banding exactly from collected signatures,
and the driver's DuckDB oracle replays the md5-family operators in full.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from soweego_spark.operators import pins

DEFAULT_NUM_PERM = 64
DEFAULT_BANDS = 16

# diagnostics: round count of the most recent _greedy_drops_joins call
# (the per-round driver floor is the joins path's sandbox-scale cost;
# scripts/greedy_scale_proof.py reports rounds/wall per graph shape)
LAST_JOINS_ROUNDS = 0

# --------------------------------------------------------------- hashing
#
# Two deterministic hash families, selectable per operator:
#
# * "xxhash64" (default): Spark's native 64-bit hash — the fast JVM path,
#   pinned by the pytest ground-truth tests.
# * "md5": first 15 hex chars of md5 parsed base-16 (a 60-bit value, so no
#   sign issues in a signed 64-bit) — bit-identical in Spark
#   (conv(substr(md5(x),1,15),16,10)), DuckDB
#   (('0x' || substr(md5(x),1,15))::BIGINT) and Python hashlib, which lets
#   the driver's DuckDB oracle replicate MinHash/SimHash/winnowing
#   decisions EXACTLY (CORRECTNESS gate) instead of a rows-only check.


def md5_60(col):
    """60-bit md5-prefix hash as a Catalyst expression (see above)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def explode_once(
    df: DataFrame,
    keep: list[str],
    arr: str,
    alias: str,
    pos: str | None = None,
) -> DataFrame:
    """``df.select(*keep, F.explode(arr).alias(alias))`` without the
    filter Catalyst infers for it: the same rows (a null or empty array
    gives none, a null element is kept); with ``pos`` also the 0-based
    position, as ``posexplode``.

    InferFiltersFromGenerate puts ``size(arr) > 0`` below a NON-outer
    generator over an attribute, and PushDownPredicates then inlines the
    attribute's defining expression into that filter, so an array the
    same query derives is built twice. Where the definition reads the
    word list inside a ``transform`` lambda (shingles, gram hashes), the
    inlined copy splits the text once per element: O(words^2) per doc.
    Outer generators get no inferred filter, and the only row of
    ``posexplode_outer`` with a null position is the one it adds for a
    null or empty array."""
    p = pos or "_pos"
    out = df.select(*keep, F.posexplode_outer(arr).alias(p, alias)).where(
        F.col(p).isNotNull()
    )
    return out if pos else out.drop(p)


def md5_60_py(s: str) -> int:
    """The same hash in Python — used to derive permutation salts that are
    embedded as literals in BOTH the Spark plan and the SQL oracle."""
    return int(hashlib.md5(s.encode("utf8")).hexdigest()[:15], 16)


# Kirsch-Mitzenmacher double hashing for the md5 MinHash family:
# permutation i of a token is (h1 + i * h2) mod 2^60, with h1 = md5_60(tok)
# and h2 = md5_60('s:' || tok) masked to 55 bits so i * h2 never overflows
# a signed 64-bit (i < 64 -> i*h2 < 2^61; plus h1 < 2^60 -> sum < 2^62).
# XOR-salting a single hash is NOT enough: xor preserves the high-bit
# ordering, so one globally-minimal token wins almost every permutation and
# LSH recall collapses (caught by the planted-duplicate test).
PERM_MASK_60 = (1 << 60) - 1
PERM_MASK_55 = (1 << 55) - 1


def token_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text) -> (doc_id, tokens) with sorted distinct lowercase tokens.

    ``array_sort`` pins set-iteration order (SURVEY.md §7 hard parts) so any
    downstream serialization is deterministic.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col(text_col)), " "),
                    lambda t: t != F.lit(""),
                )
            )
        ).alias("tokens"),
    )


def shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, text) -> (doc_id, tokens) of word n-gram shingles.

    Shingled text is what the north_star asks MinHash to run over; built
    from ``transform`` over a sequence of start offsets — no explode until
    the caller needs one. The lambda reads the word list ``w``, so a
    caller that explodes ``tokens`` must use :func:`explode_once`: a
    pushed-down inferred filter would inline ``w`` and split the text
    once per shingle.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    docs = docs.select(F.col(id_col).alias("doc_id"), words.alias("w"))
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("w") - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)),
    )
    # no words, no shingles: the clamped offsets [0] would give the token
    # "", so every empty doc the same signature (Jaccard-1 near-dups)
    sh = F.when(F.size("w") > 0, sh).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", F.array_sort(F.array_distinct(sh)).alias("tokens")
    )


def minhash_signatures(
    toks: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, tokens) -> (doc_id, sig ARRAY<BIGINT>[num_perm]); docs
    with no tokens produce no row.

    Permutation ``i`` is ``min(xxhash64("p<i>:" || token))`` over the token
    set — the salt prefix makes each permutation an independent
    deterministic hash family member. One explode + one hash-agg with
    ``num_perm`` partial-min columns: the 64 xxhash64 projections stay in
    whole-stage codegen and map-side combine keeps the shuffle at num_perm
    longs per doc. The explode is :func:`explode_once`, so the token
    array (shingles, built in the same query) is built once per doc.

    The output deliberately does NOT carry the tokens column: every
    consumer immediately derives band keys (which drop it) and the
    Jaccard confirms re-join the original token frame by id — the old
    convenience join back to ``toks`` cost one full SortMergeJoin +
    Exchange per signature computation for a column nobody read
    (r5 plan audit).

    NOT written as sibling ``transform`` columns in one projection —
    pyspark 4.1 mis-binds same-named lambda variables across sibling HOF
    expressions (wrong + unstable values; regression:
    tests/test_dedup.py::test_minhash_signature_truth). Plain column
    expressions over an exploded index have no lambdas to collide and
    benchmark ~5x faster than the interpreted nested-lambda alternative.
    """
    exploded = explode_once(toks, ["doc_id"], "tokens", "token")
    if hash_family == "md5":
        # Signed-64 safety bound for h1 + i*h2 under ANSI mode: h1 < 2^60
        # and h2 < 2^55, so h1 + i*h2 <= 2^60 + i*2^55 stays below 2^63
        # for i <= 223 (at i = 224 the worst case 224*2^55 + 2^60 EQUALS
        # 2^63 and overflows signed 64). num_perm permutations use
        # i = 0..num_perm-1, so num_perm <= 224 is the exact limit.
        # ValueError, not assert: the guard must survive `python -O`,
        # because a larger num_perm THROWS mid-job under Spark 4 ANSI mode.
        if num_perm > 224:
            raise ValueError(
                f"md5 hash family supports num_perm <= 224, got {num_perm}"
            )
        # Two md5s per token + num_perm cheap arithmetic projections
        # (Kirsch-Mitzenmacher, see PERM_MASK_60 note) — DuckDB-replicable
        # for the oracle gate and cheaper than num_perm independent hashes.
        exploded = exploded.select(
            "doc_id",
            md5_60(F.col("token")).alias("h1"),
            md5_60(F.concat(F.lit("s:"), F.col("token")))
            .bitwiseAND(F.lit(PERM_MASK_55))
            .alias("h2"),
        )
        mins = [
            F.min(
                (F.col("h1") + F.lit(i) * F.col("h2")).bitwiseAND(
                    F.lit(PERM_MASK_60)
                )
            ).alias(f"h{i}")
            for i in range(num_perm)
        ]
    else:
        mins = [
            F.min(
                F.xxhash64(F.concat(F.lit(f"p{i}:"), F.col("token")))
            ).alias(f"h{i}")
            for i in range(num_perm)
        ]
    return exploded.groupBy("doc_id").agg(*mins).select(
        "doc_id", F.array(*[f"h{i}" for i in range(num_perm)]).alias("sig")
    )


def band_keys(
    signed: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(doc_id, sig) -> (doc_id, band_id, band_hash), one row per band.

    Band bucket key = the raw comma-joined slice of the signature (an
    injective encoding — no second hash needed; equality classes are
    exactly "all rows of the band agree").
    """
    # ValueError, not assert: under `python -O` num_perm=30, bands=8
    # would silently band only 24 of the 30 permutations
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm must be divisible by bands, got {num_perm} and {bands}"
        )
    rows_per_band = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    ",",
                    *[
                        F.element_at("sig", b * rows_per_band + r + 1)
                        .cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return signed.select(
        "doc_id", F.explode(band_structs).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")


def minhash_lsh_candidates(
    toks: DataFrame,
    jaccard_threshold: float = 0.7,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int = 10_000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH banding + exact-Jaccard confirmation.

    Returns (doc_a, doc_b, jaccard) for pairs that (1) collide in at least
    one of ``bands`` bands of ``num_perm / bands`` rows each and (2) have
    exact token-set Jaccard >= threshold. Step (2) makes the output
    deterministic precision-1.0: LSH only decides *which* pairs get the
    exact check (the sub-quadratic part); it never admits a false positive.
    ``num_perm`` not divisible by ``bands`` raises ValueError (band_keys).
    """

    # Deliberately NO persist here (r7, measured): this is one lazy query
    # execution, and AQE's runtime exchange reuse already deduplicates
    # the identical signature subtree across the hot-count and both
    # self-join sides — persisting the band table A/B'd as a consistent
    # ~1.3x LOSS (cache-write pass for rows exchange reuse delivers
    # free), unlike simhash_pairs where the expensive POST-exchange
    # 60-column aggregate re-ran per consumer and persisting its tiny
    # output won 2x.
    signed = minhash_signatures(toks, num_perm=num_perm, hash_family=hash_family)
    banded = band_keys(signed, num_perm=num_perm, bands=bands)

    # Skew guard: drop buckets larger than the cap before the self-join —
    # broadcast anti join on the tiny over-cap list, never the full
    # under-cap bucket set (the whole corpus's band table at web scale).
    bucket_counts = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("bucket_n")
    )
    hot = bucket_counts.filter(F.col("bucket_n") > max_bucket_size).select(
        "band_id", "band_hash"
    )
    capped = banded.join(
        F.broadcast(hot), ["band_id", "band_hash"], "left_anti"
    )

    left = capped.select("band_id", "band_hash", F.col("doc_id").alias("doc_a"))
    right = capped.select(
        "band_id", "band_hash", F.col("doc_id").alias("doc_b")
    )
    cand = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("tokens").alias("ta"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("tokens").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size(F.array_union("ta", "tb")).cast("double")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, text) -> (doc_id, simhash BIGINT).

    Classic Charikar simhash over distinct lowercase tokens: per token one
    64-bit ``xxhash64``; bit ``i`` of the signature is the sign of
    ``sum(+/-1)`` of that bit across tokens. Expressed as ``bits`` partial
    ``sum`` aggregates over the exploded token hashes (no lambdas -> no
    pyspark sibling-lambda mis-binding, and the column math stays in
    whole-stage codegen; ground truth pinned by
    tests/test_dedup.py::test_simhash_signature_truth).
    """
    # md5_60 is a 60-bit hash: with bits > 60 the top signature bits are
    # constant, so the highest pigeonhole block barely varies, its buckets
    # blow past the cap and get dropped, and the "one block must match"
    # recall guarantee silently breaks. Enforce instead of document
    # (ValueError, not assert, so `python -O` keeps the guard).
    if hash_family == "md5" and bits > 60:
        raise ValueError(f"md5 hash family supports at most bits=60, got {bits}")
    toks = token_sets(docs, id_col=id_col, text_col=text_col)
    token_hash = (
        md5_60(F.col("token")) if hash_family == "md5"
        else F.xxhash64("token")
    )
    exploded = explode_once(toks, ["doc_id"], "tokens", "token").select(
        "doc_id", token_hash.alias("h")
    )
    sums = [
        F.sum(
            F.when(
                F.shiftrightunsigned("h", i).bitwiseAND(F.lit(1).cast("long"))
                == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = exploded.groupBy("doc_id").agg(*sums)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bits: int = 64,
    max_bucket_size: int = 10_000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """All pairs with simhash Hamming distance <= max_hamming, found
    sub-quadratically.

    Pigeonhole blocking: split the signature into ``max_hamming + 1``
    blocks; two signatures within Hamming ``d`` differ in at most ``d``
    blocks, so at least one block matches exactly — block-equality
    self-joins have perfect recall, then ``bit_count(xor) <= d`` confirms.
    Same hot-bucket cap as MinHash-LSH for skew.
    """
    n_blocks = max_hamming + 1
    # sig is 16 bytes/doc and feeds three consumers (hot-bucket count +
    # both self-join sides): uncached, the full scan -> token explode ->
    # 60-column bit-sum aggregate re-ran once per consumer (r7 plan
    # audit: 3 scans / 6 Exchanges of the signature subtree). Persisting
    # the tiny signature frame collapses that to one pass; same
    # within-query-only rationale as minhash_lsh_candidates.
    sig = pins.persist(simhash_signatures(
        docs, id_col=id_col, text_col=text_col, bits=bits,
        hash_family=hash_family,
    ))

    # Block i covers bit range [lo_i, lo_i + width_i); widths differ by at
    # most 1 so all 64 bits are covered.
    base, extra = divmod(bits, n_blocks)
    blocks = []
    lo = 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        mask = (1 << width) - 1
        blocks.append(
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftrightunsigned("simhash", lo)
                .bitwiseAND(F.lit(mask).cast("long"))
                .alias("block_val"),
            )
        )
        lo += width

    banded = sig.select(
        "doc_id", "simhash", F.explode(F.array(*blocks)).alias("blk")
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_val")

    bucket_counts = banded.groupBy("block_id", "block_val").agg(
        F.count("*").alias("bucket_n")
    )
    hot = bucket_counts.filter(F.col("bucket_n") > max_bucket_size).select(
        "block_id", "block_val"
    )
    capped = banded.join(F.broadcast(hot), ["block_id", "block_val"],
                         "left_anti")
    left = capped.select(
        "block_id", "block_val",
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
    )
    right = capped.select(
        "block_id", "block_val",
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
    )
    return (
        left.join(right, ["block_id", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias(
                "hamming"
            ),
        )
        # filter BEFORE the distinct: block collisions nominate many
        # pairs whose full-signature Hamming exceeds the cap, and hamming
        # is a function of (doc_a, doc_b), so dropping them first shrinks
        # the dedup Exchange without changing the result set (guide §2.3
        # "shuffle fewer bytes"; r7)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup via hash-groupBy on a content fingerprint.

    Grouping on a fingerprint instead of the full text keeps shuffle rows
    small at 100 TB (~30 bytes vs whole documents). The key is
    (xxhash64, md5, length) — ~192 bits: 64 bits alone would silently
    merge distinct documents at 10^12 docs (expected collisions
    ≈ n²/2⁶⁵, tens of thousands), same rationale as
    :func:`incremental_exact_dedup`.
    """
    keyed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.xxhash64(F.col(text_col)).alias("content_hash"),
        F.md5(F.col(text_col).cast("binary")).alias("content_md5"),
        F.length(F.col(text_col)).alias("content_len"),
    )
    return keyed.groupBy("content_hash", "content_md5", "content_len").agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count("*").alias("n_copies"),
    )


def kgram_hashes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, text) -> (doc_id, hashes ARRAY<BIGINT>): 64-bit hash per word
    k-gram, in document order (the rolling-hash sequence of Karp-Rabin /
    MOSS; xxhash64 of the joined gram replaces the modular rolling update —
    same fingerprint semantics, one JVM expression, no per-row Python)."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")
    )
    base = docs.select(F.col(id_col).alias("doc_id"), words.alias("w"))
    hash_one = md5_60 if hash_family == "md5" else F.xxhash64
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("w") - k, F.lit(0))),
        lambda i: hash_one(F.concat_ws(" ", F.slice("w", i + 1, k))),
    )
    return base.select("doc_id", grams.alias("hashes"))


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the standard rolling-hash fingerprint for near-dup/plagiarism at
    scale): min hash of every ``window`` consecutive k-gram hashes, deduped.

    Output: (doc_id, fingerprint BIGINT) — one row per selected
    fingerprint; docs sharing fingerprints are near-dup candidates
    (join on fingerprint = the blocking key). Guarantees: any shared
    substring of length >= window + k - 1 words produces at least one
    shared fingerprint.
    """
    hashed = kgram_hashes(
        docs, id_col=id_col, text_col=text_col, k=k, hash_family=hash_family
    )
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("hashes") - window, F.lit(0))),
        lambda j: F.array_min(F.slice("hashes", j + 1, window)),
    )
    return hashed.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def fingerprint_neardup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 10_000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidates via shared winnowing fingerprints: explode ->
    self-join on fingerprint (df-capped for skew) -> pairs with at least
    ``min_shared`` shared fingerprints."""
    # fp feeds the document-frequency count and both self-join sides —
    # persist the narrow (doc_id, fingerprint) rows once instead of
    # re-running the k-gram + window-min transform per consumer (r7;
    # same within-query rationale as minhash_lsh_candidates)
    fp = pins.persist(winnowing_fingerprints(
        docs, id_col=id_col, text_col=text_col, k=k, window=window,
        hash_family=hash_family,
    ))
    counts = fp.groupBy("fingerprint").agg(F.count("*").alias("df"))
    hot = counts.filter(F.col("df") > max_df).select("fingerprint")
    fp = fp.join(F.broadcast(hot), "fingerprint", "left_anti")
    left = fp.select("fingerprint", F.col("doc_id").alias("doc_a"))
    right = fp.select("fingerprint", F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def content_keys(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The ~192-bit exact-dedup content key (xxhash64 + md5 + length) of
    each document, deduped — the rows a pipeline unions into its
    persisted seen-key table. Exposed separately from
    :func:`incremental_exact_dedup` because a production loop folds in
    the keys of the docs that survive ALL dedup stages (a near-dup
    dropped later must not poison the seen table), not the keys of the
    exact-stage survivors."""
    return docs.select(
        F.struct(
            F.xxhash64(F.col(text_col)).alias("h"),
            F.md5(F.col(text_col).cast("binary")).alias("m"),
            F.length(F.col(text_col)).alias("n"),
        ).alias("content_key")
    ).distinct()


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Continuous-ingestion exact dedup: keep new documents whose
    (xxhash64(text), md5(text), length) key is neither in the SEEN corpus
    key table nor duplicated within the batch (first doc per key wins,
    by id).

    The key is ~192 bits: a 64-bit key alone silently loses distinct
    documents at lake scale (10^12 docs → expected xxhash64 collisions
    ≈ (10^12)²/2⁶⁵ — tens of thousands), while the joint
    xxhash64+md5+length collision probability is negligible and the key
    stays fixed-width (no text in the seen table).

    Returns ``(kept_docs, kept_keys)`` — union ``kept_keys`` into the
    persisted seen-key table for the next batch. The seen table is keys
    only (~30 bytes/doc), so at 10^12 docs it is a join-able lake table,
    never driver state; the join is a plain hash anti join Catalyst can
    broadcast/shuffle as sizes dictate.
    """
    keyed = new_docs.withColumn(
        "content_key",
        F.struct(
            F.xxhash64(F.col(text_col)).alias("h"),
            F.md5(F.col(text_col).cast("binary")).alias("m"),
            F.length(F.col(text_col)).alias("n"),
        ),
    )
    if seen is not None:
        keyed = keyed.join(seen, "content_key", "left_anti")
    w = Window.partitionBy("content_key").orderBy(id_col)
    kept = (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return kept.drop("content_key"), kept.select("content_key").distinct()


def incremental_minhash_neardup(
    new_toks: DataFrame,
    corpus_toks: DataFrame | None,
    jaccard_threshold: float = 0.7,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int = 10_000,
    hash_family: str = "xxhash64",
    corpus_banded: DataFrame | None = None,
    within_batch: bool | str = True,
    max_component_edges: int = 1_000_000,
) -> DataFrame:
    """Continuous-ingestion NEAR-dedup: drop new documents whose exact
    token Jaccard against ANY corpus document reaches the threshold,
    finding candidates via band-bucket collisions (new bands probe the
    corpus bands — an equi-join, no self-join against the corpus, no
    corpus rescan).

    ``corpus_toks=None`` declares there is NO corpus (a self-dedup
    composition or a loop's first batch): the corpus probe/confirm
    branch is skipped at plan time entirely (r7).

    ``within_batch`` additionally dedups the batch against ITSELF —
    without it (``False``), two near-dups arriving in the same batch
    would both survive and permanently contaminate the corpus. Two
    in-batch semantics are offered:

    * ``True`` / ``"conservative"`` (default): a new doc is dropped when
      a confirmed dup with a SMALLER doc_id exists in the batch —
      regardless of whether that smaller doc itself survives. Over-drops
      on transitive chains (B~A and C~B drops both B and C even if
      C≁A), which is the safe direction for dedup and needs no extra
      pass over the pair graph.
    * ``"exact"``: sequential-greedy threshold semantics — docs are
      conceptually processed in ascending id order and a doc is dropped
      only when a confirmed dup among the docs KEPT so far exists
      (corpus-dropped docs are removed first; on the chain above, C is
      kept because its only dup B was itself dropped). Implemented
      distributed: connected components over the confirmed in-batch pair
      graph, components ≤ ``max_component_edges`` resolved by a
      per-component greedy pass in ``applyInPandas`` (memory bounded by
      the cap), larger components — e.g. a templated-spam mega-cluster —
      by iterated local-minima accept/drop JOIN rounds that never
      materialize a graph in one task (see _greedy_component_drops).

    Returns the kept rows of ``new_toks``. Pass ``corpus_banded`` (the
    persisted output of ``band_keys(minhash_signatures(corpus))``) to
    skip re-signing the corpus — in production the band table is a
    bucketed lake table maintained incrementally by unioning each KEPT
    batch's bands; buckets over ``max_bucket_size`` are capped on both
    the corpus side and the batch self-join side (boilerplate guards).

    Same precision doctrine as minhash_lsh_candidates: banding only
    nominates, the exact-Jaccard confirm decides — no false drops.

    In exact mode the result reads a few id-only checkpoints; they belong
    to the caller's ``pins.scope()`` (a per-batch stage closes one).
    """
    mode = {True: "conservative", False: None}.get(within_batch, within_batch)
    if mode not in (None, "conservative", "exact"):
        raise ValueError(
            "within_batch must be True/'conservative', 'exact', or False; "
            f"got {within_batch!r}"
        )
    if corpus_toks is None and corpus_banded is not None:
        raise ValueError(
            "corpus_banded without corpus_toks: the Jaccard confirm needs "
            "the corpus token arrays"
        )
    # Within-call reuse (r7, measured fresh-JVM interleaved): the
    # CONSERVATIVE/None paths stay fully lazy — they are one query
    # execution, and AQE's runtime exchange reuse already deduplicates
    # the identical signature/band subtrees there (persisting + eagerly
    # checkpointing that path measured a 1.6x LOSS at sf0.1). EXACT mode
    # spans several eager actions, across which exchange reuse cannot
    # apply — there the batch band table (three fixed-width columns) is
    # pinned until both confirms are checkpointed. Token frames are never
    # pinned: serializing wide token arrays costs more than recomputing
    # them (the r3 lesson), and the corpus side grows forever.

    # corpus_toks=None — the explicit no-corpus contract (self-dedup
    # compositions, e.g. the curate near-dup stage or an ingest loop's
    # first batch) — skips the whole corpus branch at plan time: the
    # corpus probe, the corpus confirm, an eager empty checkpoint and
    # two anti joins on the edge frame all vanish. (An empty
    # ``createDataFrame([], ...)`` CANNOT be detected instead: PySpark
    # builds it as a LogicalRDD whose emptiness the optimizer provably
    # cannot see — optimizedPlan().maxRows() is None — verified r7.)
    corpus_empty = corpus_banded is None and corpus_toks is None

    if corpus_empty:
        cand = None
    else:
        if corpus_banded is None:
            corpus_banded = band_keys(
                minhash_signatures(
                    corpus_toks, num_perm=num_perm, hash_family=hash_family
                ),
                num_perm=num_perm,
                bands=bands,
            )
        bucket_counts = corpus_banded.groupBy("band_id", "band_hash").agg(
            F.count("*").alias("bucket_n")
        )
        hot = bucket_counts.filter(
            F.col("bucket_n") > max_bucket_size
        ).select("band_id", "band_hash")
        corpus_capped = corpus_banded.join(
            F.broadcast(hot), ["band_id", "band_hash"], "left_anti"
        )

    new_banded = band_keys(
        minhash_signatures(
            new_toks, num_perm=num_perm, hash_family=hash_family
        ),
        num_perm=num_perm,
        bands=bands,
    )
    if mode == "exact":
        # exact mode consumes new_banded from two separate eager actions
        # (the corpus probe and the in-batch edge build)
        new_banded = pins.persist(new_banded)
    if not corpus_empty:
        cand = (
            new_banded.join(
                corpus_capped.select(
                    "band_id", "band_hash", F.col("doc_id").alias("other_id")
                ),
                ["band_id", "band_hash"],
            )
            .select("doc_id", "other_id")
            .distinct()
        )
    batch_cand = None
    if mode is not None:
        new_hot = (
            new_banded.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("bucket_n"))
            .filter(F.col("bucket_n") > max_bucket_size)
            .select("band_id", "band_hash")
        )
        new_capped = new_banded.join(
            F.broadcast(new_hot), ["band_id", "band_hash"], "left_anti"
        )
        batch_cand = (
            new_capped.join(
                new_capped.select(
                    "band_id", "band_hash",
                    F.col("doc_id").alias("other_id"),
                ),
                ["band_id", "band_hash"],
            )
            .filter(F.col("doc_id") > F.col("other_id"))
            .select("doc_id", "other_id")
            .distinct()
        )
    ta = new_toks.select("doc_id", F.col("tokens").alias("ta"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size(F.array_union("ta", "tb")).cast("double")
    confirmed = F.round(inter / union, 6) >= jaccard_threshold

    def confirm(pairs: DataFrame, others: DataFrame) -> DataFrame:
        tb = others.select(
            F.col("doc_id").alias("other_id"), F.col("tokens").alias("tb")
        )
        return (
            pairs.join(ta, "doc_id").join(tb, "other_id").filter(confirmed)
        )

    if mode is None and corpus_empty:
        return new_toks

    if mode in (None, "conservative"):
        other_toks = corpus_toks
        if mode == "conservative":
            if corpus_empty:
                cand, other_toks = batch_cand, new_toks
            else:
                cand = cand.unionByName(batch_cand).distinct()
                other_toks = corpus_toks.unionByName(new_toks)
        dup_ids = confirm(cand, other_toks).select("doc_id").distinct()
        return new_toks.join(dup_ids, "doc_id", "left_anti")

    # mode == "exact": sequential-greedy semantics. Corpus dups drop
    # unconditionally (their near-dup is, by construction, already KEPT in
    # the corpus); the in-batch graph is then resolved per connected
    # component with the ascending-id greedy pass.
    #
    # Both id frames are consumed MULTIPLE times (corpus_dropped: two
    # edge filters + the final union; edges: the CC loop + the component
    # re-join) and their lineage contains the full signature/banding
    # pipeline — localCheckpoint materializes each ONCE (they are id-only
    # rows, tiny relative to the batch) instead of recomputing signatures
    # per consumer (~1.5x wall measured at sf0.1). Same pinned-RDD budget
    # as documented on _greedy_component_drops.
    #
    # The two checkpoints are INDEPENDENT jobs (the corpus confirm and
    # the in-batch confirm both hang off the persisted new_banded /
    # token frames; the corpus-dropped pruning of the edge graph is an
    # id-only anti join that can run AFTER both materialize), so they
    # are materialized CONCURRENTLY from two driver threads — the second
    # job's tasks back-fill executors the first job's tail leaves idle
    # (guide §2.6; measured 14.4 -> 11.5 s on the exact-mode gate
    # action diagnostic at sf0.1).
    edges_raw = confirm(batch_cand, new_toks).select("doc_id", "other_id")
    if corpus_empty:
        # no corpus: no unconditional drops, no edge filtering — the
        # greedy pass over the in-batch graph is the whole answer
        corpus_dropped = None
        edges = pins.checkpoint(edges_raw)
    else:
        from concurrent.futures import ThreadPoolExecutor

        cd_frame = confirm(cand, corpus_toks).select("doc_id").distinct()
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_cd = pool.submit(pins.checkpoint, cd_frame)
            f_er = pool.submit(pins.checkpoint, edges_raw)
            corpus_dropped = f_cd.result()
            edges_raw = f_er.result()
        # id-only join of two materialized checkpoints — cheap to
        # (re)compute, so the greedy pass needs no third checkpoint
        edges = edges_raw.join(corpus_dropped, "doc_id", "left_anti").join(
            corpus_dropped.select(F.col("doc_id").alias("other_id")),
            "other_id",
            "left_anti",
        )
    # both confirms are materialized: nothing reads the band table again
    pins.release(new_banded)
    greedy = _greedy_component_drops(
        edges, max_component_edges=max_component_edges
    )
    dup_ids = (
        greedy if corpus_dropped is None
        else corpus_dropped.unionByName(greedy).distinct()
    )
    # The final anti join re-derives new_toks once from lineage and
    # ignores duplicate dup_ids rows (no distinct in the corpus-empty
    # branch).
    return new_toks.join(dup_ids, "doc_id", "left_anti")


def _greedy_component_drops(
    edges: DataFrame, max_component_edges: int = 1_000_000
) -> DataFrame:
    """Confirmed in-batch dup edges (doc_id, other_id) -> the ids dropped
    by SEQUENTIAL-GREEDY dedup in ascending id order: a doc is dropped iff
    a neighbor with smaller id was itself kept (= the complement of the
    lexicographically-first maximal independent set, which is P-complete
    in general — every implementation trades rounds against per-task
    memory somewhere).

    Hybrid routing by component size, because the two pathologies are
    DISJOINT graph shapes:

    * components with ≤ ``max_component_edges`` edges run the
      per-component ``applyInPandas`` greedy — one task scan handles an
      arbitrarily LONG dependency chain (the round-pathological shape)
      with memory bounded by the cap (~100 MB of id pairs at the 1M
      default);
    * components ABOVE the cap (the templated-spam mega-cluster that
      would OOM a single task) run :func:`_greedy_drops_joins` — iterated
      local-minima accept/drop rounds in pure joins, which never
      materialize a graph per task and converge in few rounds exactly
      when components are big-because-DENSE (round 1 accepts the minima
      and drops their whole neighborhoods). The doubly-adversarial shape
      — a >cap-edge component that is also a >many-round chain — stays
      correct but pays one bounded shuffle round per greedy wavefront
      step (inherent: lex-first MIS is P-complete).

    Checkpoint hygiene for per-batch ingestion loops: what stays pinned
    per exact-mode call is a handful of ID-ONLY tables (confirmed edges,
    corpus-dropped ids, the CC pass's converged edge set) — bounded by
    dup counts, never by batch or corpus text volume — and all of them
    belong to the caller's ``pins.scope()``, which drops them when the
    batch's stage is written (regression-tested in
    test_dedup.py::test_exact_mode_bounds_pinned_checkpoints)."""
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    from soweego_spark.operators.cluster import connected_components

    id_type = edges.schema["doc_id"].dataType
    if max_component_edges <= 0:
        # every component would route to the join rounds — skip the CC
        # pass entirely (used by the cross-engine gate and available as
        # a pure-join mode for callers that want no applyInPandas at all)
        return _greedy_drops_joins(
            edges.select(
                F.col("doc_id").alias("a"), F.col("other_id").alias("b")
            )
        )

    def per_comp(pdf: pd.DataFrame) -> pd.DataFrame:
        adj: dict = {}
        for a, b in zip(pdf["a"], pdf["b"]):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        kept: set = set()
        dropped = []
        for node in sorted(adj):
            if adj[node] & kept:
                dropped.append(node)
            else:
                kept.add(node)
        return pd.DataFrame({"doc_id": dropped})

    # Whole-graph fast path (r7): sequential greedy is SEPARABLE across
    # components (a node's fate depends only on its own component), so
    # when the ENTIRE confirmed graph fits the per-component cap, one
    # applyInPandas task over the whole edge set decides identically —
    # in the same memory envelope the per-component path already accepts
    # for a single cap-sized component — and the CC loop + size routing
    # (~15-20 driver-scheduled jobs at sandbox scale) vanishes. The exact
    # dedup caller hands the edges in either as an eager localCheckpoint
    # (no corpus) or as an id-only anti join of two checkpoints (corpus
    # present); either way the count probe is one cheap job.
    n_edges = edges.count()
    if n_edges == 0:
        return edges.select("doc_id")  # empty; reads the caller's pins
    if n_edges <= max_component_edges:
        return (
            edges.select(
                F.lit(0).alias("_g"),
                F.col("doc_id").alias("a"),
                F.col("other_id").alias("b"),
            )
            .groupBy("_g")
            .applyInPandas(
                per_comp,
                schema=StructType([StructField("doc_id", id_type)]),
            )
        )
    comp = connected_components(edges, src="doc_id", dst="other_id")
    ec = edges.join(
        comp.select(F.col("url").alias("doc_id"), "cluster_id"), "doc_id"
    ).select(
        "cluster_id",
        F.col("doc_id").alias("a"),
        F.col("other_id").alias("b"),
    )
    sizes = ec.groupBy("cluster_id").agg(F.count("*").alias("n_edges"))
    over = sizes.filter(F.col("n_edges") > max_component_edges).select(
        "cluster_id"
    )
    # the over-cap component list is tiny by construction (each one holds
    # >cap edges) — broadcast the anti/semi probes
    small = ec.join(F.broadcast(over), "cluster_id", "left_anti")
    big = ec.join(F.broadcast(over), "cluster_id", "left_semi")

    small_drops = small.groupBy("cluster_id").applyInPandas(
        per_comp, schema=StructType([StructField("doc_id", id_type)])
    )
    return small_drops.unionByName(
        _greedy_drops_joins(big.select("a", "b"))
    )


def _greedy_drops_joins(edges: DataFrame) -> DataFrame:
    """Sequential-greedy drops via iterated local-minima rounds in pure
    DataFrame joins — the distributed mirror of the DuckDB recursive-CTE
    oracle that replays this operator (__spark_entry__._q_incremental_
    exact_sql): per round, ACCEPT every vertex smaller than all its
    remaining neighbors (its smaller neighbors are, inductively, all
    dropped — greedy keeps it), DROP the accepted vertices' neighbors
    (they have a kept smaller neighbor), delete both sets from the graph
    and repeat until no edges remain. Vertices that merely become
    isolated exit as KEPT (their dup partners were all dropped).

    Memory per task is one shuffle partition of id pairs — no component
    graph is ever materialized. Rounds are bounded by the longest greedy
    dependency chain. State is ONE id-pair frame per round — remaining
    edges plus a NULL-marked row per already-DROPPED vertex (markers
    accumulate the answer; accepted vertices and vertices whose last
    neighbor was dropped simply exit the graph as kept).

    Driver-round floor (round-6): each round is exactly ONE Spark job —
    the state is checkpointed LAZILY and the remaining-edge count probe
    is the action that both materializes/pins it and decides termination
    (the round-5 shape paid a separate eager-checkpoint job plus an
    isEmpty probe per round, and at sandbox scale the loop's wall is
    driver-round latency, not data). The previous round's pin is released
    after the new one materializes, so lineage, storage, and job count
    stay flat however many rounds run; on exit the drop set is eagerly
    checkpointed (one tiny id-only job) and the final state + input edges
    are RELEASED — only the returned id-only frame stays pinned, for the
    caller's ``pins.scope()`` (regression-tested in
    test_exact_mode_bounds_pinned_checkpoints, joins path included).
    """
    # lazy checkpoint + count = ONE job that both pins the edges and
    # returns the edge count (replaces isEmpty probe + eager checkpoint)
    edges = pins.checkpoint(edges.select("a", "b"), eager=False)
    n_edges = edges.count()
    if n_edges == 0:
        # common hybrid case: no over-cap components. The empty result
        # reads the pin, which the caller's scope releases.
        return edges.select(F.col("a").alias("doc_id"))
    null_b = F.lit(None).cast(edges.schema["b"].dataType).alias("b")
    # state rows: (a, b) = remaining edge; (v, NULL) = dropped vertex
    state = edges
    prev = edges
    rounds = 0
    while n_edges > 0:
        rounds += 1
        cur = state.filter(F.col("b").isNotNull())
        bi = cur.unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        accepted = (
            bi.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .filter(F.col("a") < F.col("mn"))
            .select(F.col("a").alias("v"))
        )
        # NO per-round distinct: a vertex neighboring several accepted
        # vertices yields duplicate rows, which the anti-joins ignore and
        # the marker rows tolerate (duplicates bounded by accepted-degree;
        # the single distinct on the final drop set dedups them once) —
        # one fewer Exchange, and one fewer AQE stage-job, per round
        dropped = bi.join(
            accepted.withColumnRenamed("v", "a"), "a"
        ).select(F.col("b").alias("v"))
        decided = accepted.unionByName(dropped)
        nxt = (
            cur.join(decided.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(decided.withColumnRenamed("v", "b"), "b", "left_anti")
            .select("a", "b")
        )
        state = pins.checkpoint(
            nxt.unionByName(
                state.filter(F.col("b").isNull()).select("a", "b")
            ).unionByName(dropped.select(F.col("v").alias("a"), null_b)),
            eager=False,
        )
        # the round's single job: materializes the new state's checkpoint
        # AND returns the remaining-edge count that decides termination
        n_edges = state.filter(F.col("b").isNotNull()).count()
        pins.release(prev)
        prev = state
    # loop exits with 0 edges left: the state is exactly the NULL-marked
    # drop set. Pin it as its own tiny id-only checkpoint and release the
    # final round's state (the loop already released the input edges and
    # every intermediate round when the following round materialized).
    out = pins.checkpoint(
        state.filter(F.col("b").isNull())
        .select(F.col("a").alias("doc_id"))
        .distinct()
    )
    pins.release(state)
    # diagnostics only (scripts/greedy_scale_proof.py reads it): rounds
    # == longest greedy dependency chain in the input
    global LAST_JOINS_ROUNDS
    LAST_JOINS_ROUNDS = rounds
    return out

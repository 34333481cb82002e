"""N-gram language-model quality filtering for the training corpus.

The CCNet-style LM quality pass (Wenzek et al. 2019, "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data" — public method):
train an n-gram model on a trusted reference slice, score every candidate
document against it, and drop the tail. No reference analogue — soweego
stops at entity records; this operates on the ``documents`` web-text table
like the other curation operators (operators/corpus.py).

Spark-first split:

- **Model training is two gram explodes + one count shuffle**: order-n and
  order-(n-1) gram occurrences of the reference slice, hashed to the 60-bit
  md5 prefix (dedup.md5_60) and counted in ONE table. Orders cannot collide:
  words contain no spaces, so an n-gram string has exactly n-1 spaces and is
  prefix-free across orders. The count table is VOCABULARY-sized.
- **Scoring is two hash-equi-joins + one map-side-combinable agg**: each
  scored document explodes into (gram hash, prefix hash) positions joined
  against the model counts — broadcastable when the model fits, AQE
  decides — then one groupBy(doc_id).
- **Every gated number is an exact integer.** Cross-engine float logs are
  not bit-stable (no correct-rounding guarantee in libm — CLAUDE.md), so
  the DECISION thresholds are rational comparisons over integer sufficient
  statistics (cross-multiplication, no division), and the float
  log-probability/perplexity is a separate convenience column
  (:func:`lm_log_prob`) kept OUT of the hash gates.
- **Winsorized counts bound the arithmetic**: model counts are capped at
  ``count_cap`` before summing, so every per-doc sum is ≤ n_grams ×
  count_cap (≈2^40 for million-token docs at the default cap) — no int64
  overflow at any corpus scale, and hot boilerplate grams can't dominate
  the quality signal anyway.

Scale notes (100 TB): gram rows ≈ 2× token count — the same row volume the
MinHash shingle explode already pays; the model join keys are uniform
60-bit hashes (no skew); nothing collects to the driver.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from soweego_spark.operators.dedup import explode_once, md5_60


GROUP_SEP = "\x1f"  # namespaces the gram hash by group (per-language models)


def _gram_hash_array(wcol, k: int, ns=None):
    """array<long> of order-k gram hashes of a word-list column — total
    for any input: the sequence end is greatest-clamped AND the whole
    transform is guarded by a size test (short docs yield the empty
    array, never a partial gram). The lambda reads ``wcol``, so explode
    the result with :func:`dedup.explode_once` (CLAUDE.md round-6 note):
    an inferred filter pushed below the projection would re-split the
    text once per gram. ``ns`` (optional column) prefixes every hash
    input with ``<ns>\\x1f`` — the per-group namespacing trick: one hash
    space holds one independent model PER GROUP with no composite join
    keys."""
    empty = F.slice(F.array(F.lit(0).cast("long")), 1, 0)

    # single-parameter callable ONLY: F.transform treats a two-parameter
    # callable as (element, index) — a `def h(i, k=k)` habit here fed the
    # ARRAY INDEX into k and silently hashed wrong-length slices
    def h(i):
        g = F.concat_ws(" ", F.slice(wcol, i + 1, k))
        if ns is not None:
            g = F.concat_ws(GROUP_SEP, ns, g)
        return md5_60(g)

    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(wcol) - k, F.lit(0))), h
    )
    return F.when(F.size(wcol) >= k, grams).otherwise(empty)


def _wframe(docs: DataFrame, id_col: str, text_col: str, group_col):
    """(doc_id, [g,] w): word-list frame, with the coalesced group column
    when per-group models are requested (NULL group -> '' in BOTH engines
    so the oracle's ``coalesce(lang, '')`` namespacing replays)."""
    cols = [F.col(id_col).alias("doc_id")]
    if group_col is not None:
        cols.append(F.coalesce(F.col(group_col).cast("string"), F.lit("")).alias("g"))
    cols.append(
        F.filter(
            F.split(F.lower(F.col(text_col)), " "), lambda t: t != F.lit("")
        ).alias("w")
    )
    return docs.select(*cols)


def lm_counts(
    ref_docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """(gh, c): the n-gram model — corpus-wide occurrence counts of the
    reference slice's order-n AND order-(n-1) grams in one hash-keyed
    table (orders are prefix-free, see module docstring). ONE scan of the
    reference slice (both orders' hash arrays concatenated below a single
    :func:`dedup.explode_once`, so each doc's gram hashes are built once),
    one map-side-combined shuffle, vocabulary-sized output.

    ``group_col`` (e.g. ``lang``) trains an independent model per group —
    the CCNet per-language setup — by namespacing every hash with the
    group value; downstream joins and statistics are unchanged."""
    if n < 2:
        raise ValueError("lm_counts needs n >= 2 (prefix order n-1 >= 1)")
    w = _wframe(ref_docs, id_col, text_col, group_col)
    ns = F.col("g") if group_col is not None else None
    keep = ["g", "w"] if group_col is not None else ["w"]
    # ONE higher-order function per projection: two sibling transforms in
    # a single select mis-bind their same-named lambda variables
    # (CLAUDE.md round-3 trap — observed here as the order-n array
    # hashing the other transform's slice)
    a = w.select(*keep, _gram_hash_array(F.col("w"), n, ns).alias("h1"))
    b = a.select(
        F.concat(F.col("h1"), _gram_hash_array(F.col("w"), n - 1, ns)).alias(
            "ghs"
        )
    )
    gh = explode_once(b, [], "ghs", "gh")
    return gh.groupBy("gh").agg(F.count("*").alias("c"))


def _gram_prefix_array(n: int, ns=None):
    """array<struct<gh, ph>> over the word list ``w``: every order-n gram
    hash with its order-(n-1) prefix hash, in position order. Docs
    shorter than n get the EMPTY array, never a partial gram (size guard
    in the projection, not a ``where``: a filter on ``w`` is pushed below
    the word-list projection and splits the text a second time); the
    sequence end stays greatest-clamped so the transform is total even
    on its own."""

    def h(i, k):
        g = F.concat_ws(" ", F.slice("w", i + 1, k))
        if ns is not None:
            g = F.concat_ws(GROUP_SEP, ns, g)
        return md5_60(g)

    structs = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("w") - n, F.lit(0))),
        lambda i: F.struct(h(i, n).alias("gh"), h(i, n - 1).alias("ph")),
    )
    empty = F.slice(
        F.array(
            F.struct(
                F.lit(0).cast("long").alias("gh"),
                F.lit(0).cast("long").alias("ph"),
            )
        ),
        1,
        0,
    )
    return F.when(F.size("w") >= n, structs).otherwise(empty)


def gram_prefix_occurrences(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """(doc_id, pos, gh, ph): every order-n gram occurrence with its own
    hash and its order-(n-1) prefix hash, 0-based position. Docs shorter
    than n emit nothing. Both hashes are materialized in a projection
    BELOW the explode (no O(array) sibling beside the generator), and the
    explode is :func:`dedup.explode_once`, so the struct array is built
    once per doc (both CLAUDE.md notes). With ``group_col`` the hashes
    carry the doc's own group namespace, so each doc scores against ITS
    group's model."""
    w = _wframe(docs, id_col, text_col, group_col)
    ns = F.col("g") if group_col is not None else None
    gps = w.select("doc_id", _gram_prefix_array(n, ns).alias("gps"))
    return explode_once(gps, ["doc_id"], "gps", "gp", pos="pos").select(
        "doc_id", "pos", F.col("gp.gh").alias("gh"), F.col("gp.ph").alias("ph")
    )


def lm_doc_stats(
    docs: DataFrame,
    model: DataFrame,
    n: int = 2,
    count_cap: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Per-document integer sufficient statistics against the model:

    (doc_id, n_tokens, n_grams, n_oov, n_ctx_oov, sum_c_gram,
    sum_c_prefix) — all longs. ``n_oov`` counts gram positions absent from
    the model, ``n_ctx_oov`` positions whose (n-1)-prefix is absent;
    ``sum_c_*`` are winsorized-count sums (``least(c, count_cap)``). Docs
    with fewer than n words appear with zero grams (left join back to the
    full doc set) — every downstream consumer sees one row per input doc.
    """
    # ONE scan of the scored documents (r7, guide §2.3/§6): the old shape
    # paid a second full scan + tokenize just for the n_tokens base frame
    # and a join back for the docs-shorter-than-n rows. Instead n_tokens
    # rides next to the gram-struct array and an explode_outer keeps the
    # gramless docs as a single null-gram row — the aggregates below
    # count only non-null gram positions, so the sufficient statistics
    # are identical row for row.
    w = _wframe(docs, id_col, text_col, group_col)
    ns = F.col("g") if group_col is not None else None
    # docs shorter than n carry an EMPTY array, so explode_outer emits
    # their null-gram row (an outer generator gets no inferred filter)
    occ = (
        w.select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            _gram_prefix_array(n, ns).alias("gps"),
        )
        .select("doc_id", "n_tokens", F.explode_outer("gps").alias("gp"))
        .select(
            "doc_id",
            "n_tokens",
            F.col("gp.gh").alias("gh"),
            F.col("gp.ph").alias("ph"),
        )
    )
    mg = model.select("gh", F.col("c").alias("c_gram"))
    mp = model.select(F.col("gh").alias("ph"), F.col("c").alias("c_prefix"))
    j = occ.join(mg, "gh", "left").join(mp, "ph", "left")
    cap = F.lit(int(count_cap)).cast("long")
    return j.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count("gh").cast("long").alias("n_grams"),
        F.sum(
            F.when(F.col("gh").isNotNull() & F.col("c_gram").isNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_oov"),
        F.sum(
            F.when(F.col("ph").isNotNull() & F.col("c_prefix").isNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_ctx_oov"),
        F.sum(F.least(F.coalesce(F.col("c_gram"), F.lit(0)), cap))
        .cast("long")
        .alias("sum_c_gram"),
        F.sum(F.least(F.coalesce(F.col("c_prefix"), F.lit(0)), cap))
        .cast("long")
        .alias("sum_c_prefix"),
    )


def lm_filter(
    docs: DataFrame,
    model: DataFrame,
    n: int = 2,
    max_oov_pct: int = 30,
    min_avg_count_num: int = 2,
    min_avg_count_den: int = 1,
    count_cap: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """The quality decision over :func:`lm_doc_stats`: keep a doc iff it
    has at least one gram, its OOV rate is ≤ ``max_oov_pct`` percent, and
    its mean winsorized gram count is ≥ ``min_avg_count_num /
    min_avg_count_den``. All three tests are integer cross-multiplications
    (no division, no floats — exact in Spark, DuckDB, and Python alike),
    so the whole decision hash-replays in the oracle. Returns the stats
    plus a ``keep`` boolean; callers drop with ``.where("keep")``."""
    stats = lm_doc_stats(docs, model, n, count_cap, id_col, text_col, group_col)
    keep = (
        (F.col("n_grams") >= 1)
        & (F.col("n_oov") * 100 <= F.col("n_grams") * int(max_oov_pct))
        & (
            F.col("sum_c_gram") * int(min_avg_count_den)
            >= F.col("n_grams") * int(min_avg_count_num)
        )
    )
    return stats.withColumn("keep", keep)


def lm_log_prob(
    docs: DataFrame,
    model: DataFrame,
    vocab_size: int,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Convenience add-one-smoothed log-probability / perplexity (doubles;
    NOT hash-gated — libm ``log`` has no cross-engine bit guarantee):
    per doc, sum over gram positions of ln((c_gram + 1) / (c_prefix +
    vocab_size)) and the token-normalized perplexity exp(-logprob /
    n_grams). ``vocab_size`` is the model's distinct order-(n-1) gram
    count (the caller computed it when training). Pure column expressions
    over the same two hash joins as the stats — JVM-side end to end."""
    occ = gram_prefix_occurrences(docs, n, id_col, text_col, group_col)
    mg = model.select("gh", F.col("c").alias("c_gram"))
    mp = model.select(F.col("gh").alias("ph"), F.col("c").alias("c_prefix"))
    j = occ.join(mg, "gh", "left").join(mp, "ph", "left")
    lp = F.log(
        (F.coalesce(F.col("c_gram"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.coalesce(F.col("c_prefix"), F.lit(0)) + F.lit(int(vocab_size))).cast(
            "double"
        )
    )
    per = j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(lp).alias("log_prob"),
    )
    return per.select(
        "doc_id",
        "n_grams",
        "log_prob",
        F.exp(-F.col("log_prob") / F.col("n_grams")).alias("ppl"),
    )

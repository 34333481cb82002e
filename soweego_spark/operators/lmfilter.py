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

from soweego_spark.operators.dedup import (
    explode_once,
    md5_60_sql,
    sql_string,
    words_sql,
)


GROUP_SEP = "\x1f"  # namespaces the gram hash by group (per-language models)


def _gram_hash_sql(k: int, i: str, ns: str | None) -> str:
    """SQL text of the 60-bit hash of the order-``k`` gram of the word
    list ``w`` at offset ``i``, namespaced by ``ns`` when given."""
    g = f"concat_ws(' ', slice(w, {i} + 1, {k}))"
    if ns is not None:
        g = f"concat_ws({sql_string(GROUP_SEP)}, {ns}, {g})"
    return md5_60_sql(g)


def _gram_hash_array(k: int, ns: str | None = None) -> str:
    """SQL text: array<long> of order-k gram hashes of the word list
    ``w`` — total for any input: the sequence end is greatest-clamped AND
    the whole transform is guarded by a size test (short docs yield the
    empty array, never a partial gram). The lambda reads ``w``, so
    explode the result with :func:`dedup.explode_once` (CLAUDE.md
    round-6 note): an inferred filter pushed below the projection would
    re-split the text once per gram. ``ns`` (optional column) prefixes
    every hash input with ``<ns>\\x1f`` — the per-group namespacing
    trick: one hash space holds one independent model PER GROUP with no
    composite join keys. The lambda variable is named after the order,
    so arrays of two orders never share one."""
    i = f"lm{k}_i"
    grams = (
        f"transform(sequence(0, greatest(size(w) - {k}, 0)), "
        f"{i} -> {_gram_hash_sql(k, i, ns)})"
    )
    return (
        f"CASE WHEN size(w) >= {k} THEN {grams} "
        "ELSE slice(array(CAST(0 AS BIGINT)), 1, 0) END"
    )


def _wframe(docs: DataFrame, id_col: str, text_col: str, group_col):
    """(doc_id, [g,] w): word-list frame, with the coalesced group column
    when per-group models are requested (NULL group -> '' in BOTH engines
    so the oracle's ``coalesce(lang, '')`` namespacing replays)."""
    cols = [f"{id_col} AS doc_id"]
    if group_col is not None:
        cols.append(f"coalesce(CAST({group_col} AS STRING), '') AS g")
    cols.append(f"{words_sql(text_col, 'lm_t')} AS w")
    return docs.selectExpr(*cols)


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
    ns = "g" if group_col is not None else None
    keep = ["g", "w"] if group_col is not None else ["w"]
    # ONE higher-order function per projection: two sibling transforms in
    # a single select mis-bind their same-named lambda variables
    # (CLAUDE.md round-3 trap — observed here as the order-n array
    # hashing the other transform's slice)
    a = w.selectExpr(*keep, f"{_gram_hash_array(n, ns)} AS h1")
    b = a.selectExpr(f"concat(h1, {_gram_hash_array(n - 1, ns)}) AS ghs")
    gh = explode_once(b, [], "ghs", "gh")
    return gh.groupBy("gh").agg(F.expr("count(*) AS c"))


def _gram_prefix_array(n: int, ns: str | None = None) -> str:
    """SQL text: array<struct<gh, ph>> over the word list ``w``: every
    order-n gram hash with its order-(n-1) prefix hash, in position
    order. Docs shorter than n get the EMPTY array, never a partial gram
    (size guard in the projection, not a ``where``: a filter on ``w`` is
    pushed below the word-list projection and splits the text a second
    time); the sequence end stays greatest-clamped so the transform is
    total even on its own."""
    structs = (
        f"transform(sequence(0, greatest(size(w) - {n}, 0)), "
        f"gp_i -> struct({_gram_hash_sql(n, 'gp_i', ns)} AS gh, "
        f"{_gram_hash_sql(n - 1, 'gp_i', ns)} AS ph))"
    )
    empty = (
        "slice(array(struct(CAST(0 AS BIGINT) AS gh, "
        "CAST(0 AS BIGINT) AS ph)), 1, 0)"
    )
    return f"CASE WHEN size(w) >= {n} THEN {structs} ELSE {empty} END"


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
    ns = "g" if group_col is not None else None
    gps = w.selectExpr("doc_id", f"{_gram_prefix_array(n, ns)} AS gps")
    return explode_once(gps, ["doc_id"], "gps", "gp", pos="pos").selectExpr(
        "doc_id", "pos", "gp.gh AS gh", "gp.ph AS ph"
    )


def _model_sides(model: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The model as the gram side (gh, c_gram) and the prefix side
    (ph, c_prefix) of the two scoring joins."""
    return (
        model.selectExpr("gh", "c AS c_gram"),
        model.selectExpr("gh AS ph", "c AS c_prefix"),
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
    ns = "g" if group_col is not None else None
    # docs shorter than n carry an EMPTY array, so explode_outer emits
    # their null-gram row (an outer generator gets no inferred filter)
    occ = (
        w.selectExpr(
            "doc_id",
            "CAST(size(w) AS BIGINT) AS n_tokens",
            f"{_gram_prefix_array(n, ns)} AS gps",
        )
        .selectExpr("doc_id", "n_tokens", "explode_outer(gps) AS gp")
        .selectExpr("doc_id", "n_tokens", "gp.gh AS gh", "gp.ph AS ph")
    )
    mg, mp = _model_sides(model)
    j = occ.join(mg, "gh", "left").join(mp, "ph", "left")
    cap = f"CAST({int(count_cap)} AS BIGINT)"
    return j.groupBy("doc_id").agg(*[F.expr(e) for e in (
        "max(n_tokens) AS n_tokens",
        "CAST(count(gh) AS BIGINT) AS n_grams",
        "CAST(sum(CASE WHEN gh IS NOT NULL AND c_gram IS NULL THEN 1 "
        "ELSE 0 END) AS BIGINT) AS n_oov",
        "CAST(sum(CASE WHEN ph IS NOT NULL AND c_prefix IS NULL THEN 1 "
        "ELSE 0 END) AS BIGINT) AS n_ctx_oov",
        f"CAST(sum(least(coalesce(c_gram, 0), {cap})) AS BIGINT) "
        "AS sum_c_gram",
        f"CAST(sum(least(coalesce(c_prefix, 0), {cap})) AS BIGINT) "
        "AS sum_c_prefix",
    )])


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
        f"((n_grams >= 1) AND (n_oov * 100 <= n_grams * {int(max_oov_pct)})) "
        f"AND (sum_c_gram * {int(min_avg_count_den)} "
        f">= n_grams * {int(min_avg_count_num)})"
    )
    return stats.withColumn("keep", F.expr(keep))


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
    mg, mp = _model_sides(model)
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

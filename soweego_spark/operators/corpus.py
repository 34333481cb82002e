"""Training-corpus curation operators: exact substring-level dedup,
benchmark decontamination, deterministic stratified mix-sampling, weighted
epoch up-sampling, GPT-style sequence packing, and deterministic shuffle.

These extend the document-level dedup family (operators/dedup.py) with the
three curation passes a large-scale LLM training-data pipeline runs after
document dedup (cf. Lee et al. 2022, "Deduplicating Training Data Makes
Language Models Better" — the ExactSubstr pass; and the eval-set n-gram
decontamination + source-mixing passes described in the GPT-3/Gopher/Pile
dataset reports). No reference analogue — the reference (soweego) stops at
entity records; these operate on the `documents` web-text table.

All hash decisions use the 60-bit md5 prefix (dedup.md5_60) so every
operator replays EXACTLY in the DuckDB oracle (see __spark_entry__.py).

Scale notes (100 TB):
- substring spans: one shuffle on a fixed-width 8-byte gram hash for the
  corpus-wide count, one equi-join back, one per-doc window. Gram rows are
  ~n_tokens per doc — the same row volume the MinHash shingle explode
  already pays. No collect, no driver loop.
- decontamination: the benchmark side is small by construction (eval sets
  are MBs at any corpus scale) — distinct-hashed and broadcast; the scan
  side never shuffles.
- mix sampling: group histogram is |groups| rows (broadcast back); the
  keep decision is a pure column expression — zero extra shuffles beyond
  the tiny histogram.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from soweego_spark.operators import pins
from soweego_spark.operators.dedup import (
    explode_once,
    md5_60,
    md5_60_sql,
    sql_string,
    words_sql,
)

TWO_60 = float(1 << 60)


def _words(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, w): filtered lowercase whitespace word list — the same
    tokenization every dedup operator uses."""
    return docs.selectExpr(
        f"{id_col} AS doc_id", f"{words_sql(text_col, 'cw_t')} AS w"
    )


def gram_occurrences(
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, s, gh): every k-token gram occurrence with its 0-based
    token start and 60-bit hash. Docs shorter than k emit nothing (no
    full k-gram exists). The hash is materialized in a projection BELOW
    the explode — the gram string itself never leaves the expression
    (and no O(array) sibling rides next to the generator; see the CC
    degree-quadratic note in CLAUDE.md).

    Short docs get the EMPTY hash array (a size guard in the projection:
    a ``where`` on ``w`` would be pushed below the word-list projection
    and split the text a second time), and the explode is
    :func:`dedup.explode_once`, so the inferred size filter never
    rebuilds the array with the text split once per gram (CLAUDE.md
    round-6 note). The sequence end stays greatest-clamped to 0: an
    unclamped sequence(0, size-k) goes DESCENDING for size < k and
    slice(w, 0, k) throws under ANSI wherever the transform is
    evaluated unguarded."""
    w = _words(docs, id_col, text_col)
    gram = md5_60_sql(f"concat_ws(' ', slice(w, go_i + 1, {k}))")
    hashes = (
        f"transform(sequence(0, greatest(size(w) - {k}, 0)), go_i -> {gram})"
    )
    ghs = w.selectExpr(
        "doc_id",
        f"CASE WHEN size(w) >= {k} THEN {hashes} "
        "ELSE slice(array(CAST(0 AS BIGINT)), 1, 0) END AS ghs",
    )
    return explode_once(ghs, ["doc_id"], "ghs", "gh", pos="s")


def duplicated_spans(
    docs: DataFrame,
    k: int = 10,
    min_count: int = 2,
    max_count: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring dedup, span-detection half (Lee et al. ExactSubstr
    re-expressed as DataFrame algebra): every maximal token span covered
    by k-grams whose CORPUS-WIDE occurrence count is >= min_count.

    Returns (doc_id, span_start, span_end) with 0-based token indices,
    end exclusive; overlapping/adjacent duplicated grams are merged into
    maximal spans via a gaps-and-islands window (ordering (doc_id, s) is
    total — one row per gram start). A repeat WITHIN one doc counts, as
    in the paper. ``max_count`` optionally ignores ultra-hot grams
    (boilerplate) — at web scale the hot-gram histogram is the same
    broadcast-anti shape as the band caps in dedup.py.
    """
    # the gram frame feeds the corpus-wide count AND the join back —
    # uncached, the scan + k-word concat + md5 per gram ran twice (r7
    # plan audit). The rows are three fixed-width columns (~24 B/gram),
    # far cheaper to persist than to re-hash; within-query reuse only.
    grams = pins.persist(gram_occurrences(docs, k, id_col, text_col))
    counts = grams.groupBy("gh").agg(F.count("*").alias("c"))
    dup = counts.where(F.col("c") >= min_count)
    if max_count is not None:
        dup = dup.where(F.col("c") <= max_count)
    spans = grams.join(dup.select("gh"), "gh").select(
        "doc_id", F.col("s"), (F.col("s") + k).alias("e")
    )
    return _merge_spans(spans)


def _merge_spans(spans: DataFrame) -> DataFrame:
    """(doc_id, s, e) gram-cover intervals -> maximal merged
    (doc_id, span_start, span_end) via gaps-and-islands; (doc_id, s) is
    unique so the window ordering is total."""
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = spans.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    isl = marked.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("s").cast("long").alias("span_start"),
        F.max("e").cast("long").alias("span_end"),
    ).drop("island")


def gram_counts(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(gh, c): corpus gram-count state — the persisted table the
    incremental ExactSubstr face probes and folds. At scale this is the
    analogue of the MinHash band table: fixed-width 8-byte keys, written
    bucketed by gh so per-batch probes and folds co-locate."""
    return (
        gram_occurrences(docs, k, id_col, text_col)
        .groupBy("gh")
        .agg(F.count("*").cast("long").alias("c"))
    )


def fold_gram_counts(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge a batch's gram counts into the persisted state: union +
    re-aggregate on the bucketed key (Exchange-free when both sides are
    bucketed by gh, like the band-table fold in plans/ingest_loop)."""
    return (
        state.unionByName(delta)
        .groupBy("gh")
        .agg(F.sum("c").cast("long").alias("c"))
    )


def duplicated_spans_incremental(
    new_docs: DataFrame,
    corpus_counts: DataFrame,
    k: int = 10,
    min_count: int = 2,
    max_count: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The continuous-ingestion face of ExactSubstr: duplicated spans of
    the NEW batch only, where a gram is duplicated iff its in-batch
    occurrence count PLUS its count in the persisted corpus state
    (gram_counts/fold_gram_counts) reaches min_count — so a new doc
    repeating a span the corpus has seen once is flagged even when the
    span is unique within the batch, matching what a monolithic
    duplicated_spans over corpus+batch would decide for the batch's docs.

    One aggregate over the batch's grams, one equi-join against the
    state (bucket-local when the state table is bucketed by gh), then
    the same island merge. The corpus state is counts only — no corpus
    text is ever rescanned.
    """
    # same two-consumer reuse as duplicated_spans: persist the batch's
    # narrow gram rows instead of re-hashing them for the join back (r7)
    grams = pins.persist(gram_occurrences(new_docs, k, id_col, text_col))
    own = grams.groupBy("gh").agg(F.count("*").alias("own_c"))
    total = (
        own.join(corpus_counts.select("gh", "c"), "gh", "left")
        .select(
            "gh",
            (F.col("own_c") + F.coalesce("c", F.lit(0))).alias("tc"),
        )
    )
    dup = total.where(F.col("tc") >= min_count)
    if max_count is not None:
        dup = dup.where(F.col("tc") <= max_count)
    spans = grams.join(dup.select("gh"), "gh").select(
        "doc_id", F.col("s"), (F.col("s") + k).alias("e")
    )
    return _merge_spans(spans)


def substring_dedup_stats(
    docs: DataFrame,
    k: int = 10,
    min_count: int = 2,
    max_count: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc substring-duplication profile: (doc_id, n_tokens,
    dup_tokens, n_spans), one row per input doc (0s when clean or shorter
    than k). dup_tokens is the merged-span token count — the removal
    budget an ExactSubstr cut pass would take from this doc."""
    base = _words(docs, id_col, text_col).select(
        "doc_id", F.size("w").cast("long").alias("n_tokens")
    )
    per_doc = (
        duplicated_spans(docs, k, min_count, max_count, id_col, text_col)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("span_end") - F.col("span_start"))
            .cast("long")
            .alias("dup_tokens"),
            F.count("*").cast("long").alias("n_spans"),
        )
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
    )


def cut_duplicated_spans(
    docs: DataFrame,
    k: int = 10,
    min_count: int = 2,
    max_count: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr cut pass: (doc_id, text_clean, n_removed) with every
    duplicated span removed from the token stream (the remove-all-covered
    policy — the span set is exactly duplicated_spans').

    The per-doc span list is collected into an array column (bounded:
    spans are disjoint maximal intervals, so |spans| <= n_tokens / k) and
    each token is kept unless some span covers its position — a nested
    filter/exists HOF pair, O(n_tokens * n_spans) per row, no explode and
    no second shuffle beyond duplicated_spans' own. Tokens re-join with
    single spaces (whitespace is not preserved — the operator is defined
    over the same lowercase token stream every dedup operator uses)."""
    span_sets = (
        duplicated_spans(docs, k, min_count, max_count, id_col, text_col)
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("sp")
        )
    )
    empty = F.array().cast(
        "array<struct<span_start:bigint,span_end:bigint>>"
    )
    joined = (
        _words(docs, id_col, text_col)
        .join(span_sets, "doc_id", "left")
        .select("doc_id", "w", F.coalesce("sp", empty).alias("sp"))
    )
    kept = F.filter(
        "w",
        lambda tok, i: ~F.exists(
            "sp",
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("text_clean"),
        (F.size("w") - F.size(kept)).cast("long").alias("n_removed"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    n_shards: int = 8,
    salt: str = "pack",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for LLM training: concatenate the token streams of
    all docs (deterministic order) and chunk into fixed ``seq_len``-token
    training rows, GPT-style (documents may straddle a boundary; nothing
    is padded or dropped except empty docs). Returns the full segment map
    (shard, seq_no, doc_id, tok_offset, seg_start, seg_len): tokens
    [tok_offset, tok_offset + seg_len) of doc ``doc_id`` fill positions
    [seg_start, seg_start + seg_len) of training sequence
    (shard, seq_no). Segments of one doc are contiguous across
    consecutive seq_nos, every sequence except each shard's last holds
    exactly seq_len tokens, and the map is a pure function of the data —
    identical on any cluster at any partitioning.

    Packing needs a total order, but a GLOBAL sort is a non-starter at
    100 TB — so docs are hash-sharded (md5_60(salt:doc_id) % n_shards)
    and each shard packs independently: one Exchange on the shard key,
    one per-shard window cumsum. n_shards is the parallelism knob — size
    it so a shard's token stream fits one task comfortably (100 TB /
    100k shards = 1 GB/shard). The window runs one task per shard; the
    cumsum itself is O(rows in shard).

    The segment explode runs over an inline sequence, which gets no
    inferred filter (CLAUDE.md round-6 note); its end is still clamped
    ascending (last >= first), so the sequence is total on any row.
    """
    w = _words(docs, id_col, text_col).select(
        "doc_id", F.size("w").cast("long").alias("n")
    )
    return pack_counts(w, seq_len=seq_len, n_shards=n_shards, salt=salt)


def pack_counts(
    counts: DataFrame,
    seq_len: int = 2048,
    n_shards: int = 8,
    salt: str = "pack",
) -> DataFrame:
    """The packing core over any per-doc token-count frame (doc_id, n) —
    :func:`pack_sequences` feeds it whitespace counts; the learned-tokenizer
    composition (gate ``bpe_pack``) feeds it BPE subword counts from
    operators/bpe.py. Zero-token docs drop. Same plan shape either way:
    one Exchange on the shard key, one per-shard window cumsum, one
    segment explode."""
    L = int(seq_len)
    w = counts.selectExpr("doc_id", "CAST(n AS BIGINT) AS n").where("n >= 1")
    shard = md5_60_sql(
        f"concat_ws(':', {sql_string(salt)}, CAST(doc_id AS STRING))"
    )
    ofs = (
        w.withColumn(
            "shard", F.expr(f"CAST(pmod({shard}, {int(n_shards)}) AS BIGINT)")
        )
        .withColumn("st", F.expr(
            "coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        ))
        .withColumn("en", F.expr("st + n"))
    )
    first = f"st DIV {L}"
    seqs = ofs.selectExpr(
        "shard", "doc_id", "st", "en", f"{first} AS f",
        f"greatest((en - 1) DIV {L}, {first}) AS l",
    )
    e = seqs.selectExpr(
        "shard", "doc_id", "st", "en", "explode(sequence(f, l)) AS seq_no"
    )
    seg_lo = f"greatest(st, seq_no * {L})"
    seg_hi = f"least(en, (seq_no + 1) * {L})"
    return e.selectExpr(
        "shard",
        "CAST(seq_no AS BIGINT) AS seq_no",
        "doc_id",
        f"CAST({seg_lo} - st AS BIGINT) AS tok_offset",
        f"CAST({seg_lo} - seq_no * {L} AS BIGINT) AS seg_start",
        f"CAST({seg_hi} - {seg_lo} AS BIGINT) AS seg_len",
    )


def epoch_mix(
    docs: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    salt: str = "epochs",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted dataset mixing with epoch UP-sampling — the counterpart of
    :func:`stratified_sample`'s downsampling. ``weights[g]`` is the number
    of training epochs for group ``g`` (e.g. ``{"wiki": 3.5, "web": 0.3}``
    in the GPT-3/Pile mixture style): every doc of ``g`` is emitted
    ``floor(w)`` times plus one more iff u < frac(w), with
    u = md5_60(salt ':' doc_id) / 2^60 — so the group's expected
    multiplicity is exactly w, the SAME docs get the extra copy on every
    run (no RNG), and an epoch column 0..copies-1 distinguishes repeats.
    Groups absent from ``weights`` are dropped (weight 0).

    Bit-exact cross-engine: u is one IEEE division of identical integer
    operands, frac(w) = w - floor(w) over the same double literal, and
    the copy count is integer arithmetic — the emitted multiset replays
    exactly in DuckDB (weights must be written ``::DOUBLE`` there; a bare
    decimal literal is DECIMAL and compares exactly instead).

    Scale: the weight table is |groups| rows, broadcast; the keep/repeat
    decision and the copy explode are pure column expressions — ZERO
    shuffles. The copy explode runs over an inline sequence, which gets
    no inferred filter (CLAUDE.md round-6 note); the sequence would be
    total even on weight-0 rows (descending [0,-1] never throws).
    """
    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        [(str(g), float(w)) for g, w in sorted(weights.items())],
        f"{group_col} string, epochs double",
    )
    u = md5_60(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    ).cast("double") / F.lit(TWO_60)
    n_copies = (
        F.floor("epochs").cast("long")
        + F.when(u < F.col("epochs") - F.floor("epochs"), 1).otherwise(0)
    )
    return (
        docs.join(F.broadcast(wdf), group_col)
        .withColumn("n_copies", n_copies)
        .where(F.col("n_copies") >= 1)
        .select(
            id_col,
            group_col,
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.col("n_copies") - F.lit(1)
                )
            ).alias("epoch"),
        )
    )


def deterministic_shuffle(
    df: DataFrame,
    key_cols: list[str],
    seed: str = "shuffle",
    bucket_bits: int = 10,
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global shuffle: adds ``pos_col`` — the row's 0-based
    position in the permutation ordered by (md5_60(seed ':' keys), keys).
    Reorder training sequences per epoch by varying ``seed``; the result
    is a pure function of (data, seed) — identical on any cluster at any
    partitioning. ``key_cols`` must uniquely identify rows (they are the
    hash input AND the collision tiebreak, making the order total).

    A naive ``row_number() OVER (ORDER BY h)`` is a single-task global
    sort — a non-starter at 100 TB. This is the two-phase ranking
    instead: the hash's HIGH bits split the key space into 2^bucket_bits
    contiguous, uniformly-filled ranges (ONE data Exchange, for the
    per-bucket rank window), and a bucket-count aggregate turns into
    broadcast prefix offsets — global pos = offset[bucket] + local_rank.
    The count branch's shuffle is map-side combined (≤2^bucket_bits rows
    per task), and the only unpartitioned window runs over the count
    rows, never the data. Size bucket_bits so a bucket fits a task
    (40 bits are available above the 2^60 hash range).
    """
    h = md5_60(
        F.concat_ws(
            ":", F.lit(seed), *[F.col(c).cast("string") for c in key_cols]
        )
    )
    keyed = df.withColumn("_h", h).withColumn(
        "_b", F.shiftright(F.col("_h"), 60 - bucket_bits).cast("long")
    )
    rank_win = Window.partitionBy("_b").orderBy("_h", *key_cols)
    counts = keyed.groupBy("_b").agg(F.count("*").alias("_n"))
    off_win = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_n").over(off_win), F.lit(0)).alias("_off")
    )
    return (
        keyed.withColumn(
            "_rn", F.row_number().over(rank_win).cast("long")
        )
        .join(F.broadcast(offsets), "_b")
        .withColumn(
            pos_col, (F.col("_off") + F.col("_rn") - F.lit(1)).cast("long")
        )
        .drop("_h", "_b", "_rn", "_off")
    )


def decontaminate(
    docs: DataFrame,
    bench_docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: (doc_id, hit_grams) for every training
    doc sharing at least one k-token gram with the benchmark set —
    hit_grams counts the DISTINCT contaminated grams in the doc.

    The benchmark side is reduced to distinct gram hashes and BROADCAST
    (eval sets stay small at any corpus scale — this is the under-cap
    side that is safe to broadcast, unlike a vocabulary keep-list); the
    corpus side streams through a map-side semi join, so the only
    shuffle is the per-doc distinct-count aggregation over matched rows.
    """
    bench = (
        gram_occurrences(bench_docs, k, id_col, text_col)
        .select("gh")
        .distinct()
    )
    hits = gram_occurrences(docs, k, id_col, text_col).join(
        F.broadcast(bench), "gh"
    )
    return hits.groupBy("doc_id").agg(
        F.count_distinct("gh").cast("long").alias("hit_grams")
    )


def stratified_sample(
    docs: DataFrame,
    group_cols: list[str],
    cap: int,
    salt: str = "mix",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic data-mixing downsample: keep each doc of group g
    with probability min(1, cap / n_g), decided by the doc's own 60-bit
    hash — so over-represented groups shrink to ~cap docs while small
    groups pass through whole, and the SAME rows are kept on every run,
    on any cluster, at any partitioning (no RNG, no sample()).

    The keep test is u < p with u = md5_60(salt ':' doc_id) / 2^60 and
    p = cap / n_g: both are single IEEE divisions over identical integer
    operands, so the decision replays bit-exactly in the DuckDB oracle
    (the CLAUDE.md cross-engine double rule; /2^60 is exact, and the
    int->double rounding of the operands is identical in both engines).
    Group counts are a |groups|-row aggregate joined back via broadcast.
    """
    counts = docs.groupBy(*group_cols).agg(F.count("*").alias("n_g"))
    u = md5_60(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    ).cast("double") / F.lit(TWO_60)
    p = F.least(
        F.lit(1.0), F.lit(float(cap)) / F.col("n_g").cast("double")
    )
    return (
        docs.join(F.broadcast(counts), group_cols)
        .where(u < p)
        .select(id_col, *group_cols)
    )

"""Distributed BPE tokenizer training + subword encoding over the corpus.

The training-data pipeline's learned-tokenizer stage (byte-pair encoding,
Sennrich/Haddow/Birch 2016, "Neural Machine Translation of Rare Words with
Subword Units" — public algorithm): learn a merge table from corpus word
frequencies, then encode every document into subword tokens. No reference
analogue — soweego stops at entity records; this operates on the
``documents`` web-text table like the other corpus-curation operators
(operators/corpus.py).

Spark-first split, mirroring how production tokenizer trainers actually
scale (HuggingFace/SentencePiece: distributed pre-tokenization counts,
local merge learning over the aggregated type table):

- **Word-type counting is the only corpus-scale work**: one explode + one
  map-side-combined ``groupBy(word)`` — a fixed-key shuffle whose output is
  VOCABULARY-sized (Zipf: ~10^7-10^8 types at 100 TB), then a bounded
  ``orderBy(cnt desc, word).limit(type_cap)`` TakeOrdered transfer to the
  driver (same bounded-collect pattern as the logistic trainer,
  classify.py). The corpus itself is never collected.
- **Merge learning is driver-local over (word, count)** — O(n_merges x
  total_symbols) pure Python on at most ``type_cap`` rows. Deterministic:
  ties break on the lexicographically smallest pair.
- **Encoding never runs Python on the corpus**: the merge fold is a
  Catalyst ``aggregate`` higher-order function over the DISTINCT-word type
  table (each type encoded once, not once per occurrence), and documents
  get their tokens back through a join on ``word``. The merge table rides
  as a column from a broadcast one-row frame — never a per-row literal
  array rebuild (the CLAUDE.md ``array_contains(<literal>)`` trap).

Merge-application semantics (identical in Spark, DuckDB, and Python, and
pinned by tests + the cross-engine gate): a word is a ``\\x1f``-separated
symbol string with leading/trailing separators; applying merge (l, r)
is ONE left-to-right non-overlapping string replace of ``\\x1fl\\x1fr\\x1f``
with ``\\x1flr\\x1f``. Because the trailing separator of a match is
consumed, a run ``[a,a,a,a]`` merges to ``[aa,a,a]`` (not ``[aa,aa]``) —
a deliberate, documented variant of GPT-2-style repeated-pair merging
chosen because all three engines implement it with their native
``replace`` and therefore replay hash-exact. ``\\x1f``/``\\x1e`` are
stripped from the text up front so no symbol can contain a separator.

Scale notes (100 TB): word-count shuffle is the same row volume as the
token-count query; the type-table fold is |types| x n_merges native
string replaces, JVM-side, embarrassingly parallel; the encode join
shuffles (word) once — broadcastable when the type table fits, AQE
decides. Nothing iterates per merge on the cluster.
"""
from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from soweego_spark.operators.dedup import explode_once

SEP = "\x1f"  # symbol boundary (unit separator); stripped from input text
RS = "\x1e"  # packs (search, replace) into one string where needed


def _clean_text(col):
    """Input text with the two control separators deleted (so symbol
    strings can never contain them). Nested replace (not translate) so the
    DuckDB oracle is the literally identical expression."""
    return F.replace(F.replace(col, F.lit(SEP), F.lit("")), F.lit(RS), F.lit(""))


def words(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, w): lowercase whitespace word list, separators stripped —
    the corpus tokenization every BPE stage shares."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(F.lower(_clean_text(F.col(text_col))), " "),
            lambda t: t != F.lit(""),
        ).alias("w"),
    )


def word_type_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(word, cnt): corpus word-frequency table. One explode + one
    map-side-combined groupBy — the only corpus-scale shuffle in training.
    The explode is :func:`dedup.explode_once`: an inferred filter on
    ``w`` would split every doc's text a second time."""
    occ = explode_once(words(docs, id_col, text_col), [], "w", "word")
    return occ.groupBy("word").agg(F.count("*").alias("cnt"))


# ---------------------------------------------------------------------------
# driver-local merge learning (string-based; the DuckDB oracle's trainer in
# __spark_entry__.py is an INDEPENDENT tuple-based implementation of the
# same spec — the two agreeing is part of the gate)
# ---------------------------------------------------------------------------


def spaced_py(word: str) -> str:
    """Python twin of the Spark/DuckDB sentinel representation."""
    return SEP + SEP.join(word) + SEP


def learn_merges_from_counts(
    counts: Iterable[tuple[str, int]],
    n_merges: int,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from (word, count) rows.

    Deterministic: best pair = max count, ties to the lexicographically
    smallest (left, right); stops early when the best count < min_count.
    Pair counting includes overlapping occurrences ([a,a,a] counts (a,a)
    twice) — the standard Sennrich counting; application is the single-pass
    sentinel replace documented in the module docstring, so training sees
    exactly the symbolization encoding will produce.
    """
    items: list[list] = [[spaced_py(w), c] for w, c in counts if w]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for s, c in items:
            syms = s.split(SEP)[1:-1]
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        left, right = best[0]
        pat = SEP + left + SEP + right + SEP
        rep = SEP + left + right + SEP
        for it in items:
            if pat in it[0]:
                it[0] = it[0].replace(pat, rep)
        merges.append((left, right))
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    type_cap: int = 1_000_000,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Distributed-count + local-learn BPE training. The driver transfer is
    bounded by ``type_cap`` rows (TakeOrdered on cnt desc, word asc — the
    same most-frequent-first truncation real tokenizer trainers apply)."""
    rows = (
        word_type_counts(docs, id_col, text_col)
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(type_cap)
        .collect()
    )
    return learn_merges_from_counts(
        [(r["word"], r["cnt"]) for r in rows], n_merges, min_count
    )


def encode_word_py(word: str, merges: Sequence[tuple[str, str]]) -> list[str]:
    """Python replay of the encode fold (tests + bounded driver-side use)."""
    s = spaced_py(word)
    for left, right in merges:
        s = s.replace(SEP + left + SEP + right + SEP, SEP + left + right + SEP)
    return [t for t in s.split(SEP) if t]


# ---------------------------------------------------------------------------
# distributed encoding
# ---------------------------------------------------------------------------


def _merges_frame(spark: SparkSession, merges: Sequence[tuple[str, str]]) -> DataFrame:
    """One-row frame carrying the merge table as array<struct<s,r>> of
    (search, replace) sentinel strings. Broadcast-cross-joined so the fold
    reads a materialized column, not a rebuilt-per-row literal."""
    packed = [
        (SEP + l + SEP + r + SEP, SEP + l + r + SEP) for l, r in merges
    ]
    return spark.createDataFrame(
        [(packed,)], "ms: array<struct<s: string, r: string>>"
    )


def _spaced(col):
    """Sentinel symbol string of a word: ``\\x1f`` + every char followed by
    ``\\x1f``. Dotall so embedded newlines are symbols like any other char
    (words come from splitting on ' ' only)."""
    return F.concat(F.lit(SEP), F.regexp_replace(col, r"(?s)(.)", "$1" + SEP))


def encode_types(types: DataFrame, merges: Sequence[tuple[str, str]]) -> DataFrame:
    """(word, toks array<string>, enc string): every distinct word encoded
    once by the Catalyst fold over the merge table. ``enc`` is the
    ``\\x1f``-joined token string (btrimmed), ``toks`` its array form."""
    spark = types.sparkSession
    folded = F.aggregate(
        "ms",
        _spaced(F.col("word")),
        lambda acc, m: F.replace(acc, m["s"], m["r"]),
    )
    enc = types.crossJoin(F.broadcast(_merges_frame(spark, merges))).select(
        "word", F.btrim(folded, F.lit(SEP)).alias("enc")
    )
    # second projection: keeps the sibling-HOF lambda-binding trap
    # (CLAUDE.md round-3) out of reach — one HOF per projection
    return enc.select(
        "word",
        F.filter(F.split("enc", SEP), lambda t: t != F.lit("")).alias("toks"),
        "enc",
    )


def bpe_encode(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, wpos, word, toks, enc): every word occurrence with its
    subword tokens. Encoding cost is paid per TYPE (distinct-word fold),
    occurrences get tokens via an equi-join on word — broadcastable when
    the type table is small, AQE decides otherwise."""
    wx = explode_once(
        words(docs, id_col, text_col), ["doc_id"], "w", "word", pos="wpos"
    )
    types = encode_types(wx.select("word").distinct(), merges)
    return wx.join(types, "word").select("doc_id", "wpos", "word", "toks", "enc")


def bpe_encode_docs(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, tokens array<string>, n_tokens): per-document subword
    stream in word order — the frame sequence packing consumes. Reassembly
    is a sort-free groupBy: collect (wpos, toks) structs, array_sort on the
    unique wpos, flatten."""
    enc = bpe_encode(docs, merges, id_col, text_col)
    gathered = enc.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("wpos", "toks"))).alias("parts")
    )
    toks = gathered.select(
        "doc_id",
        F.flatten(F.transform("parts", lambda p: p["toks"])).alias("tokens"),
    )
    return toks.select(
        "doc_id", "tokens", F.size("tokens").cast("long").alias("n_tokens")
    )


def bpe_vocab(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(token, n_occurrences, n_types): corpus subword vocabulary with
    frequencies. Token occurrence counts come from the TYPE table joined to
    word counts — the corpus is scanned once for counts and never re-read
    per token."""
    counts = word_type_counts(docs, id_col, text_col)
    types = encode_types(counts.select("word"), merges)
    per_word = counts.join(types, "word").select(
        "word", "cnt", F.explode("toks").alias("token")
    )
    return per_word.groupBy("token").agg(
        F.sum("cnt").alias("n_occurrences"),
        F.countDistinct("word").alias("n_types"),
    )

"""Candidate-pair generation (blocking) as one block graph.

Reference analogue: MariaDB FULLTEXT blocking with a top-5 cap per item
(linker/blocking.py:44-166). Spark-first redesign (SURVEY.md §2.4 B1-B4).

Every blocking key is a posting list (SparkER-style): the documents that
carry it. Three key families feed ONE key index ``(url, family, key)``:

1. **Name tokens** — ``name_tokens``; pairs are ranked by shared-token
   count and the top ``top_k`` per document are kept (window over the pair
   list — the reference's only top-k, blocking.py:142).
2. **Outbound URLs** — validated ``urls``; documents citing the same
   profile link are candidates (B4 analogue).
3. **MinHash-LSH bands** — ``num_hashes`` per-shingle xxhash64 minima
   computed JVM-side with ``array_min(transform(...))`` (no Python), banded
   ``rows_per_band`` at a time into ``"<band>:<hash>"`` keys.

The graph is built in one pass over the index:

* **One hot-key guard.** A key whose document frequency exceeds its
  family's cap (``token_df_cap``, ``URL_DF_CAP``, ``BAND_CAP``) carries no
  linking signal (same spirit as the reference's relevance ranking +
  LIMIT 5), and its posting list would be quadratic in pairs. One count of
  all keys finds the over-cap ones; they are dropped by one broadcast ANTI
  join (that list is tiny BY CONSTRUCTION — the Zipf head — whereas the
  keep-list is the whole vocabulary). The drop happens map-side, BEFORE
  the posting-list shuffle: a hot key's rows never travel to, or pile up
  in, a single reducer.
* **Posting lists, pairs inside each list.** One ``groupBy(family, key)``
  collects the capped lists (at most cap urls each); the ``url_a < url_b``
  pairs of each sorted list are emitted in-row.
* **One pair aggregate.** ``shared_tokens`` counts the token-family hits
  of a pair (with multiplicity, as a token self-join would); a second
  column flags any URL or LSH hit. One window ranks each token pair on
  both of its documents and keeps the per-doc top-k; a flagged pair is
  kept outright. One final ``distinct`` folds the copies.

Why one key index and not a self-join per family: under AQE the two
sides of a self-join and each family's hot-key broadcast plan as separate
subtrees with no exchange reuse, so three families cost three times the
scans, exchanges and jobs of one graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

URL_DF_CAP = 50
BAND_CAP = 200

# key families of the block graph
_TOKEN, _URL, _LSH = 0, 1, 2


def _key_index(sig: DataFrame, families: list[tuple[int, object]]) -> DataFrame:
    """(url, family, key) rows: one explode of every family's key array.

    A null array contributes no keys and a null element pairs nothing, as
    in an equi-join on the key."""
    arrays = [
        F.coalesce(keys, F.array().cast("array<string>"))
        for _, keys in families
    ]
    # posexplode of the concatenated arrays; the position says which
    # family an element came from (no per-element tagging lambda)
    family = F.lit(families[-1][0])
    bound = F.lit(0)
    bounds = []
    for i, arr in enumerate(arrays[:-1]):
        bound = bound + F.size(arr)
        bounds.append(bound.alias(f"_b{i}"))
    for i in reversed(range(len(arrays) - 1)):
        family = F.when(F.col("pos") < F.col(f"_b{i}"), families[i][0]).otherwise(
            family
        )
    idx = sig.select(
        "url", *bounds, F.posexplode(F.concat(*arrays)).alias("pos", "key")
    )
    return idx.filter(F.col("key").isNotNull()).select(
        "url", family.alias("family"), "key"
    )


def _block_graph(
    sig: DataFrame,
    families: list[tuple[int, object, int]],
    top_k: int = 0,
) -> DataFrame:
    """Candidate pairs from capped posting lists of ``families``
    (``(family id, array<string> key column, df cap)`` each).

    Returns (url_a, url_b, shared_tokens), url_a < url_b, distinct. When
    the token family takes part, token pairs are kept only within each
    document's ``top_k``; pairs from the other families are kept outright.
    """
    idx = _key_index(sig, [(fam, keys) for fam, keys, _ in families])

    cap = F.lit(None)
    for fam, _, df_cap in families:
        cap = F.when(F.col("family") == fam, df_cap).otherwise(cap)
    hot = (
        idx.groupBy("family", "key")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("family", "key")
    )
    lists = (
        idx.join(F.broadcast(hot), ["family", "key"], "left_anti")
        .groupBy("family", "key")
        .agg(F.array_sort(F.collect_list("url")).alias("urls"))
    )
    # every (i < j) position pair of the sorted list; a url listed twice
    # under one key (a repeated token) pairs with others once per copy
    in_list = F.flatten(
        F.transform(
            "urls",
            lambda a, i: F.transform(
                F.slice("urls", i + 2, F.size("urls") - i - 1),
                lambda b: F.struct(a.alias("url_a"), b.alias("url_b")),
            ),
        )
    )
    pairs = (
        lists.select("family", F.explode(in_list).alias("p"))
        .select("family", "p.url_a", "p.url_b")
        .filter(F.col("url_a") < F.col("url_b"))
        .groupBy("url_a", "url_b")
        .agg(
            F.count(F.when(F.col("family") == _TOKEN, 1)).alias("shared_tokens"),
            F.max(F.col("family") != _TOKEN).alias("other_hit"),
        )
    )
    if _TOKEN not in [fam for fam, _, _ in families]:
        return pairs.select("url_a", "url_b", "shared_tokens")

    if top_k < 1:
        raise ValueError("top_k must be at least 1")

    # Top-k per document on either side (the dedup-symmetric version of the
    # reference's per-item LIMIT 5) in ONE window. Each token pair is ranked
    # twice: in partition (url_a, 'gt') and in (url_b, 'lt'). A pair another
    # family found also gets a partition of its own (``own`` = url_b), where
    # it ranks first. The `rn <= top_k` filter directly after the window
    # keeps the WindowGroupLimit per-partition top-k pushdown, which trims
    # the window shuffle map-side.
    def row(key, other, direction, own, use):
        return F.struct(
            F.col(key).alias("key"),
            F.col(other).alias("other"),
            F.lit(direction).alias("dir"),
            own.alias("own"),
            F.col("shared_tokens"),
            use.alias("use"),
        )

    token_hit = F.col("shared_tokens") > 0
    none = F.lit(None).cast("string")
    rows = pairs.select(
        F.explode(
            F.array(
                row("url_a", "url_b", "gt", none, token_hit),
                row("url_b", "url_a", "lt", none, token_hit),
                row("url_a", "url_b", "gt", F.col("url_b"), F.col("other_hit")),
            )
        ).alias("e")
    ).filter("e.use").select("e.key", "e.other", "e.dir", "e.own", "e.shared_tokens")
    w = Window.partitionBy("key", "dir", "own").orderBy(
        F.desc("shared_tokens"), F.asc("other")
    )
    kept = rows.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= top_k
    )
    gt = F.col("dir") == "gt"
    # a pair kept from more than one partition appears more than once
    return kept.select(
        F.when(gt, F.col("key")).otherwise(F.col("other")).alias("url_a"),
        F.when(gt, F.col("other")).otherwise(F.col("key")).alias("url_b"),
        "shared_tokens",
    ).distinct()


def token_blocking(
    sig: DataFrame,
    top_k: int = 5,
    token_df_cap: int = 1000,
    token_col: str = "name_tokens",
) -> DataFrame:
    """Name-token posting lists with per-doc top-k.

    Returns (url_a, url_b, shared_tokens) — ``shared_tokens`` is the rank
    score (reference: FTS relevance).
    """
    return _block_graph(
        sig, [(_TOKEN, F.col(token_col), token_df_cap)], top_k=top_k
    )


def url_blocking(sig: DataFrame, url_df_cap: int = URL_DF_CAP) -> DataFrame:
    """Documents sharing an exact outbound URL."""
    return _block_graph(sig, [(_URL, F.col("urls"), url_df_cap)]).select(
        "url_a", "url_b"
    )


def shingles(col, n: int = 3):
    """Char n-gram shingles of a (already normalized) string column —
    JVM-side: substring over a sequence, no UDF."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1))),
            lambda i: padded.substr(i, F.lit(n)),
        )
    )


def minhash_signature(shingle_col, num_hashes: int = 12):
    """ARRAY<BIGINT> of per-salt minima over shingle hashes, fully JVM-side.

    One nested-lambda expression (outer over the hash index, inner over the
    shingles) — building ``num_hashes`` sibling ``transform`` columns
    mis-binds same-named lambda variables in pyspark 4.1 and silently
    produced wrong (though stable) signatures; regression-tested in
    tests/test_dedup.py::test_blocking_minhash_signature_truth.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                shingle_col,
                lambda s: F.xxhash64(
                    F.concat(F.lit("m"), i.cast("string"), F.lit(":"), s)
                ),
            )
        ),
    )


def _with_band_keys(
    sig: DataFrame,
    text_expr=None,
    num_hashes: int = 12,
    rows_per_band: int = 2,
    shingle_size: int = 3,
) -> DataFrame:
    """``sig`` plus ``_bands``: ARRAY<STRING> of ``"<band>:<hash>"``
    MinHash-LSH band keys over a text expression (default: the
    concatenated normalized name). The signature is its own projection so
    that each band reads it instead of recomputing it."""
    if text_expr is None:
        text_expr = F.array_join(F.col("name"), " ")
    mh = minhash_signature(shingles(text_expr, shingle_size), num_hashes)
    bands = F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.hash(
                    *[
                        F.element_at("_mh", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).cast("string"),
            )
            for b in range(num_hashes // rows_per_band)
        ]
    )
    return sig.withColumn("_mh", mh).withColumn("_bands", bands)


def lsh_blocking(
    sig: DataFrame,
    text_expr=None,
    num_hashes: int = 12,
    rows_per_band: int = 2,
    band_cap: int = BAND_CAP,
    shingle_size: int = 3,
) -> DataFrame:
    """MinHash-LSH band blocking over a text expression.

    Defaults to the concatenated normalized name — near-duplicate names land
    in the same band with high probability even when token blocking misses
    (misspellings change tokens but only a few shingles).
    """
    sig = _with_band_keys(sig, text_expr, num_hashes, rows_per_band, shingle_size)
    return _block_graph(sig, [(_LSH, F.col("_bands"), band_cap)]).select(
        "url_a", "url_b"
    )


def block_candidates(
    sig: DataFrame,
    top_k: int = 5,
    token_df_cap: int = 1000,
    use_lsh: bool = True,
    use_url_key: bool = True,
    lsh_rows_per_band: int = 3,
) -> DataFrame:
    """All blocking keys in one block graph -> distinct candidate pairs
    (url_a, url_b) with url_a < url_b."""
    families = [(_TOKEN, F.col("name_tokens"), token_df_cap)]
    if use_url_key:
        families.append((_URL, F.col("urls"), URL_DF_CAP))
    if use_lsh:
        sig = _with_band_keys(sig, rows_per_band=lsh_rows_per_band)
        families.append((_LSH, F.col("_bands"), BAND_CAP))
    return _block_graph(sig, families, top_k=top_k).select("url_a", "url_b")


def subset_token_pairs(
    wd: DataFrame,
    target: DataFrame,
    id_left: str = "url_a",
    id_right: str = "url_b",
    token_col: str = "name_tokens",
    token_df_cap: int = 10_000,
    target_df_cap: int | None = None,
) -> DataFrame:
    """B2/J4 (baseline.py:332-354 + data_gathering.py:78): pairs where the
    TARGET token set is a subset of the WD token set.

    The reference fires boolean-mode FULLTEXT queries (``+tok1 +tok2``
    requires every target token present) then re-checks ``target ⊆ wd`` in
    pandas; the theta join converts to equi-join + aggregate: join on
    token, count matched tokens per pair, keep pairs where the count equals
    the target's token-set size. Token sets of size <= 1 are excluded on
    both sides (baseline.py:344-347).

    Hot tokens are always capped on the wd side (``token_df_cap``), and
    OPTIONALLY on the target side: pass ``target_df_cap`` to also drop
    tokens whose TARGET-side document frequency exceeds it. The target cap
    is opt-in (default ``None`` = no target-side cap — the original
    semantics) because it changes recall: a target set containing any
    target-hot token is disqualified even when genuinely contained and
    held together by additional rare tokens, since ``n_matched`` can no
    longer reach ``_r_size``. When enabled it kills the df_l x df_r
    fan-out a boilerplate-hot target token would otherwise cause — a
    single such token can dominate the shuffle at 100x scale — which is
    usually the right trade for web-scale linking (a pair held together
    only by a boilerplate token carries no subset signal), but callers
    tuned to the uncapped recall must opt in explicitly.
    """
    l_tok = (
        wd.filter(F.size(token_col) > 1)
        .select(F.col("url").alias(id_left), F.explode(token_col).alias("token"))
    )
    r = target.filter(F.size(token_col) > 1).select(
        F.col("url").alias(id_right),
        F.col(token_col).alias("_r_tokens"),
        F.size(token_col).alias("_r_size"),
    )
    r_tok = r.select(
        id_right, "_r_size", F.explode("_r_tokens").alias("token")
    )

    # Over-cap token lists are tiny by construction (Zipf head) -> anti
    # join on the broadcast hot list, never a broadcast of the full vocab.
    hot_l = (
        l_tok.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > token_df_cap)
        .select("token")
    )
    hot = hot_l
    if target_df_cap is not None:
        hot_r = (
            r_tok.groupBy("token")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > target_df_cap)
            .select("token")
        )
        hot = hot_l.unionByName(hot_r).distinct()
    l_tok = l_tok.join(F.broadcast(hot), "token", "left_anti")

    matched = (
        l_tok.join(r_tok, "token")
        .filter(F.col(id_left) != F.col(id_right))
        .groupBy(id_left, id_right, "_r_size")
        .agg(F.count(F.col("token")).alias("n_matched"))
    )
    return matched.filter(F.col("n_matched") == F.col("_r_size")).select(
        id_left, id_right
    )

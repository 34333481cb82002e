"""Pair assembly + feature-vector computation (SURVEY.md §2.5, C1-C9).

``assemble_pairs``: the central 3-way equi-join — candidate pairs joined to
the signatures table twice (reference: Compare.compute's MultiIndex-aligned
lookup, workflow.py:422). Both sides are large at scale → sort-merge join;
AQE handles skewed keys.

``compute_features``: one column per feature.

JVM-native (whole-stage codegen, no Python):
  name_exact   C1 ExactMatch over normalized name lists  (features.py:76-128)
  url_exact    C1 over validated outbound URLs           (workflow.py:458-460)
  name_shared  C5 SharedTokens weighted Jaccard          (features.py:406-470)
  genre_shared C5 over genres                            (workflow.py:411-420)
  occ_shared   C6 SharedOccupations with the class closure precomputed as a
               broadcast map literal (no network in executors; the
               reference's Manager().dict() SPARQL cache, features.py:63-71)
  url_tok_shared C7 SharedTokensPlus over URL tokens with the URL stop-word
               list (features.py:568-665, workflow.py:462-470)

Also JVM-native (v2 — the pandas-UDF versions were 10x slower; the Python
kernels in functions.simkernels/dates remain as the tested oracles,
tests/test_features_jvm.py asserts expression == kernel on fixture pairs):
  name_lev     C2 max Levenshtein similarity via the built-in ``levenshtein``
               inside nested ``transform`` over the token cross product
               (features.py:221-251)
  name_cos     C3 cosine over char_wb 2-grams — per-side count maps + norms
               precomputed once per document at extract time
               (extract.py SIGNATURE_SCHEMA name_bigrams/name_bigram_norm);
               per pair: ``map_zip_with`` dot product (workflow.py:485-494)
  desc_cos     C3 cosine with the soweego analyzer, same map pattern
               (workflow.py:387-398)
  born_sim / died_sim  C4 SimilarDates as a nested-``transform`` prefix
               comparison over the parsed date structs (features.py:318-403)

Missing values fill with FEATURE_MISSING_VALUE = 0.0 (constants.py:359).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from soweego_spark.functions import simkernels
from soweego_spark.functions.textnorm import URL_STOPWORDS

FEATURE_MISSING_VALUE = 0.0

FEATURE_COLUMNS = [
    "name_exact",
    "name_lev",
    "name_cos",
    "name_shared",
    "url_exact",
    "url_tok_shared",
    "born_sim",
    "died_sim",
    "desc_cos",
    "occ_shared",
    "genre_shared",
]


def assemble_pairs(
    pairs: DataFrame,
    sig: DataFrame,
    occupation_closure: dict[str, list[str]] | None = None,
) -> DataFrame:
    """(url_a, url_b) -> wide pair rows with a_* / b_* signature columns.

    Pair-invariant feature preprocessing is hoisted HERE, to the signature
    side of the join — once per DOCUMENT instead of once per PAIR (pairs
    outnumber documents ~30x, and these were the top cost of the featurize
    stage, measured):

    * ``url_tokens_nostop`` — C7's URL stop-word removal. The old per-pair
      ``array_except(col, <876-literal array>)`` rebuilt the 876-element
      literal per row per side and alone was ~80%% of featurize wall time.
    * ``occupations_exp`` — C6's class-closure expansion (broadcast map
      literal), equally pair-invariant.
    """
    # Only what compute_features reads: raw description/description_tokens
    # stay OUT of the pair shuffle (desc_cos consumes the precomputed
    # desc_terms maps) — at 10^12 docs the description text would dominate
    # shuffle volume for zero benefit.
    url_stop = sorted(URL_STOPWORDS)
    band_words = sorted(simkernels.BAND_LOW_SCORE_WORDS)
    sig = sig.withColumn(
        "url_tokens_nostop",
        F.filter(F.col("url_tokens"), lambda t: ~t.isin(url_stop)),
    ).withColumn(
        "occupations_exp",
        _expand_with_closure(F.col("occupations"), occupation_closure or {}),
    ).withColumn(
        # C5's band penalty hoisted to the document side (r7):
        # |a∩b∩band| == |(a∩band) ∩ (b∩band)|, so intersecting each
        # token set with the 33-word band list ONCE per document (InSet
        # probe, no literal array) replaces a per-PAIR intersect against
        # a literal array rebuilt per row (pairs outnumber docs ~20x) —
        # same family as the url_tokens_nostop hoist above.
        "name_tokens_band",
        F.filter(F.col("name_tokens"), lambda t: t.isin(band_words)),
    )
    feature_cols = [
        "name", "name_tokens", "name_tokens_band", "urls",
        "url_tokens_nostop", "ext_ids",
        "born_p", "died_p", "occupations_exp", "genres",
        "name_bigrams", "name_bigram_norm", "desc_terms", "desc_norm",
    ]
    feature_cols = [c for c in feature_cols if c in sig.columns]
    a = sig.select(
        F.col("url").alias("url_a"),
        *[F.col(c).alias(f"a_{c}") for c in feature_cols],
    )
    b = sig.select(
        F.col("url").alias("url_b"),
        *[F.col(c).alias(f"b_{c}") for c in feature_cols],
    )
    return pairs.join(a, "url_a").join(b, "url_b")


def _exact_list_match(a, b):
    """C1: max over cross-product equality == arrays_overlap; null/empty ->
    missing value."""
    return F.when(
        a.isNull() | b.isNull() | (F.size(a) == 0) | (F.size(b) == 0),
        F.lit(FEATURE_MISSING_VALUE),
    ).otherwise(F.arrays_overlap(a, b).cast("double"))


def _shared_tokens(a, b, band_words: list[str], band_precomp=None):
    """C5: (|∩| - 0.9*|∩ ∩ band_words|) / |∪| with set semantics.

    ``band_precomp`` — per-side precomputed ``tokens ∩ band_words`` arrays
    (from :func:`assemble_pairs`): the penalty becomes the intersect of two
    tiny arrays instead of a per-pair probe of a literal band array.
    The null guard tests ``size(a)==0 AND size(b)==0`` rather than
    ``size(union)==0`` (equivalent for non-null sides) so the union array
    is built once per pair, not twice."""
    inter = F.array_intersect(a, b)
    union = F.array_union(a, b)
    if band_precomp is not None:
        penalty = F.size(F.array_intersect(*band_precomp))
    elif band_words:
        penalty = F.size(
            F.array_intersect(inter, F.array(*[F.lit(w) for w in band_words]))
        )
    else:
        penalty = F.lit(0)
    score = (F.size(inter) - penalty * F.lit(0.9)) / F.size(union)
    return F.when(
        a.isNull() | b.isNull() | ((F.size(a) == 0) & (F.size(b) == 0)),
        F.lit(FEATURE_MISSING_VALUE),
    ).otherwise(F.coalesce(score, F.lit(FEATURE_MISSING_VALUE)))


def _shared_ratio_min(a, b):
    """C6/C7 core: |∩| / min(|a|,|b|)."""
    smallest = F.least(F.size(a), F.size(b))
    return F.when(
        a.isNull() | b.isNull() | (smallest <= 0),
        F.lit(FEATURE_MISSING_VALUE),
    ).otherwise(F.size(F.array_intersect(a, b)) / smallest)


def _expand_with_closure(col, closure: dict[str, list[str]]):
    """Occupation class-closure expansion as a broadcast map literal."""
    if not closure:
        return col
    entries = []
    for code, related in closure.items():
        entries.append(
            F.struct(
                F.lit(code).alias("key"),
                F.array(*[F.lit(r) for r in related]).alias("value"),
            )
        )
    closure_map = F.map_from_entries(F.array(*entries))
    return F.when(col.isNull(), None).otherwise(
        F.array_distinct(
            F.flatten(
                F.filter(
                    F.transform(
                        col,
                        lambda c: F.coalesce(
                            closure_map.getItem(c), F.array(c)
                        ),
                    ),
                    lambda arr: arr.isNotNull(),
                )
            )
        )
    )




def _lev_max_expr(a, b):
    """C2: max over the token cross product of ``1 - lev/max(len)`` — the
    built-in ``levenshtein`` inside nested transforms (whole-stage codegen;
    oracle: simkernels.levenshtein_max)."""

    def one(x, y):
        longest = F.greatest(F.length(x), F.length(y))
        return F.when(x.isNull() | y.isNull(), F.lit(0.0)).otherwise(
            F.when(longest == 0, F.lit(1.0)).otherwise(
                F.lit(1.0) - F.levenshtein(x, y) / longest
            )
        )

    scores = F.flatten(F.transform(a, lambda x: F.transform(b, lambda y: one(x, y))))
    full = F.array_max(scores)
    # Exact-equality short-circuit for the max-Levenshtein cross product:
    # any shared token scores 1.0, the maximum possible, so the whole
    # quadratic Levenshtein evaluation can be skipped for pairs whose
    # token arrays overlap (most TRUE matches — the dominant featurize
    # cost is exactly the rows blocking ranked best). Value-identical by
    # construction (1.0 either way, so the pair_features hash gate pins
    # it). CaseWhen evaluates lazily: the cross product only runs for
    # pairs with NO shared token.
    full = F.when(F.arrays_overlap(a, b), F.lit(1.0)).otherwise(full)
    return F.when(
        a.isNull() | b.isNull() | (F.size(a) == 0) | (F.size(b) == 0),
        F.lit(None).cast("double"),
    ).otherwise(full)


def _cosine_map_expr(ma, na, mb, nb):
    """C3: cosine between two precomputed bag-of-words count maps.

    ``map_zip_with`` unions the key sets; missing counts coalesce to 0, so
    the aggregate over values is exactly the sparse dot product. Norms were
    taken at extract time (oracle: simkernels.cosine_bow)."""
    # Iterate the left map's entries and probe the right map — exactly the
    # sparse dot product, but O(|ma|) with O(1) lookups instead of
    # materializing the |ma ∪ mb| zipped map (terms missing on either side
    # contribute 0 anyway).
    dot = F.aggregate(
        F.map_entries(ma),
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + e["value"].cast("long")
        * F.coalesce(F.element_at(mb, e["key"]), F.lit(0)).cast("long"),
    ).cast("double")
    return F.when(
        ma.isNull() | mb.isNull() | na.isNull() | nb.isNull()
        | (na == 0) | (nb == 0),
        F.lit(None).cast("double"),
    ).otherwise(dot / (na * nb))


_DATE_ATTRS = ["y", "mo", "d", "h", "mi", "s"]


def _date_pair_score_one(lv, rv):
    """SimilarDates core for ONE (date, date) combination: count consecutive
    equal attributes from year down to the shared precision depth, stop at
    the first mismatch, divide by shared+1 (oracle: dates.date_pair_score)."""
    shared = F.least(lv["depth"], rv["depth"])
    matched = F.lit(0)
    for i in reversed(range(len(_DATE_ATTRS))):
        eq = lv[_DATE_ATTRS[i]] == rv[_DATE_ATTRS[i]]
        matched = F.when(
            (shared >= i) & eq, F.lit(1) + matched
        ).otherwise(F.lit(0))
    return matched.cast("double") / (shared + F.lit(1)).cast("double")


def _date_sim_expr(a, b):
    """C4: best cross-product score; null list elements contribute nothing
    (array_max skips the nulls their comparison produces).

    1x1 fast path (r7): date lists are overwhelmingly single-element, and
    the general form pays four interpreted HOF nodes (transform x2 +
    flatten + array_max) per pair for a singleton max. When both sides
    have exactly one element the score is computed directly — identical
    by construction (array_max of a singleton is its element; a null
    element's score is null in both forms and coalesces to 0.0).
    CaseWhen evaluates lazily, so only one branch runs per row."""
    scores = F.flatten(
        F.transform(a, lambda lv: F.transform(b, lambda rv: _date_pair_score_one(lv, rv)))
    )
    best = F.when(
        (F.size(a) == 1) & (F.size(b) == 1),
        F.coalesce(
            _date_pair_score_one(F.element_at(a, 1), F.element_at(b, 1)),
            F.lit(0.0),
        ),
    ).otherwise(F.coalesce(F.array_max(scores), F.lit(0.0)))
    return F.when(
        a.isNull() | b.isNull() | (F.size(a) == 0) | (F.size(b) == 0),
        F.lit(None).cast("double"),
    ).otherwise(best)


RULE_COLUMNS = [
    "a_name_tokens", "b_name_tokens", "a_urls", "b_urls",
    "a_ext_ids", "b_ext_ids",
]


def name_jw_column():
    """Optional 12th feature: best Jaro-Winkler over the name-token cross
    product (the north_star pairs JW with Levenshtein for name scoring).
    JW has no Catalyst built-in, so this is the prescribed Arrow-batched
    pandas UDF path — opt-in via ``compute_features(include_jw=True)``
    because the 11-feature vector is the reference-parity surface."""
    import pandas as pd
    from pyspark.sql.types import DoubleType

    def _jw(a, b):
        # Arrow hands array columns over as numpy arrays (truthiness is
        # ambiguous) — normalize to list/None before the kernel.
        return pd.Series(
            [
                simkernels.jaro_winkler_max(
                    None if x is None else list(x),
                    None if y is None else list(y),
                )
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    jw_udf = F.pandas_udf(_jw, DoubleType())
    return jw_udf(F.col("a_name_tokens"), F.col("b_name_tokens"))


def compute_features(
    pair_rows: DataFrame,
    occupation_closure: dict[str, list[str]] | None = None,
    carry_rule_cols: bool = False,
    include_jw: bool = False,
) -> DataFrame:
    """Wide pair rows -> (url_a, url_b, <FEATURE_COLUMNS...>), 0.0-filled.

    Expects rows from :func:`assemble_pairs`, which precomputes the
    pair-invariant pieces (stop-word-filtered URL tokens, closure-expanded
    occupations) per document; a fallback computes them per pair for rows
    assembled elsewhere.

    ``carry_rule_cols=True`` additionally passes the M12 post-rule inputs
    (RULE_COLUMNS) through to the output, so ``classify.apply_rules`` can
    run directly on the (cached) feature table with NO re-join back to the
    wide pair rows — caching the wide rows themselves costs more to
    serialize than it saves (measured 28s vs 10s at 500k pairs).
    """
    band_words = sorted(simkernels.BAND_LOW_SCORE_WORDS)

    if "a_occupations_exp" in pair_rows.columns:
        a_occ, b_occ = F.col("a_occupations_exp"), F.col("b_occupations_exp")
    else:
        a_occ = _expand_with_closure(
            F.col("a_occupations"), occupation_closure or {}
        )
        b_occ = _expand_with_closure(
            F.col("b_occupations"), occupation_closure or {}
        )
    if "a_url_tokens_nostop" in pair_rows.columns:
        a_ut = F.col("a_url_tokens_nostop")
        b_ut = F.col("b_url_tokens_nostop")
    else:
        url_stop = sorted(URL_STOPWORDS)
        a_ut = F.filter(F.col("a_url_tokens"), lambda t: ~t.isin(url_stop))
        b_ut = F.filter(F.col("b_url_tokens"), lambda t: ~t.isin(url_stop))

    carried = (
        [c for c in RULE_COLUMNS if c in pair_rows.columns]
        if carry_rule_cols
        else []
    )
    features = [
        _exact_list_match(F.col("a_name"), F.col("b_name")).alias(
            "name_exact"
        ),
        _lev_max_expr(F.col("a_name_tokens"), F.col("b_name_tokens")).alias(
            "name_lev"
        ),
        _cosine_map_expr(
            F.col("a_name_bigrams"), F.col("a_name_bigram_norm"),
            F.col("b_name_bigrams"), F.col("b_name_bigram_norm"),
        ).alias("name_cos"),
        _shared_tokens(
            F.col("a_name_tokens"), F.col("b_name_tokens"), band_words,
            band_precomp=(
                (F.col("a_name_tokens_band"), F.col("b_name_tokens_band"))
                if "a_name_tokens_band" in pair_rows.columns
                else None
            ),
        ).alias("name_shared"),
        _exact_list_match(F.col("a_urls"), F.col("b_urls")).alias(
            "url_exact"
        ),
        _shared_ratio_min(a_ut, b_ut).alias("url_tok_shared"),
        _date_sim_expr(F.col("a_born_p"), F.col("b_born_p")).alias(
            "born_sim"
        ),
        _date_sim_expr(F.col("a_died_p"), F.col("b_died_p")).alias(
            "died_sim"
        ),
        _cosine_map_expr(
            F.col("a_desc_terms"), F.col("a_desc_norm"),
            F.col("b_desc_terms"), F.col("b_desc_norm"),
        ).alias("desc_cos"),
        _shared_ratio_min(a_occ, b_occ).alias("occ_shared"),
        _shared_tokens(F.col("a_genres"), F.col("b_genres"), []).alias(
            "genre_shared"
        ),
    ]
    out = pair_rows.select(
        "url_a",
        "url_b",
        *carried,
        *features,
        *([name_jw_column().alias("name_jw")] if include_jw else []),
    )
    fill_cols = FEATURE_COLUMNS + (["name_jw"] if include_jw else [])
    return out.fillna(FEATURE_MISSING_VALUE, subset=fill_cols)


def featurize(
    pairs: DataFrame,
    sig: DataFrame,
    occupation_closure: dict[str, list[str]] | None = None,
) -> DataFrame:
    return compute_features(
        assemble_pairs(pairs, sig, occupation_closure=occupation_closure),
        occupation_closure=occupation_closure,
    )

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

Build cost: under PySpark 4 a Column operation is about five py4j round
trips (``F.col`` thirteen) and ``isin(list)`` one more per element, so
every feature expression, the URL stop-word, band-word and
occupation-closure literals included, is SQL text over column names,
parsed by the JVM in one call (``F.expr``). As Column ops the eleven
features were ~5,100 round trips per build and the URL stop-word filter
~3,700 (PERF.md).
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
    * ``name_tokens_band`` — the name tokens among C5's band words,
      equally pair-invariant.
    """
    # Only what compute_features reads: raw description/description_tokens
    # stay OUT of the pair shuffle (desc_cos consumes the precomputed
    # desc_terms maps) — at 10^12 docs the description text would dominate
    # shuffle volume for zero benefit.
    sig = sig.withColumn(
        "url_tokens_nostop", F.expr(_without_url_stopwords("url_tokens"))
    ).withColumn(
        "occupations_exp",
        F.expr(_expand_with_closure("occupations", occupation_closure or {})),
    ).withColumn(
        # C5's band penalty hoisted to the document side (r7):
        # |a∩b∩band| == |(a∩band) ∩ (b∩band)|, so intersecting each
        # token set with the 33-word band list ONCE per document (InSet
        # probe, no literal array) replaces a per-PAIR intersect against
        # a literal array rebuilt per row (pairs outnumber docs ~20x) —
        # same family as the url_tokens_nostop hoist above.
        "name_tokens_band", F.expr(_band_tokens("name_tokens"))
    )
    feature_cols = [
        "name", "name_tokens", "name_tokens_band", "urls",
        "url_tokens_nostop", "ext_ids",
        "born_p", "died_p", "occupations_exp", "genres",
        "name_bigrams", "name_bigram_norm", "desc_terms", "desc_norm",
    ]
    have = set(sig.columns)
    feature_cols = [c for c in feature_cols if c in have]
    a = sig.selectExpr("url AS url_a", *[f"{c} AS a_{c}" for c in feature_cols])
    b = sig.selectExpr("url AS url_b", *[f"{c} AS b_{c}" for c in feature_cols])
    return pairs.join(a, "url_a").join(b, "url_b")


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes, the
    default ``spark.sql.parser.escapedStringLiterals=false``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_in_list(words) -> str:
    """``'w1', 'w2', ...``: the body of an SQL ``IN (...)`` or
    ``array(...)``."""
    return ", ".join(_sql_string(w) for w in words)


# The feature expressions below are SQL text over column names: each is
# parsed by the JVM in one py4j call (CLAUDE.md). Literal word lists plan
# to the same InSet as ``isin`` after OptimizeIn. Every lambda variable is
# named after the column it ranges over, so that no two in one projection
# share a name: same-named sibling lambdas can be mis-bound (CLAUDE.md).
_URL_STOP_SQL = _sql_in_list(sorted(URL_STOPWORDS))
_BAND_SQL = _sql_in_list(sorted(simkernels.BAND_LOW_SCORE_WORDS))
_MISSING = f"{FEATURE_MISSING_VALUE!r}D"  # a DOUBLE literal
_NULL = "CAST(NULL AS DOUBLE)"


def _or(*conds: str) -> str:
    """``conds`` OR-ed left to right, as Column ``|`` chains them (the SQL
    parser would balance an unparenthesized chain)."""
    out = conds[0]
    for c in conds[1:]:
        out = f"({out} OR {c})"
    return out


def _empty(a: str, b: str) -> str:
    """Either side null or empty."""
    return _or(f"{a} IS NULL", f"{b} IS NULL", f"size({a}) = 0",
               f"size({b}) = 0")


def _without_url_stopwords(col: str) -> str:
    """Column ``col`` without the URL stop words."""
    v = f"{col}_t"
    return f"filter({col}, {v} -> NOT {v} IN ({_URL_STOP_SQL}))"


def _band_tokens(col: str) -> str:
    """Column ``col`` ∩ the C5 band words (``BAND_LOW_SCORE_WORDS``)."""
    v = f"{col}_b"
    return f"filter({col}, {v} -> {v} IN ({_BAND_SQL}))"


def _exact_list_match(a: str, b: str) -> str:
    """C1: max over cross-product equality == arrays_overlap; null/empty ->
    missing value."""
    return (
        f"CASE WHEN {_empty(a, b)} THEN {_MISSING} "
        f"ELSE CAST(arrays_overlap({a}, {b}) AS DOUBLE) END"
    )


def _shared_tokens(a: str, b: str, band_words: list[str],
                   band_precomp: tuple[str, str] | None = None) -> str:
    """C5: (|∩| - 0.9*|∩ ∩ band_words|) / |∪| with set semantics.

    ``band_precomp`` — per-side precomputed ``tokens ∩ band_words`` arrays
    (from :func:`assemble_pairs`): the penalty becomes the intersect of two
    tiny arrays instead of a per-pair probe of a literal band array.
    The null guard tests ``size(a)==0 AND size(b)==0`` rather than
    ``size(union)==0`` (equivalent for non-null sides) so the union array
    is built once per pair, not twice."""
    inter = f"array_intersect({a}, {b})"
    if band_precomp is not None:
        penalty = "size(array_intersect({}, {}))".format(*band_precomp)
    elif band_words:
        penalty = (
            f"size(array_intersect({inter}, "
            f"array({_sql_in_list(band_words)})))"
        )
    else:
        penalty = "0"
    score = f"(size({inter}) - {penalty} * 0.9D) / size(array_union({a}, {b}))"
    both_empty = f"(size({a}) = 0 AND size({b}) = 0)"
    return (
        f"CASE WHEN {_or(f'{a} IS NULL', f'{b} IS NULL', both_empty)} "
        f"THEN {_MISSING} "
        f"ELSE coalesce({score}, {_MISSING}) END"
    )


def _shared_ratio_min(a: str, b: str) -> str:
    """C6/C7 core: |∩| / min(|a|,|b|)."""
    smallest = f"least(size({a}), size({b}))"
    return (
        f"CASE WHEN {_or(f'{a} IS NULL', f'{b} IS NULL', f'{smallest} <= 0')} "
        f"THEN {_MISSING} "
        f"ELSE size(array_intersect({a}, {b})) / {smallest} END"
    )


def _expand_with_closure(col: str, closure: dict[str, list[str]]) -> str:
    """Occupation class-closure expansion of column ``col`` as a broadcast
    map literal."""
    if not closure:
        return col
    closure_map = "map_from_entries(array({}))".format(", ".join(
        f"named_struct('key', {_sql_string(code)}, "
        f"'value', array({_sql_in_list(related)}))"
        for code, related in closure.items()
    ))
    c, arr = f"{col}_c", f"{col}_arr"
    return (
        f"CASE WHEN {col} IS NULL THEN NULL ELSE array_distinct(flatten("
        f"filter(transform({col}, {c} -> coalesce({closure_map}[{c}], "
        f"array({c}))), {arr} -> {arr} IS NOT NULL))) END"
    )


def _lev_max_expr(a: str, b: str) -> str:
    """C2: max over the token cross product of ``1 - lev/max(len)`` — the
    built-in ``levenshtein`` inside nested transforms (whole-stage codegen;
    oracle: simkernels.levenshtein_max)."""
    x, y = f"{a}_x", f"{b}_y"
    longest = f"greatest(length({x}), length({y}))"
    one = (
        f"CASE WHEN {_or(f'{x} IS NULL', f'{y} IS NULL')} THEN 0.0D "
        f"ELSE CASE WHEN {longest} = 0 THEN 1.0D "
        f"ELSE 1.0D - levenshtein({x}, {y}) / {longest} END END"
    )
    # Exact-equality short-circuit for the max-Levenshtein cross product:
    # any shared token scores 1.0, the maximum possible, so the whole
    # quadratic Levenshtein evaluation can be skipped for pairs whose
    # token arrays overlap (most TRUE matches — the dominant featurize
    # cost is exactly the rows blocking ranked best). Value-identical by
    # construction (1.0 either way, so the pair_features hash gate pins
    # it). CaseWhen evaluates lazily: the cross product only runs for
    # pairs with NO shared token.
    full = (
        f"CASE WHEN arrays_overlap({a}, {b}) THEN 1.0D ELSE array_max("
        f"flatten(transform({a}, {x} -> transform({b}, {y} -> {one})))) END"
    )
    return f"CASE WHEN {_empty(a, b)} THEN {_NULL} ELSE {full} END"


def _cosine_map_expr(ma: str, na: str, mb: str, nb: str) -> str:
    """C3: cosine between two precomputed bag-of-words count maps.

    Norms were taken at extract time (oracle: simkernels.cosine_bow)."""
    # Iterate the left map's entries and probe the right map — exactly the
    # sparse dot product, but O(|ma|) with O(1) lookups instead of
    # materializing the |ma ∪ mb| zipped map (terms missing on either side
    # contribute 0 anyway).
    acc, e = f"{ma}_acc", f"{ma}_e"
    dot = (
        f"CAST(aggregate(map_entries({ma}), CAST(0 AS BIGINT), "
        f"({acc}, {e}) -> {acc} + CAST({e}.value AS BIGINT) "
        f"* CAST(coalesce(element_at({mb}, {e}.key), 0) AS BIGINT)) "
        f"AS DOUBLE)"
    )
    missing = _or(*[f"{c} IS NULL" for c in (ma, mb, na, nb)],
                  f"{na} = 0", f"{nb} = 0")
    return f"CASE WHEN {missing} THEN {_NULL} ELSE {dot} / ({na} * {nb}) END"


_DATE_ATTRS = ["y", "mo", "d", "h", "mi", "s"]


def _date_pair_score_one(lv: str, rv: str) -> str:
    """SimilarDates core for ONE (date, date) combination: count consecutive
    equal attributes from year down to the shared precision depth, stop at
    the first mismatch, divide by shared+1 (oracle: dates.date_pair_score)."""
    shared = f"least({lv}.depth, {rv}.depth)"
    matched = "0"
    for i in reversed(range(len(_DATE_ATTRS))):
        attr = _DATE_ATTRS[i]
        matched = (
            f"CASE WHEN {shared} >= {i} AND {lv}.{attr} = {rv}.{attr} "
            f"THEN 1 + {matched} ELSE 0 END"
        )
    return f"CAST({matched} AS DOUBLE) / CAST({shared} + 1 AS DOUBLE)"


def _date_sim_expr(a: str, b: str) -> str:
    """C4: best cross-product score; null list elements contribute nothing
    (array_max skips the nulls their comparison produces).

    1x1 fast path (r7): date lists are overwhelmingly single-element, and
    the general form pays four interpreted HOF nodes (transform x2 +
    flatten + array_max) per pair for a singleton max. When both sides
    have exactly one element the score is computed directly — identical
    by construction (array_max of a singleton is its element; a null
    element's score is null in both forms and coalesces to 0.0).
    CaseWhen evaluates lazily, so only one branch runs per row."""
    lv, rv = f"{a}_l", f"{b}_r"
    one = _date_pair_score_one(f"element_at({a}, 1)", f"element_at({b}, 1)")
    scores = (
        f"flatten(transform({a}, {lv} -> transform({b}, {rv} -> "
        f"{_date_pair_score_one(lv, rv)})))"
    )
    best = (
        f"CASE WHEN size({a}) = 1 AND size({b}) = 1 "
        f"THEN coalesce({one}, 0.0D) "
        f"ELSE coalesce(array_max({scores}), 0.0D) END"
    )
    return f"CASE WHEN {_empty(a, b)} THEN {_NULL} ELSE {best} END"


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
    cols = set(pair_rows.columns)
    if "a_occupations_exp" in cols:
        a_occ, b_occ = "a_occupations_exp", "b_occupations_exp"
    else:
        a_occ = _expand_with_closure("a_occupations", occupation_closure or {})
        b_occ = _expand_with_closure("b_occupations", occupation_closure or {})
    if "a_url_tokens_nostop" in cols:
        a_ut, b_ut = "a_url_tokens_nostop", "b_url_tokens_nostop"
    else:
        a_ut = _without_url_stopwords("a_url_tokens")
        b_ut = _without_url_stopwords("b_url_tokens")
    band = ("a_name_tokens_band", "b_name_tokens_band")

    carried = (
        [c for c in RULE_COLUMNS if c in cols] if carry_rule_cols else []
    )
    features = {
        "name_exact": _exact_list_match("a_name", "b_name"),
        "name_lev": _lev_max_expr("a_name_tokens", "b_name_tokens"),
        "name_cos": _cosine_map_expr(
            "a_name_bigrams", "a_name_bigram_norm",
            "b_name_bigrams", "b_name_bigram_norm",
        ),
        "name_shared": _shared_tokens(
            "a_name_tokens", "b_name_tokens",
            sorted(simkernels.BAND_LOW_SCORE_WORDS),
            band_precomp=band if band[0] in cols else None,
        ),
        "url_exact": _exact_list_match("a_urls", "b_urls"),
        "url_tok_shared": _shared_ratio_min(a_ut, b_ut),
        "born_sim": _date_sim_expr("a_born_p", "b_born_p"),
        "died_sim": _date_sim_expr("a_died_p", "b_died_p"),
        "desc_cos": _cosine_map_expr(
            "a_desc_terms", "a_desc_norm", "b_desc_terms", "b_desc_norm",
        ),
        "occ_shared": _shared_ratio_min(a_occ, b_occ),
        "genre_shared": _shared_tokens("a_genres", "b_genres", []),
    }
    out = pair_rows.select(
        "url_a",
        "url_b",
        *carried,
        *[F.expr(f"{sql} AS {name}") for name, sql in features.items()],
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

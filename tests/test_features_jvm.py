"""JVM feature expressions vs the Python kernels (the tested oracles).

compute_features is 100% JVM-side expressions; the Python kernels in
functions.simkernels / functions.dates carry the reference parity
(tests/test_parity_*). This closes the loop: expression == kernel on every
candidate pair of the synthetic fixture, to float exactness.
"""

from __future__ import annotations

import math

import pytest

from soweego_spark.functions import dates as date_kernels
from soweego_spark.functions import simkernels
from soweego_spark.operators import blocking as blk
from soweego_spark.operators import pairfeatures as pf
from soweego_spark.operators.extract import extract_signatures
from soweego_spark.sources.pages import generate_pages, pages_to_spark


@pytest.fixture(scope="module")
def pair_rows_and_features(spark):
    fx = generate_pages(n_entities=120, seed=7)
    pages, *_ = pages_to_spark(spark, fx)
    sig = extract_signatures(pages).cache()
    pairs = blk.block_candidates(sig)
    pair_rows = pf.assemble_pairs(pairs, sig).cache()
    feats = pf.compute_features(pair_rows)
    joined = pair_rows.join(feats, ["url_a", "url_b"]).collect()
    assert len(joined) > 300
    return joined


def _close(a, b):
    if a is None or b is None:
        return (a or 0.0) == (b or 0.0)
    return math.isclose(a, b, rel_tol=0, abs_tol=1e-12)


def test_name_lev_matches_kernel(pair_rows_and_features):
    for r in pair_rows_and_features:
        truth = simkernels.levenshtein_max(r["a_name_tokens"], r["b_name_tokens"])
        assert _close(r["name_lev"], truth), (
            r["url_a"], r["url_b"], r["name_lev"], truth)


def test_name_cos_matches_kernel(pair_rows_and_features):
    for r in pair_rows_and_features:
        truth = simkernels.cosine_bow(
            r["a_name_tokens"], r["b_name_tokens"], analyzer="char_wb"
        )
        assert _close(r["name_cos"], truth), (
            r["url_a"], r["url_b"], r["name_cos"], truth)


def test_desc_cos_matches_kernel(pair_rows_and_features, spark):
    # description is deliberately NOT shipped through the pair join (only
    # the precomputed count maps are); fetch it separately for the oracle.
    fx = generate_pages(n_entities=120, seed=7)
    pages, *_ = pages_to_spark(spark, fx)
    sig = extract_signatures(pages)
    desc = {r["url"]: r["description"] for r in sig.select("url", "description").collect()}
    for r in pair_rows_and_features:
        da, db = desc.get(r["url_a"]), desc.get(r["url_b"])
        truth = simkernels.cosine_bow(
            [da] if da is not None else None,
            [db] if db is not None else None,
            analyzer="soweego",
        )
        assert _close(r["desc_cos"], truth), (
            r["url_a"], r["url_b"], r["desc_cos"], truth)


def _rows_to_tuples(cell):
    if cell is None:
        return None
    return [
        (v["y"], v["mo"], v["d"], v["h"], v["mi"], v["s"], v["depth"])
        for v in cell
        if v is not None
    ] or None


def test_date_sim_matches_kernel(pair_rows_and_features):
    for r in pair_rows_and_features:
        for side in ("born", "died"):
            truth = date_kernels.date_pair_score(
                _rows_to_tuples(r[f"a_{side}_p"]), _rows_to_tuples(r[f"b_{side}_p"])
            )
            assert _close(r[f"{side}_sim"], truth), (
                r["url_a"], r["url_b"], side, r[f"{side}_sim"], truth)


def test_jaro_winkler_kernel_published_values():
    """Kernel pinned to the published Winkler examples."""
    from soweego_spark.functions.simkernels import jaro, jaro_winkler

    assert abs(jaro("MARTHA", "MARHTA") - 0.9444444444) < 1e-9
    assert abs(jaro_winkler("MARTHA", "MARHTA") - 0.9611111111) < 1e-9
    assert abs(jaro("DIXON", "DICKSONX") - 0.7666666667) < 1e-9
    assert abs(jaro_winkler("DIXON", "DICKSONX") - 0.8133333333) < 1e-9
    assert jaro_winkler("same", "same") == 1.0
    assert jaro("abc", "xyz") == 0.0


def test_name_jw_feature_matches_kernel(spark):
    """The opt-in name_jw feature (Arrow-batched UDF) equals the kernel's
    cross-product max on assembled pair rows."""
    from pyspark.sql import functions as F

    from soweego_spark.functions.simkernels import jaro_winkler_max
    from soweego_spark.operators.pairfeatures import (
        assemble_pairs,
        compute_features,
    )

    sig = spark.createDataFrame(
        [
            ("u1", ["martha", "stewart"]),
            ("u2", ["marhta", "stuart"]),
            ("u3", ["dixon"]),
            ("u4", None),
        ],
        "url string, name_tokens array<string>",
    ).select(
        "url", "name_tokens",
        F.col("name_tokens").alias("name"),
        F.lit(None).cast("array<string>").alias("urls"),
        F.lit(None).cast("array<string>").alias("url_tokens"),
        F.lit(None).cast("array<struct<y:int,mo:int,d:int,h:int,mi:int,s:int,depth:int>>").alias("born_p"),
        F.lit(None).cast("array<struct<y:int,mo:int,d:int,h:int,mi:int,s:int,depth:int>>").alias("died_p"),
        F.lit(None).cast("array<string>").alias("occupations"),
        F.lit(None).cast("array<string>").alias("genres"),
        F.lit(None).cast("map<string,int>").alias("name_bigrams"),
        F.lit(None).cast("double").alias("name_bigram_norm"),
        F.lit(None).cast("map<string,int>").alias("desc_terms"),
        F.lit(None).cast("double").alias("desc_norm"),
    )
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u1", "u3"), ("u1", "u4")],
        "url_a string, url_b string",
    )
    rows = assemble_pairs(pairs, sig)
    got = {
        (r["url_a"], r["url_b"]): r["name_jw"]
        for r in compute_features(rows, include_jw=True).collect()
    }
    toks = {"u1": ["martha", "stewart"], "u2": ["marhta", "stuart"],
            "u3": ["dixon"], "u4": None}
    for (a, b), v in got.items():
        truth = jaro_winkler_max(toks[a], toks[b])
        if truth is None:
            assert v == 0.0  # missing-value fill
        else:
            assert abs(v - truth) < 1e-12, (a, b, v, truth)


def _fixture_sig(spark):
    """Six signature rows with name, URL and occupation tokens (band words,
    stop words, empty and null sides); the other columns null."""
    from pyspark.sql import functions as F

    date = "array<struct<y:int,mo:int,d:int,h:int,mi:int,s:int,depth:int>>"
    return spark.createDataFrame(
        [
            ("u1", ["band", "club", "martha"], ["www", "ada", "com"], ["Q1"]),
            ("u2", ["band", "club", "marhta"], ["www", "com", "eve"], ["Q2"]),
            ("u3", ["band", "dixon"], ["ada", "lovelace"], ["Q2", "Q3"]),
            ("u4", ["dixon", "zz"], None, None),
            ("u5", [], [], []),
            ("u6", None, None, None),
        ],
        "url string, name_tokens array<string>, url_tokens array<string>, "
        "occupations array<string>",
    ).select(
        "url", "name_tokens", "url_tokens", "occupations",
        F.col("name_tokens").alias("name"),
        F.lit(None).cast("array<string>").alias("urls"),
        F.lit(None).cast("array<string>").alias("genres"),
        F.lit(None).cast(date).alias("born_p"),
        F.lit(None).cast(date).alias("died_p"),
        F.lit(None).cast("map<string,int>").alias("name_bigrams"),
        F.lit(None).cast("double").alias("name_bigram_norm"),
        F.lit(None).cast("map<string,int>").alias("desc_terms"),
        F.lit(None).cast("double").alias("desc_norm"),
    )


def test_name_shared_band_hoist_matches_fallback(spark):
    """r7: the per-DOCUMENT hoists of assemble_pairs (band tokens, URL
    stop words, closure-expanded occupations) must score identically to
    compute_features' per-pair fallback over raw a_*/b_* rows, with and
    without an occupation closure — including pairs whose intersection
    contains band words, empty sides, and nulls."""
    from pyspark.sql import functions as F

    sig = _fixture_sig(spark)
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u1", "u3"), ("u2", "u3"), ("u3", "u4"),
         ("u4", "u5"), ("u5", "u6"), ("u1", "u6")],
        "url_a string, url_b string",
    )
    raw = pairs.join(
        sig.select(F.col("url").alias("url_a"),
                   *[F.col(c).alias(f"a_{c}") for c in sig.columns]),
        "url_a",
    ).join(
        sig.select(F.col("url").alias("url_b"),
                   *[F.col(c).alias(f"b_{c}") for c in sig.columns]),
        "url_b",
    )
    closure = {"Q1": ["Q1", "Q2"], "Q3": ["Q3", "Q'4"]}

    def features(rows, occ):
        out = pf.compute_features(rows, occupation_closure=occ)
        return {
            (r["url_a"], r["url_b"]): [r[c] for c in pf.FEATURE_COLUMNS]
            for r in out.collect()
        }

    scored = {}
    for occ in (None, closure):
        rows = pf.assemble_pairs(pairs, sig, occupation_closure=occ)
        assert "a_name_tokens_band" in rows.columns
        hoisted, fallback = features(rows, occ), features(raw, occ)
        assert set(hoisted) == set(fallback)
        for k in hoisted:
            assert all(map(_close, hoisted[k], fallback[k])), (
                k, hoisted[k], fallback[k])
        scored[bool(occ)] = hoisted[("u1", "u2")]
    name_i, url_i, occ_i = (pf.FEATURE_COLUMNS.index(c) for c in
                            ("name_shared", "url_tok_shared", "occ_shared"))
    # the penalty actually fires on this fixture (u1-u2 share 2 band
    # words: inter={band,club}, union size 4 -> (2 - 2*0.9)/4)
    assert _close(scored[False][name_i], (2 - 2 * 0.9) / 4)
    assert scored[False][url_i] == 0.0  # www and com are stop words
    # Q1 -> {Q1, Q2} meets u2's Q2 only through the closure
    assert scored[False][occ_i] == 0.0 and scored[True][occ_i] == 1.0


def test_sql_text_word_filters_match_isin(spark):
    """assemble_pairs' SQL-text stop-word and band filters return, row for
    row, what ``F.filter`` with ``isin`` over the same word lists returns:
    the empty token, mixed-case stop words, a null array and a null
    element included. Both SQL filters share ONE projection, where
    same-named sibling lambdas would be mis-bound."""
    from pyspark.sql import functions as F

    from soweego_spark.functions.textnorm import URL_STOPWORDS

    url_stop = sorted(URL_STOPWORDS)
    band = sorted(simkernels.BAND_LOW_SCORE_WORDS)
    assert {"", "Mr", "mr", "GRid"} <= set(url_stop)
    assert "grid" not in url_stop
    df = spark.createDataFrame(
        [
            (["", "Mr", "mr", "GRid", "grid", "ada"], ["band", "Band", "", "ada"]),
            ([None, "www", "lovelace"], [None, "jazz", "trio", "lovelace"]),
            (None, None),
            ([], []),
        ],
        "url_tokens array<string>, name_tokens array<string>",
    )
    got = df.select(
        F.expr(pf._without_url_stopwords("url_tokens")).alias("u"),
        F.expr(pf._band_tokens("name_tokens")).alias("b"),
    ).collect()
    want = df.select(
        F.filter("url_tokens", lambda t: ~t.isin(url_stop)).alias("u"),
        F.filter("name_tokens", lambda t: t.isin(band)).alias("b"),
    ).collect()
    assert got == want
    assert got[0]["u"] == ["grid", "ada"]
    assert got[1]["b"] == ["jazz", "trio"]


def test_sql_literal_escaper(spark):
    """A planted word with a quote and one with a backslash survive the
    round trip through SQL text, in a literal and in an IN list."""
    from pyspark.sql import functions as F

    words = ["it's", "back\\slash", "''", "\\'", "plain"]
    for w in words:
        assert spark.sql(f"SELECT {pf._sql_string(w)} AS w").first()["w"] == w
    toks = words + ["its", "backslash", "'", "\\"]
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    kept = df.select(
        F.expr(f"filter(toks, tok_v -> tok_v IN ({pf._sql_in_list(words)}))")
    ).first()[0]
    assert kept == words


def test_closure_expansion_matches_column_build(spark):
    """The SQL-text occupation closure expands exactly as the same map
    built from Column literals: codes with a quote, a code outside the
    closure, empty and null arrays."""
    from pyspark.sql import functions as F

    closure = {"Q1": ["Q1", "Q2"], "Q3": ["Q3", "Q'4"]}
    closure_map = F.map_from_entries(F.array(*[
        F.struct(F.lit(code).alias("key"),
                 F.array(*[F.lit(r) for r in rel]).alias("value"))
        for code, rel in closure.items()
    ]))
    occ = F.col("occupations")
    want_col = F.when(occ.isNull(), None).otherwise(F.array_distinct(F.flatten(
        F.filter(
            F.transform(occ, lambda c: F.coalesce(closure_map[c],
                                                  F.array(c))),
            lambda arr: arr.isNotNull(),
        )
    )))
    sig = _fixture_sig(spark)
    got = sig.select(
        "url", F.expr(pf._expand_with_closure("occupations", closure)).alias("o")
    ).collect()
    want = sig.select("url", want_col.alias("o")).collect()
    assert got == want
    assert dict(got)["u3"] == ["Q2", "Q3", "Q'4"]

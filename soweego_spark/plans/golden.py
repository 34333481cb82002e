"""Golden-sample evaluation: the reference's frozen IMDb fixtures, end to
end through the real linker path.

The reference ships its actual working files in ``samples/``:
``wikidata_imdb_{actor,director,musician,producer,writer}_{training,
classification}_set.jsonl.gz`` are the cached Wikidata training sets its
``build_wikidata`` writes (linker/workflow.py:46-123 -> these exact
files), and ``imdb_people.tsv.gz`` is the matching IMDb name-basics
subset. This module replays the reference's training-set construction
(train.py:150-229) Spark-first:

  S6 JSONL scan -> preprocess_wikidata (workflow.py:182-253)
  S1 TSV scan   -> per-profession flavor (imdb_dump_extractor.py:170-398,
                   via sources.catalogs.imdb_person_tables)
                -> preprocess_target (workflow.py:256-320)
  FTS blocking  -> top-5 per QID (blocking.py:44-166)
  C1-C7 features over (QID, tid) pairs (workflow.py:323-433)
  clf.TRAINERS  -> 5-fold evaluation (evaluate.py:357-396)

so the published per-profession scores (docs/evaluations.rst:78-87, e.g.
IMDb director NB F1 .932) can be reproduced beside ours on identical
input data.

Documented deviations (all order-determinism or environment, not
semantics):

* MariaDB natural-language FTS relevance is replicated as an IDF-sum
  over shared name tokens with a deterministic tie-break; per
  BASELINE.json, blocking recall differences are non-penalizing (and the
  reference's own protocol evaluates only positives the blocker
  retrieved, train.py:219-225 + evaluate.py:375-377).
* The stratified 5-fold with seed 610 becomes a pinned hash split on the
  (QID, tid) pair key — the order-invariant distributed equivalent.
* SharedOccupations' ontology-closure expansion needs live SPARQL
  (features.py:63-71); offline it degrades to identity expansion.
* The sample ``imdb_people.tsv.gz`` is a mangled export: the header row
  is space-separated and person names are split across tab fields (2-5
  name fields per row). :func:`repair_imdb_people` reassembles rows by
  anchoring on the trailing ``birthYear/deathYear/primaryProfession/
  knownForTitles`` field shapes — 2467/2467 rows parse, ~99%% of the
  training tids are covered.

Everything below is ordinary DataFrame algebra + the existing
Arrow-batched kernels; the only collect is the labeled feature matrix
(bounded by |wd items| * top_k, the reference's own training protocol).
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from soweego_spark.functions import dates, simkernels
from soweego_spark.functions.text import normalize_values, tokenize_values
from soweego_spark.operators import classify as clf
from soweego_spark.operators import pins
from soweego_spark.operators.evaluate import _fold_counts
from soweego_spark.operators.pairfeatures import (
    FEATURE_MISSING_VALUE,
    _date_sim_expr,
    _exact_list_match,
    _lev_max_expr,
    _cosine_map_expr,
    _shared_ratio_min,
    _shared_tokens,
)
from soweego_spark.sources.catalogs import imdb_person_tables
from soweego_spark.sources.readers import read_jsonl

SAMPLES_DIR = "/root/reference/samples"

PROFESSIONS = ["actor", "director", "musician", "producer", "writer"]
_ENTITY_TABLE = {
    "actor": "actors",
    "director": "directors",
    "musician": "musicians",
    "producer": "producers",
    "writer": "writers",
}

# The features active for IMDb people: columns present on BOTH sides
# (workflow.py:368-433 `in_both_datasets`) — no URLs, descriptions, or
# genres on the IMDb side, so those extractors are skipped.
GOLDEN_FEATURES = [
    "name_exact",
    "name_lev",
    "name_cos",
    "name_shared",
    "born_sim",
    "died_sim",
    "occ_shared",
]

_DATE_PARTS = StructType(
    [StructField(n, IntegerType())
     for n in ["y", "mo", "d", "h", "mi", "s", "depth"]]
)

# [ts, precision] pairs as the JSONL carries them ("1977-02-08T00:00:00Z",
# 11); the JSON reader coerces the numeric precision to string. The
# secondary name fields feed the link-time full-names rule
# (link.py:325-342 unions every NAME_FIELD); classification sets carry
# no tid and absent fields read as NULL.
_WD_SCHEMA = StructType(
    [
        StructField("qid", StringType()),
        StructField("tid", ArrayType(StringType())),
        StructField("name", ArrayType(StringType())),
        StructField("born", ArrayType(ArrayType(StringType()))),
        StructField("died", ArrayType(ArrayType(StringType()))),
        StructField("occupations", ArrayType(StringType())),
        StructField("given_name", ArrayType(StringType())),
        StructField("family_name", ArrayType(StringType())),
        StructField("birth_name", ArrayType(StringType())),
        StructField("pseudonym", ArrayType(StringType())),
        StructField("real_name", ArrayType(StringType())),
        StructField("alias", ArrayType(StringType())),
    ]
)

_WD_NAME_FIELDS = [
    "name", "alias", "birth_name", "family_name", "given_name",
    "pseudonym", "real_name",
]


@F.pandas_udf(ArrayType(_DATE_PARTS))
def _parse_wd_dates(col: pd.Series) -> pd.Series:
    """ARRAY<[ts, precision]> -> parsed date structs (workflow.py:673-719
    via the parity-tested dates.parse_date kernel)."""

    def _one(pairs):
        if pairs is None:
            return None
        out = []
        for p in pairs:
            if p is None or len(p) < 2 or p[0] is None or p[1] is None:
                continue
            try:
                prec = int(p[1])
            except ValueError:
                continue
            parsed = dates.parse_date(p[0], prec)
            if parsed is not None:
                keys = ["y", "mo", "d", "h", "mi", "s", "depth"]
                out.append(dict(zip(keys, parsed)))
        return out or None

    return col.map(_one)


_BIGRAM_STRUCT = StructType(
    [
        StructField("counts", MapType(StringType(), IntegerType())),
        StructField("norm", DoubleType()),
    ]
)


@F.pandas_udf(_BIGRAM_STRUCT)
def _bigram_counts(col: pd.Series) -> pd.DataFrame:
    """char_wb 2-gram counts + L2 norm of a joined token string — the C3
    string-kernel-cosine precomputation (one pass per document, so the
    per-pair cosine stays pure JVM map arithmetic). Struct-returning
    pandas UDFs must yield a DataFrame with one column per field."""
    counts_out, norms_out = [], []
    for s in col:
        counts = (
            simkernels._count(simkernels._char_wb_bigrams(s)) if s else None
        )
        if counts:
            counts_out.append(counts)
            norms_out.append(sum(n * n for n in counts.values()) ** 0.5)
        else:
            counts_out.append(None)
            norms_out.append(None)
    return pd.DataFrame({"counts": counts_out, "norm": norms_out})


# ---------------------------------------------------------------- readers


def read_wikidata_set(
    spark: SparkSession, samples_dir: str, profession: str,
    goal: str = "training",
) -> DataFrame:
    path = os.path.join(
        samples_dir, f"wikidata_imdb_{profession}_{goal}_set.jsonl.gz"
    )
    return read_jsonl(spark, path, schema=_WD_SCHEMA)


def repair_imdb_people(spark: SparkSession, samples_dir: str) -> DataFrame:
    """Reassemble the mangled sample TSV into the six name-basics columns.

    Layout anchor, scanning from the row end: ``knownForTitles`` is a
    tt-id list or ``\\N``; ``primaryProfession`` a comma list of
    ``[a-z_]`` slugs or ``\\N``; birth/death years are ``\\d{1,4}`` or
    ``\\N``. Rows missing the profession field entirely (31 of 2467)
    anchor on the 3-trailing-field layout and load with a NULL
    profession, which the flavor then skips — the reference skips
    no-profession people too (imdb_dump_extractor.py:382).

    Pure column program (split/slice/rlike): the repair runs JVM-side at
    scan parallelism, no Python.
    """
    lines = (
        spark.read.text(os.path.join(samples_dir, "imdb_people.tsv.gz"))
        .filter(~F.col("value").startswith("nconst"))
    )
    fs = F.split(F.col("value"), "\t")
    n = F.size(fs)

    year_re = r"^(\d{1,4}|\\N)$"
    prof_re = r"^([a-z_]+(,[a-z_]+)*|\\N)$"
    tt_re = r"^(tt\d+(,tt\d+)*|\\N)$"

    def at(i):  # 1-based from the end
        return F.element_at(fs, -i)

    layout_a = (
        (n >= 6)
        & at(4).rlike(year_re) & at(3).rlike(year_re)
        & at(2).rlike(prof_re) & at(1).rlike(tt_re)
    )
    layout_b = (
        (n >= 5)
        & at(3).rlike(year_re) & at(2).rlike(year_re) & at(1).rlike(tt_re)
    )

    def null_n(c):
        return F.nullif(c, F.lit("\\N"))

    name_a = F.array_join(F.slice(fs, 2, n - 5), " ")
    name_b = F.array_join(F.slice(fs, 2, n - 4), " ")
    out = (
        lines.filter(layout_a | layout_b)
        .select(
            F.element_at(fs, 1).alias("nconst"),
            F.when(layout_a, name_a).otherwise(name_b).alias("primaryName"),
            null_n(F.when(layout_a, at(4)).otherwise(at(3)))
            .alias("birthYear"),
            null_n(F.when(layout_a, at(3)).otherwise(at(2)))
            .alias("deathYear"),
            F.when(layout_a, null_n(at(2))).alias("primaryProfession"),
            null_n(at(1)).alias("knownForTitles"),
        )
    )
    return out


# ----------------------------------------------------------- preprocessing


def preprocess_wikidata_golden(wd: DataFrame) -> DataFrame:
    """workflow.preprocess_wikidata for the golden fields: first tid per
    QID (training mode), normalized name set, token-set union over name
    values (default English stop list), parsed date lists, occupation
    QIDs as a sorted set, plus the C3 bigram precompute."""
    toks = tokenize_values(F.col("name"))
    # union of every NAME_FIELD's normalized values — the link-time
    # full-names rule's wd side (link.py:325-342)
    all_names = normalize_values(
        F.concat(
            *[
                F.coalesce(F.col(c), F.array().cast("array<string>"))
                for c in _WD_NAME_FIELDS
            ]
        )
    )
    return wd.select(
        F.col("qid"),
        F.element_at("tid", 1).alias("tid_positive"),
        normalize_values(F.col("name")).alias("name"),
        toks.alias("name_tokens"),
        _parse_wd_dates(F.col("born")).alias("born_p"),
        _parse_wd_dates(F.col("died")).alias("died_p"),
        F.array_sort(F.array_distinct("occupations")).alias("occupations"),
        all_names.alias("all_names"),
        _bigram_counts(F.array_join(toks, " ")).alias("_bg"),
    ).select(
        "*",
        F.col("_bg.counts").alias("name_bigrams"),
        F.col("_bg.norm").alias("name_bigram_norm"),
    ).drop("_bg")


def preprocess_target_golden(person_table: DataFrame) -> DataFrame:
    """workflow.preprocess_target over one flavor table.

    IMDb catalog ids are unique per table (verified: no duplicate nconst
    in the sample), so the reference's groupby-tid set aggregation
    degenerates to per-row lists. Two token views are carried because the
    reference's features read the SAME stored column differently:

    * ``name_tokens`` — the split token SET (SharedTokens splits each
      stored value on whitespace, features.py:449-451);
    * ``name_tokens_joined`` — the stored space-joined string as a
      one-element list (SimilarStrings iterates raw list VALUES,
      features.py:235-247, so max-Levenshtein compares each Wikidata
      token against the whole joined string).
    """
    prec_depth = F.create_map(
        F.lit(9), F.lit(0), F.lit(10), F.lit(1), F.lit(11), F.lit(2)
    )

    def date_parts(date_col, prec_col):
        d = F.col(date_col)
        struct = F.struct(
            F.year(d).alias("y"),
            F.month(d).alias("mo"),
            F.dayofmonth(d).alias("d"),
            F.lit(0).alias("h"),
            F.lit(0).alias("mi"),
            F.lit(0).alias("s"),
            F.try_element_at(prec_depth, F.col(prec_col)).alias("depth"),
        )
        return F.when(
            d.isNotNull() & F.col(prec_col).isNotNull(), F.array(struct)
        )

    occ = F.filter(
        F.split(F.col("occupations"), " "), lambda t: t != F.lit("")
    )
    return person_table.select(
        F.col("catalog_id").alias("tid"),
        normalize_values(F.array(F.col("name"))).alias("name"),
        F.when(
            F.col("name_tokens").isNotNull(),
            F.split("name_tokens", " "),
        ).alias("name_tokens"),
        F.when(
            F.col("name_tokens").isNotNull(),
            F.array(F.col("name_tokens")),
        ).alias("name_tokens_joined"),
        date_parts("born", "born_precision").alias("born_p"),
        date_parts("died", "died_precision").alias("died_p"),
        F.when(occ.isNotNull() & (F.size(occ) > 0), occ).alias("occupations"),
        F.col("name_tokens").alias("_joined"),
    ).select(
        "*",
        _bigram_counts(F.col("_joined")).alias("_bg"),
    ).select(
        "tid", "name", "name_tokens", "name_tokens_joined",
        "born_p", "died_p", "occupations",
        F.col("_bg.counts").alias("name_bigrams"),
        F.col("_bg.norm").alias("name_bigram_norm"),
    )


def golden_target(spark: SparkSession, samples_dir: str,
                  profession: str) -> DataFrame:
    people = repair_imdb_people(spark, samples_dir)
    table = imdb_person_tables(people)[_ENTITY_TABLE[profession]]
    return preprocess_target_golden(table)


# ---------------------------------------------------------------- blocking


def block_golden(
    wd: DataFrame, tgt: DataFrame, top_k: int = 5, token_df_cap: int = 1000
) -> DataFrame:
    """Bipartite name-token blocking: the Spark stand-in for the MariaDB
    natural-language full-text LIMIT-5 query per Wikidata item
    (blocking.py:136-142, data_gathering.py:60-85).

    Inverted index over the target's name tokens, equi-joined to the
    exploded Wikidata tokens; relevance = sum of ln(N/df) over shared
    tokens (the IDF family MariaDB ranks with), top-k per QID with a
    deterministic tid tie-break. The over-cap hot-token list is removed
    with a broadcast anti join (never the under-cap vocabulary).
    """
    tidx = tgt.select("tid", F.explode("name_tokens").alias("token"))
    n_docs = tgt.count()
    df_counts = tidx.groupBy("token").agg(F.count("*").alias("df"))
    hot = df_counts.filter(F.col("df") > token_df_cap).select("token")
    tidx = (
        tidx.join(F.broadcast(hot), "token", "left_anti")
        .join(df_counts, "token")
        .withColumn("idf", F.log(F.lit(float(n_docs)) / F.col("df")))
    )
    widx = wd.filter(F.col("name_tokens").isNotNull()).select(
        "qid", F.explode("name_tokens").alias("token")
    )
    scored = (
        widx.join(tidx, "token")
        .groupBy("qid", "tid")
        .agg(F.sum("idf").alias("fts_score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("fts_score"), F.asc("tid")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("qid", "tid")
    )


# ---------------------------------------------------------------- features


def _jw_column(a_col: str, b_col: str):
    """Opt-in Jaro-Winkler feature (the north-star pairs JW with
    Levenshtein for name scoring): best JW over the same raw-value cross
    product name_lev uses. No Catalyst built-in exists, so this is the
    prescribed Arrow-batched pandas-UDF path."""

    def _jw(a: pd.Series, b: pd.Series) -> pd.Series:
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

    return F.pandas_udf(_jw, DoubleType())(F.col(a_col), F.col(b_col))


def golden_features(
    pairs: DataFrame, wd: DataFrame, tgt: DataFrame,
    include_jw: bool = False,
) -> DataFrame:
    """C1-C7 restricted to the columns both sides carry: the 3-way
    pair-assembly join + one feature projection, all JVM expressions
    (plus the opt-in pandas-UDF JW column when ``include_jw``)."""
    a = wd.select(
        F.col("qid"),
        *[
            F.col(c).alias(f"a_{c}")
            for c in [
                "name", "name_tokens", "born_p", "died_p", "occupations",
                "name_bigrams", "name_bigram_norm",
            ]
        ],
    )
    b = tgt.select(
        F.col("tid"),
        *[
            F.col(c).alias(f"b_{c}")
            for c in [
                "name", "name_tokens", "name_tokens_joined",
                "born_p", "died_p", "occupations",
                "name_bigrams", "name_bigram_norm",
            ]
        ],
    )
    rows = pairs.join(a, "qid").join(b, "tid")
    band_words = sorted(simkernels.BAND_LOW_SCORE_WORDS)
    out = rows.select(
        "qid",
        "tid",
        _exact_list_match(F.col("a_name"), F.col("b_name"))
        .alias("name_exact"),
        # the reference compares raw list VALUES: wd tokens x the stored
        # joined string (features.py:235-247)
        _lev_max_expr(F.col("a_name_tokens"), F.col("b_name_tokens_joined"))
        .alias("name_lev"),
        _cosine_map_expr(
            F.col("a_name_bigrams"), F.col("a_name_bigram_norm"),
            F.col("b_name_bigrams"), F.col("b_name_bigram_norm"),
        ).alias("name_cos"),
        _shared_tokens(
            F.col("a_name_tokens"), F.col("b_name_tokens"), band_words
        ).alias("name_shared"),
        _date_sim_expr(F.col("a_born_p"), F.col("b_born_p"))
        .alias("born_sim"),
        _date_sim_expr(F.col("a_died_p"), F.col("b_died_p"))
        .alias("died_sim"),
        _shared_ratio_min(F.col("a_occupations"), F.col("b_occupations"))
        .alias("occ_shared"),
        *(
            [_jw_column("a_name_tokens", "b_name_tokens_joined")
             .alias("name_jw")]
            if include_jw
            else []
        ),
    )
    subset = GOLDEN_FEATURES + (["name_jw"] if include_jw else [])
    return out.fillna(FEATURE_MISSING_VALUE, subset=subset)


def build_golden_training_set(
    spark: SparkSession,
    profession: str,
    samples_dir: str = SAMPLES_DIR,
    top_k: int = 5,
    include_jw: bool = False,
) -> DataFrame:
    """train.build_training_set: blocked pairs with features + label
    (1 iff the target id is the Wikidata-declared one for that QID).
    Positives the blocker misses are absent, like the reference's
    (train.py:219-225; its evaluation scores positives ∩ dataset only).

    The pinned wd/tgt frames belong to the caller's ``pins.scope()``:
    close it after collecting, or 5 professions hold ~10 frames.
    """
    wd = pins.persist(preprocess_wikidata_golden(
        read_wikidata_set(spark, samples_dir, profession)
    ))
    tgt = pins.persist(golden_target(spark, samples_dir, profession))
    pairs = block_golden(wd, tgt, top_k=top_k)
    feats = golden_features(pairs, wd, tgt, include_jw=include_jw)
    labels = wd.select("qid", F.col("tid_positive"))
    return feats.join(labels, "qid", "left").withColumn(
        "label",
        (F.col("tid") == F.col("tid_positive")).cast("int")
    ).fillna(0, subset=["label"]).drop("tid_positive")


def link_golden(
    spark: SparkSession,
    profession: str,
    classifier: str = "naive_bayes",
    samples_dir: str = SAMPLES_DIR,
    threshold: float = clf.CONFIDENCE_THRESHOLD,
    top_k: int = 5,
    name_rule: bool = True,
    goal: str = "classification",
) -> DataFrame:
    """The flagship *link* flow on the golden fixtures (link.py:162-223):
    train on the training set, block + featurize + score the ``goal``
    set (classification = wd items lacking the IMDb PID — the files
    carry no tid), apply the full-names rule (score forced to 0 when the
    union of the item's normalized NAME_FIELD values is disjoint from
    the target's normalized name, link.py:325-342; the wikidata-URL rule
    is vacuous for IMDb, whose target has no URLs), filter by the
    confidence threshold, and return unique (qid, tid, score)
    predictions — the rows the S11 links-CSV sink writes.

    NOTE on the classification goal: the sample ``imdb_people.tsv.gz``
    holds (nearly) only the TRAINING items' people, so classification
    items have no true counterpart present and the correct output is a
    near-empty prediction set — the classifier + name rule rejecting the
    blocker's same-name candidates IS the behavior under test there.
    ``goal='training'`` links items whose truth is present (in-sample,
    so a flow check, not a generalization score).

    The returned predictions are a checkpoint in the caller's scope.
    """
    # train on the FULL training set (the reference's `linker train`)
    with pins.scope():
        X, y = clf.collect_training_matrix(
            build_golden_training_set(spark, profession, samples_dir, top_k),
            None,
            GOLDEN_FEATURES,
        )
    model = trainer(classifier)(X, y, GOLDEN_FEATURES)

    wd = pins.persist(preprocess_wikidata_golden(
        read_wikidata_set(spark, samples_dir, profession, goal=goal)
    ))
    tgt = pins.persist(golden_target(spark, samples_dir, profession))
    pairs = block_golden(wd, tgt, top_k=top_k)
    # pinned: a broadcast-scored model needs plain feature columns
    feats = pins.persist(golden_features(pairs, wd, tgt))
    scored = clf.score(feats, model)
    if name_rule:
        names_ok = (
        pairs.join(wd.select("qid", "all_names"), "qid")
            .join(
                tgt.select("tid", F.col("name").alias("t_names")), "tid"
            )
            .select(
                "qid", "tid",
                F.arrays_overlap("all_names", "t_names").alias("_names_ok"),
            )
        )
        scored = scored.join(names_ok, ["qid", "tid"], "left").withColumn(
            "score",
            F.when(
                F.coalesce(F.col("_names_ok"), F.lit(False)), F.col("score")
            ).otherwise(F.lit(0.0)),
        ).drop("_names_ok")
    preds = (
        scored.filter(F.col("score") >= threshold)
        .select("qid", "tid", "score")
    )
    # materialize the (tiny, threshold-filtered) prediction set so the
    # goal-set feats/wd/tgt pins can be released here instead of leaking into
    # the caller's session (ADVICE round-6)
    preds = pins.checkpoint(preds)
    for df in (feats, wd, tgt):
        pins.release(df)
    return preds


# --------------------------------------------------------------- evaluation

# The published protocol's hyper-parameters (docs/evaluations.rst:17-31)
# where they differ from the linker's defaults: the published 'SVM' rows
# are libsvm SVC with a LINEAR kernel and Platt probabilities.
_PROTOCOL = {
    "naive_bayes": {"binarize": 0.1},
    "svc": {"kernel": "linear"},
}


def trainer(name: str):
    """``clf.TRAINERS[name]`` with the published protocol's overrides."""
    return functools.partial(clf.TRAINERS[name], **_PROTOCOL.get(name, {}))


def evaluate_golden(
    spark: SparkSession,
    profession: str,
    classifiers: list[str] = ("naive_bayes",),
    samples_dir: str = SAMPLES_DIR,
    k: int = 5,
    threshold: float = clf.CONFIDENCE_THRESHOLD,
    include_jw: bool = False,
) -> dict:
    """5-fold evaluation over one profession's golden training set.

    Mirrors the reference's _average_k_fold (evaluate.py:357-396):
    per-fold precision/recall/F1 against the positives present in the
    fold, means and stds across folds. The labeled matrix collect is
    bounded by |wd items| * top_k.
    """
    feats = GOLDEN_FEATURES + (["name_jw"] if include_jw else [])
    with pins.scope():
        X, y, folds = clf.collect_training_matrix(
            build_golden_training_set(
                spark, profession, samples_dir, top_k=5, include_jw=include_jw
            ),
            None,
            feats,
            on=("qid", "tid"),
            folds=k,
        )

    out = {"profession": profession, "pairs": int(len(y)),
           "positives": int(y.sum())}
    for name in classifiers:
        train = functools.partial(trainer(name), features=feats)
        p, r, f = np.array([
            clf.precision_recall_f1(*c)
            for c in _fold_counts(X, y, folds, k, train, threshold)
        ]).T
        out[name] = {
            "precision": float(np.mean(p)),
            "precision_std": float(np.std(p)),
            "recall": float(np.mean(r)),
            "recall_std": float(np.std(r)),
            "f1": float(np.mean(f)),
            "f1_std": float(np.std(f)),
        }
    return out

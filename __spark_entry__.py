"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator family from SURVEY.md §2 as
a named query over the driver's TPC-H-ish parquet tables; ``oracle_sql()``
gives the DuckDB-equivalent ANSI SQL. Float-valued outputs are rounded in
BOTH engines so the driver's value-hash comparison is arithmetic-noise-free.

Operator coverage map (SURVEY.md §2 -> query):
  B1/T1 token inverted-index blocking + per-key top-k -> token_blocking_topk
  A1    group-by collect_set                          -> group_collect
  J6    anti join (dead ids)                          -> anti_join_dead_ids
  T1/T2 top-k per key / first-of-duplicates           -> topk_per_key,
                                                         threshold_dedup
  P4/P5 threshold + dedup                             -> threshold_dedup
  SO1   per-key set algebra (shared/extra/missing)    -> set_validation
  J5    relationship two-hop join                     -> relationship_join
  J3    perfect-name equi-join                        -> perfect_name_join
  A4    confusion matrix / P / R / F1                 -> confusion_matrix
  A6    domain frequency table                        -> domain_frequency
  SO3   prediction union + dedup                      -> union_dedup
  F6/F7 date precision matching                       -> date_precision_match
  C5    shared-token weighted overlap                 -> token_jaccard_neardup
  dedup exact dedup (hash groupBy)                    -> exact_dedup
  dedup MinHash LSH near-dup (md5 family, oracled)    -> minhash_lsh_neardup
  dedup SimHash near-dup (md5 family, oracled)        -> simhash_neardup
  ANN   brute-force cosine top-k (BLAS broadcast)     -> embedding_topk
  ANN   cosine near-dup pairs (BLAS broadcast)        -> embedding_neardup
  ANN   hyperplane-LSH near-dup (plane-literal oracle)-> embedding_lsh_neardup
  ANN   IVF probe top-k (centroid-literal oracle)   -> embedding_ivf_topk
  text  language-ID heuristic                         -> lang_id
  text  quality scoring                               -> quality_score
  text  token counting                                -> token_count
  text  document fingerprint                          -> doc_fingerprint
  strm  event-time windowed aggregation               -> windowed_events
  F5    external-id extraction (formatter catalog)     -> external_id_extraction
  SO2   bio claim/date validation (greedy matching)    -> bio_validation,
                                                         bio_dates_validation
  P7    URL domain blacklist anti join                 -> url_blacklist
  J1    3-table outer join                             -> three_way_outer_join
  text  n-gram-profile language ID (Cavnar/Trenkle)    -> lang_id_ngram
  B2/J4 subset-token containment (symmetric skew caps) -> subset_containment
  C1-C9 11-feature reference-parity vector             -> pair_features
  M2/P4 IRLS logistic train+score (weight literals)    -> logistic_score
  S13   wikidata-bot claim decision matrix             -> statement_plan
  S14   mix'n'match entry construction                 -> mnm_entries
  S13   delete/deprecate identifier planning           -> identifier_actions
  text  Gopher repetition/quality filters              -> gopher_quality
  text  email/IP/phone PII scrubbing                   -> pii_scrub
  strm  gap sessionization (batch face)                -> sessionize
  eval  pairwise cluster P/R/F1 (sufficient stats)     -> cluster_metrics
  dedup incremental new-batch-vs-corpus near-dedup     -> incremental_neardup
  dedup exact sequential-greedy within-batch dedup     -> incremental_neardup_exact
  S1-S3 IMDb per-catalog extraction flavor             -> imdb_person_flavor
  S1-S3 MusicBrainz relational extraction flavor       -> musicbrainz_artist_flavor
  S1-S3 Discogs masters extraction flavor              -> discogs_master_flavor
  S1-S3 Discogs artists extraction flavor              -> discogs_artist_flavor
  S1-S3 MusicBrainz url-link assembly flavor           -> musicbrainz_links_flavor

The full record-linkage pipeline (blocking + features + classifier + CC
clustering over the synthetic pages table) is exercised by the pytest suite
(tests/test_pipeline_e2e.py); ``entry`` runs its document-dedup flagship.
Components with no SQL-oracle shape are pytest-verified instead:
Structured Streaming plans (soweego_spark/streaming/events.py,
tests/test_streaming.py), validator/enricher set algebra
(operators/validator.py, tests/test_validator.py), checkpoint resume
(plans/checkpoint.py, tests/test_checkpoint_resume.py), sources
(sources/readers.py, tests/test_sources.py).
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# soweego_spark lives next to this file; make imports work regardless of
# the driver's cwd.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- tokens

def _doc_tokens(docs: DataFrame) -> DataFrame:
    """doc_id, token — distinct non-empty whitespace tokens, lowercased."""
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias(
                "token"
            ),
        )
        .filter(F.col("token") != "")
    )


_DOC_TOKENS_SQL = """
    SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS token
    FROM documents
"""


def q_token_blocking_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1+T1: inverted-index self-join on tokens, shared-token count,
    top-5 candidates per left document (rank by count desc, id asc)."""
    tok = _doc_tokens(_t(spark, sf_dir, "documents"))
    left = tok.select(F.col("token"), F.col("doc_id").alias("doc_a"))
    right = tok.select(F.col("token"), F.col("doc_id").alias("doc_b"))
    pairs = (
        left.join(right, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_tokens"))
    )
    w = Window.partitionBy("doc_a").orderBy(
        F.desc("shared_tokens"), F.asc("doc_b")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("doc_a", "doc_b", "shared_tokens", "rn")
    )


_Q_TOKEN_BLOCKING_SQL = f"""
    WITH tok AS ({_DOC_TOKENS_SQL.strip()}),
    tok2 AS (SELECT * FROM tok WHERE token <> ''),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS shared_tokens
        FROM tok2 a JOIN tok2 b USING (token)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT doc_a, doc_b, shared_tokens,
               row_number() OVER (
                   PARTITION BY doc_a
                   ORDER BY shared_tokens DESC, doc_b ASC
               ) AS rn
        FROM pairs
    )
    SELECT doc_a, doc_b, shared_tokens, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
"""


def q_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: group-by collect_set, serialized sorted for determinism."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias(
            "segments"
        ),
        F.count("*").alias("n_customers"),
    )


_Q_GROUP_COLLECT_SQL = """
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
               AS segments,
           count(*) AS n_customers
    FROM customer GROUP BY c_nationkey
"""


def q_anti_join_dead_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: entities with no counterpart on the other side (left anti join)
    — customers who never placed an urgent order."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_Q_ANTI_JOIN_SQL = """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
"""


def q_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: top-3 orders per customer by total price."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_Q_TOPK_SQL = """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
"""


def q_threshold_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5/T2: threshold filter + first-of-duplicates per key."""
    li = _t(spark, sf_dir, "lineitem")
    # l_quantity tiebreak: the synthetic lineitem has duplicate
    # (orderkey, linenumber) rows, so ordering by linenumber alone is not
    # total and the picked row was nondeterministic (flaky hash at sf0.1)
    w = Window.partitionBy("l_orderkey", "l_partkey").orderBy(
        "l_linenumber", "l_quantity"
    )
    return (
        li.filter(F.col("l_discount") >= 0.05)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


_Q_THRESHOLD_DEDUP_SQL = """
    SELECT l_orderkey, l_partkey, l_quantity
    FROM (
        SELECT l_orderkey, l_partkey, l_quantity,
               row_number() OVER (
                   PARTITION BY l_orderkey, l_partkey
                   ORDER BY l_linenumber, l_quantity
               ) AS rn
        FROM lineitem WHERE l_discount >= 0.05
    ) WHERE rn = 1
"""


def q_set_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1: per-order set algebra between two statement sets (parts shipped
    with returnflag R vs N): shared / left-only / right-only counts."""
    li = _t(spark, sf_dir, "lineitem")
    r_side = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_side = (
        li.filter(F.col("l_returnflag") == "N")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    joined = r_side.withColumn("in_r", F.lit(1)).join(
        n_side.withColumn("in_n", F.lit(1)),
        ["l_orderkey", "l_partkey"],
        "full_outer",
    )
    return (
        joined.groupBy("l_orderkey")
        .agg(
            F.sum(
                (F.col("in_r").isNotNull() & F.col("in_n").isNotNull()).cast(
                    "long"
                )
            ).alias("n_shared"),
            F.sum(
                (F.col("in_r").isNotNull() & F.col("in_n").isNull()).cast("long")
            ).alias("n_r_only"),
            F.sum(
                (F.col("in_r").isNull() & F.col("in_n").isNotNull()).cast("long")
            ).alias("n_n_only"),
        )
    )


_Q_SET_VALIDATION_SQL = """
    WITH r_side AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_returnflag = 'R'
    ),
    n_side AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_returnflag = 'N'
    ),
    joined AS (
        SELECT coalesce(r.l_orderkey, n.l_orderkey) AS l_orderkey,
               (r.l_partkey IS NOT NULL) AS in_r,
               (n.l_partkey IS NOT NULL) AS in_n
        FROM r_side r FULL OUTER JOIN n_side n
          ON r.l_orderkey = n.l_orderkey AND r.l_partkey = n.l_partkey
    )
    SELECT l_orderkey,
           CAST(sum(CASE WHEN in_r AND in_n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
           CAST(sum(CASE WHEN in_r AND NOT in_n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_r_only,
           CAST(sum(CASE WHEN NOT in_r AND in_n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_n_only
    FROM joined GROUP BY l_orderkey
"""


def q_relationship_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: two-hop relationship join (orders -> customer -> nation)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


_Q_RELATIONSHIP_SQL = """
    SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


def q_perfect_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/B3: exact-normalized-name bucket join — match customer and
    supplier rows whose names carry the same numeric id."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "name_id", F.regexp_extract("c_name", r"(\d+)", 1).cast("long")
    )
    supp = _t(spark, sf_dir, "supplier").withColumn(
        "name_id", F.regexp_extract("s_name", r"(\d+)", 1).cast("long")
    )
    return cust.join(F.broadcast(supp), "name_id").select(
        "name_id", "c_name", "s_name"
    )


_Q_PERFECT_NAME_SQL = """
    SELECT CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_id,
           c_name, s_name
    FROM customer
    JOIN supplier
      ON CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT)
       = CAST(regexp_extract(s_name, '([0-9]+)', 1) AS BIGINT)
"""


def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: P/R/F1 via set joins — 'predicted' = expensive orders,
    'label' = finished orders."""
    orders = _t(spark, sf_dir, "orders")
    flagged = orders.select(
        "o_orderkey",
        (F.col("o_totalprice") > 300000).alias("pred"),
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    agg = flagged.agg(
        F.sum((F.col("pred") & F.col("label")).cast("long")).alias("tp"),
        F.sum((F.col("pred") & ~F.col("label")).cast("long")).alias("fp"),
        F.sum((~F.col("pred") & F.col("label")).cast("long")).alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("recall"),
    )


_Q_CONFUSION_SQL = """
    WITH flagged AS (
        SELECT o_orderkey, o_totalprice > 300000 AS pred,
               o_orderstatus = 'F' AS label
        FROM orders
    ),
    agg AS (
        SELECT
            CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM flagged
    )
    SELECT tp, fp, fn,
           round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision,
           round(tp / CAST(tp + fn AS DOUBLE), 6) AS recall
    FROM agg
"""


def q_domain_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: frequency table with representative examples."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("user_id").alias("example_user"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


_Q_DOMAIN_FREQ_SQL = """
    SELECT event_type, count(*) AS n_events, min(user_id) AS example_user,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY event_type
"""


def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO3: union of two prediction sets + dedup."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    return a.unionByName(b).distinct()


_Q_UNION_DEDUP_SQL = """
    SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
    UNION
    SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def q_date_precision_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7: precision-prefix date agreement — share of lineitems shipped
    within the order's year and month."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    return j.groupBy("o_orderkey").agg(
        F.round(
            F.avg(
                (F.year("l_shipdate") == F.year("o_orderdate")).cast("double")
            ),
            6,
        ).alias("year_match_ratio"),
        F.round(
            F.avg(
                (
                    (F.year("l_shipdate") == F.year("o_orderdate"))
                    & (F.month("l_shipdate") == F.month("o_orderdate"))
                ).cast("double")
            ),
            6,
        ).alias("month_match_ratio"),
    )


_Q_DATE_PRECISION_SQL = """
    SELECT o_orderkey,
           round(avg(CASE WHEN year(l_shipdate) = year(o_orderdate)
                          THEN 1.0 ELSE 0.0 END), 6) AS year_match_ratio,
           round(avg(CASE WHEN year(l_shipdate) = year(o_orderdate)
                           AND month(l_shipdate) = month(o_orderdate)
                          THEN 1.0 ELSE 0.0 END), 6) AS month_match_ratio
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep min id + copy count."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count("*").alias("n_copies"),
    ).select("rep_doc_id", "n_copies")


_Q_EXACT_DEDUP_SQL = """
    SELECT min(doc_id) AS rep_doc_id, count(*) AS n_copies
    FROM documents GROUP BY text
"""


def q_token_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (unigram token) Jaccard near-dup within a source bucket."""
    tok = _doc_tokens(_t(spark, sf_dir, "documents"))
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    tok_s = tok.join(docs, "doc_id")
    left = tok_s.select(
        "token", "source", F.col("doc_id").alias("doc_a")
    )
    right = tok_s.select(
        "token", "source", F.col("doc_id").alias("doc_b")
    )
    inter = (
        left.join(right, ["token", "source"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
    )


_Q_TOKEN_JACCARD_SQL = f"""
    WITH tok AS ({_DOC_TOKENS_SQL.strip()}),
    tok2 AS (
        SELECT t.doc_id, t.token, d.source
        FROM tok t JOIN documents d USING (doc_id) WHERE t.token <> ''
    ),
    sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok2 GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM tok2 a JOIN tok2 b ON a.token = b.token AND a.source = b.source
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_inter / CAST(sa.n_tok + sb.n_tok - n_inter AS DOUBLE), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_inter / CAST(sa.n_tok + sb.n_tok - n_inter AS DOUBLE), 6)
          >= 0.7
"""


def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard confirmation over
    3-gram word shingles (the north_star's "MinHash-LSH bands over shingled
    text"; shingling keeps LSH buckets small even on tiny vocabularies).

    Uses the md5 hash family (operators.dedup.md5_60) so the DuckDB oracle
    replicates signatures, banding, the bucket cap and the exact-Jaccard
    confirmation bit-for-bit — a full CORRECTNESS row, not rows-only. The
    xxhash64 fast path keeps its pytest decision-replay oracles."""
    from soweego_spark.operators.dedup import minhash_lsh_candidates, shingles

    docs = _t(spark, sf_dir, "documents")
    toks = shingles(docs, id_col="doc_id", text_col="text", n=3)
    return minhash_lsh_candidates(
        toks, jaccard_threshold=0.7, hash_family="md5"
    )


_MD5_H = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _q_minhash_sql(num_perm: int = 64, bands: int = 16, n: int = 3,
                   cap: int = 10_000, t: float = 0.7) -> str:
    """DuckDB replica of q_minhash_lsh_neardup: same shingles, same md5
    double-hashing permutations (Kirsch-Mitzenmacher), same band keys,
    same cap, same exact-Jaccard confirmation."""
    from soweego_spark.operators.dedup import PERM_MASK_55, PERM_MASK_60

    rows = num_perm // bands
    mins = ",\n               ".join(
        f"min((h1 + {i} * h2) & {PERM_MASK_60}) AS h{i}"
        for i in range(num_perm)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_val FROM sigs".format(
            b=b,
            key=" || ',' || ".join(
                f"h{b * rows + r}::VARCHAR" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    tok_hash = _MD5_H.format(x="tok")
    tok_hash2 = _MD5_H.format(x="('s:' || tok)")
    return f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS w
        FROM documents
    ),
    {_incr_tok_ctes(n)},
    tokh AS (
        SELECT doc_id, {tok_hash} AS h1,
               {tok_hash2} & {PERM_MASK_55} AS h2
        FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
    ),
    sigs AS (
        SELECT doc_id,
               {mins}
        FROM tokh GROUP BY doc_id
    ),
    banded AS (
        {band_selects}
    ),
    kept AS (
        SELECT band_id, band_val FROM banded
        GROUP BY band_id, band_val HAVING count(*) <= {cap}
    ),
    capped AS (
        SELECT b.doc_id, b.band_id, b.band_val
        FROM banded b JOIN kept USING (band_id, band_val)
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM capped l JOIN capped r
          ON l.band_id = r.band_id AND l.band_val = r.band_val
         AND l.doc_id < r.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(ta.tokens, tb.tokens))::DOUBLE
                 / len(list_distinct(list_concat(ta.tokens, tb.tokens))),
                 6) AS jaccard
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b
    WHERE round(len(list_intersect(ta.tokens, tb.tokens))::DOUBLE
                / len(list_distinct(list_concat(ta.tokens, tb.tokens))),
                6) >= {t}
    """


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dedup (dedup.incremental_minhash_neardup,
    md5 family): odd doc_ids are the 'new batch', even doc_ids the
    persisted corpus; a new doc survives unless its exact shingle-set
    Jaccard against a band-colliding corpus OR earlier-batch doc reaches
    0.8. Shingles, not unigram sets — this corpus has a 31-word
    vocabulary, so unigram band buckets collide pathologically (measured
    117 s at sf0.1 vs ~5 s with shingles; shingled text is also what the
    north_star prescribes for MinHash). Fully oracled — the md5
    Kirsch-Mitzenmacher signatures, band probes, caps, in-batch pass,
    and confirm all replay in DuckDB."""
    from soweego_spark.operators.dedup import (
        incremental_minhash_neardup,
        shingles,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = shingles(docs, n=3)
    kept = incremental_minhash_neardup(
        toks.filter(F.col("doc_id") % 2 == 1),
        toks.filter(F.col("doc_id") % 2 == 0),
        jaccard_threshold=0.8,
        hash_family="md5",
    )
    return kept.select("doc_id")


def _incr_tok_ctes(n: int = 3) -> str:
    """`toks` CTE text: word n-gram shingle sets from an upstream `words`
    CTE of (doc_id, w: filtered lowercase word list). An empty or null
    word list has no shingles, as in dedup.shingles."""
    return f"""toks AS MATERIALIZED (
        SELECT doc_id,
               list_sort(list_distinct(CASE WHEN len(w) > 0 THEN
                   [array_to_string(w[i:i+{n - 1}], ' ')
                    FOR i IN range(1, greatest(len(w) - {n}, 0) + 2)]
                   ELSE []::VARCHAR[] END
               )) AS tokens
        FROM words
    )"""


def _incr_band_ctes(num_perm: int, bands: int) -> str:
    """The shared tokh/sigs/banded CTE text (expects `toks` upstream):
    md5 Kirsch-Mitzenmacher signatures banded into (band_id, band_val)
    keys for EVERY doc — signatures are doc-local, so one pass serves
    any corpus/new/batch membership split layered on top."""
    from soweego_spark.operators.dedup import PERM_MASK_55, PERM_MASK_60

    rows = num_perm // bands
    mins = ",\n               ".join(
        f"min((h1 + {i} * h2) & {PERM_MASK_60}) AS h{i}"
        for i in range(num_perm)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_val FROM sigs".format(
            b=b,
            key=" || ',' || ".join(
                f"h{b * rows + r}::VARCHAR" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    tok_hash = _MD5_H.format(x="tok")
    tok_hash2 = _MD5_H.format(x="('s:' || tok)")
    # MATERIALIZED: sigs is referenced by every band branch and banded by
    # every membership split — DuckDB inlines CTEs per reference, so
    # without the hint the 32-min-agg signature pipeline re-expands
    # multiplicatively down the chain (measured: a 53-pair band self-join
    # at sf0.001 went from minutes-hung to instant)
    return f"""tokh AS (
        SELECT doc_id, {tok_hash} AS h1,
               {tok_hash2} & {PERM_MASK_55} AS h2
        FROM (SELECT doc_id, unnest(tokens) AS tok FROM toks)
    ),
    sigs AS MATERIALIZED (
        SELECT doc_id,
               {mins}
        FROM tokh GROUP BY doc_id
    ),
    banded AS MATERIALIZED (
        {band_selects}
    )"""


def _incr_sig_ctes(num_perm: int, bands: int, cap: int,
                   corpus_pred: str, new_pred: str) -> str:
    """tokh/sigs/banded + capped corpus/new band CTE text (expects `toks`
    upstream); the corpus/new membership split is parameterized so the
    conservative (parity) and exact (id-space) gate queries share one
    signature pipeline."""
    return f"""{_incr_band_ctes(num_perm, bands)},
    corpus_banded AS MATERIALIZED (SELECT * FROM banded WHERE {corpus_pred}),
    new_banded AS MATERIALIZED (SELECT * FROM banded WHERE {new_pred}),
    kept_buckets AS (
        SELECT band_id, band_val FROM corpus_banded
        GROUP BY band_id, band_val HAVING count(*) <= {cap}
    ),
    corpus_capped AS MATERIALIZED (
        SELECT c.doc_id, c.band_id, c.band_val
        FROM corpus_banded c JOIN kept_buckets USING (band_id, band_val)
    ),
    new_kept_buckets AS (
        SELECT band_id, band_val FROM new_banded
        GROUP BY band_id, band_val HAVING count(*) <= {cap}
    ),
    new_capped AS MATERIALIZED (
        SELECT n.doc_id, n.band_id, n.band_val
        FROM new_banded n JOIN new_kept_buckets USING (band_id, band_val)
    )"""


_INCR_JACCARD = (
    "round(len(list_intersect(ta.tokens, tb.tokens))::DOUBLE"
    "\n                    / len(list_distinct(list_concat(ta.tokens,"
    " tb.tokens))),\n                    6)"
)


# adj/g/batch_dropped CTE text: ascending-id sequential-greedy MIS over an
# upstream `batch_edges` CTE of (doc_id, other_id) confirmed undirected
# dup edges — shared by the incremental exact-mode gates and the composed
# curate_pipeline gate (the WITH list must be declared RECURSIVE).
_GREEDY_MIS_CTES = """adj AS MATERIALIZED (
        SELECT doc_id AS a, other_id AS b FROM batch_edges
        UNION ALL
        SELECT other_id, doc_id FROM batch_edges
        UNION ALL
        SELECT v, NULL::BIGINT FROM (
            SELECT DISTINCT doc_id AS v FROM batch_edges
            UNION SELECT DISTINCT other_id FROM batch_edges
        )
    ),
    -- greedy rounds: a vertex row set (b NULL = presence marker, else one
    -- row per incident edge, both directions). Per round: v_kept = no
    -- smaller remaining neighbor; v_drop = some incident edge's other
    -- endpoint kept (the pair window sees both owners' flags; adjacent
    -- vertices are never both kept in one round); edges touching any
    -- decided vertex disappear; kept markers are emitted once with
    -- kept=1 and not re-iterated.
    g AS (
        SELECT a, b, 0 AS kept FROM adj
        UNION ALL
        SELECT a, b, kept FROM (
            SELECT a, b, v_kept AS kept, v_drop,
                   CASE WHEN b IS NULL THEN 0
                        ELSE max(v_kept + v_drop) OVER (
                            PARTITION BY least(a, b), greatest(a, b))
                   END AS pair_decided
            FROM (
                SELECT a, b, v_kept,
                       max(CASE WHEN pair_kept = 1 AND v_kept = 0
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY a) AS v_drop
                FROM (
                    SELECT a, b, v_kept,
                           CASE WHEN b IS NULL THEN 0
                                ELSE max(v_kept) OVER (
                                    PARTITION BY least(a, b), greatest(a, b))
                           END AS pair_kept
                    FROM (
                        SELECT a, b,
                               CASE WHEN max(CASE WHEN b IS NOT NULL
                                                  AND b < a
                                                  THEN 1 ELSE 0 END)
                                         OVER (PARTITION BY a) = 0
                                    THEN 1 ELSE 0 END AS v_kept
                        FROM g WHERE kept = 0
                    )
                )
            )
        )
        WHERE (kept = 1 AND b IS NULL)
           OR (kept = 0 AND v_drop = 0 AND pair_decided = 0)
    ),
    batch_dropped AS (
        SELECT DISTINCT a AS doc_id FROM adj
        WHERE a NOT IN (SELECT a FROM g WHERE kept = 1)
    )"""


def _q_incremental_sql(num_perm: int = 64, bands: int = 16, n: int = 3,
                       cap: int = 10_000, t: float = 0.8) -> str:
    """DuckDB replica of q_incremental_neardup: signatures computed once
    over all docs (they are doc-local), banded, split by parity; new
    bands probe capped corpus buckets AND capped same-batch buckets
    (earlier-id side); exact-Jaccard confirm; survivors = new docs with
    no confirmed match."""
    return f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS w
        FROM documents
    ),
    {_incr_tok_ctes(n)},
    {_incr_sig_ctes(num_perm, bands, cap, "doc_id % 2 = 0", "doc_id % 2 = 1")},
    cand AS (
        SELECT DISTINCT n.doc_id, c.doc_id AS other_id
        FROM new_banded n JOIN corpus_capped c
          ON n.band_id = c.band_id AND n.band_val = c.band_val
        UNION
        SELECT DISTINCT a.doc_id, b.doc_id AS other_id
        FROM new_capped a JOIN new_capped b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id > b.doc_id
    ),
    dups AS (
        SELECT DISTINCT cand.doc_id
        FROM cand
        JOIN toks ta ON ta.doc_id = cand.doc_id
        JOIN toks tb ON tb.doc_id = cand.other_id
        WHERE round(len(list_intersect(ta.tokens, tb.tokens))::DOUBLE
                    / len(list_distinct(list_concat(ta.tokens, tb.tokens))),
                    6) >= {t}
    )
    SELECT doc_id FROM toks
    WHERE doc_id % 2 = 1
      AND doc_id NOT IN (SELECT doc_id FROM dups)
"""


def q_ingest_loop_3batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PRODUCTION LOOP ITSELF under the hash gate: run the composed
    continuous-ingestion pipeline (plans/ingest_loop.py — the engine
    behind jobs/ingest_job.py) over the documents table split into 3
    deterministic batches by doc_id modulus, md5 hash family, and return
    every survivor. Per batch: exact dedup against the survivors' seen
    keys -> MinHash near-dedup against the survivors' band table (bands
    probe capped corpus buckets + capped same-batch buckets, exact
    Jaccard confirm, conservative within-batch) -> fold ONLY survivors
    forward. The DuckDB oracle replays all three batches as chained CTEs
    (signatures computed once — they are doc-local), including the
    survivors-only state fold: a batch-2 doc that exactly duplicates a
    batch-1 DROPPED doc is not exact-dropped (the dropped doc never
    entered the seen table) — it survives unless near-dup of a SURVIVOR.
    State lives in a throw-away StageCheckpointer dir, so the gate also
    exercises the manifest-chained stage machinery end to end."""
    import tempfile

    from soweego_spark.plans.checkpoint import StageCheckpointer
    from soweego_spark.plans.ingest_loop import (
        IngestConfig,
        run_ingest_loop,
        split_batches,
    )

    td = tempfile.mkdtemp(prefix="gate_ingest_")
    # the returned frame reads the state parquet lazily, so the dir must
    # outlive this call — remove it at interpreter exit (ADVICE r6 leak)
    atexit.register(shutil.rmtree, td, ignore_errors=True)
    cfg = IngestConfig(
        num_perm=32, bands=8, shingle_n=3, jaccard_threshold=0.7,
        hash_family="md5",
    )
    run_ingest_loop(
        spark, td, split_batches(spark, f"{sf_dir}/documents.parquet", 3),
        cfg,
    )
    ckpt = StageCheckpointer(td, spark)
    kept = None
    for i in (1, 2, 3):
        mf = ckpt.manifest(f"kept_b{i}")
        part = ckpt.load(f"kept_b{i}", mf["config_hash"]).select("doc_id")
        kept = part if kept is None else kept.unionByName(part)
    return kept


def _q_ingest_loop_sql(num_perm: int = 32, bands: int = 8, n: int = 3,
                       cap: int = 10_000, t: float = 0.7,
                       n_batches: int = 3) -> str:
    """DuckDB replica of q_ingest_loop_3batch: one shared signature/band
    pass over every doc, then one chained CTE block per batch — in-batch
    exact dedup (first id per (md5, length) content key; the triple key's
    xxhash64 member never changes an equality decision), seen-key
    anti-join against the CUMULATIVE SURVIVORS, band probes against the
    survivors' capped buckets plus the capped same-batch self-join,
    exact-Jaccard confirm at the conservative smaller-id semantics, and
    the survivors-only fold into kept_{k}."""
    blocks = ["kept_0(doc_id) AS (SELECT doc_id FROM documents WHERE 1=0)"]
    for k in range(1, n_batches + 1):
        pred = f"doc_id % {n_batches} = {k - 1}"
        p = f"kept_{k - 1}"
        blocks.append(f"""b{k}_exact AS MATERIALIZED (
        SELECT doc_id FROM (
            SELECT c.doc_id,
                   row_number() OVER (PARTITION BY c.ck ORDER BY c.doc_id)
                       AS rn
            FROM ckeys c
            WHERE c.{pred}
              AND c.ck NOT IN (SELECT s.ck FROM ckeys s
                               JOIN {p} pk ON s.doc_id = pk.doc_id)
        ) WHERE rn = 1
    ),
    b{k}_new_banded AS MATERIALIZED (
        SELECT b.* FROM banded b JOIN b{k}_exact USING (doc_id)
    ),
    b{k}_corpus_banded AS MATERIALIZED (
        SELECT b.* FROM banded b JOIN {p} USING (doc_id)
    ),
    b{k}_corpus_ok AS MATERIALIZED (
        SELECT band_id, band_val FROM b{k}_corpus_banded
        GROUP BY band_id, band_val HAVING count(*) <= {cap}
    ),
    b{k}_corpus_capped AS MATERIALIZED (
        SELECT c.doc_id, c.band_id, c.band_val
        FROM b{k}_corpus_banded c JOIN b{k}_corpus_ok
        USING (band_id, band_val)
    ),
    b{k}_new_ok AS MATERIALIZED (
        SELECT band_id, band_val FROM b{k}_new_banded
        GROUP BY band_id, band_val HAVING count(*) <= {cap}
    ),
    b{k}_new_capped AS MATERIALIZED (
        SELECT nb.doc_id, nb.band_id, nb.band_val
        FROM b{k}_new_banded nb JOIN b{k}_new_ok USING (band_id, band_val)
    ),
    b{k}_cand AS MATERIALIZED (
        SELECT DISTINCT nb.doc_id, c.doc_id AS other_id
        FROM b{k}_new_banded nb JOIN b{k}_corpus_capped c
        USING (band_id, band_val)
        UNION
        SELECT DISTINCT a.doc_id, bb.doc_id AS other_id
        FROM b{k}_new_capped a JOIN b{k}_new_capped bb
        USING (band_id, band_val)
        WHERE a.doc_id > bb.doc_id
    ),
    b{k}_dups AS MATERIALIZED (
        SELECT DISTINCT cand.doc_id
        FROM b{k}_cand cand
        JOIN toks ta ON ta.doc_id = cand.doc_id
        JOIN toks tb ON tb.doc_id = cand.other_id
        WHERE {_INCR_JACCARD} >= {t}
    ),
    kept_{k}(doc_id) AS MATERIALIZED (
        SELECT doc_id FROM kept_{k - 1}
        UNION ALL
        SELECT doc_id FROM b{k}_exact
        WHERE doc_id NOT IN (SELECT doc_id FROM b{k}_dups)
    )""")
        # noqa: E501 — generated SQL block
    chained = ",\n    ".join(blocks)
    return f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS w
        FROM documents
    ),
    {_incr_tok_ctes(n)},
    {_incr_band_ctes(num_perm, bands)},
    ckeys AS (
        SELECT doc_id, md5(text) || ':' || length(text)::VARCHAR AS ck
        FROM documents
    ),
    {chained}
    SELECT doc_id FROM kept_{n_batches}
"""


def q_incremental_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sequential-greedy within-batch semantics of
    dedup.incremental_minhash_neardup (within_batch='exact') under the
    hash gate. The batch is built to CONTAIN transitive chains: each odd
    source doc contributes three variants — A (full word list), B (first
    80% of words), C (first 64%) — so typically A~B and B~C at Jaccard
    0.7 while A≁C; greedy keeps A and C (B, A's dup, is itself dropped),
    whereas conservative mode would drop both B and C. Corpus = the even
    docs. The DuckDB oracle replays the whole path: md5 signatures, band
    probes, caps, corpus-drop filtering, then the greedy pass as a
    RECURSIVE CTE iterating 'accept all remaining local-minima vertices,
    drop their neighbors' — provably the ascending-id sequential greedy."""
    from soweego_spark.operators.dedup import (
        incremental_minhash_neardup,
        shingles,
    )

    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower("text"), " "), lambda w: w != F.lit(""))
    base = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", words.alias("w")
    )
    parts = []
    for off, frac in ((0, None), (1, 0.8), (2, 0.64)):
        if frac is None:
            n_words = F.size("w")
        else:
            n_words = F.greatest(
                F.floor(F.size("w") * F.lit(frac)).cast("int"), F.lit(3)
            )
        parts.append(
            base.select(
                (F.lit(1_000_000) + F.col("doc_id") * 10 + F.lit(off))
                .alias("doc_id"),
                F.array_join(F.slice("w", 1, n_words), " ").alias("text"),
            )
        )
    new_docs = parts[0].unionByName(parts[1]).unionByName(parts[2])
    corpus_docs = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text"
    )
    # 32 perms / 8 bands (vs the operator defaults 64/16, gated at
    # sf0.01 by incremental_neardup_exact_full below): this fixture
    # carries 3x the docs, and banding cost is linear in num_perm — the
    # exact-mode code path is identical and the gate runs ~3x faster in
    # the DuckDB replay (one min-column per permutation). 8 bands
    # nominate ~89% of J=0.7 pairs vs ~99% at 16; the _full gate closes
    # that chain-coverage gap at the driver's sf.
    kept = incremental_minhash_neardup(
        shingles(new_docs, n=3),
        shingles(corpus_docs, n=3),
        jaccard_threshold=0.7,
        num_perm=32,
        bands=8,
        hash_family="md5",
        within_batch="exact",
    )
    return kept.select("doc_id")


def q_incremental_neardup_exact_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same exact-mode fixture at the OPERATOR DEFAULTS (64 perms /
    16 bands — ~99% nomination of J=0.7 pairs, so the transitive chains
    the trimmed 32/8 gate can miss are exercised cross-engine), AND with
    ``max_component_edges=0`` so every component resolves through the r5
    distributed local-minima JOIN rounds — the DuckDB recursive CTE
    replays that algorithm verbatim, making this the join path's own
    hash gate (the default per-component pandas path keeps the original
    incremental_neardup_exact gate)."""
    from soweego_spark.operators.dedup import (
        incremental_minhash_neardup,
        shingles,
    )

    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower("text"), " "), lambda w: w != F.lit(""))
    base = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", words.alias("w")
    )
    parts = []
    for off, frac in ((0, None), (1, 0.8), (2, 0.64)):
        if frac is None:
            n_words = F.size("w")
        else:
            n_words = F.greatest(
                F.floor(F.size("w") * F.lit(frac)).cast("int"), F.lit(3)
            )
        parts.append(
            base.select(
                (F.lit(1_000_000) + F.col("doc_id") * 10 + F.lit(off))
                .alias("doc_id"),
                F.array_join(F.slice("w", 1, n_words), " ").alias("text"),
            )
        )
    new_docs = parts[0].unionByName(parts[1]).unionByName(parts[2])
    corpus_docs = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text"
    )
    kept = incremental_minhash_neardup(
        shingles(new_docs, n=3),
        shingles(corpus_docs, n=3),
        jaccard_threshold=0.7,
        num_perm=64,
        bands=16,
        hash_family="md5",
        within_batch="exact",
        max_component_edges=0,
    )
    return kept.select("doc_id")


def _q_incremental_exact_sql(num_perm: int = 32, bands: int = 8,
                             n: int = 3, cap: int = 10_000,
                             t: float = 0.7) -> str:
    """DuckDB replica of q_incremental_neardup_exact. The greedy MIS is a
    recursive CTE over the confirmed in-batch edge graph (corpus-dropped
    endpoints removed first): each round keeps every remaining vertex with
    no smaller-id remaining neighbor (the local minima — exactly the
    vertices sequential greedy would accept next), drops their neighbors,
    and deletes edges touching any decided vertex; iterating to fixpoint
    reproduces the ascending-id sequential greedy, matching the Spark
    side's per-component applyInPandas pass."""
    return f"""
    WITH RECURSIVE words0 AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS w
        FROM documents
    ),
    words AS (
        SELECT 1000000 + doc_id * 10 AS doc_id, w
        FROM words0 WHERE doc_id % 2 = 1
        UNION ALL
        SELECT 1000000 + doc_id * 10 + 1,
               w[1:greatest(floor(len(w) * 0.8::DOUBLE)::INT, 3)]
        FROM words0 WHERE doc_id % 2 = 1
        UNION ALL
        SELECT 1000000 + doc_id * 10 + 2,
               w[1:greatest(floor(len(w) * 0.64::DOUBLE)::INT, 3)]
        FROM words0 WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id, w FROM words0 WHERE doc_id % 2 = 0
    ),
    {_incr_tok_ctes(n)},
    {_incr_sig_ctes(num_perm, bands, cap,
                    "doc_id < 1000000", "doc_id >= 1000000")},
    cand_corpus AS (
        SELECT DISTINCT nb.doc_id, c.doc_id AS other_id
        FROM new_banded nb JOIN corpus_capped c
          ON nb.band_id = c.band_id AND nb.band_val = c.band_val
    ),
    corpus_dropped AS (
        SELECT DISTINCT cc.doc_id
        FROM cand_corpus cc
        JOIN toks ta ON ta.doc_id = cc.doc_id
        JOIN toks tb ON tb.doc_id = cc.other_id
        WHERE {_INCR_JACCARD} >= {t}
    ),
    batch_cand AS (
        SELECT DISTINCT a.doc_id, b.doc_id AS other_id
        FROM new_capped a JOIN new_capped b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id > b.doc_id
    ),
    batch_edges AS (
        SELECT bc.doc_id, bc.other_id
        FROM batch_cand bc
        JOIN toks ta ON ta.doc_id = bc.doc_id
        JOIN toks tb ON tb.doc_id = bc.other_id
        WHERE {_INCR_JACCARD} >= {t}
          AND bc.doc_id NOT IN (SELECT doc_id FROM corpus_dropped)
          AND bc.other_id NOT IN (SELECT doc_id FROM corpus_dropped)
    ),
    {_GREEDY_MIS_CTES}
    SELECT doc_id FROM toks
    WHERE doc_id >= 1000000
      AND doc_id NOT IN (SELECT doc_id FROM corpus_dropped)
      AND doc_id NOT IN (SELECT doc_id FROM batch_dropped)
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup over 60-bit md5-family signatures — fully oracled
    in DuckDB (bit sums, pigeonhole blocks, bit_count confirmation); the
    64-bit xxhash64 path keeps its pytest ground-truth oracle."""
    from soweego_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, id_col="doc_id", text_col="text", max_hamming=8,
        bits=60, hash_family="md5",
    )


def _q_simhash_sql(bits: int = 60, max_hamming: int = 8,
                   cap: int = 10_000) -> str:
    """DuckDB replica of q_simhash_neardup: same token hash, same per-bit
    +/-1 sums, same block layout, same Hamming confirmation."""
    n_blocks = max_hamming + 1
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {i})"
        for i in range(bits)
    )
    base, extra = divmod(bits, n_blocks)
    block_selects, lo = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        mask = (1 << width) - 1
        block_selects.append(
            f"SELECT doc_id, simhash, {i} AS block_id, "
            f"(simhash >> {lo}) & {mask} AS block_val FROM sigs"
        )
        lo += width
    blocks_sql = "\n        UNION ALL\n        ".join(block_selects)
    tok_hash = _MD5_H.format(x="tok")
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    tokh AS (SELECT doc_id, {tok_hash} AS h FROM toks),
    bitsums AS (
        SELECT doc_id,
               {bit_sums}
        FROM tokh GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {sig_terms} AS simhash FROM bitsums),
    banded AS (
        {blocks_sql}
    ),
    kept AS (
        SELECT block_id, block_val FROM banded
        GROUP BY block_id, block_val HAVING count(*) <= {cap}
    ),
    capped AS (
        SELECT b.* FROM banded b JOIN kept USING (block_id, block_val)
    ),
    pairs AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
               bit_count(xor(l.simhash, r.simhash))::INT AS hamming
        FROM capped l JOIN capped r
          ON l.block_id = r.block_id AND l.block_val = r.block_val
         AND l.doc_id < r.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


def _cosine_expr(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (na * nb)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 query vectors —
    broadcast candidate matrix + one BLAS matmul per Arrow batch
    (soweego_spark.operators.ann.brute_force_topk); tie order matches the
    SQL window row_number() ORDER BY cosine DESC, neighbor_id ASC."""
    from soweego_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


_Q_EMBEDDING_TOPK_SQL = """
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               round(
                   list_inner_product(
                       a.embedding::DOUBLE[], b.embedding::DOUBLE[]
                   ) / (
                       sqrt(list_inner_product(
                           a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                     * sqrt(list_inner_product(
                           b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
                   ), 4
               ) AS cosine
        FROM embeddings a, embeddings b
        WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
               ) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine near-duplicates above 0.4 (threshold chosen so the
    synthetic random embeddings actually produce matches) — broadcast +
    BLAS brute force (operators.ann.brute_force_neardup)."""
    from soweego_spark.operators.ann import brute_force_neardup

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_neardup(emb, threshold=0.4)


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (k-means cells + probe search). Fully
    oracled: the seeded Lloyd fit is replayed in numpy at oracle-SQL
    generation time and the centroid matrix embedded as literals
    (_q_embedding_ivf_sql); the full-probe==brute-force invariant and
    partial-probe recall are additionally pytest-verified
    (tests/test_ann.py)."""
    from soweego_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, n_centroids=16, n_probe=4
    )


def q_embedding_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing + exact confirmation — the
    sub-quadratic ANN path. Fully oracled: the seeded hyperplanes are
    deterministic, so the SQL replica embeds the same plane literals and
    reproduces bucketing + confirmation exactly (also precision-verified
    against the brute-force operator in tests/test_ann.py)."""
    from soweego_spark.operators.ann import lsh_bucketed_neardup

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucketed_neardup(emb, threshold=0.4, n_planes=8, seed=61)


def _q_embedding_lsh_sql(n_planes: int = 8, dim: int = 64, seed: int = 61,
                         t: float = 0.4) -> str:
    """DuckDB replica of q_embedding_lsh_neardup: the operator's seeded
    hyperplanes embedded as DOUBLE[] literals (repr round-trips float64
    exactly), sign-bit bucketing, exact cosine confirmation."""
    import numpy as np

    planes = np.random.RandomState(seed).standard_normal((n_planes, dim))
    bit_terms = " + ".join(
        "(CASE WHEN list_inner_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(float(x)) for x in planes[i])}]) > 0 "
        f"THEN 1::BIGINT ELSE 0::BIGINT END << {i})"
        for i in range(n_planes)
    )
    cos = (
        "list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_inner_product(a.embedding::DOUBLE[],"
        " a.embedding::DOUBLE[]))"
        " * sqrt(list_inner_product(b.embedding::DOUBLE[],"
        " b.embedding::DOUBLE[])))"
    )
    return f"""
    WITH buckets AS (
        SELECT vec_id, embedding, {bit_terms} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({cos}, 4) AS cosine
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({cos}, 4) >= {t}
    """


def _q_embedding_ivf_sql(
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 61,
    iters: int = 10,
) -> str:
    """DuckDB replica of q_embedding_ivf_topk: the fit is deterministic
    (seeded numpy Lloyd on the xxhash64-TakeOrdered sample, which at every
    test sf is the WHOLE table since rows << fit_cap, and _collect_matrix
    sorts by vec_id), so replay it here in numpy on the same parquet and
    embed the k x dim centroid matrix as DOUBLE[] literals — the same
    plane-literal technique as _q_embedding_lsh_sql. Cell assignment /
    probe ranking use the raw (unnormalized) dot product: argmax and
    argsort are invariant under the positive per-query scaling the
    operator applies, and ties break (score DESC, cell ASC) exactly like
    numpy's first-max argmax / stable argsort.

    The sf dir defaults to the driver's gate (sf0.01); the local replica
    overrides via SOWEEGO_ORACLE_SF_DIR so the fit matches the data under
    test at any sf.
    """
    import os

    import duckdb as _duck
    import numpy as np

    from soweego_spark.operators.ann import _kmeans_fit

    sf_dir = os.environ.get(
        "SOWEEGO_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    con = _duck.connect()
    try:
        tbl = con.execute(
            "SELECT embedding FROM "
            f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
        ).fetchall()
    finally:
        con.close()
    # the operator fits on the xxhash64-TakeOrdered fit_cap sample; this
    # replay assumes sample == whole table — refuse to emit a spuriously
    # red oracle beyond that (the entry then degrades to rows-only)
    assert len(tbl) <= 100_000, (
        "ivf oracle replay requires rows <= fit_cap (whole-table sample)"
    )
    mat = np.array([r[0] for r in tbl], dtype=np.float64)
    cent = _kmeans_fit(mat, n_centroids, seed, iters)
    cent_rows = ", ".join(
        f"({c}, [{', '.join(repr(float(x)) for x in cent[c])}]::DOUBLE[])"
        for c in range(len(cent))
    )
    cos = (
        "list_inner_product(q.embedding::DOUBLE[], m.embedding::DOUBLE[])"
        " / (sqrt(list_inner_product(q.embedding::DOUBLE[],"
        " q.embedding::DOUBLE[]))"
        " * sqrt(list_inner_product(m.embedding::DOUBLE[],"
        " m.embedding::DOUBLE[])))"
    )
    return f"""
    WITH centroids AS (
        SELECT * FROM (VALUES {cent_rows}) AS c(cell, cv)
    ),
    member_cells AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_inner_product(
                           e.embedding::DOUBLE[], c.cv) DESC, c.cell ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN centroids c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_inner_product(
                           e.embedding::DOUBLE[], c.cv) DESC, c.cell ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN centroids c
            WHERE e.vec_id < 20
        ) WHERE rn <= {n_probe}
    ),
    cand AS (
        SELECT p.vec_id AS query_id, mc.vec_id AS neighbor_id
        FROM probes p JOIN member_cells mc ON p.cell = mc.cell
        WHERE p.vec_id <> mc.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round({cos}, 4) AS cosine
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings m ON m.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM scored
    ) WHERE rn <= {k}
    """


_Q_EMBEDDING_NEARDUP_SQL = """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
               list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_inner_product(
                      a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_inner_product(
                      b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4
           ) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND round(
              list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
              / (sqrt(list_inner_product(
                     a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_inner_product(
                     b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4
          ) >= 0.4
"""


def _stopword_list() -> list[str]:
    from soweego_spark.functions.textnorm import STOPWORDS_ENG

    return sorted(w for w in STOPWORDS_ENG if w and "'" not in w)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English stop-word ratio over tokens."""
    stop = _stopword_list()
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    # isin compiles to a codegen hash-set probe (InSet) — O(1) per token,
    # vs array_contains(literal-array) which linearly scans all ~170 words.
    return (
        toks.withColumn("is_stop", F.col("token").isin(stop))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.col("is_stop").cast("double")), 6).alias(
                "stopword_ratio"
            ),
            F.count("*").alias("n_tokens"),
        )
        .withColumn("looks_english", F.col("stopword_ratio") >= 0.05)
    )


def _q_lang_id_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in _stopword_list())
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    toks2 AS (SELECT * FROM toks WHERE token <> '')
    SELECT doc_id,
           round(avg(CASE WHEN token IN ({stop}) THEN 1.0 ELSE 0.0 END), 6)
               AS stopword_ratio,
           count(*) AS n_tokens,
           round(avg(CASE WHEN token IN ({stop}) THEN 1.0 ELSE 0.0 END), 6)
               >= 0.05 AS looks_english
    FROM toks2 GROUP BY doc_id
    """


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality heuristics: length, token stats, punctuation ratio."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    ).cast("long")
    n_chars = F.length("text").cast("long")
    punct = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z0-9 ]", ""))
    ).cast("long")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_exact"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 6).alias("chars_per_token"),
        F.round(punct / n_chars, 6).alias("punct_ratio"),
    )


_Q_QUALITY_SQL = """
    WITH base AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_exact,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    t -> t <> '')) AS BIGINT) AS n_tokens,
               CAST(length(text)
                    - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
                 AS BIGINT) AS n_punct
        FROM documents
    )
    SELECT doc_id, n_chars_exact, n_tokens,
           round(n_chars_exact / CAST(n_tokens AS DOUBLE), 6)
               AS chars_per_token,
           round(n_punct / CAST(n_chars_exact AS DOUBLE), 6) AS punct_ratio
    FROM base
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    ).cast("long")
    bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
        )
    ).cast("long")
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_pieces")
    )


_Q_TOKEN_COUNT_SQL = r"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                t -> t <> '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS BIGINT) AS bpe_pieces
    FROM documents
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint (md5 of normalized text)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("fingerprint"),
        F.substring(F.md5(F.lower(F.col("text"))), 1, 8).alias("shard_key"),
    )


_Q_FINGERPRINT_SQL = """
    SELECT doc_id, md5(lower(text)) AS fingerprint,
           substr(md5(lower(text)), 1, 8) AS shard_key
    FROM documents
"""


def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (batch shape of the
    Structured Streaming plan in soweego_spark.streaming)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


_Q_WINDOWED_EVENTS_SQL = """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
"""




def q_subset_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2/J4 via the REAL operator (blocking.subset_token_pairs): ordered
    pairs (doc_a, doc_b) where doc_a's distinct token set is contained in
    doc_b's — target side restricted to even doc_ids so the two sides have
    DIFFERENT document frequencies. Both skew caps run through the full
    code path (df aggregate + broadcast anti join per side) and the wd cap
    actually FIRES at the driver's sf0.01 (one over-cap token, result
    shrinks 11582 -> 3015); dropping any hotter fraction collapses the
    result to zero on this 31-word corpus because every subset set
    contains the head tokens, so the target-side cap's semantics are
    instead proven on planted skew in tests/test_skew.py."""
    from soweego_spark.operators.blocking import subset_token_pairs

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url"),
        F.array_remove(
            F.array_distinct(F.split(F.lower("text"), " ")), ""
        ).alias("name_tokens"),
    )
    n = docs.count()
    pairs = subset_token_pairs(
        docs,
        docs.filter(F.col("url") % 2 == 0),
        id_left="doc_b",
        id_right="doc_a",
        token_df_cap=int(n * 0.80),
        target_df_cap=int(n * 0.402),
    )
    return pairs.select("doc_a", "doc_b")


_Q_SUBSET_CONTAINMENT_SQL = f"""
    WITH tok AS ({_DOC_TOKENS_SQL.strip()}),
    tok2 AS (SELECT * FROM tok WHERE token <> ''),
    sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok2 GROUP BY doc_id),
    wd AS (
        SELECT t.doc_id, t.token FROM tok2 t
        JOIN sizes s ON s.doc_id = t.doc_id AND s.n_tok > 1
    ),
    tgt AS (
        SELECT t.doc_id, t.token, s.n_tok FROM tok2 t
        JOIN sizes s ON s.doc_id = t.doc_id AND s.n_tok > 1
        WHERE t.doc_id % 2 = 0
    ),
    caps AS (
        SELECT CAST(floor(count(*) * 0.80::DOUBLE) AS BIGINT) AS c_wd,
               CAST(floor(count(*) * 0.402::DOUBLE) AS BIGINT) AS c_tgt
        FROM documents
    ),
    hot AS (
        SELECT token FROM wd GROUP BY token
        HAVING count(*) > (SELECT c_wd FROM caps)
        UNION
        SELECT token FROM tgt GROUP BY token
        HAVING count(*) > (SELECT c_tgt FROM caps)
    ),
    wdk AS (
        SELECT * FROM wd WHERE token NOT IN (SELECT token FROM hot)
    )
    SELECT t.doc_id AS doc_a, w.doc_id AS doc_b
    FROM wdk w JOIN tgt t ON w.token = t.token AND w.doc_id <> t.doc_id
    GROUP BY t.doc_id, w.doc_id, t.n_tok
    HAVING count(*) = t.n_tok
"""


def q_winnowing_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (winnowing) fingerprint near-dup candidates, md5 hash
    family — fully oracled in DuckDB (k-gram hashes, window minima, the
    df cap and the shared-count threshold); the xxhash64 path keeps its
    pytest replay oracle."""
    from soweego_spark.operators.dedup import fingerprint_neardup

    docs = _t(spark, sf_dir, "documents")
    return fingerprint_neardup(
        docs, k=5, window=4, min_shared=2, hash_family="md5"
    )


def _q_winnowing_sql(k: int = 5, window: int = 4, min_shared: int = 2,
                     max_df: int = 10_000) -> str:
    gram_hash = _MD5_H.format(x=f"array_to_string(w[i:i+{k - 1}], ' ')")
    return f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               [{gram_hash}
                FOR i IN range(1, greatest(len(w) - {k}, 0) + 2)] AS hashes
        FROM words
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   unnest([list_min(hashes[j:j+{window - 1}])
                           FOR j IN range(1, greatest(len(hashes) - {window},
                                                      0) + 2)]) AS fp
            FROM grams)
    ),
    kept AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_df}
    ),
    capped AS (SELECT f.* FROM fps f JOIN kept USING (fp))
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           count(*) AS n_shared
    FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
    GROUP BY l.doc_id, r.doc_id
    HAVING count(*) >= {min_shared}
    """


def q_external_id_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (reference url_utils.py:214-328): resolve URLs to (ext_id, pid)
    via the external-identifier formatter catalog.

    URLs are synthesized deterministically from doc_id so every kernel
    branch is exercised: head/tail formatter match (mod 0), http + trailing
    slash tidy-up (mod 1), the full-url-regex optimal case (mod 2), the
    early give-up when the ID regex rejects the fragment (mod 3, uppercase),
    and no-match (mod 4).
    """
    from soweego_spark.functions.urls import make_external_ids_udf

    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    mod = F.col("doc_id") % 5
    url = (
        F.when(mod == 0, F.concat(F.lit("https://catalog-a.example/artist/alpha-"), sid))
        .when(mod == 1, F.concat(F.lit("http://catalog-b.example/artist/beta-"), sid, F.lit("/")))
        .when(mod == 2, F.concat(F.lit("https://id-hub.example/artist/gamma-"), sid))
        .when(mod == 3, F.concat(F.lit("https://catalog-a.example/artist/Alpha-"), sid))
        .otherwise(F.concat(F.lit("https://unrelated.example/page/"), sid))
    )
    ids = make_external_ids_udf()
    d = docs.select("doc_id", url.alias("url")).withColumn(
        "ids", ids(F.array(F.col("url")))
    )
    return d.select(
        "doc_id",
        "url",
        F.element_at("ids", 1)["ext_id"].alias("ext_id"),
        F.element_at("ids", 1)["pid"].alias("pid"),
    )


# The oracle mirrors the kernel's control flow in SQL: tidy (strip trailing
# slashes, first 'http' -> 'https'), then the formatter catalog in order —
# catalog-a / catalog-b by head match + anchored ID-regex prefix extraction
# (NULL on regex failure = the kernel's early give-up), id-hub by the full
# URL regex against the ORIGINAL url. substr(..., 34) skips the 33-char
# formatter head 'https://catalog-x.example/artist/'.
_Q_EXTERNAL_ID_SQL = r"""
    WITH urls AS (
        SELECT doc_id,
               CASE doc_id % 5
                 WHEN 0 THEN 'https://catalog-a.example/artist/alpha-' || doc_id
                 WHEN 1 THEN 'http://catalog-b.example/artist/beta-' || doc_id || '/'
                 WHEN 2 THEN 'https://id-hub.example/artist/gamma-' || doc_id
                 WHEN 3 THEN 'https://catalog-a.example/artist/Alpha-' || doc_id
                 ELSE 'https://unrelated.example/page/' || doc_id
               END AS url
        FROM documents
    ),
    tidied AS (
        SELECT doc_id, url,
               CASE WHEN t LIKE 'https%' THEN t
                    ELSE regexp_replace(t, 'http', 'https') END AS tidy
        FROM (SELECT doc_id, url, regexp_replace(url, '/+$', '') AS t
              FROM urls)
    )
    SELECT doc_id, url,
           CASE
             WHEN starts_with(tidy, 'https://catalog-a.example/artist/')
               THEN CASE WHEN regexp_matches(substr(tidy, 34), '^[a-z0-9-]+')
                         THEN regexp_extract(substr(tidy, 34), '^[a-z0-9-]+')
                         END
             WHEN starts_with(tidy, 'https://catalog-b.example/artist/')
               THEN CASE WHEN regexp_matches(substr(tidy, 34), '^[a-z0-9-]+')
                         THEN regexp_extract(substr(tidy, 34), '^[a-z0-9-]+')
                         END
             WHEN regexp_matches(url, '^https?://id-hub\.example/artist/([a-z0-9-]+)/?$')
               THEN regexp_extract(url, '^https?://id-hub\.example/artist/([a-z0-9-]+)/?$', 1)
           END AS ext_id,
           CASE
             WHEN starts_with(tidy, 'https://catalog-a.example/artist/')
               THEN CASE WHEN regexp_matches(substr(tidy, 34), '^[a-z0-9-]+')
                         THEN 'P9001' END
             WHEN starts_with(tidy, 'https://catalog-b.example/artist/')
               THEN CASE WHEN regexp_matches(substr(tidy, 34), '^[a-z0-9-]+')
                         THEN 'P9002' END
             WHEN regexp_matches(url, '^https?://id-hub\.example/artist/([a-z0-9-]+)/?$')
               THEN 'P9003'
           END AS pid
    FROM tidied
"""


def q_bio_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO2 non-date claim matching (checks.py:860-917): greedy
    first-match-wins pairing by normalized-label membership.

    wd claims come from even orders (label set per claim), target statements
    from odd orders of the same customer; pids 'status' and 'priority' keep
    the per-PID separation honest.
    """
    from soweego_spark.operators.validator import match_bio_claims

    orders = _t(spark, sf_dir, "orders")
    even = orders.filter(F.col("o_orderkey") % 2 == 0)
    odd = orders.filter(F.col("o_orderkey") % 2 == 1)

    wd = even.select(
        F.col("o_custkey").alias("tid"),
        F.explode(
            F.array(
                F.struct(
                    (F.col("o_orderkey") * 2).alias("wd_idx"),
                    F.lit("status").alias("pid"),
                    F.array(F.lower("o_orderstatus")).alias("values"),
                ),
                F.struct(
                    (F.col("o_orderkey") * 2 + 1).alias("wd_idx"),
                    F.lit("priority").alias("pid"),
                    F.array(
                        F.lower("o_orderpriority"),
                        F.concat(F.lit("alt-"), F.lower("o_orderpriority")),
                    ).alias("values"),
                ),
            )
        ).alias("c"),
        F.concat(F.lit("Q"), F.col("o_orderkey").cast("string")).alias("qid"),
    ).select("tid", F.col("c.wd_idx"), F.col("c.pid"), "qid", F.col("c.values"))

    tgt = odd.select(
        F.col("o_custkey").alias("tid"),
        F.explode(
            F.array(
                F.struct(
                    (F.col("o_orderkey") * 2).alias("t_idx"),
                    F.lit("status").alias("pid"),
                    F.lower("o_orderstatus").alias("t_value"),
                ),
                F.struct(
                    (F.col("o_orderkey") * 2 + 1).alias("t_idx"),
                    F.lit("priority").alias("pid"),
                    F.lower("o_orderpriority").alias("t_value"),
                ),
            )
        ).alias("c"),
    ).select("tid", F.col("c.t_idx"), F.col("c.pid"), F.col("c.t_value"))

    return match_bio_claims(wd, tgt)


# Exact-sequential-greedy pairing in DuckDB: per tid, candidates are
# consumed in (wd_idx, t_idx) order with both sides used at most once —
# the lexicographically-first maximal matching of the conflict graph.
# Computed as a RECURSIVE CTE: each round accepts the candidates that are
# minimal within BOTH their wd group and their t group (provably the
# lex-first-MIS round rule; plain rank-filters or per-wd proposals are NOT
# equivalent — a wd that loses its first choice must still get its second),
# then drops every candidate sharing a side with an acceptance.
# (list_reduce was rejected: DuckDB 1.0 mishandles non-scalar accumulators.)
_GREEDY_ROUNDS_SQL = """
    g AS (
        SELECT tid, wd_idx, t_idx, 0 AS accepted FROM cand
        UNION ALL
        SELECT tid, wd_idx, t_idx, accepted FROM (
            SELECT r.tid, r.wd_idx, r.t_idx,
                   CASE WHEN rw = 1 AND rt = 1 THEN 1 ELSE 0 END AS accepted,
                   max(CASE WHEN rw = 1 AND rt = 1 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY r.tid, r.wd_idx) AS wd_gone,
                   max(CASE WHEN rw = 1 AND rt = 1 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY r.tid, r.t_idx) AS t_gone
            FROM (
                SELECT tid, wd_idx, t_idx,
                       row_number() OVER (
                           PARTITION BY tid, wd_idx ORDER BY t_idx) AS rw,
                       row_number() OVER (
                           PARTITION BY tid, t_idx ORDER BY wd_idx) AS rt
                FROM g WHERE accepted = 0
            ) r
        )
        WHERE accepted = 1 OR (wd_gone = 0 AND t_gone = 0)
    ),
    accepted AS (SELECT tid, wd_idx, t_idx FROM g WHERE accepted = 1)
"""


_Q_BIO_VALIDATION_SQL = f"""
    WITH RECURSIVE wd AS (
        SELECT o_custkey AS tid, o_orderkey * 2 AS wd_idx,
               'status' AS pid, 'Q' || o_orderkey AS qid,
               [lower(o_orderstatus)] AS vals
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_custkey, o_orderkey * 2 + 1, 'priority', 'Q' || o_orderkey,
               [lower(o_orderpriority), 'alt-' || lower(o_orderpriority)]
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    tgt AS (
        SELECT o_custkey AS tid, o_orderkey * 2 AS t_idx,
               'status' AS pid, lower(o_orderstatus) AS t_value
        FROM orders WHERE o_orderkey % 2 = 1
        UNION ALL
        SELECT o_custkey, o_orderkey * 2 + 1, 'priority',
               lower(o_orderpriority)
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    cand AS (
        SELECT wd.tid, wd.pid, wd.qid, wd.wd_idx, tgt.t_idx
        FROM wd JOIN tgt ON wd.tid = tgt.tid AND wd.pid = tgt.pid
        WHERE list_contains(wd.vals, tgt.t_value)
    ),
    {_GREEDY_ROUNDS_SQL.strip()}
    SELECT c.tid, c.pid, c.qid, c.wd_idx, c.t_idx
    FROM accepted a JOIN cand c
      ON a.tid = c.tid AND a.wd_idx = c.wd_idx AND a.t_idx = c.t_idx
"""


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar/Trenkle-style n-gram language ID: per-lang char-trigram
    profiles learned from the labeled corpus, documents assigned the
    argmax integer profile dot product (operators/langid.py). The
    documents table's lang labels are synthetic noise, so accuracy is
    meaningless here — the oracle checks the COMPUTATION exactly."""
    from soweego_spark.operators.langid import (
        classify_languages,
        train_lang_profiles,
    )

    docs = _t(spark, sf_dir, "documents")
    # NOT fused (r7, measured): a shared (doc, lang, trigram) count table
    # serving both train and classify A/B'd ~10% SLOWER than the two-pass
    # shape — the profile pass's (lang, tg) grouping map-side-combines to
    # a vocabulary-sized shuffle that the fused higher-cardinality
    # grouping forfeits, outweighing the saved explode.
    profiles = train_lang_profiles(docs, top_k=50)
    return classify_languages(docs, profiles)


_Q_LANG_NGRAM_SQL = """
    WITH grams AS (
        SELECT doc_id, lang,
               unnest([substr(lower(text), i, 3)
                       FOR i IN range(1, greatest(len(text) - 2, 1) + 1)])
                   AS tg
        FROM documents
    ),
    prof_counts AS (
        SELECT lang, tg, count(*) AS prof_cnt
        FROM grams GROUP BY lang, tg
    ),
    profiles AS (
        SELECT lang, tg, prof_cnt FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY lang
                       ORDER BY prof_cnt DESC, tg ASC) AS rn
            FROM prof_counts
        ) WHERE rn <= 50
    ),
    doc_counts AS (
        SELECT doc_id, tg, count(*) AS doc_cnt
        FROM grams GROUP BY doc_id, tg
    ),
    scored AS (
        SELECT d.doc_id, p.lang,
               sum(d.doc_cnt * p.prof_cnt)::BIGINT AS score
        FROM doc_counts d JOIN profiles p USING (tg)
        GROUP BY d.doc_id, p.lang
    )
    SELECT doc_id, lang AS predicted_lang, score FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score DESC, lang ASC) AS rn
        FROM scored
    ) WHERE rn = 1
"""


def q_three_way_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (reference workflow.py:155-179): the base ⟕ link ⟕ nlp outer
    join — the entity spine left-joined to two per-entity aggregate
    tables, keeping spine rows with no counterpart (the reference's
    SQLAlchemy outerjoin chain as two left joins; Catalyst picks
    broadcast/SMJ by size)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")

    link = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
    )
    # value is 2-decimal data stored as double: averaging doubles lands ON
    # rounding ties where Spark (HALF_UP on the decimal string repr) and
    # DuckDB (binary-value rounding) legitimately disagree (seen at sf0.1:
    # avg 49.19125 -> .1913 vs .1912). Tie-free exact arithmetic instead:
    # cents are exact integers, sums of integers are exact in a double,
    # one division is bit-deterministic, and floor() has no tie cases.
    cents = F.sum(F.round(F.col("value") * 100))
    nlp = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.floor(cents * 100 / F.count("*")) / 10000.0).alias("avg_value"),
    )
    return (
        cust.select("c_custkey", "c_nationkey")
        .join(link, cust.c_custkey == link.o_custkey, "left")
        .join(nlp, cust.c_custkey == nlp.user_id, "left")
        .select(
            "c_custkey", "c_nationkey",
            "n_orders", "total_spent", "n_events", "avg_value",
        )
    )


_Q_THREE_WAY_SQL = """
    WITH link AS (
        SELECT o_custkey, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_spent
        FROM orders GROUP BY o_custkey
    ),
    nlp AS (
        SELECT user_id, count(*) AS n_events,
               floor(sum(round(value * 100)) * 100 / count(*)) / 10000.0
                   AS avg_value
        FROM events GROUP BY user_id
    )
    SELECT c_custkey, c_nationkey, n_orders, total_spent, n_events, avg_value
    FROM customer
    LEFT JOIN link ON c_custkey = o_custkey
    LEFT JOIN nlp ON c_custkey = user_id
"""


def q_url_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 (reference checks.py:687-703): drop statements whose URL domain
    is blacklisted — broadcast anti join on the parsed domain instead of
    the reference's O(n*m) substring loop. URLs synthesized from doc_id
    (same catalog hosts as external_id_extraction)."""
    from soweego_spark.operators.validator import url_blacklist_filter

    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    mod = F.col("doc_id") % 4
    url = (
        F.when(mod == 0, F.concat(F.lit("https://catalog-a.example/artist/a-"), sid))
        .when(mod == 1, F.concat(F.lit("https://www.spam-mirror.example/x/"), sid))
        .when(mod == 2, F.concat(F.lit("https://id-hub.example/artist/g-"), sid))
        .otherwise(F.concat(F.lit("https://linkfarm.example/p/"), sid))
    )
    stmts = docs.select("doc_id", url.alias("url"))
    return url_blacklist_filter(
        stmts, ["spam-mirror.example", "linkfarm.example"]
    )


_Q_URL_BLACKLIST_SQL = """
    WITH stmts AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'https://catalog-a.example/artist/a-' || doc_id
                 WHEN 1 THEN 'https://www.spam-mirror.example/x/' || doc_id
                 WHEN 2 THEN 'https://id-hub.example/artist/g-' || doc_id
                 ELSE 'https://linkfarm.example/p/' || doc_id
               END AS url
        FROM documents
    )
    SELECT doc_id, url FROM (
        SELECT doc_id, url,
               regexp_extract(lower(url),
                   '^[a-z][a-z0-9+.-]*://(?:www\\.)?([^/:]+)', 1) AS d
        FROM stmts
    )
    WHERE d NOT IN ('spam-mirror.example', 'linkfarm.example')
      AND regexp_extract(d, '([^.]+\\.[^.]+)$', 1)
          NOT IN ('spam-mirror.example', 'linkfarm.example')
"""


def q_bio_dates_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO2, dates half (checks.py:818-937): greedy first-match-wins pairing
    of date statements on shared precision (F7), via the same two ranked
    windows as the claims matcher. wd dates come from even orders (depth
    by orderkey thirds: year/month/day precision), target dates from odd
    lineitem ship dates of the same customer."""
    from soweego_spark.operators.validator import match_bio_dates

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    wd = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_custkey").alias("tid"),
        F.col("o_orderkey").alias("wd_idx"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("d"),
        (F.col("o_orderkey") % 3).cast("long").alias("depth"),
    )
    tgt = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(F.col("l_orderkey") % 2 == 1)
        .select(
            F.col("o_custkey").alias("tid"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("t_idx"),
            F.year("l_shipdate").alias("y"),
            F.month("l_shipdate").alias("mo"),
            F.dayofmonth("l_shipdate").alias("d"),
            (F.col("l_linenumber") % 3).cast("long").alias("depth"),
        )
    )
    # the synthetic lineitem has duplicate (orderkey, linenumber) rows:
    # keep one date per t_idx deterministically (min by full date tuple) —
    # match_bio_dates requires unique statement indexes per side
    w = Window.partitionBy("tid", "t_idx").orderBy("y", "mo", "d", "depth")
    tgt = (
        tgt.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return match_bio_dates(wd, tgt)


_Q_BIO_DATES_SQL = f"""
    WITH RECURSIVE wd AS (
        SELECT o_custkey AS tid, o_orderkey AS wd_idx,
               year(o_orderdate) AS y, month(o_orderdate) AS mo,
               day(o_orderdate) AS d, (o_orderkey % 3)::INT AS depth
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    tgt_raw AS (
        SELECT o.o_custkey AS tid,
               l.l_orderkey * 10 + l.l_linenumber AS t_idx,
               year(l.l_shipdate) AS y, month(l.l_shipdate) AS mo,
               day(l.l_shipdate) AS d, (l.l_linenumber % 3)::INT AS depth
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_orderkey % 2 = 1
    ),
    tgt AS (
        SELECT tid, t_idx, y, mo, d, depth FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY tid, t_idx
                       ORDER BY y, mo, d, depth) AS _rn
            FROM tgt_raw
        ) WHERE _rn = 1
    ),
    cand AS (
        SELECT wd.tid, wd.wd_idx, tgt.t_idx,
               least(wd.depth, tgt.depth) AS shared_depth
        FROM wd JOIN tgt ON wd.tid = tgt.tid
        WHERE wd.y = tgt.y
          AND (least(wd.depth, tgt.depth) < 1 OR wd.mo = tgt.mo)
          AND (least(wd.depth, tgt.depth) < 2 OR wd.d = tgt.d)
    ),
    {_GREEDY_ROUNDS_SQL.strip()}
    SELECT c.tid, c.wd_idx, c.t_idx, c.shared_depth
    FROM accepted a JOIN cand c
      ON a.tid = c.tid AND a.wd_idx = c.wd_idx AND a.t_idx = c.t_idx
"""


# ------------------------------------- pair features + classifier gate
#
# C1-C7 and the M2 scoring surface under the driver's hash gate: a
# deterministic synthetic signature table built from `part` (tokens, URL
# lists, date structs, count maps — all derived arithmetically from
# p_partkey so DuckDB can mirror them exactly), run through the REAL
# assemble_pairs + compute_features path (operators/pairfeatures.py), and
# for logistic_score the REAL IRLS trainer (operators/classify.py:68) with
# the fitted weights embedded as literals in the oracle — the plane-literal
# technique. Every feature is +,-,*,/,sqrt over identical operands in
# identical order, so values are bit-exact across engines; the output is
# the linear MARGIN (w·x + b), not sigmoid(margin), because libm exp is
# the one op without a cross-engine correct-rounding guarantee.


def _part_signature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic signature table over part (pk % 4 == 0 sample): the same
    column surface extract.py produces, derived arithmetically so the
    oracle can rebuild it in SQL. Band words are injected into some name
    token sets so the C5 band penalty actually fires."""
    part = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")

    def tag(prefix: str, mod: int):
        return F.concat(F.lit(prefix), (pk % mod).cast("string"))

    extra = F.filter(
        F.array(
            F.when(pk % 5 == 0, F.lit("band")),
            F.when(pk % 7 == 0, F.lit("club")),
        ),
        lambda e1: e1.isNotNull(),
    )
    toks = F.array_sort(
        F.array_distinct(F.concat(F.split(F.col("p_name"), " "), extra))
    )
    dtoks = F.array_sort(
        F.array_distinct(
            F.split(
                F.concat_ws(" ", F.lower(F.col("p_type")), F.col("p_name")),
                " ",
            )
        )
    )

    def date_struct(y0, ymod, momod, dmod, depmod):
        return F.array(
            F.struct(
                (F.lit(y0) + pk % ymod).cast("int").alias("y"),
                (F.lit(1) + pk % momod).cast("int").alias("mo"),
                (F.lit(1) + pk % dmod).cast("int").alias("d"),
                F.lit(0).alias("h"),
                F.lit(0).alias("mi"),
                F.lit(0).alias("s"),
                (pk % depmod).cast("int").alias("depth"),
            )
        )

    return part.filter(pk % 4 == 0).select(
        pk.alias("pk"),
        F.col("p_brand").alias("block"),
        F.concat(F.lit("p"), pk.cast("string")).alias("url"),
        F.array(F.col("p_name")).alias("name"),
        toks.alias("name_tokens"),
        F.array(
            F.concat(F.lit("https://x.test/"), (pk % 17).cast("string")),
            F.concat(F.lit("https://y.test/"), (pk % 5).cast("string")),
        ).alias("urls"),
        F.array_sort(
            F.array_distinct(F.array(tag("t", 11), tag("t", 7), tag("t", 3)))
        ).alias("url_tokens"),
        date_struct(1900, 100, 12, 28, 3).alias("born_p"),
        date_struct(1950, 60, 11, 27, 2).alias("died_p"),
        F.array_sort(
            F.array_distinct(F.array(tag("o", 5), tag("o", 3), tag("o", 2)))
        ).alias("occupations"),
        F.array_sort(F.array_distinct(F.array(tag("g", 4), tag("g", 6)))).alias(
            "genres"
        ),
        F.map_from_arrays(toks, F.transform(toks, lambda t1: F.lit(1))).alias(
            "name_bigrams"
        ),
        F.sqrt(F.size(toks)).alias("name_bigram_norm"),
        F.map_from_arrays(dtoks, F.transform(dtoks, lambda t2: F.lit(1))).alias(
            "desc_terms"
        ),
        F.sqrt(F.size(dtoks)).alias("desc_norm"),
    )


def _pair_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-blocked pairs over the synthetic signatures, featurized by the
    flagship path (assemble_pairs + compute_features)."""
    from soweego_spark.operators import pins
    from soweego_spark.operators.pairfeatures import featurize

    # the synthetic signature frame feeds four consumers (both blocking
    # sides + both assemble_pairs sides); persist the sample-bounded rows
    # once instead of rebuilding the map/array columns per consumer (r7).
    # The pin is left to the caller's scope.
    sig = pins.persist(_part_signature_frame(spark, sf_dir))
    a = sig.select("block", F.col("url").alias("url_a"), F.col("pk").alias("_pka"))
    b = sig.select("block", F.col("url").alias("url_b"), F.col("pk").alias("_pkb"))
    pairs = (
        a.join(b, "block")
        .filter(F.col("_pka") < F.col("_pkb"))
        .select("url_a", "url_b")
    )
    return featurize(pairs, sig.drop("pk", "block"))


def q_pair_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2/C3/C4/C5/C6/C7 + assembly (C8/C9) under the hash gate: the
    11-column reference-parity feature vector (reference features.py:76-470)
    over brand-blocked part pairs."""
    return _pair_feature_frame(spark, sf_dir)


def _labeled_feature_subset(feats: DataFrame) -> DataFrame:
    """Deterministic 1/3 'annotated' subset with a name-similarity label —
    the training fixture for logistic_score, reproducible in SQL."""
    a_pk = F.substring(F.col("url_a"), 2, 18).cast("long")
    b_pk = F.substring(F.col("url_b"), 2, 18).cast("long")
    return feats.filter((a_pk * 31 + b_pk) % 3 == 0).withColumn(
        "label", (F.col("name_cos") >= 0.5).cast("double")
    )


# Hard bound on the logistic training fixture's driver transfer: the 1/3
# labeled subset grows linearly with the lake (166k rows at sf0.1 -> a
# multi-GB toPandas at 100x), so the fixture keeps only a deterministic
# hash-ordered sample of this many rows — a global TakeOrdered by the
# cross-engine 60-bit md5 of the pair key (unbiased w.r.t. the data, stable
# across partitionings, replayable in DuckDB). The cap BINDS at sf0.1.
_LOGISTIC_TRAIN_CAP = 50_000


def q_logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 train + score + P4 threshold under the hash gate: IRLS logistic
    regression (classify.py:68, liblinear C=1.0 analogue) trained
    driver-side on the deterministic labeled subset, pushed back into the
    plan as literal column arithmetic (the broadcast-linear-model pattern,
    reference linker/link.py:148-223). Emits the linear margin w·x + b and
    keeps margin >= 0 (== sigmoid >= 0.5): identical decision boundary,
    bit-exact across engines (no libm exp in the output)."""
    from soweego_spark.operators import pins
    from soweego_spark.operators.classify import train_logistic
    from soweego_spark.operators.dedup import md5_60
    from soweego_spark.operators.pairfeatures import FEATURE_COLUMNS

    # pinned: the feature frame feeds BOTH the training collect and the
    # returned scoring plan — same shape as plans/pipeline.py's pinned
    # feature stage (recomputing featurize was ~12 s of this query's
    # 21 s at sf0.1); the returned plan reads the pin, so the gate's
    # per-query scope releases it
    feats = pins.persist(_pair_feature_frame(spark, sf_dir))
    labeled = (
        _labeled_feature_subset(feats)
        .select("url_a", "url_b", *FEATURE_COLUMNS, "label")
        # bound the driver transfer: global top-N by the pair-key hash
        # (orderBy+limit plans as TakeOrderedAndProject — each task ships
        # at most N rows, the driver merges). Tiebreak on the unique pair
        # key so the sample is a total function of the data.
        .withColumn("_h", md5_60(F.concat_ws("|", "url_a", "url_b")))
        .orderBy("_h", "url_a", "url_b")
        .limit(_LOGISTIC_TRAIN_CAP)
        .drop("_h")
    )
    # Arrow toPandas, not collect(): row pickling was most of this
    # query's wall at sf0.1 (166k labeled rows before the cap). Sort
    # exactly like the oracle's replay — python/pandas lexicographic on
    # the ASCII pair key — so the training matrix is row-identical in
    # both engines.
    pdf = labeled.toPandas().sort_values(["url_a", "url_b"], kind="mergesort")
    X = pdf[FEATURE_COLUMNS].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy(dtype=np.float64)
    model = train_logistic(X, y)
    margin = F.lit(float(model.bias))
    for name, w in zip(model.features, model.weights):
        margin = margin + F.col(name) * F.lit(float(w))
    return (
        feats.withColumn("margin", margin)
        .filter(F.col("margin") >= 0.0)
        .select("url_a", "url_b", "margin")
    )


def _pair_features_sql() -> str:
    """DuckDB replica of q_pair_features — same arithmetic, same op order
    (every feature is IEEE +,-,*,/,sqrt/levenshtein over identical
    operands, so no rounding is needed)."""
    from soweego_spark.functions.simkernels import BAND_LOW_SCORE_WORDS

    band = ", ".join("'" + w + "'" for w in sorted(BAND_LOW_SCORE_WORDS))
    lev = (
        "list_max(flatten([[CASE WHEN greatest(len(x), len(y)) = 0 THEN 1.0 "
        "ELSE 1.0 - levenshtein(x, y) / greatest(len(x), len(y)) END "
        "FOR y IN b_toks] FOR x IN a_toks]))"
    )

    def datesim(pre_a, pre_b, y, mo, d, dep):
        sh = f"least({pre_a}{dep}, {pre_b}{dep})"
        return (
            f"(CASE WHEN {pre_a}{y} = {pre_b}{y} THEN "
            f"CASE WHEN {sh} >= 1 AND {pre_a}{mo} = {pre_b}{mo} THEN "
            f"CASE WHEN {sh} >= 2 AND {pre_a}{d} = {pre_b}{d} "
            f"THEN 3 ELSE 2 END ELSE 1 END ELSE 0 END) / ({sh} + 1)"
        )

    return f"""
    WITH side AS (
        SELECT p_partkey AS pk, p_brand AS block,
               'p' || p_partkey::VARCHAR AS url, p_name AS nm,
               list_sort(list_distinct(list_concat(list_concat(
                   string_split(p_name, ' '),
                   CASE WHEN p_partkey % 5 = 0 THEN ['band']
                        ELSE []::VARCHAR[] END),
                   CASE WHEN p_partkey % 7 = 0 THEN ['club']
                        ELSE []::VARCHAR[] END))) AS toks,
               list_sort(list_distinct(string_split(
                   lower(p_type) || ' ' || p_name, ' '))) AS dtoks,
               ['https://x.test/' || (p_partkey % 17)::VARCHAR,
                'https://y.test/' || (p_partkey % 5)::VARCHAR] AS urls,
               list_sort(list_distinct(
                   ['t' || (p_partkey % 11)::VARCHAR,
                    't' || (p_partkey % 7)::VARCHAR,
                    't' || (p_partkey % 3)::VARCHAR])) AS utoks,
               list_sort(list_distinct(
                   ['o' || (p_partkey % 5)::VARCHAR,
                    'o' || (p_partkey % 3)::VARCHAR,
                    'o' || (p_partkey % 2)::VARCHAR])) AS occs,
               list_sort(list_distinct(
                   ['g' || (p_partkey % 4)::VARCHAR,
                    'g' || (p_partkey % 6)::VARCHAR])) AS gens,
               1900 + p_partkey % 100 AS b_y, 1 + p_partkey % 12 AS b_mo,
               1 + p_partkey % 28 AS b_d, p_partkey % 3 AS b_dep,
               1950 + p_partkey % 60 AS d_y, 1 + p_partkey % 11 AS d_mo,
               1 + p_partkey % 27 AS d_d, p_partkey % 2 AS d_dep
        FROM part WHERE p_partkey % 4 = 0
    ),
    pr AS (
        SELECT a.url AS url_a, b.url AS url_b,
               a.nm AS a_nm, b.nm AS b_nm,
               a.toks AS a_toks, b.toks AS b_toks,
               a.dtoks AS a_dtoks, b.dtoks AS b_dtoks,
               a.urls AS a_urls, b.urls AS b_urls,
               a.utoks AS a_ut, b.utoks AS b_ut,
               a.occs AS a_occ, b.occs AS b_occ,
               a.gens AS a_gen, b.gens AS b_gen,
               a.b_y AS a_by, a.b_mo AS a_bmo, a.b_d AS a_bd,
               a.b_dep AS a_bdep,
               b.b_y AS b_by, b.b_mo AS b_bmo, b.b_d AS b_bd,
               b.b_dep AS b_bdep,
               a.d_y AS a_dy, a.d_mo AS a_dmo, a.d_d AS a_dd,
               a.d_dep AS a_ddep,
               b.d_y AS b_dy, b.d_mo AS b_dmo, b.d_d AS b_dd,
               b.d_dep AS b_ddep
        FROM side a JOIN side b ON a.block = b.block AND a.pk < b.pk
    )
    SELECT url_a, url_b,
        CASE WHEN a_nm = b_nm THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
            AS name_exact,
        {lev} AS name_lev,
        CAST(len(list_intersect(a_toks, b_toks)) AS DOUBLE)
            / (sqrt(len(a_toks)) * sqrt(len(b_toks))) AS name_cos,
        (len(list_intersect(a_toks, b_toks))
            - len(list_intersect(list_intersect(a_toks, b_toks),
                                 [{band}])) * 0.9::DOUBLE)
            / len(list_distinct(list_concat(a_toks, b_toks)))
            AS name_shared,
        CASE WHEN len(list_intersect(a_urls, b_urls)) > 0
             THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS url_exact,
        len(list_intersect(a_ut, b_ut)) / least(len(a_ut), len(b_ut))
            AS url_tok_shared,
        {datesim('a_', 'b_', 'by', 'bmo', 'bd', 'bdep')} AS born_sim,
        {datesim('a_', 'b_', 'dy', 'dmo', 'dd', 'ddep')} AS died_sim,
        CAST(len(list_intersect(a_dtoks, b_dtoks)) AS DOUBLE)
            / (sqrt(len(a_dtoks)) * sqrt(len(b_dtoks))) AS desc_cos,
        len(list_intersect(a_occ, b_occ)) / least(len(a_occ), len(b_occ))
            AS occ_shared,
        (len(list_intersect(a_gen, b_gen)) - 0 * 0.9::DOUBLE)
            / len(list_distinct(list_concat(a_gen, b_gen))) AS genre_shared
    FROM pr
    """


def _q_logistic_score_sql() -> str:
    """DuckDB replica of q_logistic_score: replay the IRLS fit on the
    DuckDB-computed feature matrix (bit-identical to Spark's — that is
    exactly what the pair_features gate asserts), sorted by the same pair
    key, with the SAME trainer (classify.train_logistic), then embed the
    fitted weights as literals in margin arithmetic written in the same
    left-to-right order as the Spark column expression."""
    import os

    import duckdb as _duck

    from soweego_spark.operators.classify import train_logistic
    from soweego_spark.operators.pairfeatures import FEATURE_COLUMNS

    sf_dir = os.environ.get(
        "SOWEEGO_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    con = _duck.connect()
    try:
        con.execute(
            f"CREATE VIEW part AS SELECT * FROM '{sf_dir}/part.parquet'"
        )
        res = con.execute(
            f"""
            WITH f AS ({_pair_features_sql()})
            SELECT f.*, CASE WHEN name_cos >= 0.5 THEN 1.0 ELSE 0.0 END
                   AS label
            FROM f
            WHERE (CAST(substr(url_a, 2) AS BIGINT) * 31
                   + CAST(substr(url_b, 2) AS BIGINT)) % 3 = 0
            ORDER BY {_MD5_H.format(x="(url_a || '|' || url_b)")},
                     url_a, url_b
            LIMIT {_LOGISTIC_TRAIN_CAP}
            """
        )
        cols = [dsc[0] for dsc in res.description]
        rows = sorted(res.fetchall(), key=lambda r: (r[0], r[1]))
    finally:
        con.close()
    idx = {c: i for i, c in enumerate(cols)}
    X = np.array(
        [[r[idx[c]] for c in FEATURE_COLUMNS] for r in rows],
        dtype=np.float64,
    )
    y = np.array([r[idx["label"]] for r in rows], dtype=np.float64)
    model = train_logistic(X, y)
    margin = repr(float(model.bias))
    for name, w in zip(model.features, model.weights):
        margin += f" + {name} * {repr(float(w))}"
    return f"""
    WITH f AS ({_pair_features_sql()})
    SELECT url_a, url_b, margin FROM (
        SELECT url_a, url_b, {margin} AS margin FROM f
    ) WHERE margin >= 0.0
    """


def q_cluster_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cluster P/R/F1 from sufficient statistics
    (operators/evaluate.pairwise_cluster_metrics) — O(rows), never
    materializing pair sets. Predicted clusters here are 60-bit-md5 text
    buckets (the cross-engine hash family) and truth is doc_id % 50, so
    the METRIC math is what the gate checks, on a nondegenerate
    contingency table."""
    from soweego_spark.operators.dedup import md5_60
    from soweego_spark.operators.evaluate import pairwise_cluster_metrics

    docs = _t(spark, sf_dir, "documents")
    assign = docs.select(
        F.col("doc_id").alias("url"),
        (md5_60(F.col("text")) % 40).alias("cluster_id"),
    )
    truth = docs.select(
        F.col("doc_id").alias("url"),
        (F.col("doc_id") % 50).alias("entity_id"),
    )
    return pairwise_cluster_metrics(assign, truth)


_Q_CLUSTER_METRICS_SQL = f"""
    WITH assign AS (
        SELECT doc_id AS id, ({_MD5_H.format(x='text')}) % 40 AS cluster_id
        FROM documents
    ),
    truth AS (SELECT doc_id AS id, doc_id % 50 AS entity_id FROM documents),
    tp AS (
        SELECT COALESCE(sum(CASE WHEN n % 2 = 0 THEN (n // 2) * (n - 1) ELSE n * ((n - 1) // 2) END), 0)::BIGINT AS tp FROM (
            SELECT a.cluster_id, t.entity_id, count(*) AS n
            FROM assign a JOIN truth t USING (id)
            GROUP BY a.cluster_id, t.entity_id
        )
    ),
    pred AS (
        SELECT COALESCE(sum(CASE WHEN n % 2 = 0 THEN (n // 2) * (n - 1) ELSE n * ((n - 1) // 2) END), 0)::BIGINT AS pred FROM (
            SELECT cluster_id, count(*) AS n FROM assign GROUP BY cluster_id
        )
    ),
    act AS (
        SELECT COALESCE(sum(CASE WHEN n % 2 = 0 THEN (n // 2) * (n - 1) ELSE n * ((n - 1) // 2) END), 0)::BIGINT AS act FROM (
            SELECT entity_id, count(*) AS n FROM truth GROUP BY entity_id
        )
    ),
    m AS (
        SELECT tp AS tp_pairs, pred AS predicted_pairs, act AS actual_pairs,
               CASE WHEN pred > 0 THEN tp / pred ELSE 0.0::DOUBLE END
                   AS precision,
               CASE WHEN act > 0 THEN tp / act ELSE 0.0::DOUBLE END
                   AS recall
        FROM tp, pred, act
    )
    SELECT *,
           CASE WHEN precision + recall > 0
                THEN 2.0::DOUBLE * precision * recall
                     / (precision + recall)
                ELSE 0.0::DOUBLE END AS f1
    FROM m
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization, batch face (streaming/events.sessionize_batch):
    per-user 30-minute-gap sessions with exact integer-cents totals and
    microsecond gap comparisons; ordering made total by the (ts,
    event_id) tiebreak, so the output is a function of the data."""
    from soweego_spark.streaming.events import sessionize_batch

    events = _t(spark, sf_dir, "events")
    return sessionize_batch(events, gap_minutes=30)


_Q_SESSIONIZE_SQL = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, sum(cents)::BIGINT AS total_cents
    FROM numbered
    GROUP BY user_id, session_id
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality metrics (Rae et al. 2021 A1.1) per
    document: word count, mean word length, distinct-word ratio, top
    bigram fraction, pass verdict — all relational aggregations
    (operators/textquality.py), hash-exact vs DuckDB."""
    from soweego_spark.operators.textquality import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    return gopher_quality(docs)


_Q_GOPHER_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(w) AS word_count,
               len(list_distinct(w)) AS distinct_words,
               list_sum(list_transform(w, x -> len(x))) AS char_sum
        FROM toks
    ),
    grams AS (
        SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id,
                   unnest([w[i] || ' ' || w[i + 1]
                           FOR i IN range(1, greatest(len(w) - 1, 0) + 1)])
                       AS g
            FROM toks
        ) GROUP BY doc_id, g
    ),
    top AS (SELECT doc_id, max(c) AS top_bigram_count FROM grams
            GROUP BY doc_id),
    m AS (
        SELECT b.doc_id AS id,
               word_count::BIGINT AS word_count,
               COALESCE(char_sum, 0) / greatest(word_count, 1)
                   AS mean_word_len,
               CAST(distinct_words AS DOUBLE) / greatest(word_count, 1)
                   AS distinct_ratio,
               CAST(COALESCE(top_bigram_count, 0) AS DOUBLE)
                   / greatest(word_count - 1, 1) AS top_bigram_frac
        FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
    )
    SELECT *,
           (word_count >= 3 AND mean_word_len <= 12.0
            AND distinct_ratio >= 0.2 AND top_bigram_frac <= 0.5)
               AS quality_pass
    FROM m
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (operators/textquality.scrub_pii): email / IPv4
    / phone patterns replaced by typed tags with per-kind hit counts.
    The corpus has no PII, so deterministic PII is synthesized per doc
    (both engines build the identical string) — the gate checks the
    regex semantics and the email->ip->phone ordering exactly."""
    from soweego_spark.operators.textquality import scrub_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1 555 01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" ip 10."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 200).cast("string"),
        ).alias("text"),
    )
    return scrub_pii(docs).select(
        "doc_id", "text_scrubbed", "n_emails", "n_ips", "n_phones"
    )


_Q_PII_SQL = r"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id::VARCHAR
                    || '@mail.example.com or +1 555 01'
                    || lpad((doc_id % 100)::VARCHAR, 2, '0')
                    || ' ip 10.' || (doc_id % 250)::VARCHAR
                    || '.0.' || (doc_id % 200)::VARCHAR AS text
        FROM documents
    ),
    s1 AS (
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   ::BIGINT AS n_emails,
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS text
        FROM aug
    ),
    s2 AS (
        SELECT doc_id, n_emails,
               len(regexp_extract_all(text,
                   '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b'))::BIGINT AS n_ips,
               regexp_replace(text, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b',
                              '<IP>', 'g') AS text
        FROM s1
    )
    SELECT doc_id,
           regexp_replace(text, '\+?[0-9][0-9() .-]{6,}[0-9]',
                          '<PHONE>', 'g') AS text_scrubbed,
           n_emails, n_ips,
           len(regexp_extract_all(text,
               '\+?[0-9][0-9() .-]{6,}[0-9]'))::BIGINT AS n_phones
    FROM s2
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup profile (Lee et al. ExactSubstr as
    DataFrame algebra, operators/corpus.py): per doc, the token budget an
    ExactSubstr cut pass would remove — maximal merged spans of 10-token
    grams whose corpus-wide occurrence count is >= 2 (md5_60 gram hashes,
    gaps-and-islands span merge). One row per doc incl. clean/short docs.
    Scale: one fixed-width-key shuffle (gram count), one equi-join back,
    one per-doc window — the same row volume as the shingle explode."""
    from soweego_spark.operators.corpus import substring_dedup_stats

    return substring_dedup_stats(_t(spark, sf_dir, "documents"), k=10)


_SUBSTR_K = 10


def _substr_span_ctes(k: int = _SUBSTR_K) -> str:
    """Shared CTE text words -> grams -> duplicated merged spans `sp`
    (doc_id, island, ms, me): the DuckDB half of duplicated_spans —
    60-bit md5 gram hashes, count >= 2, gaps-and-islands merge."""
    return f"""words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ),
    g0 AS (
        SELECT doc_id,
               unnest([{{'st': gi - 1,
                        'gh': ('0x' || substr(md5(array_to_string(
                                  w[gi:gi+{k - 1}], ' ')), 1, 15)
                              )::BIGINT}}
                       FOR gi IN range(1, len(w) - {k} + 2)]) AS gu
        FROM words
        WHERE len(w) >= {k}
    ),
    grams AS (SELECT doc_id, gu.st AS st, gu.gh AS gh FROM g0),
    dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
    spans AS (
        SELECT g.doc_id, g.st AS s, g.st + {k} AS e
        FROM grams g JOIN dupg USING (gh)
    ),
    marked AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pmax
        FROM spans
    ),
    isl AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS island
        FROM marked
    ),
    sp AS (
        SELECT doc_id, island, min(s) AS ms, max(e) AS me
        FROM isl GROUP BY doc_id, island
    )"""


_Q_SUBSTR_SQL = f"""
    WITH {_substr_span_ctes()},
    perdoc AS (
        SELECT doc_id, sum(me - ms) AS dup_tokens, count(*) AS n_spans
        FROM sp GROUP BY doc_id
    )
    SELECT b.doc_id,
           len(b.w)::BIGINT AS n_tokens,
           coalesce(p.dup_tokens, 0)::BIGINT AS dup_tokens,
           coalesce(p.n_spans, 0)::BIGINT AS n_spans
    FROM words b LEFT JOIN perdoc p USING (doc_id)
"""


def q_substring_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CUT pass itself (corpus.cut_duplicated_spans):
    per doc, the cleaned single-space-joined token stream with every
    duplicated span removed, plus the removed-token count. The whole
    rewritten corpus is value-hashed against DuckDB's rebuild (position
    anti-join on the same merged spans, string_agg ordered by position)
    — so the gate pins the exact output text, not just counts."""
    from soweego_spark.operators.corpus import cut_duplicated_spans

    return cut_duplicated_spans(_t(spark, sf_dir, "documents"), k=10)


_Q_SUBSTR_CUT_SQL = f"""
    WITH {_substr_span_ctes()},
    pos AS (
        SELECT doc_id, unnest(range(len(w))) AS p FROM words
    ),
    kept AS (
        SELECT po.doc_id, po.p FROM pos po
        WHERE NOT EXISTS (
            SELECT 1 FROM sp
            WHERE sp.doc_id = po.doc_id AND po.p >= sp.ms AND po.p < sp.me
        )
    ),
    toksel AS (
        SELECT ke.doc_id, ke.p, wo.w[ke.p + 1] AS tok
        FROM kept ke JOIN words wo USING (doc_id)
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
               count(*) AS n_kept
        FROM toksel GROUP BY doc_id
    )
    SELECT b.doc_id,
           coalesce(r.text_clean, '') AS text_clean,
           (len(b.w) - coalesce(r.n_kept, 0))::BIGINT AS n_removed
    FROM words b LEFT JOIN rebuilt r USING (doc_id)
"""


def q_substring_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingestion face of ExactSubstr
    (corpus.duplicated_spans_incremental): even doc_ids are the already-
    ingested corpus — reduced to its persisted gram-count state
    (corpus.gram_counts; counts only, no text) — and odd doc_ids are the
    new batch; a batch gram is duplicated iff in-batch + corpus count
    >= 2. The oracle is the MONOLITHIC span computation restricted to
    the batch's docs: hash-matching proves the split state+batch path
    decides identically to rescanning the whole corpus — the exact
    equivalence the incremental operator claims."""
    from soweego_spark.operators.corpus import (
        duplicated_spans_incremental,
        gram_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    state = gram_counts(docs.where(F.col("doc_id") % 2 == 0), k=10)
    return duplicated_spans_incremental(
        docs.where(F.col("doc_id") % 2 == 1), state, k=10
    )


_Q_SUBSTR_INCR_SQL = f"""
    WITH {_substr_span_ctes()}
    SELECT doc_id, ms::BIGINT AS span_start, me::BIGINT AS span_end
    FROM sp WHERE doc_id % 2 = 1
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/corpus.decontaminate): docs
    with doc_id % 5 == 0 play the frozen eval set; every other doc
    sharing >= 1 eight-token gram with it is flagged with its distinct
    contaminated-gram count. The eval gram-hash set is broadcast (small
    by construction at any corpus scale); the corpus side never
    shuffles until the tiny per-doc count."""
    from soweego_spark.operators.corpus import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
        k=8,
    )


_Q_DECONTAM_SQL = """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ),
    g0 AS (
        SELECT doc_id,
               unnest([('0x' || substr(md5(array_to_string(
                           w[gi:gi+7], ' ')), 1, 15))::BIGINT
                       FOR gi IN range(1, len(w) - 8 + 2)]) AS gh
        FROM words
        WHERE len(w) >= 8
    ),
    bench AS (SELECT DISTINCT gh FROM g0 WHERE doc_id % 5 = 0)
    SELECT g.doc_id, count(DISTINCT g.gh)::BIGINT AS hit_grams
    FROM g0 g JOIN bench USING (gh)
    WHERE g.doc_id % 5 <> 0
    GROUP BY g.doc_id
"""


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing downsample
    (operators/corpus.stratified_sample): over-represented languages are
    hash-Bernoulli-thinned to ~60 docs while small ones pass whole; the
    keep decision is u < cap/n_g with u = md5_60('mix:'||doc_id)/2^60 —
    two IEEE divisions over identical integer operands, so the exact
    kept set replays bit-for-bit in DuckDB (no RNG, no sample())."""
    from soweego_spark.operators.corpus import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), ["lang"], cap=60
    )


_Q_MIX_SAMPLE_SQL = """
    WITH counts AS (
        SELECT lang, count(*) AS n_g FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN counts USING (lang)
    WHERE (('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 15))
               ::BIGINT)::DOUBLE
              / (1152921504606846976::BIGINT)::DOUBLE
          < least(1.0::DOUBLE, (60::BIGINT)::DOUBLE / n_g::DOUBLE)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training (operators/corpus.pack_sequences):
    hash-shard the corpus (md5_60('pack:'||doc_id) % 8), concatenate each
    shard's token streams in doc_id order, chunk into 128-token training
    rows GPT-style (docs straddle boundaries). The gate pins the FULL
    segment map — which tokens of which doc fill which positions of which
    sequence — so the packing is proven a pure function of the data. No
    global sort: one Exchange on the shard key + one per-shard window
    cumsum; n_shards is the scale/parallelism knob."""
    from soweego_spark.operators.corpus import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=128, n_shards=8
    )


_Q_PACK_SEQ_SQL = """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ),
    sized AS (
        SELECT doc_id, len(w)::BIGINT AS n,
               ('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT % 8 AS shard
        FROM words WHERE len(w) >= 1
    ),
    ofs AS (
        SELECT shard, doc_id, n,
               coalesce(sum(n) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS st
        FROM sized
    ),
    segs AS (
        SELECT shard, doc_id, st, st + n AS en,
               unnest(range(st // 128, (st + n - 1) // 128 + 1)) AS seq_no
        FROM ofs
    )
    SELECT shard::BIGINT AS shard,
           seq_no::BIGINT AS seq_no,
           doc_id,
           (greatest(st, seq_no * 128) - st)::BIGINT AS tok_offset,
           (greatest(st, seq_no * 128) - seq_no * 128)::BIGINT AS seg_start,
           (least(en, (seq_no + 1) * 128)
               - greatest(st, seq_no * 128))::BIGINT AS seg_len
    FROM segs
"""


_EPOCH_WEIGHTS = {f"src{i}": (i % 8) * 0.5 for i in range(19)}  # src19 absent


def q_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing with epoch up-sampling
    (operators/corpus.epoch_mix): every doc of source g is emitted
    floor(w_g) times plus one more iff u < frac(w_g), u =
    md5_60('epochs:'||doc_id)/2^60 — expected multiplicity exactly w_g,
    same docs repeated on every run. Weights sweep 0.0..3.5 in halves
    (weight-0 and absent groups both drop). Zero shuffles: broadcast
    weight table + a pure column explode."""
    from soweego_spark.operators.corpus import epoch_mix

    return epoch_mix(
        _t(spark, sf_dir, "documents"), _EPOCH_WEIGHTS, group_col="source"
    )


def _q_epoch_mix_sql() -> str:
    values = ", ".join(
        f"('{g}', {w}::DOUBLE)" for g, w in sorted(_EPOCH_WEIGHTS.items())
    )
    return f"""
    WITH w(source, epochs) AS (VALUES {values}),
    c AS (
        SELECT d.doc_id, d.source,
               (floor(w.epochs)::BIGINT
                + CASE WHEN ('0x' || substr(md5('epochs:'
                            || d.doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE
                           / (1152921504606846976::BIGINT)::DOUBLE
                        < w.epochs - floor(w.epochs)
                       THEN 1 ELSE 0 END) AS n
        FROM documents d JOIN w USING (source)
    )
    SELECT doc_id, source, unnest(range(n)) AS epoch
    FROM c WHERE n >= 1
"""


def q_shuffle_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle of packed training sequences
    (corpus.deterministic_shuffle over pack_sequences's (shard, seq_no)
    units): pos = the sequence's 0-based position in the permutation
    ordered by (md5_60('epoch0:'||shard||':'||seq_no), shard, seq_no).
    NOT a single-task global sort: the hash's high bits form contiguous
    uniform buckets (one Exchange), each ranks locally, and broadcast
    prefix offsets from a |buckets|-row count aggregate make the rank
    global. Pure function of (data, seed) — the gate pins the entire
    permutation."""
    from soweego_spark.operators.corpus import (
        deterministic_shuffle,
        pack_sequences,
    )

    seqs = (
        pack_sequences(_t(spark, sf_dir, "documents"), seq_len=128,
                       n_shards=8)
        .select("shard", "seq_no")
        .distinct()
    )
    return deterministic_shuffle(
        seqs, ["shard", "seq_no"], seed="epoch0", bucket_bits=6
    )


_Q_SHUFFLE_PACK_SQL = """
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ),
    sized AS (
        SELECT doc_id, len(w)::BIGINT AS n,
               ('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT % 8 AS shard
        FROM words WHERE len(w) >= 1
    ),
    ofs AS (
        SELECT shard, doc_id, n,
               coalesce(sum(n) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS st
        FROM sized
    ),
    seqs AS (
        SELECT DISTINCT shard::BIGINT AS shard,
               unnest(range(st // 128, (st + n - 1) // 128 + 1)) AS seq_no
        FROM ofs
    ),
    hashed AS (
        SELECT shard, seq_no,
               ('0x' || substr(md5('epoch0:' || shard::VARCHAR || ':'
                   || seq_no::VARCHAR), 1, 15))::BIGINT AS h
        FROM seqs
    )
    SELECT shard, seq_no,
           (row_number() OVER (ORDER BY h, shard, seq_no) - 1)::BIGINT AS pos
    FROM hashed
"""


# ------------------------------------------------------------------ BPE
# Learned-tokenizer stage (operators/bpe.py). The Spark side trains its
# merge table from the DISTRIBUTED word-count path (groupBy + bounded
# TakeOrdered collect, then the string-based driver trainer); the oracle
# trains INDEPENDENTLY — DuckDB word counts + the tuple-based trainer
# below — and embeds its merges as SQL literals. Any disagreement in
# counting, tie-breaking, early-stop, or merge application turns every
# downstream row red, so the gates pin the whole algorithm cross-engine,
# not just the encode fold.

_BPE_N_MERGES = 60
_BPE_MIN_COUNT = 2
_BPE_SEP = "\x1f"
_BPE_RS = "\x1e"


def _bpe_merge_tuple(syms: tuple, left: str, right: str) -> tuple:
    """Single-pass merge application on a symbol tuple — the tuple twin of
    the sentinel-string replace spec (operators/bpe.py docstring): after a
    merge at i, the trailing separator of the match is consumed, so the
    next merge may start no earlier than symbol i+3."""
    out: list = []
    i, n, eligible = 0, len(syms), 0
    while i < n:
        if (
            i + 1 < n
            and i >= eligible
            and syms[i] == left
            and syms[i + 1] == right
        ):
            out.append(left + right)
            eligible = i + 3
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _bpe_learn_tuple(
    counts: list, n_merges: int, min_count: int
) -> list:
    """Independent (tuple-based) trainer implementing the same spec as
    bpe.learn_merges_from_counts: overlapping adjacent-pair counting,
    best = (count desc, pair lexicographic asc), stop when best < min_count."""
    items = [[tuple(w), c] for w, c in counts if w]
    merges = []
    for _ in range(n_merges):
        pc: dict = {}
        for syms, c in items:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (left, right), best_n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best_n < min_count:
            break
        for it in items:
            it[0] = _bpe_merge_tuple(it[0], left, right)
        merges.append((left, right))
    return merges


_BPE_WORDS_CTE = """words AS (
        SELECT doc_id,
               list_filter(string_split(lower(replace(replace(text,
                   chr(31), ''), chr(30), '')), ' '), x -> x <> '') AS w
        FROM documents
    )"""


def _bpe_oracle_merges() -> list:
    """DuckDB-counted, tuple-trained merge table for the sf dir under test
    (SOWEEGO_ORACLE_SF_DIR — the driver's gate dir by default)."""
    import duckdb as _duck

    sf_dir = os.environ.get("SOWEEGO_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = _duck.connect()
    try:
        rows = con.execute(
            f"""WITH {_BPE_WORDS_CTE.replace('documents',
                f"'{sf_dir}/documents.parquet'")}
            SELECT u AS word, count(*) AS cnt
            FROM (SELECT unnest(w) AS u FROM words) GROUP BY u"""
        ).fetchall()
    finally:
        con.close()
    rows.sort(key=lambda r: (-r[1], r[0]))
    rows = rows[:1_000_000]  # the operator's type_cap truncation
    return _bpe_learn_tuple(rows, _BPE_N_MERGES, _BPE_MIN_COUNT)


def _sqlq(s: str) -> str:
    return s.replace("'", "''")


def _bpe_merges_literal(merges: list) -> str:
    """The merge table as a DuckDB VARCHAR[] literal of packed
    '<search>\\x1e<replace>' sentinel strings (raw control chars embed
    fine in single-quoted literals)."""
    if not merges:
        return "[]::VARCHAR[]"
    items = ", ".join(
        "'{}'".format(
            _sqlq(
                _BPE_SEP + l + _BPE_SEP + r + _BPE_SEP
                + _BPE_RS + _BPE_SEP + l + r + _BPE_SEP
            )
        )
        for l, r in merges
    )
    return f"[{items}]"


# shared encode CTE text: distinct words of `srcw` -> (word, encw) where
# encw is the \x1f-joined token string after the merge fold. Lambda vars
# are suffixed so they can never collide with a FROM column (the DuckDB
# lateral-alias trap, CLAUDE.md round-4).
def _bpe_enc_cte(merges: list, src: str) -> str:
    return f"""enc AS (
        SELECT word,
               trim(list_reduce(
                   list_prepend(chr(31) || regexp_replace(word,
                       '(?s)(.)', '\\1' || chr(31), 'g'),
                       {_bpe_merges_literal(merges)}),
                   (acc9, m9) -> replace(acc9,
                       split_part(m9, chr(30), 1),
                       split_part(m9, chr(30), 2))), chr(31)) AS encw
        FROM (SELECT DISTINCT word FROM {src})
    )"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table itself: distributed word counts (one
    map-side-combined shuffle + bounded TakeOrdered collect), then the
    deterministic driver trainer. The oracle re-learns from DuckDB counts
    with an independent implementation — rank-for-rank equality IS the
    gate."""
    from soweego_spark.operators.bpe import bpe_train

    merges = bpe_train(
        _t(spark, sf_dir, "documents"),
        n_merges=_BPE_N_MERGES,
        min_count=_BPE_MIN_COUNT,
    )
    rows = [(i, l, r) for i, (l, r) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank: long, lhs: string, rhs: string"
    )


def _q_bpe_merges_sql() -> str:
    merges = _bpe_oracle_merges()
    if not merges:
        return (
            "SELECT CAST(NULL AS BIGINT) AS rank, '' AS lhs, '' AS rhs "
            "WHERE 1 = 0"
        )
    vals = ", ".join(
        f"({i}::BIGINT, '{_sqlq(l)}', '{_sqlq(r)}')"
        for i, (l, r) in enumerate(merges)
    )
    return f"SELECT * FROM (VALUES {vals}) AS m(rank, lhs, rhs)"


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus subword encoding: train (distributed counts), encode
    the distinct-word type table via the Catalyst merge fold, join tokens
    back to word occurrences, reassemble per doc. Output pins the full
    encoded corpus — per doc, the word count, subword count, and the
    entire token stream (tokens \\x1f-joined within a word, words
    space-joined in order)."""
    from soweego_spark.operators.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_N_MERGES, min_count=_BPE_MIN_COUNT)
    enc = bpe_encode(docs, merges)
    parts = enc.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
        F.array_sort(F.collect_list(F.struct("wpos", "enc"))).alias("ps"),
    )
    return parts.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.array_join(F.transform("ps", lambda p: p["enc"]), " ").alias(
            "encoded"
        ),
    )


def _q_bpe_encode_sql() -> str:
    merges = _bpe_oracle_merges()
    return f"""
    WITH {_BPE_WORDS_CTE},
    wx AS (
        SELECT doc_id,
               unnest([{{'p': gi - 1, 'wd': w[gi]}}
                       FOR gi IN range(1, len(w) + 1)]) AS wu
        FROM words
    ),
    occ AS (SELECT doc_id, wu.p AS wpos, wu.wd AS word FROM wx),
    {_bpe_enc_cte(merges, 'occ')},
    perw AS (
        SELECT doc_id, wpos, encw,
               len(list_filter(string_split(encw, chr(31)),
                   t9 -> t9 <> '')) AS ntok
        FROM occ JOIN enc USING (word)
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_words,
           sum(ntok)::BIGINT AS n_tokens,
           string_agg(encw, ' ' ORDER BY wpos) AS encoded
    FROM perw GROUP BY doc_id
    """


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus subword vocabulary with frequencies (bpe.bpe_vocab): token
    occurrence totals come from the word-count table joined to the encoded
    TYPE table — the corpus is scanned once and never re-read per token."""
    from soweego_spark.operators.bpe import bpe_train, bpe_vocab

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_N_MERGES, min_count=_BPE_MIN_COUNT)
    v = bpe_vocab(docs, merges)
    return v.select(
        "token",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("n_types").cast("long").alias("n_types"),
    )


def q_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-tokenizer -> sequence-packing composition: pack_counts
    (corpus.py) over per-doc BPE subword counts instead of whitespace
    counts — the real assembly-line shape (tokenize, then pack the token
    streams). Same packing plan (one shard Exchange + per-shard window
    cumsum); the gate pins the full segment map under the learned
    tokenization."""
    from soweego_spark.operators.bpe import bpe_encode, bpe_train
    from soweego_spark.operators.corpus import pack_counts

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=_BPE_N_MERGES, min_count=_BPE_MIN_COUNT)
    n = (
        bpe_encode(docs, merges)
        .groupBy("doc_id")
        .agg(F.sum(F.size("toks")).cast("long").alias("n"))
    )
    return pack_counts(n, seq_len=128, n_shards=8)


def _q_bpe_pack_sql() -> str:
    merges = _bpe_oracle_merges()
    return f"""
    WITH {_BPE_WORDS_CTE},
    wx AS (
        SELECT doc_id,
               unnest([{{'p': gi - 1, 'wd': w[gi]}}
                       FOR gi IN range(1, len(w) + 1)]) AS wu
        FROM words
    ),
    occ AS (SELECT doc_id, wu.p AS wpos, wu.wd AS word FROM wx),
    {_bpe_enc_cte(merges, 'occ')},
    perw AS (
        SELECT doc_id,
               len(list_filter(string_split(encw, chr(31)),
                   t9 -> t9 <> '')) AS ntok
        FROM occ JOIN enc USING (word)
    ),
    sized AS (
        SELECT doc_id, sum(ntok)::BIGINT AS n,
               ('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT % 8 AS shard
        FROM perw GROUP BY doc_id HAVING sum(ntok) >= 1
    ),
    ofs AS (
        SELECT shard, doc_id, n,
               coalesce(sum(n) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS st
        FROM sized
    ),
    segs AS (
        SELECT shard, doc_id, st, st + n AS en,
               unnest(range(st // 128, (st + n - 1) // 128 + 1)) AS seq_no
        FROM ofs
    )
    SELECT shard::BIGINT AS shard,
           seq_no::BIGINT AS seq_no,
           doc_id,
           (greatest(st, seq_no * 128) - st)::BIGINT AS tok_offset,
           (greatest(st, seq_no * 128) - seq_no * 128)::BIGINT AS seg_start,
           (least(en, (seq_no + 1) * 128)
               - greatest(st, seq_no * 128))::BIGINT AS seg_len
    FROM segs
    """


def _q_bpe_vocab_sql() -> str:
    merges = _bpe_oracle_merges()
    return f"""
    WITH {_BPE_WORDS_CTE},
    wcount AS (
        SELECT u AS word, count(*) AS cnt
        FROM (SELECT unnest(w) AS u FROM words) GROUP BY u
    ),
    {_bpe_enc_cte(merges, 'wcount')},
    tok AS (
        SELECT word, cnt,
               unnest(list_filter(string_split(encw, chr(31)),
                   t9 -> t9 <> '')) AS token
        FROM wcount JOIN enc USING (word)
    )
    SELECT token,
           sum(cnt)::BIGINT AS n_occurrences,
           count(DISTINCT word)::BIGINT AS n_types
    FROM tok GROUP BY token
    """


# ------------------------------------------------------------ LM filter
# CCNet-style n-gram LM quality pass (operators/lmfilter.py): the
# reference slice is the deterministic 1-in-5 md5 split of the documents
# table (slot 0 trains the bigram model, slots 1-4 are scored). Every
# gated number is an exact integer; the keep decision is rational
# cross-multiplication — no floats anywhere near the hash.

_LM_N = 2
_LM_SLOTS = 5
_LM_MAX_OOV_PCT = 30
_LM_MIN_AVG_NUM = 2
_LM_MIN_AVG_DEN = 1
_LM_COUNT_CAP = 1_000_000


def _lm_split(spark: SparkSession, sf_dir: str):
    """(ref_docs, scored_docs): deterministic md5 slot split of documents."""
    from soweego_spark.operators.dedup import md5_60

    docs = _t(spark, sf_dir, "documents")
    slot = F.pmod(
        md5_60(F.concat(F.lit("lmref:"), F.col("doc_id").cast("string"))),
        F.lit(_LM_SLOTS),
    )
    tagged = docs.withColumn("_slot", slot)
    return (
        tagged.where(F.col("_slot") == 0).drop("_slot"),
        tagged.where(F.col("_slot") != 0).drop("_slot"),
    )


def q_lm_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc integer sufficient statistics of the scored slice against
    the reference-slice bigram model (lmfilter.lm_doc_stats): token/gram
    counts, OOV and OOV-context positions, winsorized model-count sums.
    Two gram explodes + one count shuffle train the model; scoring is two
    hash joins + one map-side-combinable agg."""
    from soweego_spark.operators.lmfilter import lm_counts, lm_doc_stats

    ref, scored = _lm_split(spark, sf_dir)
    model = lm_counts(ref, n=_LM_N)
    return lm_doc_stats(scored, model, n=_LM_N, count_cap=_LM_COUNT_CAP)


def q_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style keep/drop decision (lmfilter.lm_filter): keep iff
    ≥1 gram, OOV rate ≤ 30%, and mean winsorized gram count ≥ 2 — all
    integer cross-multiplications, hash-replayed by the oracle. ``keep``
    is cast to long (0/1) for the cross-engine type lane."""
    from soweego_spark.operators.lmfilter import lm_counts, lm_filter

    ref, scored = _lm_split(spark, sf_dir)
    model = lm_counts(ref, n=_LM_N)
    out = lm_filter(
        scored,
        model,
        n=_LM_N,
        max_oov_pct=_LM_MAX_OOV_PCT,
        min_avg_count_num=_LM_MIN_AVG_NUM,
        min_avg_count_den=_LM_MIN_AVG_DEN,
        count_cap=_LM_COUNT_CAP,
    )
    return out.withColumn("keep", F.col("keep").cast("long"))


_LM_STATS_CTES = f"""words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ),
    tagged AS (
        SELECT doc_id, w,
               ('0x' || substr(md5('lmref:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT % {_LM_SLOTS} AS slot
        FROM words
    ),
    refg AS (
        SELECT unnest([('0x' || substr(md5(array_to_string(
                   w[gi:gi+1], ' ')), 1, 15))::BIGINT
                   FOR gi IN range(1, len(w))]) AS gh
        FROM tagged WHERE slot = 0 AND len(w) >= 2
    ),
    refu AS (
        SELECT unnest([('0x' || substr(md5(w[gi]), 1, 15))::BIGINT
                   FOR gi IN range(1, len(w) + 1)]) AS gh
        FROM tagged WHERE slot = 0 AND len(w) >= 1
    ),
    model AS (
        SELECT gh, count(*) AS c
        FROM (SELECT gh FROM refg UNION ALL SELECT gh FROM refu)
        GROUP BY gh
    ),
    scored AS (SELECT doc_id, w FROM tagged WHERE slot <> 0),
    occ0 AS (
        SELECT doc_id,
               unnest([{{'gh': ('0x' || substr(md5(array_to_string(
                            w[gi:gi+1], ' ')), 1, 15))::BIGINT,
                        'ph': ('0x' || substr(md5(w[gi]), 1, 15))::BIGINT}}
                       FOR gi IN range(1, len(w))]) AS gu
        FROM scored WHERE len(w) >= 2
    ),
    occ AS (SELECT doc_id, gu.gh AS gh, gu.ph AS ph FROM occ0),
    jj AS (
        SELECT o.doc_id, mg.c AS c_gram, mp.c AS c_prefix
        FROM occ o
        LEFT JOIN model mg ON o.gh = mg.gh
        LEFT JOIN model mp ON o.ph = mp.gh
    ),
    per AS (
        SELECT doc_id,
               count(*)::BIGINT AS n_grams,
               sum(CASE WHEN c_gram IS NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_oov,
               sum(CASE WHEN c_prefix IS NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_ctx_oov,
               sum(least(coalesce(c_gram, 0), {_LM_COUNT_CAP}))
                   ::BIGINT AS sum_c_gram,
               sum(least(coalesce(c_prefix, 0), {_LM_COUNT_CAP}))
                   ::BIGINT AS sum_c_prefix
        FROM jj GROUP BY doc_id
    ),
    stats AS (
        SELECT s.doc_id,
               len(s.w)::BIGINT AS n_tokens,
               coalesce(p.n_grams, 0)::BIGINT AS n_grams,
               coalesce(p.n_oov, 0)::BIGINT AS n_oov,
               coalesce(p.n_ctx_oov, 0)::BIGINT AS n_ctx_oov,
               coalesce(p.sum_c_gram, 0)::BIGINT AS sum_c_gram,
               coalesce(p.sum_c_prefix, 0)::BIGINT AS sum_c_prefix
        FROM scored s LEFT JOIN per p USING (doc_id)
    )"""

_Q_LM_STATS_SQL = f"""
    WITH {_LM_STATS_CTES}
    SELECT * FROM stats
"""

_Q_LM_FILTER_SQL = f"""
    WITH {_LM_STATS_CTES}
    SELECT *,
           (CASE WHEN n_grams >= 1
                  AND n_oov * 100 <= n_grams * {_LM_MAX_OOV_PCT}
                  AND sum_c_gram * {_LM_MIN_AVG_DEN}
                      >= n_grams * {_LM_MIN_AVG_NUM}
                 THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM stats
"""


def q_lm_filter_bylang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language LM filtering — the actual CCNet setup (one model per
    language): lm_filter with ``group_col='lang'``, which trains an
    independent model per language by namespacing every gram hash with
    the doc's (coalesced) lang value. Same split, thresholds, and
    integer-exact decision as lm_filter; a doc only scores against ITS
    language's reference slice."""
    from soweego_spark.operators.lmfilter import lm_counts, lm_filter

    ref, scored = _lm_split(spark, sf_dir)
    model = lm_counts(ref, n=_LM_N, group_col="lang")
    out = lm_filter(
        scored,
        model,
        n=_LM_N,
        max_oov_pct=_LM_MAX_OOV_PCT,
        min_avg_count_num=_LM_MIN_AVG_NUM,
        min_avg_count_den=_LM_MIN_AVG_DEN,
        count_cap=_LM_COUNT_CAP,
        group_col="lang",
    )
    return out.withColumn("keep", F.col("keep").cast("long"))


# per-language variant of _LM_STATS_CTES: every gram-hash input is
# prefixed with coalesce(lang,'') || chr(31) — the same namespacing the
# Spark side applies (lmfilter.GROUP_SEP)
_LM_BYLANG_CTES = f"""words AS (
        SELECT doc_id, coalesce(lang, '') AS g,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
        FROM documents
    ),
    tagged AS (
        SELECT doc_id, g, w,
               ('0x' || substr(md5('lmref:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT % {_LM_SLOTS} AS slot
        FROM words
    ),
    refg AS (
        SELECT unnest([('0x' || substr(md5(g || chr(31) ||
                   array_to_string(w[gi:gi+1], ' ')), 1, 15))::BIGINT
                   FOR gi IN range(1, len(w))]) AS gh
        FROM tagged WHERE slot = 0 AND len(w) >= 2
    ),
    refu AS (
        SELECT unnest([('0x' || substr(md5(g || chr(31) || w[gi]),
                   1, 15))::BIGINT
                   FOR gi IN range(1, len(w) + 1)]) AS gh
        FROM tagged WHERE slot = 0 AND len(w) >= 1
    ),
    model AS MATERIALIZED (
        SELECT gh, count(*) AS c
        FROM (SELECT gh FROM refg UNION ALL SELECT gh FROM refu)
        GROUP BY gh
    ),
    scored AS (SELECT doc_id, g, w FROM tagged WHERE slot <> 0),
    occ0 AS (
        SELECT doc_id,
               unnest([{{'gh': ('0x' || substr(md5(g || chr(31) ||
                            array_to_string(w[gi:gi+1], ' ')), 1, 15))
                            ::BIGINT,
                        'ph': ('0x' || substr(md5(g || chr(31) || w[gi]),
                            1, 15))::BIGINT}}
                       FOR gi IN range(1, len(w))]) AS gu
        FROM scored WHERE len(w) >= 2
    ),
    occ AS (SELECT doc_id, gu.gh AS gh, gu.ph AS ph FROM occ0),
    jj AS (
        SELECT o.doc_id, mg.c AS c_gram, mp.c AS c_prefix
        FROM occ o
        LEFT JOIN model mg ON o.gh = mg.gh
        LEFT JOIN model mp ON o.ph = mp.gh
    ),
    per AS (
        SELECT doc_id,
               count(*)::BIGINT AS n_grams,
               sum(CASE WHEN c_gram IS NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_oov,
               sum(CASE WHEN c_prefix IS NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_ctx_oov,
               sum(least(coalesce(c_gram, 0), {_LM_COUNT_CAP}))
                   ::BIGINT AS sum_c_gram,
               sum(least(coalesce(c_prefix, 0), {_LM_COUNT_CAP}))
                   ::BIGINT AS sum_c_prefix
        FROM jj GROUP BY doc_id
    ),
    stats AS (
        SELECT s.doc_id,
               len(s.w)::BIGINT AS n_tokens,
               coalesce(p.n_grams, 0)::BIGINT AS n_grams,
               coalesce(p.n_oov, 0)::BIGINT AS n_oov,
               coalesce(p.n_ctx_oov, 0)::BIGINT AS n_ctx_oov,
               coalesce(p.sum_c_gram, 0)::BIGINT AS sum_c_gram,
               coalesce(p.sum_c_prefix, 0)::BIGINT AS sum_c_prefix
        FROM scored s LEFT JOIN per p USING (doc_id)
    )"""

_Q_LM_BYLANG_SQL = f"""
    WITH {_LM_BYLANG_CTES}
    SELECT *,
           (CASE WHEN n_grams >= 1
                  AND n_oov * 100 <= n_grams * {_LM_MAX_OOV_PCT}
                  AND sum_c_gram * {_LM_MIN_AVG_DEN}
                      >= n_grams * {_LM_MIN_AVG_NUM}
                 THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM stats
"""


# --------------------------------------------------------- curate pipeline
# THE WHOLE CURATION LINE under one hash gate (plans/curate.py — the
# engine behind jobs/curate_job.py): Gopher quality -> CCNet LM filter ->
# exact dedup (keep min id per text) -> MinHash-LSH near-dedup with exact
# sequential-greedy within-batch semantics -> benchmark decontamination
# (bench = a deterministic md5 slice of the raw table) -> whitespace
# token counts -> GPT-style sequence packing. The gate output is the
# final SEGMENT MAP, so a divergence in ANY stage — a quality ratio, an
# LM count, a band collision, a greedy round, a contaminated gram —
# changes the survivor set or offsets and flips the hash red. The DuckDB
# oracle replays all six stages as chained CTEs (greedy MIS via the
# shared recursive _GREEDY_MIS_CTES).

_CUR_BENCH_SLOTS = 41  # ~2.4% of raw docs act as the "benchmark" set
_CUR_SEQ_LEN = 128
_CUR_SHARDS = 8


def q_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline hash gate (see block comment). State
    lives in a throw-away StageCheckpointer dir, so the gate also
    exercises the stage-chained resume machinery end to end."""
    import tempfile

    from soweego_spark.operators.dedup import md5_60
    from soweego_spark.plans.curate import (
        CurateConfig,
        load_stage,
        run_curate,
    )

    td = tempfile.mkdtemp(prefix="gate_curate_")
    # the returned frame reads the pack stage's parquet lazily, so the
    # dir must outlive this call — remove at interpreter exit (ADVICE r6)
    atexit.register(shutil.rmtree, td, ignore_errors=True)
    cfg = CurateConfig(
        gopher=True,
        lm=True,
        lm_slots=_LM_SLOTS,
        lm_max_oov_pct=_LM_MAX_OOV_PCT,
        lm_min_avg_num=_LM_MIN_AVG_NUM,
        lm_min_avg_den=_LM_MIN_AVG_DEN,
        lm_count_cap=_LM_COUNT_CAP,
        num_perm=32,
        bands=8,
        shingle_n=3,
        jaccard_threshold=0.7,
        within_batch="exact",
        tokenizer="whitespace",
        seq_len=_CUR_SEQ_LEN,
        n_shards=_CUR_SHARDS,
        hash_family="md5",
    )

    def docs_thunk():
        return _t(spark, sf_dir, "documents").select("doc_id", "text")

    def bench_thunk():
        slot = F.pmod(
            md5_60(F.concat(F.lit("bench:"), F.col("doc_id").cast("string"))),
            F.lit(_CUR_BENCH_SLOTS),
        )
        return (
            _t(spark, sf_dir, "documents")
            .where(slot == 0)
            .select("doc_id", "text")
        )

    run_curate(spark, td, docs_thunk, cfg, bench_thunk=bench_thunk)
    return load_stage(spark, td, "pack")


def _q_curate_sql(num_perm: int = 32, bands: int = 8, n: int = 3,
                  cap: int = 10_000, t: float = 0.7) -> str:
    """DuckDB replica of q_curate_pipeline — all six stages chained."""
    return f"""
    WITH RECURSIVE gtoks AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    gbase AS (
        SELECT doc_id, len(w) AS word_count,
               len(list_distinct(w)) AS distinct_words,
               list_sum(list_transform(w, x -> len(x))) AS char_sum
        FROM gtoks
    ),
    ggrams AS (
        SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id,
                   unnest([w[i] || ' ' || w[i + 1]
                           FOR i IN range(1, greatest(len(w) - 1, 0) + 1)])
                       AS g
            FROM gtoks
        ) GROUP BY doc_id, g
    ),
    gtop AS (SELECT doc_id, max(c) AS top_bigram_count FROM ggrams
             GROUP BY doc_id),
    gpass AS (
        SELECT b.doc_id
        FROM gbase b LEFT JOIN gtop tp ON tp.doc_id = b.doc_id
        WHERE word_count >= 3
          AND COALESCE(char_sum, 0) / greatest(word_count, 1) <= 12.0
          AND CAST(distinct_words AS DOUBLE) / greatest(word_count, 1)
              >= 0.2
          AND CAST(COALESCE(top_bigram_count, 0) AS DOUBLE)
              / greatest(word_count - 1, 1) <= 0.5
    ),
    aw AS MATERIALIZED (
        SELECT d.doc_id,
               list_filter(string_split(lower(d.text), ' '),
                           x -> x <> '') AS w
        FROM documents d JOIN gpass USING (doc_id)
    ),
    lmtag AS (
        SELECT doc_id, w,
               ('0x' || substr(md5('lmref:' || doc_id::VARCHAR), 1, 15))
                   ::BIGINT % {_LM_SLOTS} AS slot
        FROM aw
    ),
    lmrefg AS (
        SELECT unnest([('0x' || substr(md5(array_to_string(
                   w[gi:gi+1], ' ')), 1, 15))::BIGINT
                   FOR gi IN range(1, len(w))]) AS gh
        FROM lmtag WHERE slot = 0 AND len(w) >= 2
    ),
    lmrefu AS (
        SELECT unnest([('0x' || substr(md5(w[gi]), 1, 15))::BIGINT
                   FOR gi IN range(1, len(w) + 1)]) AS gh
        FROM lmtag WHERE slot = 0 AND len(w) >= 1
    ),
    lmmodel AS MATERIALIZED (
        SELECT gh, count(*) AS c
        FROM (SELECT gh FROM lmrefg UNION ALL SELECT gh FROM lmrefu)
        GROUP BY gh
    ),
    lmocc0 AS (
        SELECT doc_id,
               unnest([{{'gh': ('0x' || substr(md5(array_to_string(
                            w[gi:gi+1], ' ')), 1, 15))::BIGINT,
                        'ph': ('0x' || substr(md5(w[gi]), 1, 15))::BIGINT}}
                       FOR gi IN range(1, len(w))]) AS gu
        FROM aw WHERE len(w) >= 2
    ),
    lmjj AS (
        SELECT o.doc_id, mg.c AS c_gram
        FROM (SELECT doc_id, gu.gh AS gh FROM lmocc0) o
        LEFT JOIN lmmodel mg ON o.gh = mg.gh
    ),
    lmper AS (
        SELECT doc_id,
               count(*) AS n_grams,
               sum(CASE WHEN c_gram IS NULL THEN 1 ELSE 0 END) AS n_oov,
               sum(least(coalesce(c_gram, 0), {_LM_COUNT_CAP}))
                   AS sum_c_gram
        FROM lmjj GROUP BY doc_id
    ),
    lmkept AS (
        SELECT a.doc_id
        FROM aw a JOIN lmper p USING (doc_id)
        WHERE p.n_grams >= 1
          AND p.n_oov * 100 <= p.n_grams * {_LM_MAX_OOV_PCT}
          AND p.sum_c_gram * {_LM_MIN_AVG_DEN}
              >= p.n_grams * {_LM_MIN_AVG_NUM}
    ),
    ek AS MATERIALIZED (
        SELECT min(d.doc_id) AS doc_id
        FROM documents d JOIN lmkept USING (doc_id)
        GROUP BY d.text
    ),
    words AS MATERIALIZED (SELECT a.doc_id, a.w FROM aw a JOIN ek USING (doc_id)),
    {_incr_tok_ctes(n)},
    {_incr_sig_ctes(num_perm, bands, cap, "1 = 0", "1 = 1")},
    batch_cand AS (
        SELECT DISTINCT a.doc_id, b.doc_id AS other_id
        FROM new_capped a JOIN new_capped b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id > b.doc_id
    ),
    batch_edges AS MATERIALIZED (
        SELECT bc.doc_id, bc.other_id
        FROM batch_cand bc
        JOIN toks ta ON ta.doc_id = bc.doc_id
        JOIN toks tb ON tb.doc_id = bc.other_id
        WHERE {_INCR_JACCARD} >= {t}
    ),
    {_GREEDY_MIS_CTES},
    nk AS MATERIALIZED (
        SELECT doc_id FROM ek
        WHERE doc_id NOT IN (SELECT doc_id FROM batch_dropped)
    ),
    bw AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           x -> x <> '') AS w
        FROM documents
        WHERE ('0x' || substr(md5('bench:' || doc_id::VARCHAR), 1, 15))
                  ::BIGINT % {_CUR_BENCH_SLOTS} = 0
    ),
    bg AS (
        SELECT DISTINCT unnest(
            [('0x' || substr(md5(array_to_string(w[gi:gi+7], ' ')),
                  1, 15))::BIGINT
             FOR gi IN range(1, len(w) - 8 + 2)]) AS gh
        FROM bw WHERE len(w) >= 8
    ),
    sg AS (
        SELECT s.doc_id,
               unnest([('0x' || substr(md5(array_to_string(
                           s.w[gi:gi+7], ' ')), 1, 15))::BIGINT
                       FOR gi IN range(1, len(s.w) - 8 + 2)]) AS gh
        FROM words s JOIN nk USING (doc_id)
        WHERE len(s.w) >= 8
    ),
    contam AS (SELECT DISTINCT s.doc_id FROM sg s JOIN bg USING (gh)),
    fk AS (
        SELECT doc_id FROM nk
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    sized AS (
        SELECT a.doc_id, len(a.w)::BIGINT AS n,
               ('0x' || substr(md5('pack:' || a.doc_id::VARCHAR), 1, 15))
                   ::BIGINT % {_CUR_SHARDS} AS shard
        FROM aw a JOIN fk USING (doc_id) WHERE len(a.w) >= 1
    ),
    ofs AS (
        SELECT shard, doc_id, n,
               coalesce(sum(n) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS st
        FROM sized
    ),
    segs AS (
        SELECT shard, doc_id, st, st + n AS en,
               unnest(range(st // {_CUR_SEQ_LEN},
                            (st + n - 1) // {_CUR_SEQ_LEN} + 1)) AS seq_no
        FROM ofs
    )
    SELECT shard::BIGINT AS shard,
           seq_no::BIGINT AS seq_no,
           doc_id,
           (greatest(st, seq_no * {_CUR_SEQ_LEN}) - st)::BIGINT
               AS tok_offset,
           (greatest(st, seq_no * {_CUR_SEQ_LEN}) - seq_no * {_CUR_SEQ_LEN})
               ::BIGINT AS seg_start,
           (least(en, (seq_no + 1) * {_CUR_SEQ_LEN})
               - greatest(st, seq_no * {_CUR_SEQ_LEN}))::BIGINT AS seg_len
    FROM segs
"""


def q_statement_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 statement planning under the hash gate: the wikidata-bot
    decision matrix (operators/ingest.plan_claim_additions — add_claim vs
    add_reference vs official-website reference vs case-insensitive social
    IDs vs dead subjects, plus _parse_value typing) over synthetic
    proposed/existing claim tables derived from orders/customer. Struct
    and array outputs are flattened to scalar columns for engine-neutral
    hashing; the reference-node array shape is pytest-gated
    (tests/test_ingest.py)."""
    from soweego_spark.operators.ingest import (
        parse_statement_value,
        plan_claim_additions,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    pid = (
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("P2013"))
        .when(F.col("o_orderkey") % 3 == 0, F.lit("P856"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit("P345"))
        .otherwise(F.lit("P1476"))
    )
    value = (
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.concat(F.lit("Q"), (F.col("o_orderkey") % 500).cast("string")),
        )
        .when(
            F.col("o_orderkey") % 5 == 0,
            F.concat(
                F.lit("19"),
                F.lpad((F.col("o_orderkey") % 100).cast("string"), 2, "0"),
                F.lit("-01-15/11"),
            ),
        )
        .when(
            F.col("o_orderkey") % 11 == 0,
            F.concat(F.lit("Handle"), (F.col("o_orderkey") % 40).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("v"), (F.col("o_orderkey") % 60).cast("string"))
        )
    )
    base = orders.select(
        F.concat(F.lit("Q"), F.col("o_custkey").cast("string")).alias("qid"),
        pid.alias("pid"),
        value.alias("value"),
        F.col("o_orderkey").alias("ok"),
    )
    # existing claims: even orders, values lowercased (so the social-pid
    # rows only match case-insensitively); proposed: odd orders
    existing = base.filter(F.col("ok") % 2 == 0).select(
        "qid", "pid", F.lower(F.col("value")).alias("value")
    )
    proposed = base.filter(F.col("ok") % 2 == 1).select(
        "qid", "pid", "value",
        F.concat(F.lit("t"), F.col("ok").cast("string")).alias("catalog_id"),
    )
    dead = cust.filter(F.col("c_custkey") % 97 == 0).select(
        F.concat(F.lit("Q"), F.col("c_custkey").cast("string")).alias("qid")
    )
    plan = plan_claim_additions(
        proposed,
        existing,
        heuristic="Q1266546",
        retrieved="2026-08-16",
        catalog_qid="Q14005",
        catalog_pid="P1953",
        dead_qids=dead,
    )
    return plan.select(
        "qid", "pid", "value", "catalog_id", "action", "ref_target_pid",
        F.col("parsed_value.value_type").alias("value_type"),
        F.col("parsed_value.item_qid").alias("item_qid"),
        F.col("parsed_value.time_value").alias("time_value"),
        F.col("parsed_value.time_precision").cast("long").alias(
            "time_precision"
        ),
        F.col("parsed_value.string_value").alias("string_value"),
    )


_Q_STATEMENT_PLAN_SQL = """
    WITH base AS (
        SELECT 'Q' || o_custkey::VARCHAR AS qid,
               CASE WHEN o_orderkey % 11 = 0 THEN 'P2013'
                    WHEN o_orderkey % 3 = 0 THEN 'P856'
                    WHEN o_orderkey % 3 = 1 THEN 'P345'
                    ELSE 'P1476' END AS pid,
               CASE WHEN o_orderkey % 7 = 0
                    THEN 'Q' || (o_orderkey % 500)::VARCHAR
                    WHEN o_orderkey % 5 = 0
                    THEN '19' || lpad((o_orderkey % 100)::VARCHAR, 2, '0')
                         || '-01-15/11'
                    WHEN o_orderkey % 11 = 0
                    THEN 'Handle' || (o_orderkey % 40)::VARCHAR
                    ELSE 'v' || (o_orderkey % 60)::VARCHAR END AS value,
               o_orderkey AS ok
        FROM orders
    ),
    existing AS (
        SELECT qid, pid, lower(value) AS value FROM base WHERE ok % 2 = 0
    ),
    proposed AS (
        SELECT qid, pid, value, 't' || ok::VARCHAR AS catalog_id
        FROM base WHERE ok % 2 = 1
    ),
    dead AS (
        SELECT 'Q' || c_custkey::VARCHAR AS qid FROM customer
        WHERE c_custkey % 97 = 0
    ),
    same_claim AS (
        SELECT DISTINCT qid, pid,
               CASE WHEN pid IN ('P2013', 'P2002') THEN lower(value)
                    ELSE value END AS norm
        FROM existing
    ),
    same_website AS (
        SELECT DISTINCT qid, value AS norm FROM existing WHERE pid = 'P856'
    ),
    joined AS (
        SELECT p.qid, p.pid, p.value, p.catalog_id,
               d.qid IS NOT NULL AS is_dead,
               sw.norm IS NOT NULL AS has_website,
               sc.norm IS NOT NULL AS has_claim
        FROM proposed p
        LEFT JOIN dead d ON d.qid = p.qid
        LEFT JOIN same_website sw
               ON sw.qid = p.qid
              AND sw.norm = CASE WHEN p.pid IN ('P2013', 'P2002')
                                 THEN lower(p.value) ELSE p.value END
        LEFT JOIN same_claim sc
               ON sc.qid = p.qid AND sc.pid = p.pid
              AND sc.norm = CASE WHEN p.pid IN ('P2013', 'P2002')
                                 THEN lower(p.value) ELSE p.value END
    ),
    typed AS (
        SELECT *,
               regexp_extract(value, '^Q\\d+', 0) AS qpfx,
               regexp_extract(value, '^(\\d{4}-\\d{2}-\\d{2})/(\\d{1,2})$', 1)
                   AS dstr,
               regexp_extract(value, '^(\\d{4}-\\d{2}-\\d{2})/(\\d{1,2})$', 2)
                   AS dprec
        FROM joined
    )
    SELECT qid, pid, value, catalog_id,
           CASE WHEN is_dead THEN 'skip_dead'
                WHEN has_website THEN 'add_reference'
                WHEN has_claim THEN 'add_reference'
                ELSE 'add_claim' END AS action,
           CASE WHEN is_dead THEN NULL
                WHEN has_website THEN 'P856'
                ELSE pid END AS ref_target_pid,
           CASE WHEN qpfx <> '' THEN 'item'
                WHEN dstr <> '' AND TRY_CAST(dstr AS DATE) IS NOT NULL
                THEN 'time' ELSE 'string' END AS value_type,
           CASE WHEN qpfx <> '' THEN qpfx END AS item_qid,
           CASE WHEN qpfx = '' AND dstr <> ''
                THEN TRY_CAST(dstr AS DATE) END AS time_value,
           CASE WHEN qpfx = '' AND dstr <> ''
                     AND TRY_CAST(dstr AS DATE) IS NOT NULL
                THEN dprec::BIGINT END AS time_precision,
           CASE WHEN qpfx = ''
                     AND NOT (dstr <> '' AND TRY_CAST(dstr AS DATE)
                              IS NOT NULL)
                THEN value END AS string_value
    FROM typed
"""


def q_mnm_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 mix'n'match entry construction (ingest.plan_mnm_entries) over a
    synthetic matches table from orders: curated exclusion (anti join),
    confidence range, and the exact MnM entry field shapes
    (mix_n_match_client.py:453-465)."""
    from soweego_spark.operators.ingest import plan_mnm_entries

    orders = _t(spark, sf_dir, "orders")
    matches = orders.select(
        F.concat(F.lit("Q"), F.col("o_custkey").cast("string")).alias("qid"),
        F.concat(F.lit("t"), F.col("o_orderkey").cast("string")).alias("tid"),
        ((F.col("o_orderkey") % 100).cast("double") / 100.0).alias("score"),
    )
    curated = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.concat(F.lit("t"), F.col("o_orderkey").cast("string")).alias("tid")
    )
    return plan_mnm_entries(
        matches,
        catalog_id=42,
        class_qid="Q5",
        timestamp="20260816000000",
        curated=curated,
        url_prefix="https://catalog.example/",
        confidence_range=(0.3, 0.9),
    )


_Q_MNM_SQL = """
    WITH matches AS (
        SELECT 'Q' || o_custkey::VARCHAR AS qid,
               't' || o_orderkey::VARCHAR AS tid,
               (o_orderkey % 100) / 100.0::DOUBLE AS score,
               o_orderkey AS ok
        FROM orders
    )
    SELECT 42 AS catalog,
           TRY_CAST(regexp_replace(qid, '^Q', '') AS BIGINT) AS q,
           tid AS ext_id, tid AS ext_name,
           'https://catalog.example/' || tid AS ext_url,
           'Q5' AS type,
           'soweego confidence score: ' || score::VARCHAR AS ext_desc,
           0 AS user, '20260816000000' AS timestamp
    FROM matches
    WHERE score >= 0.3 AND score <= 0.9 AND ok % 7 <> 0
      AND TRY_CAST(regexp_replace(qid, '^Q', '') AS BIGINT) IS NOT NULL
"""


def q_identifier_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete/deprecate planning (ingest.plan_identifier_actions): invalid
    identifiers whose claim exists get the action; missing claims surface
    as auditable errors (wikidata_bot.py:865-908)."""
    from soweego_spark.operators.ingest import plan_identifier_actions

    orders = _t(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.concat(F.lit("Q"), F.col("o_custkey").cast("string")).alias("qid"),
        F.lit("P1953").alias("pid"),
        F.concat(F.lit("t"), F.col("o_orderkey").cast("string")).alias(
            "value"
        ),
    )
    invalid = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.concat(F.lit("Q"), F.col("o_custkey").cast("string")).alias("qid"),
        F.concat(F.lit("t"), F.col("o_orderkey").cast("string")).alias("tid"),
    )
    return plan_identifier_actions(
        invalid, existing, catalog_pid="P1953", action="deprecate"
    )


_Q_IDENT_ACTIONS_SQL = """
    WITH existing AS (
        SELECT 'Q' || o_custkey::VARCHAR AS qid,
               't' || o_orderkey::VARCHAR AS tid
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    invalid AS (
        SELECT 'Q' || o_custkey::VARCHAR AS qid,
               't' || o_orderkey::VARCHAR AS tid
        FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT i.qid, i.tid, 'P1953' AS catalog_pid,
           CASE WHEN e.qid IS NOT NULL THEN 'deprecate'
                ELSE 'error_missing_claim' END AS action
    FROM invalid i
    LEFT JOIN (SELECT DISTINCT qid, tid FROM existing) e
           ON e.qid = i.qid AND e.tid = i.tid
"""


# ------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-duplicate detection + transitive clustering over the
    documents table at sf0.001 (the document-dedup slice of the ER engine)."""
    from soweego_spark.operators.cluster import assign_clusters

    sf_dir = "/root/testdata/sf0.001"
    pairs = q_token_jaccard_neardup(spark, sf_dir).select(
        F.col("doc_a").cast("string").alias("url_a"),
        F.col("doc_b").cast("string").alias("url_b"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url")
    )
    clusters = assign_clusters(docs, pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("cluster_id"))
    )


def _imdb_people_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IMDb name-basics-shaped rows synthesized from the
    customer table: exercises every branch of the flavor — null/invalid
    years, null professions (skipped), misc-only (all tables), gendered
    professions, known-for edges."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    prof_choices = [
        "actor,director",
        "actress,composer,writer",
        "miscellaneous",
        "producer,music_department,stunts",
        None,
        "writer,casting_director",
    ]
    prof = F.element_at(
        F.array(*[F.lit(p).cast("string") for p in prof_choices]),
        (k % 6 + 1).cast("int"),
    )
    birth = (
        F.when(k % 7 == 0, F.lit(None).cast("string"))
        .when(k % 11 == 0, F.lit("19??"))
        # castable but unparseable (negative) year: date AND precision
        # must both come out NULL (r5 ADVICE fix)
        .when(k % 13 == 0, F.lit("-12"))
        .otherwise((F.lit(1900) + k % 90).cast("string"))
    )
    death = F.when(k % 5 == 0, (F.lit(1960) + k % 60).cast("string"))
    known = F.when(
        k % 3 != 0,
        F.concat(
            F.lit("tt"), (k % 97).cast("string"),
            F.lit(",tt"), (k % 31).cast("string"),
        ),
    )
    return cust.select(
        F.concat(F.lit("nm"), k.cast("string")).alias("nconst"),
        F.col("c_name").alias("primaryName"),
        birth.alias("birthYear"),
        death.alias("deathYear"),
        prof.alias("primaryProfession"),
        known.alias("knownForTitles"),
    )


def q_imdb_person_flavor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IMDb per-catalog extraction flavor (sources/catalogs.py:
    imdb_person_tables) under the hash gate: per-profession table
    fan-out, misc-only -> all tables, actor/actress gender, precision-9
    year dates, profession->QID translation minus each table's implicit
    occupation — reference imdb_dump_extractor.py:170-398. Output is the
    five person tables tagged and unioned."""
    from soweego_spark.sources.catalogs import (
        IMDB_PERSON_TABLES,
        imdb_person_tables,
    )

    tables = imdb_person_tables(_imdb_people_fixture(spark, sf_dir))
    out = None
    for name in sorted(IMDB_PERSON_TABLES):
        tagged = tables[name].withColumn("person_table", F.lit(name))
        out = tagged if out is None else out.unionByName(tagged)
    return out.select(
        "person_table", "catalog_id", "name", "name_tokens", "gender",
        "born", "born_precision", "died", "died_precision", "occupations",
    )


def _q_imdb_person_flavor_sql() -> str:
    """DuckDB replica of q_imdb_person_flavor — same fixture arithmetic,
    the tokenize kernel replayed in SQL (the synthesized names are pure
    ASCII so the fold table is the identity; lower+trim+\\W-split+len>1+
    stop-word filter+sort is the full kernel), the profession->QID map
    inlined as a CASE, and the same per-table membership predicates."""
    from soweego_spark.functions.textnorm import STOPWORDS_ENG
    from soweego_spark.sources.catalogs import (
        IMDB_PERSON_TABLES,
        _IMDB_MUSIC_PROFESSIONS,
        IMDB_PROFESSIONS_MAPPING,
    )

    stop = ", ".join(
        "'" + w + "'" for w in sorted(STOPWORDS_ENG)
    )
    qid_case = "CASE p " + " ".join(
        f"WHEN '{slug}' THEN '{qid}'"
        for slug, qid in sorted(IMDB_PROFESSIONS_MAPPING.items())
    ) + " END"
    music = ", ".join("'" + p + "'" for p in _IMDB_MUSIC_PROFESSIONS)
    membership = {
        "actors": "list_contains(profs, 'actor') OR "
                  "list_contains(profs, 'actress')",
        "directors": "list_contains(profs, 'director')",
        "musicians": f"len(list_intersect(profs, [{music}])) > 0",
        "producers": "list_contains(profs, 'producer')",
        "writers": "list_contains(profs, 'writer')",
    }
    arms = []
    for table in sorted(IMDB_PERSON_TABLES):
        own = IMDB_PERSON_TABLES[table]
        arms.append(f"""
        SELECT '{table}' AS person_table, catalog_id, name, name_tokens,
               gender, born, born_precision, died, died_precision,
               -- unconditional join: an empty filtered QID set stores
               -- '' like the reference, not NULL (r5 ADVICE fix).
               -- COALESCE because DuckDB's array_to_string([]) is NULL
               -- where Spark's array_join([]) is ''
               COALESCE(array_to_string(
                   list_filter(qids, q -> q <> '{own}'), ' '), '')
               AS occupations
        FROM enriched
        WHERE ({membership[table]}) OR misc_only""")
    union = "\n        UNION ALL".join(arms)
    return f"""
    WITH people AS (
        SELECT 'nm' || c_custkey::VARCHAR AS nconst,
               c_name AS primaryName,
               CASE WHEN c_custkey % 7 = 0 THEN NULL
                    WHEN c_custkey % 11 = 0 THEN '19??'
                    WHEN c_custkey % 13 = 0 THEN '-12'
                    ELSE (1900 + c_custkey % 90)::VARCHAR END AS birthYear,
               CASE WHEN c_custkey % 5 = 0
                    THEN (1960 + c_custkey % 60)::VARCHAR END AS deathYear,
               (['actor,director', 'actress,composer,writer',
                 'miscellaneous', 'producer,music_department,stunts',
                 NULL, 'writer,casting_director'])[
                   (c_custkey % 6 + 1)::INT] AS primaryProfession
        FROM customer
    ),
    enriched AS (
        SELECT nconst AS catalog_id, primaryName AS name,
               string_split(primaryProfession, ',') AS profs,
               profs = ['miscellaneous'] AS misc_only,
               list_sort(list_distinct(list_filter(
                   regexp_split_to_array(lower(trim(primaryName)), '\\W+'),
                   t -> len(t) > 1 AND NOT list_contains([{stop}], t)
               ))) AS toks,
               CASE WHEN len(toks) > 0
                    THEN array_to_string(toks, ' ') END AS name_tokens,
               CASE WHEN list_contains(profs, 'actor') THEN 'male'
                    WHEN list_contains(profs, 'actress') THEN 'female'
               END AS gender,
               -- >= 1, not IS NOT NULL: Spark's try_to_date rejects
               -- year 0 and negatives (DuckDB's make_date would not),
               -- and precision is gated on the produced date
               CASE WHEN TRY_CAST(birthYear AS INT) >= 1
                    THEN make_date(TRY_CAST(birthYear AS INT), 1, 1)
               END AS born,
               CASE WHEN TRY_CAST(birthYear AS INT) >= 1
                    THEN 9 END AS born_precision,
               CASE WHEN TRY_CAST(deathYear AS INT) >= 1
                    THEN make_date(TRY_CAST(deathYear AS INT), 1, 1)
               END AS died,
               CASE WHEN TRY_CAST(deathYear AS INT) >= 1
                    THEN 9 END AS died_precision,
               list_sort(list_distinct(list_filter(
                   [{qid_case} FOR p IN profs], q -> q IS NOT NULL
               ))) AS qids
        FROM people
        WHERE primaryProfession IS NOT NULL AND primaryProfession <> ''
    ){union}
"""


def q_musicbrainz_artist_flavor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MusicBrainz per-catalog extraction flavor (sources/catalogs.py:
    musicbrainz_artist_tables) under the hash gate: person/band type-code
    split, the full date-precision decoder (year-only=9, year+month=10,
    full=11, negative/missing year = no date), gender codes, area
    dimension joins, and alias denormalization — reference
    musicbrainz_dump_extractor.py:458-637. Artists and bands are tagged
    and unioned (bands carry NULL gender — the reference band table has
    no gender column)."""
    from soweego_spark.sources.catalogs import musicbrainz_artist_tables

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s = lambda c: c.cast("string")  # noqa: E731

    def part_col(mod_null, base, modulo, offset):
        return F.when(k % mod_null == 0, F.lit(None).cast("string")).otherwise(
            s(F.lit(base) + k % modulo + F.lit(offset))
        )

    artist = orders.select(
        s(k).alias("id"),
        F.concat(F.lit("mb-"), s(k)).alias("gid"),
        F.concat_ws(" ", "o_orderstatus", "o_orderpriority").alias("label"),
        F.when(k % 13 == 0, F.lit(None).cast("string"))
        .when(k % 17 == 0, F.lit("-100"))
        .otherwise(s(F.lit(1900) + k % 100)).alias("b_year"),
        part_col(3, 0, 12, 1).alias("b_month"),
        part_col(4, 0, 28, 1).alias("b_day"),
        F.when(k % 2 == 0, s(F.lit(1950) + k % 60)).alias("d_year"),
        part_col(5, 0, 12, 1).alias("d_month"),
        part_col(6, 0, 28, 1).alias("d_day"),
        s(k % 7).alias("type_id"),
        s(k % 4).alias("gender"),
        s(k % 30).alias("b_place"),
        s(k % 35).alias("d_place"),
    )
    alias_df = orders.filter(k % 5 == 0).select(
        s(k).alias("parent_id"),
        F.when(k % 10 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("aka "), F.col("o_orderpriority")))
        .alias("label"),
    )
    area = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("string").alias("id"),
        F.col("n_name").alias("name"),
    )
    t = musicbrainz_artist_tables(artist, alias_df, area)
    artists = t["artists"].withColumn("side", F.lit("artist"))
    bands = (
        t["bands"]
        .withColumn("gender", F.lit(None).cast("string"))
        .withColumn("side", F.lit("band"))
    )
    cols = [
        "side", "catalog_id", "name", "name_tokens", "born",
        "born_precision", "died", "died_precision", "birth_place",
        "death_place", "gender",
    ]
    return artists.select(*cols).unionByName(bands.select(*cols))


def _q_musicbrainz_artist_flavor_sql() -> str:
    """DuckDB replica of q_musicbrainz_artist_flavor — same fixture
    arithmetic, the tokenize kernel with its default English stop list
    (matching the reference's extraction-time tokenize), the
    date-precision decoder, area joins and alias denormalization in
    plain SQL."""
    from soweego_spark.functions.textnorm import STOPWORDS_ENG

    stop = ", ".join("'" + w + "'" for w in sorted(STOPWORDS_ENG))
    tok = (
        "list_sort(list_distinct(list_filter("
        "regexp_split_to_array(lower(trim({x})), '\\W+'), "
        f"t -> len(t) > 1 AND NOT list_contains([{stop}], t))))"
    )
    # TRY_CAST of the assembled string, never a throwing make_date, and
    # the precision keyed on the DATE's validity exactly like the Spark
    # side (_mb_date_and_precision: a calendar-invalid y/m/d suppresses
    # BOTH the date and the precision instead of aborting the oracle)
    _d = (
        "TRY_CAST(TRY_CAST({y} AS INT)::VARCHAR || '-' || "
        "lpad(COALESCE(TRY_CAST({m} AS INT), 1)::VARCHAR, 2, '0') || '-' || "
        "lpad(COALESCE(TRY_CAST({d} AS INT), 1)::VARCHAR, 2, '0') AS DATE)"
    )
    date_prec = (
        """
               CASE WHEN {y} IS NOT NULL AND TRY_CAST({y} AS INT) >= 0
                    THEN """ + _d + """
               END AS {out},
               CASE WHEN {y} IS NOT NULL AND TRY_CAST({y} AS INT) >= 0
                    AND """ + _d + """ IS NOT NULL
                    THEN CASE WHEN {m} IS NULL THEN 9
                              WHEN {d} IS NULL THEN 10
                              ELSE 11 END
               END AS {out}_precision"""
    )
    return f"""
    WITH raw AS (
        SELECT o_orderkey::VARCHAR AS id,
               'mb-' || o_orderkey::VARCHAR AS gid,
               o_orderstatus || ' ' || o_orderpriority AS label,
               CASE WHEN o_orderkey % 13 = 0 THEN NULL
                    WHEN o_orderkey % 17 = 0 THEN '-100'
                    ELSE (1900 + o_orderkey % 100)::VARCHAR END AS b_year,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE (1 + o_orderkey % 12)::VARCHAR END AS b_month,
               CASE WHEN o_orderkey % 4 = 0 THEN NULL
                    ELSE (1 + o_orderkey % 28)::VARCHAR END AS b_day,
               CASE WHEN o_orderkey % 2 = 0
                    THEN (1950 + o_orderkey % 60)::VARCHAR END AS d_year,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE (1 + o_orderkey % 12)::VARCHAR END AS d_month,
               CASE WHEN o_orderkey % 6 = 0 THEN NULL
                    ELSE (1 + o_orderkey % 28)::VARCHAR END AS d_day,
               (o_orderkey % 7)::VARCHAR AS type_id,
               (o_orderkey % 4)::VARCHAR AS gender,
               (o_orderkey % 30)::VARCHAR AS b_place,
               (o_orderkey % 35)::VARCHAR AS d_place
        FROM orders
    ),
    enriched AS (
        SELECT gid AS catalog_id, id, label AS name, type_id,
               {tok.format(x='label')} AS toks,
               CASE WHEN len(toks) > 0
                    THEN array_to_string(toks, ' ') END AS name_tokens,
               {date_prec.format(y='b_year', m='b_month', d='b_day',
                                 out='born')},
               {date_prec.format(y='d_year', m='d_month', d='d_day',
                                 out='died')},
               CASE raw.gender WHEN '1' THEN 'male'
                               WHEN '2' THEN 'female' END AS gender,
               ba.lname AS birth_place, da.lname AS death_place
        FROM raw
        LEFT JOIN (SELECT n_nationkey::VARCHAR AS aid, lower(n_name) AS lname
                   FROM nation) ba ON raw.b_place = ba.aid
        LEFT JOIN (SELECT n_nationkey::VARCHAR AS aid, lower(n_name) AS lname
                   FROM nation) da ON raw.d_place = da.aid
    ),
    aliases AS (
        SELECT o_orderkey::VARCHAR AS id,
               CASE WHEN o_orderkey % 10 = 0 THEN NULL
                    ELSE 'aka ' || o_orderpriority END AS alabel
        FROM orders WHERE o_orderkey % 5 = 0
    ),
    with_alias AS (
        SELECT e.catalog_id, e.type_id, a.alabel AS name,
               -- atoks, NOT toks: a lateral alias named like a real
               -- column of `enriched` resolves to the COLUMN in DuckDB,
               -- silently tokenizing the main label instead of the alias
               {tok.format(x='a.alabel')} AS atoks,
               CASE WHEN len(atoks) > 0
                    THEN array_to_string(atoks, ' ') END AS name_tokens,
               e.born, e.born_precision, e.died, e.died_precision,
               e.gender, e.birth_place, e.death_place
        FROM enriched e JOIN aliases a ON e.id = a.id
        WHERE a.alabel IS NOT NULL AND a.alabel <> ''
    ),
    artists AS (
        SELECT catalog_id, name, name_tokens, born, born_precision,
               died, died_precision, birth_place, death_place, gender
        FROM enriched WHERE type_id IN ('1', '4')
        UNION ALL
        SELECT catalog_id, name, name_tokens, born, born_precision,
               died, died_precision, birth_place, death_place, gender
        FROM with_alias WHERE type_id IN ('1', '4')
    ),
    bands AS (
        SELECT catalog_id, name, name_tokens, born, born_precision,
               died, died_precision, birth_place, death_place,
               NULL::VARCHAR AS gender
        FROM enriched WHERE type_id IN ('2', '5', '6')
        UNION ALL
        SELECT catalog_id, name, name_tokens, born, born_precision,
               died, died_precision, birth_place, death_place,
               NULL::VARCHAR AS gender
        FROM with_alias WHERE type_id IN ('2', '5', '6')
    )
    SELECT 'artist' AS side, * FROM artists
    UNION ALL
    SELECT 'band' AS side, * FROM bands
"""


def q_discogs_master_flavor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Discogs masters extraction flavor (sources/catalogs.py:
    discogs_master_tables) under the hash gate: genre∪style token union,
    data-quality lowercasing, year -> precision-9 date with invalid-year
    suppression, and the master→artist relationship set (joined back as
    a distinct-artist count so one output exercises both tables) —
    reference discogs_dump_extractor.py:176-209."""
    from soweego_spark.sources.catalogs import discogs_master_tables

    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = lambda c: c.cast("string")  # noqa: E731
    genres = F.when(
        k % 11 != 0,
        F.struct(
            F.array(F.col("p_brand"), F.lit("Stage & Screen")).alias("genre")
        ),
    )
    styles = F.when(
        k % 4 != 0, F.struct(F.array(F.col("p_type")).alias("style"))
    )
    artists = F.struct(
        F.array(
            F.struct(F.concat(F.lit("d"), s(k % 50)).alias("id")),
            F.struct(F.concat(F.lit("d"), s(k % 30)).alias("id")),
        ).alias("artist")
    )
    raw = part.select(
        F.concat(F.lit("m"), s(k)).alias("id"),
        F.concat(F.lit("r"), s(k % 1000)).alias("main_release"),
        F.col("p_name").alias("title"),
        F.element_at(
            F.array(
                F.lit("Correct"), F.lit("Needs Vote"),
                F.lit("Complete And Correct"),
            ),
            (k % 3 + 1).cast("int"),
        ).alias("data_quality"),
        F.when(k % 9 == 0, F.lit(None).cast("string"))
        .when(k % 7 == 0, F.lit("c.1970"))
        # castable but unparseable year: date AND precision both NULL
        .when(k % 13 == 0, F.lit("-3"))
        .otherwise(s(F.lit(1900) + k % 120)).alias("year"),
        genres.alias("genres"),
        styles.alias("styles"),
        artists.alias("artists"),
    )
    t = discogs_master_tables(raw)
    n_artists = t["master_artist_relationships"].groupBy(
        "master_catalog_id"
    ).agg(F.count("*").alias("n_artists"))
    return t["masters"].join(
        n_artists,
        t["masters"]["catalog_id"] == n_artists["master_catalog_id"],
    ).drop("master_catalog_id")


def _q_discogs_master_flavor_sql() -> str:
    """DuckDB replica of q_discogs_master_flavor — same fixture, the
    text-tokenize kernel replayed over the concatenated genre+style
    phrases, same year/date handling, distinct artist count."""
    from soweego_spark.functions.textnorm import STOPWORDS_ENG

    stop = ", ".join("'" + w + "'" for w in sorted(STOPWORDS_ENG))

    def tok(x):
        return (
            "list_sort(list_distinct(list_filter("
            f"regexp_split_to_array(lower(trim({x})), '\\W+'), "
            f"t -> len(t) > 1 AND NOT list_contains([{stop}], t))))"
        )

    return f"""
    WITH raw AS (
        SELECT 'm' || p_partkey::VARCHAR AS id,
               'r' || (p_partkey % 1000)::VARCHAR AS main_release,
               p_name AS title,
               (['Correct', 'Needs Vote', 'Complete And Correct'])[
                   (p_partkey % 3 + 1)::INT] AS data_quality,
               CASE WHEN p_partkey % 9 = 0 THEN NULL
                    WHEN p_partkey % 7 = 0 THEN 'c.1970'
                    WHEN p_partkey % 13 = 0 THEN '-3'
                    ELSE (1900 + p_partkey % 120)::VARCHAR END AS year,
               CASE WHEN p_partkey % 11 <> 0
                    THEN [p_brand, 'Stage & Screen']
                    ELSE []::VARCHAR[] END AS genre_list,
               CASE WHEN p_partkey % 4 <> 0
                    THEN [p_type] ELSE []::VARCHAR[] END AS style_list,
               ['d' || (p_partkey % 50)::VARCHAR,
                'd' || (p_partkey % 30)::VARCHAR] AS artist_ids
        FROM part
    ),
    masters AS (
        SELECT id AS catalog_id, main_release AS main_release_id,
               title AS name,
               CASE WHEN len({tok('title')}) > 0 THEN
                   array_to_string({tok('title')}, ' ') END AS name_tokens,
               lower(data_quality) AS data_quality,
               {tok("array_to_string(list_concat(genre_list, style_list), ' ')")}
                   AS gtoks,
               CASE WHEN len(gtoks) > 0
                    THEN array_to_string(gtoks, ' ') END AS genres,
               -- >= 1, not IS NOT NULL: Spark's try_to_date rejects
               -- year 0 and negatives; precision gated on the date
               CASE WHEN TRY_CAST(year AS INT) >= 1
                    THEN make_date(TRY_CAST(year AS INT), 1, 1) END AS born,
               CASE WHEN TRY_CAST(year AS INT) >= 1
                    THEN 9 END AS born_precision,
               len(list_distinct(artist_ids))::BIGINT AS n_artists
        FROM raw
    )
    SELECT catalog_id, main_release_id, name, name_tokens, data_quality,
           genres, born, born_precision, n_artists
    FROM masters
"""


def q_discogs_artist_flavor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Discogs artists extraction flavor (sources/catalogs.py:
    discogs_artist_tables) under the hash gate: required-field skips,
    musician-vs-band classification by <groups>/<members> presence,
    denormalized name variations (empty variations skipped, real_name/
    data_quality inherited), and the profile NLP rows — reference
    discogs_dump_extractor.py:212-305, 405-471. The four entity/NLP
    tables are tagged and unioned on a superset schema; the LINK tables
    are excluded here because their clean/validate/tokenize URL kernels
    are Python (urlsplit/unquote) — they are pinned by
    tests/test_parity_urls.py and tests/test_catalogs.py instead."""
    from soweego_spark.sources.catalogs import discogs_artist_tables

    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    s = lambda c: c.cast("string")  # noqa: E731
    nullstr = F.lit(None).cast("string")
    raw = part.select(
        F.when(k % 10 != 0, F.concat(F.lit("a"), s(k))).alias("id"),
        F.when(k % 13 != 0, F.col("p_name")).alias("name"),
        F.when(k % 3 != 0, F.concat(F.lit("Really "), F.col("p_brand")))
        .alias("realname"),
        F.element_at(
            F.array(F.lit("Correct"), F.lit("Needs Vote")),
            (k % 2 + 1).cast("int"),
        ).alias("data_quality"),
        F.when(k % 4 == 0, F.col("p_type")).alias("profile"),
        F.when(
            k % 5 == 0,
            F.struct(
                F.array(F.col("p_brand"), F.lit("")).alias("name")
            ),
        ).alias("namevariations"),
        F.lit(None).cast("struct<url: array<string>>").alias("urls"),
        F.when(k % 2 == 0, F.struct(F.array(nullstr).alias("name")))
        .alias("groups"),
        F.when(k % 3 == 0, F.struct(F.array(nullstr).alias("name")))
        .alias("members"),
    )
    t = discogs_artist_tables(raw)
    cols = [
        "side", "catalog_id", "name", "name_tokens", "real_name",
        "data_quality", "description", "description_tokens",
    ]

    def tag(df: DataFrame, side: str, nlp: bool) -> DataFrame:
        df = df.withColumn("side", F.lit(side))
        if nlp:
            df = (
                df.withColumn("name", F.lit(None).cast("string"))
                .withColumn("name_tokens", F.lit(None).cast("string"))
                .withColumn("real_name", F.lit(None).cast("string"))
                .withColumn("data_quality", F.lit(None).cast("string"))
            )
        else:
            df = df.withColumn(
                "description", F.lit(None).cast("string")
            ).withColumn("description_tokens", F.lit(None).cast("string"))
        return df.select(*cols)

    return (
        tag(t["musicians"], "musician", False)
        .unionByName(tag(t["bands"], "band", False))
        .unionByName(tag(t["musician_nlp"], "musician_nlp", True))
        .unionByName(tag(t["band_nlp"], "band_nlp", True))
    )


def _q_discogs_artist_flavor_sql() -> str:
    """DuckDB replica of q_discogs_artist_flavor — same fixture, same
    classification/variation/NLP logic, tokenize kernel with the default
    English stop list."""
    from soweego_spark.functions.textnorm import STOPWORDS_ENG

    stop = ", ".join("'" + w + "'" for w in sorted(STOPWORDS_ENG))

    def tok(x):
        return (
            "list_sort(list_distinct(list_filter("
            f"regexp_split_to_array(lower(trim({x})), '\\W+'), "
            f"t -> len(t) > 1 AND NOT list_contains([{stop}], t))))"
        )

    def join_or_null(x):
        return (
            f"CASE WHEN len({tok(x)}) > 0 "
            f"THEN array_to_string({tok(x)}, ' ') END"
        )

    return f"""
    WITH raw AS (
        SELECT CASE WHEN p_partkey % 10 <> 0
                    THEN 'a' || p_partkey::VARCHAR END AS id,
               CASE WHEN p_partkey % 13 <> 0 THEN p_name END AS name,
               CASE WHEN p_partkey % 3 <> 0
                    THEN 'Really ' || p_brand END AS realname,
               (['Correct', 'Needs Vote'])[(p_partkey % 2 + 1)::INT]
                   AS data_quality,
               CASE WHEN p_partkey % 4 = 0 THEN p_type END AS profile,
               CASE WHEN p_partkey % 5 = 0 THEN p_brand END AS variation,
               p_partkey % 2 = 0 AS is_musician,
               p_partkey % 2 <> 0 AND p_partkey % 3 = 0 AS is_band
        FROM part
        WHERE p_partkey % 10 <> 0 AND p_partkey % 13 <> 0
          AND (p_partkey % 2 = 0 OR p_partkey % 3 = 0)
    ),
    mains AS (
        SELECT CASE WHEN is_musician THEN 'musician' ELSE 'band' END AS side,
               id AS catalog_id, name,
               {join_or_null('name')} AS name_tokens,
               realname AS real_name, data_quality,
               NULL::VARCHAR AS description,
               NULL::VARCHAR AS description_tokens
        FROM raw
        UNION ALL
        SELECT CASE WHEN is_musician THEN 'musician' ELSE 'band' END,
               id, variation,
               {join_or_null('variation')},
               realname, data_quality, NULL, NULL
        FROM raw WHERE variation IS NOT NULL AND variation <> ''
    ),
    nlp AS (
        SELECT CASE WHEN is_musician THEN 'musician_nlp'
                    ELSE 'band_nlp' END AS side,
               id AS catalog_id, NULL::VARCHAR AS name,
               NULL::VARCHAR AS name_tokens, NULL::VARCHAR AS real_name,
               NULL::VARCHAR AS data_quality,
               profile AS description,
               {join_or_null('profile')} AS description_tokens
        FROM raw WHERE profile IS NOT NULL AND profile <> ''
    )
    SELECT * FROM mains UNION ALL SELECT * FROM nlp
"""


def q_musicbrainz_links_flavor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MusicBrainz url->entity link assembly (sources/catalogs.py:
    musicbrainz_link_tables) under the hash gate: one-entity-per-url-id
    dedup (min entity id — the deterministic stand-in for the reference's
    file-order 'first wins'), first clean+valid candidate per raw URL,
    per-cleaned-url dedup (the reference's url_entityid dict keyed by
    cleaned URL string), artist/band split, is_wiki, url_tokens —
    reference musicbrainz_dump_extractor.py:263-363. The URL strings are
    constrained to eight deterministic shapes so the DuckDB oracle can
    replicate the clean/validate/tokenize kernels' OUTPUT structurally
    (the kernels themselves are parity-tested in tests/test_parity_urls
    against the reference implementation): shape 2 is unparseable and
    must vanish; shape 4 exercises percent-decoded path tokens; shape 5
    a scheme-less URL (validate prepends https://); shape 6 a multi-URL
    cell whose first candidate is junk (clean splits, first VALID wins);
    shape 7 a whitespace-padded cell (clean strips)."""
    from soweego_spark.sources.catalogs import musicbrainz_link_tables

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s = lambda c: c.cast("string")  # noqa: E731
    artist = orders.select(
        s(k).alias("id"),
        F.concat(F.lit("mb-"), s(k)).alias("gid"),
        s(k % 7).alias("type_id"),
    )
    l_artist_url = orders.select(
        s(k).alias("entity_id"),
        F.concat(F.lit("u"), s(k % 2000)).alias("url_id"),
    )
    uk = (F.col("o_orderkey") % 2000).alias("uk")
    url = (
        orders.select(uk)
        .distinct()
        .select(
            F.concat(F.lit("u"), s(F.col("uk"))).alias("id"),
            F.when(
                F.col("uk") % 8 == 0,
                F.concat(
                    F.lit("https://www.wikidata.org/wiki/Q"),
                    s(F.col("uk") % 997),
                ),
            )
            .when(
                F.col("uk") % 8 == 1,
                F.concat(
                    F.lit("https://site"), s(F.col("uk") % 50),
                    F.lit(".example.org/page/"), s(F.col("uk") % 20),
                ),
            )
            .when(F.col("uk") % 8 == 2, F.lit("gibberish no url"))
            .when(
                F.col("uk") % 8 == 4,
                F.concat(
                    F.lit("https://archive.example.net/item/big%20band%20"),
                    s(F.lit(10) + F.col("uk") % 13),
                ),
            )
            .when(
                F.col("uk") % 8 == 5,
                F.concat(
                    F.lit("site"), s(F.col("uk") % 50),
                    F.lit(".example.org/x/"), s(F.col("uk") % 20),
                ),
            )
            .when(
                F.col("uk") % 8 == 6,
                F.concat(
                    F.lit("gibberish https://multi.example.com/m"),
                    s(F.col("uk") % 9),
                ),
            )
            .when(
                F.col("uk") % 8 == 7,
                F.concat(
                    F.lit("  https://plain.example.org/q"),
                    s(F.col("uk") % 9), F.lit(" "),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("https://tunes.fm/a"), s(F.col("uk") % 9)
                )
            )
            .alias("url"),
        )
    )
    t = musicbrainz_link_tables(artist, l_artist_url, url)
    a = t["artist_links"].withColumn("side", F.lit("artist"))
    b = t["band_links"].withColumn("side", F.lit("band"))
    cols = ["side", "catalog_id", "url", "is_wiki", "url_tokens"]
    return a.select(*cols).unionByName(b.select(*cols))


_Q_MB_LINKS_FLAVOR_SQL = """
    WITH uks AS (SELECT DISTINCT o_orderkey % 2000 AS uk FROM orders),
    urls AS (
        SELECT 'u' || uk::VARCHAR AS url_id,
               -- the CLEANED url per shape: shape 5 gets https://
               -- prepended by validate, 6 keeps its first VALID
               -- candidate, 7 is stripped; shape 2 (uk%8=2) is invalid
               -- -> NULL url
               CASE uk % 8
                 WHEN 0 THEN 'https://www.wikidata.org/wiki/Q'
                             || (uk % 997)::VARCHAR
                 WHEN 1 THEN 'https://site' || (uk % 50)::VARCHAR
                             || '.example.org/page/' || (uk % 20)::VARCHAR
                 WHEN 3 THEN 'https://tunes.fm/a' || (uk % 9)::VARCHAR
                 WHEN 4 THEN 'https://archive.example.net/item/big%20band%20'
                             || (10 + uk % 13)::VARCHAR
                 WHEN 5 THEN 'https://site' || (uk % 50)::VARCHAR
                             || '.example.org/x/' || (uk % 20)::VARCHAR
                 WHEN 6 THEN 'https://multi.example.com/m'
                             || (uk % 9)::VARCHAR
                 WHEN 7 THEN 'https://plain.example.org/q'
                             || (uk % 9)::VARCHAR
               END AS url,
               -- the clean/validate/tokenize kernel output, replicated
               -- structurally per URL shape (kernels parity-tested
               -- elsewhere)
               CASE uk % 8 WHEN 0 THEN TRUE ELSE FALSE END AS is_wiki,
               CASE uk % 8
                 WHEN 0 THEN array_to_string(list_sort(
                     ['Q' || (uk % 997)::VARCHAR, 'wiki', 'wikidata']), ' ')
                 WHEN 1 THEN array_to_string(list_sort(list_distinct(
                     list_concat(
                         ['site' || (uk % 50)::VARCHAR, 'example', 'page'],
                         CASE WHEN uk % 20 >= 10
                              THEN [(uk % 20)::VARCHAR]
                              ELSE []::VARCHAR[] END))), ' ')
                 WHEN 3 THEN array_to_string(list_sort(
                     ['a' || (uk % 9)::VARCHAR, 'tunes']), ' ')
                 -- %20 percent-decodes to spaces before \\W-splitting
                 WHEN 4 THEN array_to_string(list_sort(
                     ['archive', 'band', 'big', 'example', 'item',
                      (10 + uk % 13)::VARCHAR]), ' ')
                 -- path segment 'x' is length-1 -> dropped
                 WHEN 5 THEN array_to_string(list_sort(list_distinct(
                     list_concat(
                         ['site' || (uk % 50)::VARCHAR, 'example'],
                         CASE WHEN uk % 20 >= 10
                              THEN [(uk % 20)::VARCHAR]
                              ELSE []::VARCHAR[] END))), ' ')
                 WHEN 6 THEN array_to_string(list_sort(
                     ['example', 'm' || (uk % 9)::VARCHAR, 'multi']), ' ')
                 WHEN 7 THEN array_to_string(list_sort(
                     ['example', 'plain', 'q' || (uk % 9)::VARCHAR]), ' ')
               END AS url_tokens
        FROM uks
    ),
    one_entity AS (
        SELECT 'u' || (o_orderkey % 2000)::VARCHAR AS url_id,
               min(o_orderkey::VARCHAR) AS entity_id
        FROM orders GROUP BY 1
    ),
    linked AS (
        -- second dedup keyed by the CLEANED URL string (the reference's
        -- url_entityid dict): one entity per distinct cleaned URL, min
        -- entity as the deterministic stand-in for last-write-wins.
        -- is_wiki/url_tokens are functions of the url, safe in GROUP BY
        SELECT min(o.entity_id) AS entity_id,
               u.url, u.is_wiki, u.url_tokens
        FROM one_entity o JOIN urls u USING (url_id)
        WHERE u.url IS NOT NULL
        GROUP BY u.url, u.is_wiki, u.url_tokens
    ),
    joined AS (
        SELECT 'mb-' || o_orderkey::VARCHAR AS catalog_id,
               (o_orderkey % 7)::VARCHAR AS type_id,
               l.url, l.is_wiki, l.url_tokens
        FROM linked l JOIN orders
          ON l.entity_id = o_orderkey::VARCHAR
    )
    SELECT 'artist' AS side, catalog_id, url, is_wiki, url_tokens
    FROM joined WHERE type_id IN ('1', '4')
    UNION ALL
    SELECT 'band', catalog_id, url, is_wiki, url_tokens
    FROM joined WHERE type_id IN ('2', '5', '6')
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "token_blocking_topk": q_token_blocking_topk,
        "group_collect": q_group_collect,
        "anti_join_dead_ids": q_anti_join_dead_ids,
        "topk_per_key": q_topk_per_key,
        "threshold_dedup": q_threshold_dedup,
        "set_validation": q_set_validation,
        "relationship_join": q_relationship_join,
        "perfect_name_join": q_perfect_name_join,
        "confusion_matrix": q_confusion_matrix,
        "domain_frequency": q_domain_frequency,
        "union_dedup": q_union_dedup,
        "date_precision_match": q_date_precision_match,
        "exact_dedup": q_exact_dedup,
        "token_jaccard_neardup": q_token_jaccard_neardup,
        "subset_containment": q_subset_containment,
        "winnowing_neardup": q_winnowing_neardup,
        "minhash_lsh_neardup": q_minhash_lsh_neardup,
        "simhash_neardup": q_simhash_neardup,
        "embedding_topk": q_embedding_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_lsh_neardup": q_embedding_lsh_neardup,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_count": q_token_count,
        "doc_fingerprint": q_doc_fingerprint,
        "windowed_events": q_windowed_events,
        "external_id_extraction": q_external_id_extraction,
        "bio_validation": q_bio_validation,
        "url_blacklist": q_url_blacklist,
        "bio_dates_validation": q_bio_dates_validation,
        "three_way_outer_join": q_three_way_outer_join,
        "lang_id_ngram": q_lang_id_ngram,
        "pair_features": q_pair_features,
        "logistic_score": q_logistic_score,
        "statement_plan": q_statement_plan,
        "gopher_quality": q_gopher_quality,
        "pii_scrub": q_pii_scrub,
        "substring_dedup": q_substring_dedup,
        "substring_dedup_cut": q_substring_dedup_cut,
        "substring_dedup_incremental": q_substring_dedup_incremental,
        "decontaminate": q_decontaminate,
        "mix_sample": q_mix_sample,
        "pack_sequences": q_pack_sequences,
        "epoch_mix": q_epoch_mix,
        "shuffle_pack": q_shuffle_pack,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "bpe_vocab": q_bpe_vocab,
        "bpe_pack": q_bpe_pack,
        "lm_doc_stats": q_lm_doc_stats,
        "lm_filter": q_lm_filter,
        "lm_filter_bylang": q_lm_filter_bylang,
        "curate_pipeline": q_curate_pipeline,
        "sessionize": q_sessionize,
        "cluster_metrics": q_cluster_metrics,
        "incremental_neardup": q_incremental_neardup,
        "ingest_loop_3batch": q_ingest_loop_3batch,
        "incremental_neardup_exact": q_incremental_neardup_exact,
        "incremental_neardup_exact_full": q_incremental_neardup_exact_full,
        "imdb_person_flavor": q_imdb_person_flavor,
        "musicbrainz_artist_flavor": q_musicbrainz_artist_flavor,
        "discogs_master_flavor": q_discogs_master_flavor,
        "discogs_artist_flavor": q_discogs_artist_flavor,
        "musicbrainz_links_flavor": q_musicbrainz_links_flavor,
        "mnm_entries": q_mnm_entries,
        "identifier_actions": q_identifier_actions,
    }


def oracle_sql() -> dict[str, str]:
    out = _static_oracles()
    # data-dependent generators (k-means / IRLS replays on the parquet
    # under SOWEEGO_ORACLE_SF_DIR): a failure here must degrade THOSE
    # entries to rows-only, not take down every oracle
    for name, gen in (
        ("embedding_ivf_topk", _q_embedding_ivf_sql),
        ("logistic_score", _q_logistic_score_sql),
        ("bpe_merges", _q_bpe_merges_sql),
        ("bpe_encode", _q_bpe_encode_sql),
        ("bpe_vocab", _q_bpe_vocab_sql),
        ("bpe_pack", _q_bpe_pack_sql),
    ):
        try:
            out[name] = gen()
        except Exception as exc:  # pragma: no cover — env-dependent
            print(f"oracle generator {name} skipped: {exc}", file=sys.stderr)
    return out


def _static_oracles() -> dict[str, str]:
    return {
        "token_blocking_topk": _Q_TOKEN_BLOCKING_SQL,
        "group_collect": _Q_GROUP_COLLECT_SQL,
        "anti_join_dead_ids": _Q_ANTI_JOIN_SQL,
        "topk_per_key": _Q_TOPK_SQL,
        "threshold_dedup": _Q_THRESHOLD_DEDUP_SQL,
        "set_validation": _Q_SET_VALIDATION_SQL,
        "relationship_join": _Q_RELATIONSHIP_SQL,
        "perfect_name_join": _Q_PERFECT_NAME_SQL,
        "confusion_matrix": _Q_CONFUSION_SQL,
        "domain_frequency": _Q_DOMAIN_FREQ_SQL,
        "union_dedup": _Q_UNION_DEDUP_SQL,
        "date_precision_match": _Q_DATE_PRECISION_SQL,
        "exact_dedup": _Q_EXACT_DEDUP_SQL,
        "token_jaccard_neardup": _Q_TOKEN_JACCARD_SQL,
        "subset_containment": _Q_SUBSET_CONTAINMENT_SQL,
        "winnowing_neardup": _q_winnowing_sql(),
        "minhash_lsh_neardup": _q_minhash_sql(),
        "simhash_neardup": _q_simhash_sql(),
        "embedding_topk": _Q_EMBEDDING_TOPK_SQL,
        "embedding_neardup": _Q_EMBEDDING_NEARDUP_SQL,
        "embedding_lsh_neardup": _q_embedding_lsh_sql(),
        "lang_id": _q_lang_id_sql(),
        "quality_score": _Q_QUALITY_SQL,
        "token_count": _Q_TOKEN_COUNT_SQL,
        "doc_fingerprint": _Q_FINGERPRINT_SQL,
        "windowed_events": _Q_WINDOWED_EVENTS_SQL,
        "external_id_extraction": _Q_EXTERNAL_ID_SQL,
        "bio_validation": _Q_BIO_VALIDATION_SQL,
        "url_blacklist": _Q_URL_BLACKLIST_SQL,
        "bio_dates_validation": _Q_BIO_DATES_SQL,
        "three_way_outer_join": _Q_THREE_WAY_SQL,
        "lang_id_ngram": _Q_LANG_NGRAM_SQL,
        "pair_features": _pair_features_sql(),
        "statement_plan": _Q_STATEMENT_PLAN_SQL,
        "gopher_quality": _Q_GOPHER_SQL,
        "pii_scrub": _Q_PII_SQL,
        "substring_dedup": _Q_SUBSTR_SQL,
        "lm_doc_stats": _Q_LM_STATS_SQL,
        "lm_filter": _Q_LM_FILTER_SQL,
        "lm_filter_bylang": _Q_LM_BYLANG_SQL,
        "curate_pipeline": _q_curate_sql(),
        "substring_dedup_cut": _Q_SUBSTR_CUT_SQL,
        "substring_dedup_incremental": _Q_SUBSTR_INCR_SQL,
        "decontaminate": _Q_DECONTAM_SQL,
        "mix_sample": _Q_MIX_SAMPLE_SQL,
        "pack_sequences": _Q_PACK_SEQ_SQL,
        "epoch_mix": _q_epoch_mix_sql(),
        "shuffle_pack": _Q_SHUFFLE_PACK_SQL,
        "sessionize": _Q_SESSIONIZE_SQL,
        "cluster_metrics": _Q_CLUSTER_METRICS_SQL,
        "incremental_neardup": _q_incremental_sql(),
        "ingest_loop_3batch": _q_ingest_loop_sql(),
        "incremental_neardup_exact": _q_incremental_exact_sql(),
        "incremental_neardup_exact_full": _q_incremental_exact_sql(
            num_perm=64, bands=16
        ),
        "imdb_person_flavor": _q_imdb_person_flavor_sql(),
        "musicbrainz_artist_flavor": _q_musicbrainz_artist_flavor_sql(),
        "discogs_master_flavor": _q_discogs_master_flavor_sql(),
        "discogs_artist_flavor": _q_discogs_artist_flavor_sql(),
        "musicbrainz_links_flavor": _Q_MB_LINKS_FLAVOR_SQL,
        "mnm_entries": _Q_MNM_SQL,
        "identifier_actions": _Q_IDENT_ACTIONS_SQL,
    }

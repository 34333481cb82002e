"""Repetition/quality heuristics and PII scrubbing for web-text curation.

Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", appendix A1.1 — the
publicly documented repetition filters used by most LLM data pipelines):
word counts, mean word length, distinct-word ratio, top-bigram fraction.
Every metric is computed inside the row from the document's own token
array — the bigram mode by sorting the bigram array and folding for the
longest equal run — so the pass is one narrow projection with no
exchange (NO per-doc Python, no driver work, no unbounded state).

``scrub_pii`` is the redaction pass training pipelines run before
tokenization: email / phone / IPv4 patterns replaced by typed tags, all
JVM-side ``regexp_replace`` (patterns chosen to parse identically under
Java regex and RE2/DuckDB for oracle parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() .-]{6,}[0-9]"
IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


def gopher_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 3,
    max_mean_word_len: float = 12.0,
    min_distinct_ratio: float = 0.2,
    max_top_bigram_frac: float = 0.5,
) -> DataFrame:
    """Per-document repetition metrics + the pass/fail verdict.

    Output: ``(id, word_count, mean_word_len, distinct_ratio,
    top_bigram_frac, quality_pass)``. The bigram mode is computed in the
    row (sort the bigram array, fold for the longest equal run), so the
    whole pass is a narrow projection with no exchange — never a
    per-document Python loop or a collected vocabulary.

    The expressions are SQL text, one py4j call to parse each (CLAUDE.md);
    every lambda variable has a name of its own, as sibling higher-order
    functions share one projection.
    """
    toks = docs.selectExpr(
        f"{id_col} AS id",
        rf"filter(split(lower({text_col}), '\\s+'), gq_w -> gq_w != '') AS w",
    )
    # Per-doc bigram MODE computed inside the row (r7): sort the bigram
    # array and fold for the longest equal run — the same integer the old
    # explode -> groupBy(id, gram) -> max-per-doc pipeline produced, but
    # with ZERO exchanges (the relational shape shuffled every (doc,
    # bigram) pair twice and joined back; this is one narrow projection,
    # guide §2.4). Work per row is O(n log n) in the doc's word count —
    # bounded by the same array the row already holds. Bigrams are
    # "word word", never empty, so the "" init sentinel cannot match the
    # first element.
    tail = "greatest(size(w) - 1, 0)"
    bigrams = (
        f"zip_with(slice(w, 1, {tail}), slice(w, 2, {tail}), "
        "(bg_a, bg_b) -> concat(bg_a, ' ', bg_b))"
    )
    run = (
        "CASE WHEN bg_g = bg_acc.prev THEN bg_acc.run + 1 "
        "ELSE CAST(1 AS BIGINT) END"
    )
    mode_fold = (
        f"aggregate(array_sort({bigrams}), struct('' AS prev, "
        "CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS best), "
        f"(bg_acc, bg_g) -> struct(bg_g AS prev, {run} AS run, "
        f"greatest(bg_acc.best, {run}) AS best), bg_res -> bg_res.best)"
    )
    base = toks.selectExpr(
        "id",
        "size(w) AS word_count",
        "size(array_distinct(w)) AS distinct_words",
        "aggregate(w, CAST(0 AS BIGINT), "
        "(cs_acc, cs_w) -> cs_acc + length(cs_w)) AS char_sum",
        f"{mode_fold} AS top_bigram_count",
    )
    # word_count == 0 (empty/whitespace docs — exactly what the filter
    # exists to reject) must yield a failing verdict, not a
    # DIVIDE_BY_ZERO throw under Spark 4 ANSI mode
    nz = "greatest(word_count, 1)"
    j = base.selectExpr(
        "id",
        "CAST(word_count AS BIGINT) AS word_count",
        f"char_sum / {nz} AS mean_word_len",
        f"CAST(distinct_words AS DOUBLE) / {nz} AS distinct_ratio",
        "CAST(coalesce(top_bigram_count, 0) AS DOUBLE) "
        "/ greatest(word_count - 1, 1) AS top_bigram_frac",
    )
    # left-deep, as Column ``&`` chains it (the SQL parser would balance
    # an unparenthesized chain)
    verdict = (
        f"(((word_count >= {int(min_words)}) "
        f"AND (mean_word_len <= {float(max_mean_word_len)!r}D)) "
        f"AND (distinct_ratio >= {float(min_distinct_ratio)!r}D)) "
        f"AND (top_bigram_frac <= {float(max_top_bigram_frac)!r}D)"
    )
    return j.withColumn("quality_pass", F.expr(verdict))


def scrub_pii(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "text_scrubbed",
) -> DataFrame:
    """Email/phone/IPv4 redaction as chained ``regexp_replace`` — pure
    whole-stage-codegen column work, plus per-kind hit counts (the
    curation report wants redaction statistics, and counting BEFORE
    replacing costs one extra regexp each, not a second pass).

    Order matters and is fixed: emails first (their local parts can look
    like phone fragments), then IPv4 (digit runs with dots), then phones.
    """
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_ip = F.size(
        F.regexp_extract_all(after_email, F.lit(IPV4_RE), F.lit(0))
    )
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    n_phone = F.size(
        F.regexp_extract_all(after_ip, F.lit(PHONE_RE), F.lit(0))
    )
    after_phone = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    return docs.withColumns(
        {
            out_col: after_phone,
            "n_emails": n_email.cast("long"),
            "n_ips": n_ip.cast("long"),
            "n_phones": n_phone.cast("long"),
        }
    )


def deterministic_sample(
    df: DataFrame, n: int, *key_cols: str
) -> DataFrame:
    """T3 (reference logs a random sample of predictions): a seedless
    DETERMINISTIC pseudo-random sample — order by ``xxhash64`` of the key
    columns and take n. Unlike ``df.sample`` (partition-layout dependent),
    the same input always yields the same sample, so logged samples are
    reproducible across runs and resumes; the TakeOrdered never
    materializes more than n rows on the driver.

    The key columns are appended as tiebreakers so the ordering is total
    whenever they identify rows; with duplicate keys the duplicate-key
    ROWS themselves may carry different payloads and the cut between
    them at the n boundary is layout-dependent — pass key columns that
    uniquely identify rows (the caller owns that contract).
    """
    assert key_cols, "deterministic_sample needs at least one key column"
    keys = [F.col(c) for c in key_cols]
    return df.orderBy(F.xxhash64(*keys), *keys).limit(n)

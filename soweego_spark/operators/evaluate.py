"""K-fold evaluation harness (reference linker/evaluate.py as DataFrame math).

Folds are assigned by a deterministic hash of the pair key (no RNG state to
ship to executors; the reference uses seeded StratifiedKFold, seeds 610/1269
— a pinned hash split is the order-invariant Spark equivalent). Per fold:
train on the rest, predict the held-out fold, union predictions across folds
(evaluate.py:379-382), then P/R/F1 over the full labeled set.
"""

from __future__ import annotations

import functools
import itertools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from soweego_spark.operators import classify as clf


def pairwise_cluster_metrics(
    assign: DataFrame,
    truth: DataFrame,
    id_col: str = "url",
    labeled_only: bool = False,
) -> DataFrame:
    """Pairwise precision/recall/F1 of a clustering vs ground truth WITHOUT
    materializing pairs: with contingency counts n_ct = |cluster c ∩ truth
    t|, TP = Σ C(n_ct,2), predicted = Σ C(n_c,2), actual = Σ C(n_t,2) —
    three aggregations over the assignment join, O(rows) not O(pairs²).
    At 10^12 docs the pair sets are astronomically large; the sufficient
    statistics never are.

    Denominator contract — the two modes differ when the id sets of
    ``assign`` and ``truth`` only partially overlap:

    * ``labeled_only=False`` (default): predicted_pairs counts ALL
      assignment pairs and actual_pairs ALL truth pairs. Pairs involving
      an id absent from the other frame can never be TP, so precision and
      recall are penalized by unlabeled/unassigned ids. This is the
      full-assignment grading of the north rule's cluster output (an
      unassigned labeled doc IS a recall failure of the pipeline).
    * ``labeled_only=True``: both frames are first restricted to ids
      present in BOTH (a semi-join each way), so P/R/F1 are computed over
      the labeled index only — the reference's evaluation convention
      (linker/evaluate.py scores only indexed labeled pairs).

    Integer arithmetic throughout (C(n,2) = n*(n-1)/2 exact in int64 up
    to n ~ 4.3e9 members per cell), three final divisions — so the output
    is engine-exact. Returns ONE row: (tp_pairs, predicted_pairs,
    actual_pairs, precision, recall, f1).
    """
    a = assign.select(F.col(id_col).alias("id"), "cluster_id")
    t = truth.select(F.col(id_col).alias("id"), "entity_id")
    if labeled_only:
        a = a.join(t.select("id"), "id", "left_semi")
        t = t.join(assign.select(F.col(id_col).alias("id")), "id", "left_semi")
    j = a.join(t, "id")

    def pairs2(cnt):
        # C(n,2) without materializing n*(n-1): halve the EVEN factor
        # FIRST, because ANSI mode throws on int64 overflow and
        # n*(n-1) overflows at n ≈ 3.04e9 while C(n,2) itself is
        # representable to n ≈ 4.29e9 (CLAUDE.md: mask/split before
        # multiply). A double `/2` would also lose exactness past 2^53.
        return F.when(
            cnt % 2 == 0, F.shiftright(cnt, 1) * (cnt - F.lit(1))
        ).otherwise(cnt * F.shiftright(cnt - F.lit(1), 1))

    tp = (
        j.groupBy("cluster_id", "entity_id")
        .agg(F.count("*").alias("n"))
        .agg(F.coalesce(F.sum(pairs2(F.col("n"))), F.lit(0)).alias("tp"))
    )
    pred = (
        a.groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
        .agg(F.coalesce(F.sum(pairs2(F.col("n"))), F.lit(0)).alias("pred"))
    )
    act = (
        t.groupBy("entity_id")
        .agg(F.count("*").alias("n"))
        .agg(F.coalesce(F.sum(pairs2(F.col("n"))), F.lit(0)).alias("act"))
    )
    row = tp.crossJoin(pred).crossJoin(act)  # three 1-row frames
    p = F.when(F.col("pred") > 0, F.col("tp") / F.col("pred")).otherwise(
        F.lit(0.0)
    )
    r = F.when(F.col("act") > 0, F.col("tp") / F.col("act")).otherwise(
        F.lit(0.0)
    )
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        F.lit(2.0)
        * F.col("precision")
        * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return (
        row.select(
            F.col("tp").alias("tp_pairs"),
            F.col("pred").alias("predicted_pairs"),
            F.col("act").alias("actual_pairs"),
            p.alias("precision"),
            r.alias("recall"),
        )
        .withColumn("f1", f1)
    )


def _fold_counts(
    X: np.ndarray,
    y: np.ndarray,
    folds: np.ndarray,
    k: int,
    trainer,
    threshold: float,
) -> list[tuple[int, int, int]]:
    """The one k-fold loop: per fold, train on the other folds and
    threshold the held-out fold's ``predict_proba``; (tp, fp, fn) per fold."""
    out = []
    for f in range(k):
        test = folds == f
        hit = trainer(X[~test], y[~test]).predict_proba(X[test]) >= threshold
        pos = y[test] == 1
        out.append(
            (int((pos & hit).sum()), int((~pos & hit).sum()),
             int((pos & ~hit).sum()))
        )
    return out


def kfold_scores(
    features: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    trainer=clf.train_logistic,
    threshold: float = clf.CONFIDENCE_THRESHOLD,
) -> dict:
    """Cross-validated P/R/F1 on the labeled pairs.

    The labeled feature matrix is collected once (bounded by |labeled|);
    fold training happens in numpy on the driver, mirroring the reference's
    sklearn-on-one-node evaluation protocol (docs/evaluations.rst:5-14).
    """
    X, y, folds = clf.collect_training_matrix(features, labeled, folds=k)
    counts = _fold_counts(X, y, folds, k, trainer, threshold)
    precision, recall, f1 = clf.precision_recall_f1(
        *np.sum(counts, axis=0).tolist()
    )
    per_fold = [clf.precision_recall_f1(*c)[2] for c in counts]
    return dict(
        f1=f1,
        precision=precision,
        recall=recall,
        f1_mean=float(np.mean(per_fold)),
        f1_std=float(np.std(per_fold)),
        per_fold=per_fold,
    )


def grid_search(
    features: DataFrame,
    labeled: DataFrame,
    param_grid: dict[str, list],
    trainer=clf.train_logistic,
    k: int = 5,
    threshold: float = clf.CONFIDENCE_THRESHOLD,
) -> dict:
    """M11 (train.py:232-253 GridSearchCV analogue): exhaustive grid over
    trainer kwargs, scored by k-fold F1; deterministic tie-break = first
    combination in sorted-key iteration order (the reference pins seeds 610
    and 1269 for the same reason). One collect, numpy folds on the driver.
    """
    X, y, folds = clf.collect_training_matrix(features, labeled, folds=k)
    keys = sorted(param_grid)
    best = None
    results = []
    for combo in itertools.product(*[param_grid[kk] for kk in keys]):
        params = dict(zip(keys, combo))
        counts = _fold_counts(
            X, y, folds, k, functools.partial(trainer, **params), threshold
        )
        f1 = clf.precision_recall_f1(*np.sum(counts, axis=0).tolist())[2]
        results.append({"params": params, "f1": f1})
        if best is None or f1 > best["f1"] + 1e-12:
            best = {"params": params, "f1": f1}
    return {"best": best, "results": results}

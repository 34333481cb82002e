"""Training + scoring (SURVEY.md §2.10, M1-M12).

The labeled feature matrix is small (≤ low 10^5 pairs even for the largest
reference runs) -> train on the driver in numpy with pinned determinism, then
push the fitted model back into the plan. Every fitted model has
``predict_proba(X)``; :func:`score` is the one scoring seam. A *linear*
model becomes pure column arithmetic: ``sigmoid(X·w + b)`` is a JVM-side
expression — scoring costs zero Python. This is the BASELINE.json
"broadcast-distributed trained linear classifier" pattern; for a linear
model the broadcast degenerates to literals in the plan, which is strictly
cheaper than shipping a pickled model to a pandas UDF. Only a model with
no Catalyst form (forest, SVC, MLP, ensembles) is broadcast to one
Arrow-batched pandas UDF.

:data:`TRAINERS` names every model family the linker can train, one
``train_*(X, y, features)`` per name:

  logistic      M2, liblinear C=1.0 analogue     -> IRLS w/ L2(1/C)
  naive_bayes   M1, binarize=0.2 alpha=1e-4      -> Bernoulli NB; its
                log-odds are LINEAR in the binarized features, so
                scoring is again pure column math
  svm           M3 (no probabilities; sign -> 0/1) -> pegasos-style
                deterministic subgradient descent
  svc           M4 SMO SVC (RBF or linear kernel) + Platt probabilities
  random_forest M5 entropy forest
  slp / mlp     M6 / M7 keras-architecture networks in numpy
  voting        M8 soft vote over the 5 ensemble members
  gated/stacked M9 / M10 super-learners

Post-classification rules (M12, linker/link.py:203-215,325-367):
  name rule: score -> 0 when the two name-token sets are disjoint
  url rule:  score -> 1 when the pair shares an exact catalog/profile URL
             (the wikidata-url rule re-expressed for web pages: a shared
             canonical external identifier URL is treated as ground truth)

Threshold + dedup (P4/P5): filter >= 0.5, dropDuplicates on the pair key.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from soweego_spark.operators.pairfeatures import FEATURE_COLUMNS

CONFIDENCE_THRESHOLD = 0.5  # reference constants.py:358


@dataclass
class LinearModel:
    """weights/bias over FEATURE_COLUMNS; optional binarization threshold
    (Bernoulli NB is linear in the binarized features)."""

    features: list[str]
    weights: np.ndarray
    bias: float
    binarize: float | None = None
    kind: str = "logistic"

    def score_column(self):
        """The scoring expression: sigmoid(w·x + b) as a Catalyst column."""
        acc = F.lit(float(self.bias))
        for name, w in zip(self.features, self.weights):
            col = F.col(name)
            if self.binarize is not None:
                col = (col > F.lit(float(self.binarize))).cast("double")
            acc = acc + col * F.lit(float(w))
        if self.kind == "svm":
            return (acc > 0).cast("double")
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-acc))

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        """The same model as :meth:`score_column`, in numpy."""
        X = np.asarray(X, dtype=np.float64)
        if self.binarize is not None:
            X = (X > self.binarize).astype(np.float64)
        z = X @ self.weights + self.bias
        if self.kind == "svm":
            return (z > 0).astype(np.float64)
        return 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))


def train_logistic(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    l2: float = 1.0,
    max_iter: int = 50,
    tol: float = 1e-8,
) -> LinearModel:
    """IRLS (Newton) logistic regression — deterministic, no seed needed.

    ``l2`` matches liblinear's 1/C with C=1.0 (reference constants.py:368).
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, d = X.shape
    Xb = np.hstack([X, np.ones((n, 1))])
    w = np.zeros(d + 1)
    reg = np.full(d + 1, l2)
    reg[-1] = 0.0  # don't penalize the intercept
    for _ in range(max_iter):
        z = Xb @ w
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        g = Xb.T @ (p - y) + reg * w
        s = np.clip(p * (1 - p), 1e-9, None)
        H = (Xb * s[:, None]).T @ Xb + np.diag(reg + 1e-9)
        step = np.linalg.solve(H, g)
        w -= step
        if np.max(np.abs(step)) < tol:
            break
    return LinearModel(list(features), w[:-1], float(w[-1]), kind="logistic")


def train_naive_bayes(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    binarize: float = 0.2,
    alpha: float = 1e-4,
) -> LinearModel:
    """Bernoulli NB on binarized features (reference constants.py:367)."""
    X = (np.asarray(X, dtype=np.float64) > binarize).astype(np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = len(y)
    n1, n0 = y.sum(), n - y.sum()
    p1 = (X[y == 1].sum(axis=0) + alpha) / (n1 + 2 * alpha)
    p0 = (X[y == 0].sum(axis=0) + alpha) / (n0 + 2 * alpha)
    w = np.log(p1 / p0) - np.log((1 - p1) / (1 - p0))
    bias = (
        np.log(max(n1, alpha) / max(n0, alpha))
        + np.sum(np.log(1 - p1) - np.log(1 - p0))
    )
    return LinearModel(list(features), w, float(bias), binarize=binarize, kind="nb")


def train_linear_svm(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    lam: float = 1e-3,
    epochs: int = 200,
) -> LinearModel:
    """Deterministic full-batch subgradient descent on the hinge loss."""
    X = np.asarray(X, dtype=np.float64)
    yy = np.where(np.asarray(y) > 0, 1.0, -1.0)
    n, d = X.shape
    Xb = np.hstack([X, np.ones((n, 1))])
    w = np.zeros(d + 1)
    for t in range(1, epochs + 1):
        margin = yy * (Xb @ w)
        viol = margin < 1
        grad = lam * w - (Xb[viol] * yy[viol, None]).sum(axis=0) / n
        w -= grad / (lam * t)
    return LinearModel(list(features), w[:-1], float(w[-1]), kind="svm")


def collect_training_matrix(
    features: DataFrame,
    labeled: DataFrame | None,
    columns: list[str] = FEATURE_COLUMNS,
    on: tuple[str, ...] = ("url_a", "url_b"),
    folds: int | None = None,
):
    """Join the labeled pair set to its feature vectors, collect to driver.

    The collect is bounded: |labeled pairs|, not |candidate pairs|.
    ``labeled=None`` when ``features`` already carries the ``label``.
    Returns ``(X, y)``; with ``folds=k`` also each row's fold,
    ``pmod(hash(on), k)`` — a pinned hash split of the pair key.
    """
    # Broadcast the labeled side: it is small by construction, so the big
    # feature table is probed map-side instead of shuffled on the pair key.
    # Arrow toPandas instead of collect(): row-at-a-time Row pickling was
    # the bulk of the training stage's wall (~6s of 7.6s at 91k rows,
    # profiled); the columnar transfer is one numpy copy.
    df = features
    if labeled is not None:
        df = df.join(F.broadcast(labeled), list(on))
    cols = [*columns, "label"]
    if folds is not None:
        df = df.withColumn("fold", F.pmod(F.hash(*on), F.lit(folds)))
        cols.append("fold")
    pdf = df.select(*cols).toPandas()
    X = pdf[list(columns)].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy(dtype=np.float64)
    if folds is None:
        return X, y
    return X, y, pdf["fold"].to_numpy()


def score(features: DataFrame, model) -> DataFrame:
    """(url_a, url_b, features...) -> + score column, for any fitted model.

    A :class:`LinearModel` is scored by its Catalyst expression, fully
    JVM-side. Any other model has no such form: it is broadcast and scored
    in one SCALAR_ITER pandas UDF — one deserialization per executor Python
    worker, Arrow batches through BLAS-backed numpy ``predict_proba``.

    For the UDF, pass a persisted (or checkpointed) feature table: when a
    query keeps only the score, Spark inlines the feature expressions into
    the UDF's input, and a feature built from nested higher-order functions
    (``name_lev``, the date similarities) then leaves the UDF unextracted —
    the task fails with "Cannot evaluate expression: _score".
    """
    if isinstance(model, LinearModel):
        return features.withColumn("score", model.score_column())
    from pyspark.sql.functions import pandas_udf

    bm = features.sparkSession.sparkContext.broadcast(model)
    cols = model.features

    @pandas_udf("double")
    def _score(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        m = bm.value
        for batch in it:
            X = batch[list(cols)].to_numpy(dtype=np.float64)
            yield pd.Series(m.predict_proba(X))

    return features.withColumn("score", _score(F.struct(*cols)))


def apply_rules(
    scored: DataFrame,
    pair_rows: DataFrame | None = None,
    name_rule: bool = True,
    url_rule: bool = True,
) -> DataFrame:
    """M12 post rules. Needs the assembled pair columns; pass the wide pair
    rows or make sure ``scored`` still carries a_*/b_* columns."""
    df = scored
    if pair_rows is not None:
        rule_cols = [
            "a_name_tokens", "b_name_tokens", "a_urls", "b_urls",
        ] + [c for c in ("a_ext_ids", "b_ext_ids") if c in pair_rows.columns]
        # only the columns scored does NOT already carry (an inner join
        # on overlapping names would raise ambiguous-reference), and a
        # LEFT join: a scored pair missing from pair_rows must keep its
        # score untouched (null rule inputs no-op via the isNotNull
        # guards below), never silently vanish from the output
        missing = [c for c in rule_cols if c not in df.columns]
        if missing:
            df = df.join(
                pair_rows.select("url_a", "url_b", *missing),
                ["url_a", "url_b"],
                "left",
            )
    out = F.col("score")
    if name_rule:
        disjoint = (
            F.col("a_name_tokens").isNotNull()
            & F.col("b_name_tokens").isNotNull()
            & (
                F.size(
                    F.array_intersect("a_name_tokens", "b_name_tokens")
                )
                == 0
            )
        )
        out = F.when(disjoint, F.lit(0.0)).otherwise(out)
    if url_rule:
        # Reference semantics (link.py:345-367): the rule fires on a shared
        # RESOLVED external identifier — two differently-spelled URLs
        # (http/https, trailing slash) of the same catalog profile still
        # match. Raw-URL overlap stays as the fallback for sides where no
        # formatter resolved anything (the reference keeps such URLs in the
        # generic url statements and compares them exactly).
        shared_url = (
            F.col("a_urls").isNotNull()
            & F.col("b_urls").isNotNull()
            & F.arrays_overlap("a_urls", "b_urls")
        )
        if "a_ext_ids" in df.columns and "b_ext_ids" in df.columns:
            shared_ext = (
                F.col("a_ext_ids").isNotNull()
                & F.col("b_ext_ids").isNotNull()
                & F.arrays_overlap("a_ext_ids", "b_ext_ids")
            )
            shared_url = shared_ext | shared_url
        out = F.when(shared_url, F.lit(1.0)).otherwise(out)
    return df.withColumn("score", out).select(
        "url_a", "url_b", *[c for c in scored.columns if c not in ("url_a", "url_b")]
    )


def threshold_and_dedup(
    scored: DataFrame, threshold: float = CONFIDENCE_THRESHOLD
) -> DataFrame:
    """P4 threshold + P5 first-of-duplicates."""
    return (
        scored.filter(F.col("score") >= F.lit(threshold))
        .dropDuplicates(["url_a", "url_b"])
        .select("url_a", "url_b", "score")
    )


def confusion_and_f1(predicted: DataFrame, labeled: DataFrame) -> dict:
    """A4: P/R/F1 via pair-set joins (evaluate.py:282-295 as DataFrame math).

    F1 is computed over the labeled pairs only (the BASELINE.json contract:
    labeled pairs share a blocking key, so blocking misses don't penalize).
    """
    # labeled is the small side (annotation budget-bounded): broadcast it
    # into an INNER join so the prediction table is probed map-side, never
    # shuffled; fn falls out of the labeled positive total (one tiny agg).
    pred = predicted.select("url_a", "url_b").distinct()
    hits = pred.join(
        F.broadcast(labeled.select("url_a", "url_b", "label")),
        ["url_a", "url_b"],
    )
    agg = hits.agg(
        F.sum((F.col("label") == 1).cast("long")).alias("tp"),
        F.sum((F.col("label") == 0).cast("long")).alias("fp"),
    )
    # the hit aggregate and the labeled-positive count are independent
    # jobs — launch them from two driver threads so the tiny count
    # back-fills the agg's tail instead of paying a second sequential
    # driver round-trip (guide §2.6; r7)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_row = pool.submit(agg.first)
        f_pos = pool.submit(labeled.filter(F.col("label") == 1).count)
        row = f_row.result()
        n_pos = f_pos.result()
    tp = int(row["tp"] or 0)
    fp = int(row["fp"] or 0)
    fn = n_pos - tp
    precision, recall, f1 = precision_recall_f1(tp, fp, fn)
    return dict(tp=tp, fp=fp, fn=fn, precision=precision, recall=recall, f1=f1)


def precision_recall_f1(tp: int, fp: int, fn: int) -> tuple[float, float, float]:
    """P/R/F1 from confusion counts; 0.0 where a denominator is 0."""
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return precision, recall, f1


# ----------------------------------------------------------------- M5: RF
#
# Reference: 500-tree entropy random forest (classifiers.py:256-294,
# constants.py:376-381). Pure-numpy CART so the container needs no sklearn;
# trees are deterministic (seeded bootstrap + feature subsets). A forest is
# NOT linear, so scoring uses the broadcast-model pandas-UDF pattern
# (SCALAR_ITER) instead of column arithmetic — the other half of the
# BASELINE.json "broadcast-distributed trained classifier" story.


@dataclass
class _Tree:
    feature: np.ndarray   # node -> split feature (-1 for leaf)
    threshold: np.ndarray
    left: np.ndarray
    right: np.ndarray
    value: np.ndarray     # node -> P(class 1) at leaf


def _entropy(p: float) -> float:
    if p <= 0.0 or p >= 1.0:
        return 0.0
    return -(p * np.log2(p) + (1 - p) * np.log2(1 - p))


def _build_tree(
    X: np.ndarray, y: np.ndarray, rng: np.random.RandomState,
    max_depth: int, min_leaf: int, n_candidate_feats: int,
) -> _Tree:
    feature, threshold, left, right, value = [], [], [], [], []

    def new_node():
        feature.append(-1); threshold.append(0.0)
        left.append(-1); right.append(-1); value.append(0.0)
        return len(feature) - 1

    def grow(idx: np.ndarray, depth: int) -> int:
        node = new_node()
        ysub = y[idx]
        p = float(ysub.mean()) if len(ysub) else 0.0
        value[node] = p
        if depth >= max_depth or len(idx) < 2 * min_leaf or p in (0.0, 1.0):
            return node
        parent_h = _entropy(p)
        feats = rng.choice(X.shape[1], size=n_candidate_feats, replace=False)
        best = (0.0, None, None)  # gain, feat, thresh
        for f in feats:
            col = X[idx, f]
            qs = np.unique(np.quantile(col, np.linspace(0.1, 0.9, 9)))
            for t in qs:
                m = col <= t
                nl = int(m.sum())
                if nl < min_leaf or len(idx) - nl < min_leaf:
                    continue
                pl, pr = float(ysub[m].mean()), float(ysub[~m].mean())
                w = nl / len(idx)
                gain = parent_h - (w * _entropy(pl) + (1 - w) * _entropy(pr))
                if gain > best[0] + 1e-12:
                    best = (gain, int(f), float(t))
        if best[1] is None:
            return node
        _, f, t = best
        m = X[idx, f] <= t
        feature[node], threshold[node] = f, t
        left[node] = grow(idx[m], depth + 1)
        right[node] = grow(idx[~m], depth + 1)
        return node

    grow(np.arange(len(y)), 0)
    return _Tree(
        np.array(feature), np.array(threshold),
        np.array(left), np.array(right), np.array(value),
    )


def _tree_predict(tree: _Tree, X: np.ndarray) -> np.ndarray:
    node = np.zeros(len(X), dtype=np.int64)
    active = tree.feature[node] >= 0
    while active.any():
        f = tree.feature[node[active]]
        t = tree.threshold[node[active]]
        go_left = X[active, f] <= t
        nxt = np.where(go_left, tree.left[node[active]], tree.right[node[active]])
        node[active] = nxt
        active = tree.feature[node] >= 0
    return tree.value[node]


@dataclass
class ForestModel:
    features: list[str]
    trees: list
    kind: str = "rf"

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        return np.mean([_tree_predict(t, X) for t in self.trees], axis=0)


def train_random_forest(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    n_trees: int = 100,
    max_depth: int = 10,
    min_leaf: int = 2,
    seed: int = 610,
) -> ForestModel:
    """M5 with the reference's entropy criterion and pinned seed
    (commons/utils.py:59); 100 trees by default (500 in the reference —
    quality plateaus far earlier on 11 features)."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    rng = np.random.RandomState(seed)
    n_feats = max(1, int(np.sqrt(X.shape[1])))
    trees = []
    for _ in range(n_trees):
        boot = rng.randint(0, len(y), size=len(y))
        trees.append(
            _build_tree(X[boot], y[boot], rng, max_depth, min_leaf, n_feats)
        )
    return ForestModel(list(features), trees)


# ------------------------------------------------------------- M4: SVC
#
# Reference: sklearn.svm.SVC with the libsvm RBF kernel and
# probability=True (classifiers.py:229-253). No QP solver ships in this
# container, so this is a from-scratch simplified SMO (Platt 1998) with a
# deterministic sweep order, plus Platt sigmoid calibration for the
# probability output. Training is driver-side over the labeled set (the
# kernel matrix is |labeled|^2 — the same bound sklearn has); scoring uses
# the broadcast pandas-UDF path with the support vectors in the closure.


def _rbf_kernel(X1: np.ndarray, X2: np.ndarray, gamma: float) -> np.ndarray:
    d = (
        (X1 * X1).sum(axis=1)[:, None]
        + (X2 * X2).sum(axis=1)[None, :]
        - 2.0 * (X1 @ X2.T)
    )
    return np.exp(-gamma * np.maximum(d, 0.0))


@dataclass
class SVCModel:
    """M4 fitted state: support vectors + duals + Platt sigmoid."""

    features: list[str]
    support_X: np.ndarray
    support_alpha_y: np.ndarray  # alpha_i * y_i
    bias: float
    gamma: float
    platt_a: float
    platt_b: float
    kind: str = "svc"
    kernel: str = "rbf"  # 'rbf' | 'linear' (the reference's published
    # IMDb SVM rows use SVC(kernel='linear'), docs/evaluations.rst:27-31)

    def decision_function(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        if self.kernel == "linear":
            K = X @ self.support_X.T
        else:
            K = _rbf_kernel(X, self.support_X, self.gamma)
        return K @ self.support_alpha_y + self.bias

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        f = self.decision_function(X)
        z = np.clip(self.platt_a * f + self.platt_b, -35, 35)
        return 1.0 / (1.0 + np.exp(z))


def _platt_fit(f: np.ndarray, y: np.ndarray, iters: int = 50) -> tuple[float, float]:
    """Platt scaling: fit P(y=1|f) = 1/(1+exp(A f + B)) by Newton descent
    on the calibration NLL with Platt's label smoothing."""
    n1, n0 = float(y.sum()), float(len(y) - y.sum())
    t = np.where(y > 0, (n1 + 1.0) / (n1 + 2.0), 1.0 / (n0 + 2.0))
    a, b = 0.0, float(np.log((n0 + 1.0) / (n1 + 1.0)))
    for _ in range(iters):
        z = np.clip(a * f + b, -35, 35)
        p = 1.0 / (1.0 + np.exp(z))  # P(y=1)
        # dNLL/d[a,b]; note p uses +exp(z) so dp/dz = -p(1-p)
        g = p - t
        ga, gb = (g * f).sum(), g.sum()
        w = p * (1 - p)
        haa = (w * f * f).sum() + 1e-9
        hab = (w * f).sum()
        hbb = w.sum() + 1e-9
        det = haa * hbb - hab * hab
        if abs(det) < 1e-12:
            break
        da = (hbb * ga - hab * gb) / det
        db = (haa * gb - hab * ga) / det
        a += da
        b += db
        if max(abs(da), abs(db)) < 1e-10:
            break
    return float(a), float(b)


def train_svc(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    C: float = 1.0,
    gamma: str | float = "scale",
    tol: float = 1e-3,
    max_passes: int = 5,
    max_sweeps: int = 200,
    kernel: str = "rbf",
) -> SVCModel:
    """Simplified SMO (deterministic sweep order + max-|E_i - E_j| second
    choice) for the soft-margin SVM, then Platt calibration on the
    training decision values (sklearn defaults C=1.0, gamma='scale').
    ``kernel='linear'`` swaps the Gram matrix for X·Xᵀ — the
    configuration the reference's published IMDb SVM rows used."""
    if kernel not in ("rbf", "linear"):
        raise ValueError(f"kernel must be 'rbf' or 'linear', got {kernel!r}")
    X = np.asarray(X, dtype=np.float64)
    y01 = np.asarray(y, dtype=np.float64)
    yy = np.where(y01 > 0, 1.0, -1.0)
    n = len(yy)
    if gamma == "scale":
        var = X.var()
        gamma = 1.0 / (X.shape[1] * var) if var > 0 else 1.0
    K = X @ X.T if kernel == "linear" else _rbf_kernel(X, X, gamma)
    alpha = np.zeros(n)
    b = 0.0
    passes = 0
    sweeps = 0
    # E maintained INCREMENTALLY: full K @ (alpha*y) recompute per accepted
    # update would make a sweep O(n^3); the standard SMO rank-2 update
    # (E += dai*yi*K[i] + daj*yj*K[j] + db) is O(n) per accepted step.
    E = K @ (alpha * yy) + b - yy
    while passes < max_passes and sweeps < max_sweeps:
        changed = 0
        sweeps += 1
        for i in range(n):
            Ei = float(E[i])
            if not (
                (yy[i] * Ei < -tol and alpha[i] < C)
                or (yy[i] * Ei > tol and alpha[i] > 0)
            ):
                continue
            j = int(np.argmax(np.abs(E - Ei) + np.where(np.arange(n) == i, -np.inf, 0.0)))
            Ej = float(E[j])
            ai_old, aj_old = alpha[i], alpha[j]
            if yy[i] != yy[j]:
                lo, hi = max(0.0, aj_old - ai_old), min(C, C + aj_old - ai_old)
            else:
                lo, hi = max(0.0, ai_old + aj_old - C), min(C, ai_old + aj_old)
            if lo >= hi:
                continue
            eta = 2.0 * K[i, j] - K[i, i] - K[j, j]
            if eta >= 0:
                continue
            aj = np.clip(aj_old - yy[j] * (Ei - Ej) / eta, lo, hi)
            if abs(aj - aj_old) < 1e-7:
                continue
            ai = ai_old + yy[i] * yy[j] * (aj_old - aj)
            alpha[i], alpha[j] = ai, aj
            b1 = b - Ei - yy[i] * (ai - ai_old) * K[i, i] - yy[j] * (aj - aj_old) * K[i, j]
            b2 = b - Ej - yy[i] * (ai - ai_old) * K[i, j] - yy[j] * (aj - aj_old) * K[j, j]
            b_old = b
            if 0 < ai < C:
                b = b1
            elif 0 < aj < C:
                b = b2
            else:
                b = (b1 + b2) / 2.0
            E += (
                yy[i] * (ai - ai_old) * K[i]
                + yy[j] * (aj - aj_old) * K[j]
                + (b - b_old)
            )
            changed += 1
        passes = passes + 1 if changed == 0 else 0
    sv = alpha > 1e-9
    model = SVCModel(
        list(features),
        X[sv].copy(),
        (alpha * yy)[sv].copy(),
        float(b),
        float(gamma),
        0.0,
        0.0,
        kernel=kernel,
    )
    f = model.decision_function(X)
    model.platt_a, model.platt_b = _platt_fit(f, y01)
    return model


# ------------------------------------------------------- M6/M7: SLP / MLP
#
# Reference: keras Sequential models (classifiers.py:296-358 SLP,
# 360-430 MLP) trained with binary cross-entropy, a 0.33 validation tail
# split (constants.py:364), EarlyStopping on val_loss with patience 100 and
# best-weight restore (classifiers.py:110-126). keras is absent from this
# container by policy, so both are pure-numpy reimplementations of the same
# architectures with seeded deterministic init and the same stopping rule.
#
# SLP = Dense(1, sigmoid) + Nadam (constants.py:382-387) — its fitted form
# IS a LinearModel, so scoring stays pure JVM column arithmetic.
# MLP = Dense(128, selu) -> BatchNorm -> Dense(32, selu) -> BatchNorm ->
# Dense(1, sigmoid) + Adadelta (constants.py:388-397); non-linear, so it
# scores through the broadcast pandas-UDF path like the forest.

_SELU_ALPHA = 1.6732632423543772
_SELU_SCALE = 1.0507009873554805


def _selu(x: np.ndarray) -> np.ndarray:
    return _SELU_SCALE * np.where(x > 0, x, _SELU_ALPHA * (np.exp(x) - 1.0))


def _selu_grad(x: np.ndarray) -> np.ndarray:
    return _SELU_SCALE * np.where(x > 0, 1.0, _SELU_ALPHA * np.exp(x))


def _val_split(X: np.ndarray, y: np.ndarray, split: float = 0.33):
    """keras ``validation_split`` semantics: the LAST fraction, no shuffle."""
    n_val = int(len(y) * split)
    if n_val == 0 or n_val == len(y):
        return X, y, X, y
    return X[:-n_val], y[:-n_val], X[-n_val:], y[-n_val:]


def _bce(p: np.ndarray, y: np.ndarray) -> float:
    p = np.clip(p, 1e-7, 1 - 1e-7)
    return float(-(y * np.log(p) + (1 - y) * np.log(1 - p)).mean())


def train_slp(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    epochs: int = 1000,
    batch_size: int = 256,
    lr: float = 0.002,
    patience: int = 100,
    seed: int = 610,
) -> LinearModel:
    """M6: single dense sigmoid unit, Nadam, BCE, early stopping on the
    0.33 validation tail with best-weight restore."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    Xt, yt, Xv, yv = _val_split(X, y)
    rng = np.random.RandomState(seed)
    d = X.shape[1]
    # Zero init instead of keras' glorot-uniform: a single output unit has
    # no symmetry to break, and starting at 0 (= logistic-regression
    # start) converges in far fewer epochs than a random start, which can
    # score below chance until Nadam walks it back (seen when used as the
    # super-learner meta layer).
    w = np.zeros(d + 1)
    b1, b2, eps = 0.9, 0.999, 1e-7
    m = np.zeros_like(w)
    v = np.zeros_like(w)
    Xtb = np.hstack([Xt, np.ones((len(Xt), 1))])
    Xvb = np.hstack([Xv, np.ones((len(Xv), 1))])
    best_w, best_loss, since_best, t = w.copy(), np.inf, 0, 0
    for _ in range(epochs):
        order = rng.permutation(len(yt))
        for s in range(0, len(yt), batch_size):
            idx = order[s : s + batch_size]
            xb, yb = Xtb[idx], yt[idx]
            p = 1.0 / (1.0 + np.exp(-np.clip(xb @ w, -35, 35)))
            g = xb.T @ (p - yb) / len(yb)
            t += 1
            m = b1 * m + (1 - b1) * g
            v = b2 * v + (1 - b2) * g * g
            # published Nadam (Dozat 2016, eq. 14): the momentum term uses
            # the NEXT step's bias correction, the raw-gradient term the
            # CURRENT step's — correcting both by (1 - b1^(t+1)) is a
            # small systematic early-step deviation
            m_hat = b1 * m / (1 - b1 ** (t + 1)) + (1 - b1) * g / (1 - b1**t)
            v_hat = v / (1 - b2**t)
            w -= lr * m_hat / (np.sqrt(v_hat) + eps)
        pv = 1.0 / (1.0 + np.exp(-np.clip(Xvb @ w, -35, 35)))
        loss = _bce(pv, yv)
        if loss < best_loss - 1e-9:
            best_loss, best_w, since_best = loss, w.copy(), 0
        else:
            since_best += 1
            if since_best >= patience:
                break
    return LinearModel(list(features), best_w[:-1], float(best_w[-1]), kind="slp")


@dataclass
class MLPModel:
    """M7 fitted parameters; scored via the broadcast pandas-UDF path."""

    features: list[str]
    params: dict
    kind: str = "mlp"

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        p = self.params
        X = np.asarray(X, dtype=np.float64)
        h = X
        for i in (1, 2):
            z = h @ p[f"W{i}"] + p[f"b{i}"]
            a = _selu(z)
            xhat = (a - p[f"rm{i}"]) / np.sqrt(p[f"rv{i}"] + 1e-3)
            h = p[f"g{i}"] * xhat + p[f"be{i}"]
        z3 = h @ p["W3"] + p["b3"]
        return 1.0 / (1.0 + np.exp(-np.clip(z3[:, 0], -35, 35)))


def _mlp_forward_train(p: dict, xb: np.ndarray, eps_bn: float = 1e-3,
                       momentum: float = 0.99, update_running: bool = True):
    """Training-mode forward pass (batch statistics); returns
    (prob, cache). Exposed module-level so the finite-difference gradient
    check in tests can drive it without mutating running stats."""
    cache = {}
    h = xb
    for i in (1, 2):
        z = h @ p[f"W{i}"] + p[f"b{i}"]
        a = _selu(z)
        mu = a.mean(axis=0)
        var = a.var(axis=0)
        xhat = (a - mu) / np.sqrt(var + eps_bn)
        out = p[f"g{i}"] * xhat + p[f"be{i}"]
        cache[i] = (h, z, a, mu, var, xhat)
        if update_running:
            p[f"rm{i}"] = momentum * p[f"rm{i}"] + (1 - momentum) * mu
            p[f"rv{i}"] = momentum * p[f"rv{i}"] + (1 - momentum) * var
        h = out
    z3 = h @ p["W3"] + p["b3"]
    prob = 1.0 / (1.0 + np.exp(-np.clip(z3[:, 0], -35, 35)))
    cache[3] = h
    return prob, cache


def _mlp_backward(p: dict, yb: np.ndarray, prob: np.ndarray, cache: dict,
                  eps_bn: float = 1e-3) -> dict:
    """Gradients of mean BCE wrt every trainable parameter (standard
    batchnorm closed-form backward); verified against finite differences
    in tests/test_classifiers.py."""
    n = len(yb)
    g = {}
    dz3 = (prob - yb)[:, None] / n            # BCE + sigmoid
    g["W3"] = cache[3].T @ dz3
    g["b3"] = dz3.sum(axis=0)
    dh = dz3 @ p["W3"].T
    for i in (2, 1):
        hin, z, a, mu, var, xhat = cache[i]
        g[f"g{i}"] = (dh * xhat).sum(axis=0)
        g[f"be{i}"] = dh.sum(axis=0)
        dxhat = dh * p[f"g{i}"]
        inv = 1.0 / np.sqrt(var + eps_bn)
        da = (
            inv / n
            * (
                n * dxhat
                - dxhat.sum(axis=0)
                - xhat * (dxhat * xhat).sum(axis=0)
            )
        )
        dz = da * _selu_grad(z)
        g[f"W{i}"] = hin.T @ dz
        g[f"b{i}"] = dz.sum(axis=0)
        dh = dz @ p[f"W{i}"].T
    return g


def train_mlp(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    hidden=(128, 32),
    epochs: int = 1000,
    batch_size: int = 512,
    lr: float = 1.0,
    rho: float = 0.95,
    patience: int = 100,
    seed: int = 610,
) -> MLPModel:
    """M7: Dense(selu) x2 with BatchNorm, sigmoid head, Adadelta, BCE,
    early stopping on the 0.33 validation tail with best-weight restore.

    Adadelta uses the original paper's lr=1.0 (keras-legacy default) —
    tf.keras' 0.001 barely moves in 1000 epochs on a matrix this small.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    Xt, yt, Xv, yv = _val_split(X, y)
    rng = np.random.RandomState(seed)
    d = X.shape[1]
    h1, h2 = hidden
    eps_bn, eps_ad, momentum = 1e-3, 1e-7, 0.99

    def glorot(n_in, n_out):
        limit = np.sqrt(6.0 / (n_in + n_out))
        return rng.uniform(-limit, limit, size=(n_in, n_out))

    p = {
        "W1": glorot(d, h1), "b1": np.zeros(h1),
        "g1": np.ones(h1), "be1": np.zeros(h1),
        "rm1": np.zeros(h1), "rv1": np.ones(h1),
        "W2": glorot(h1, h2), "b2": np.zeros(h2),
        "g2": np.ones(h2), "be2": np.zeros(h2),
        "rm2": np.zeros(h2), "rv2": np.ones(h2),
        "W3": glorot(h2, 1), "b3": np.zeros(1),
    }
    grads_keys = ["W1", "b1", "g1", "be1", "W2", "b2", "g2", "be2", "W3", "b3"]
    acc_g = {k: np.zeros_like(p[k]) for k in grads_keys}
    acc_u = {k: np.zeros_like(p[k]) for k in grads_keys}

    def val_loss():
        model = MLPModel(list(features), p)
        return _bce(model.predict_proba(Xv), yv)

    best = {k: p[k].copy() for k in p}
    best_loss, since_best = np.inf, 0
    for _ in range(epochs):
        order = rng.permutation(len(yt))
        for s in range(0, len(yt), batch_size):
            idx = order[s : s + batch_size]
            if len(idx) < 2:
                continue  # batchnorm needs batch statistics
            prob, cache = _mlp_forward_train(
                p, Xt[idx], eps_bn=eps_bn, momentum=momentum
            )
            g = _mlp_backward(p, yt[idx], prob, cache, eps_bn=eps_bn)
            for k in grads_keys:
                acc_g[k] = rho * acc_g[k] + (1 - rho) * g[k] ** 2
                upd = (
                    np.sqrt(acc_u[k] + eps_ad)
                    / np.sqrt(acc_g[k] + eps_ad)
                    * g[k]
                )
                acc_u[k] = rho * acc_u[k] + (1 - rho) * upd**2
                p[k] -= lr * upd
        loss = val_loss()
        if loss < best_loss - 1e-9:
            best_loss = loss
            best = {k: p[k].copy() for k in p}
            since_best = 0
        else:
            since_best += 1
            if since_best >= patience:
                break
    return MLPModel(list(features), best)


@dataclass
class VotingModel:
    """M8 (reference classifiers.py:467-539): soft-voting ensemble —
    average of member probabilities; scored via the broadcast pattern."""

    features: list[str]
    members: list
    kind: str = "voting"

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        return np.mean([m.predict_proba(X) for m in self.members], axis=0)


def _ensemble_trainers(n_trees: int, seed: int, nn_epochs: int):
    """The reference's 5 ensemble members (constants.py:297-303
    CLASSIFIERS_FOR_ENSEMBLE: NB, LR, RF, SLP, MLP), as trainer thunks
    over any (X, y) — feature names are positional inside ensembles."""
    def _feat(X):
        return [f"x{i}" for i in range(np.asarray(X).shape[1])]

    return [
        lambda X, y: train_naive_bayes(X, y, _feat(X)),
        lambda X, y: train_logistic(X, y, _feat(X)),
        lambda X, y: train_random_forest(
            X, y, _feat(X), n_trees=n_trees, seed=seed),
        lambda X, y: train_slp(X, y, _feat(X), epochs=nn_epochs, seed=seed),
        lambda X, y: train_mlp(X, y, _feat(X), epochs=nn_epochs, seed=seed),
    ]


def train_voting(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    n_trees: int = 50,
    seed: int = 610,
    nn_epochs: int = 1000,
) -> VotingModel:
    """M8: soft vote over the reference's full 5-member ensemble."""
    return VotingModel(
        list(features),
        [train(X, y) for train in _ensemble_trainers(n_trees, seed, nn_epochs)],
    )


# --------------------------------------------- M9/M10: gated / stacked
#
# Reference: mlens SuperLearner (classifiers.py:542-660) — base layer(s) of
# the 5 ensemble members produce OUT-OF-FOLD probabilities (2 folds,
# GATED/STACKED_ENSEMBLE_PARAMS constants.py:405-409) which train an SLP
# meta-learner; for inference the members are refit on the full layer
# input. mlens is absent from this container, so the super-learner scheme
# (Polley & van der Laan 2010) is reimplemented directly; one positive-class
# probability column per member (the second binary-proba column mlens
# passes is affinely redundant).


@dataclass
class SuperLearnerModel:
    features: list[str]
    layers: list  # list of lists of fitted members (refit on full input)
    meta: LinearModel  # the SLP meta-learner
    kind: str = "gated"

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        h = np.asarray(X, dtype=np.float64)
        for layer in self.layers:
            h = np.column_stack([m.predict_proba(h) for m in layer])
        return self.meta.predict_proba(h)


def _oof_probs(
    X: np.ndarray, y: np.ndarray, trainers, folds: int
) -> np.ndarray:
    """Out-of-fold member probabilities (n x members), deterministic
    contiguous folds (mlens FoldIndex default is also unshuffled)."""
    n = len(y)
    oof = np.zeros((n, len(trainers)))
    edges = np.linspace(0, n, folds + 1).astype(int)
    for f in range(folds):
        lo, hi = edges[f], edges[f + 1]
        mask = np.ones(n, dtype=bool)
        mask[lo:hi] = False
        for j, trainer in enumerate(trainers):
            m = trainer(X[mask], y[mask])
            oof[lo:hi, j] = m.predict_proba(X[lo:hi])
    return oof


def _train_super_learner(
    X, y, features, n_layers, folds, n_trees, seed, nn_epochs, kind
) -> SuperLearnerModel:
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    trainers = _ensemble_trainers(n_trees, seed, nn_epochs)
    layers, h = [], X
    for _ in range(n_layers):
        oof = _oof_probs(h, y, trainers, folds)
        layers.append([trainer(h, y) for trainer in trainers])
        h = oof
    meta = train_slp(
        h, y, [f"m{i}" for i in range(h.shape[1])],
        epochs=nn_epochs, seed=seed,
    )
    return SuperLearnerModel(list(features), layers, meta, kind=kind)


def train_gated(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    folds: int = 2,
    n_trees: int = 50,
    seed: int = 610,
    nn_epochs: int = 300,
) -> SuperLearnerModel:
    """M9: one base layer -> SLP meta-learner over out-of-fold probs."""
    return _train_super_learner(
        X, y, features, 1, folds, n_trees, seed, nn_epochs, "gated"
    )


def train_stacked(
    X: np.ndarray,
    y: np.ndarray,
    features: list[str] = FEATURE_COLUMNS,
    folds: int = 2,
    n_trees: int = 50,
    seed: int = 610,
    nn_epochs: int = 300,
) -> SuperLearnerModel:
    """M10: two stacked base layers -> SLP meta-learner."""
    return _train_super_learner(
        X, y, features, 2, folds, n_trees, seed, nn_epochs, "stacked"
    )


# One name per model family: the linker's `--classifier` choices, the
# pipeline's `PipelineConfig.classifier` and the golden protocol's rows.
TRAINERS = {
    "logistic": train_logistic,
    "naive_bayes": train_naive_bayes,
    "svm": train_linear_svm,
    "svc": train_svc,
    "random_forest": train_random_forest,
    "slp": train_slp,
    "mlp": train_mlp,
    "voting": train_voting,
    "gated": train_gated,
    "stacked": train_stacked,
}

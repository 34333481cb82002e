"""Classifier surface: the TRAINERS registry and the one scoring seam over
every model family, RF (M5) quality + determinism, grid search (M11),
subset-token blocking (B2/J4)."""

from __future__ import annotations

import functools

import numpy as np
import pytest

from soweego_spark.operators import blocking as blk
from soweego_spark.operators import classify as clf
from soweego_spark.operators import evaluate as ev
from soweego_spark.operators import pairfeatures as pf
from soweego_spark.operators.extract import extract_signatures
from soweego_spark.plans import golden
from soweego_spark.sources.pages import generate_pages, pages_to_spark


# small settings, so every family trains in seconds
_SMALL = {
    "random_forest": {"n_trees": 10},
    "slp": {"epochs": 80},
    "mlp": {"epochs": 60},
    "voting": {"n_trees": 5, "nn_epochs": 60},
    "gated": {"n_trees": 5, "nn_epochs": 60},
    "stacked": {"n_trees": 5, "nn_epochs": 60},
}


def _small(name):
    return functools.partial(clf.TRAINERS[name], **_SMALL.get(name, {}))


@pytest.fixture(scope="module")
def fixture_frames(spark):
    fx = generate_pages(200, seed=5)
    pages, _, labeled, _ = pages_to_spark(spark, fx)
    sig = extract_signatures(pages).cache()
    pairs = blk.block_candidates(sig)
    features = pf.compute_features(pf.assemble_pairs(pairs, sig)).cache()
    return sig, features, labeled


def test_random_forest_quality_and_determinism(spark, fixture_frames):
    _, features, labeled = fixture_frames
    X, y = clf.collect_training_matrix(features, labeled)
    m1 = clf.train_random_forest(X, y, n_trees=30, seed=610)
    m2 = clf.train_random_forest(X, y, n_trees=30, seed=610)
    p1, p2 = m1.predict_proba(X), m2.predict_proba(X)
    np.testing.assert_array_equal(p1, p2)  # pinned seed -> identical forest
    pred = (p1 >= 0.5).astype(float)
    tp = ((y == 1) & (pred == 1)).sum()
    fp = ((y == 0) & (pred == 1)).sum()
    fn = ((y == 1) & (pred == 0)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.97, f1


def test_broadcast_scoring_matches_driver_predict(spark, fixture_frames):
    """For every registry family, the one scoring seam (a Catalyst
    expression for a LinearModel, the broadcast UDF otherwise) equals the
    model's driver-side predict_proba on the scored rows."""
    _, features, labeled = fixture_frames
    X, y = clf.collect_training_matrix(features, labeled)
    for name in clf.TRAINERS:
        model = _small(name)(X, y)
        scored = clf.score(features, model)
        rows = scored.select(*clf.FEATURE_COLUMNS, "score").collect()
        Xs = np.array([[r[c] for c in clf.FEATURE_COLUMNS] for r in rows])
        expected = model.predict_proba(Xs)
        got = np.array([r["score"] for r in rows])
        np.testing.assert_allclose(got, expected, atol=1e-12, err_msg=name)


def test_registry_names_one_model_family():
    """Each registry name trains one model family, and the golden
    protocol's overrides sit on top of the same registry entries."""
    rng = np.random.RandomState(0)
    X = rng.rand(60, 3)
    y = (X[:, 0] + 0.1 * rng.randn(60) > 0.5).astype(float)
    feats = ["a", "b", "c"]
    expected = {
        "logistic": (clf.LinearModel, "logistic"),
        "naive_bayes": (clf.LinearModel, "nb"),
        "svm": (clf.LinearModel, "svm"),
        "svc": (clf.SVCModel, "svc"),
        "random_forest": (clf.ForestModel, "rf"),
        "slp": (clf.LinearModel, "slp"),
        "mlp": (clf.MLPModel, "mlp"),
        "voting": (clf.VotingModel, "voting"),
        "gated": (clf.SuperLearnerModel, "gated"),
        "stacked": (clf.SuperLearnerModel, "stacked"),
    }
    assert set(clf.TRAINERS) == set(expected)
    for name, (cls, kind) in expected.items():
        m = _small(name)(X, y, feats)
        assert (type(m), m.kind, m.features) == (cls, kind, feats), name
    assert clf.TRAINERS["svc"](X, y, feats).kernel == "rbf"
    assert golden.trainer("svc")(X, y, feats).kernel == "linear"
    assert golden.trainer("naive_bayes")(X, y, feats).binarize == 0.1


def test_grid_search_picks_best(spark, fixture_frames):
    _, features, labeled = fixture_frames
    out = ev.grid_search(
        features,
        labeled,
        {"l2": [0.1, 1.0, 10.0]},
        trainer=clf.train_logistic,
        k=3,
    )
    assert len(out["results"]) == 3
    assert out["best"]["f1"] == max(r["f1"] for r in out["results"])
    assert out["best"]["f1"] >= 0.97


def test_subset_token_pairs_semantics(spark):
    wd = spark.createDataFrame(
        [
            ("w1", ["alice", "smith", "composer"]),
            ("w2", ["bob", "jones"]),
            ("w3", ["solo"]),  # size 1: excluded
        ],
        "url string, name_tokens array<string>",
    )
    target = spark.createDataFrame(
        [
            ("t1", ["alice", "smith"]),        # ⊆ w1
            ("t2", ["smith", "composer"]),     # ⊆ w1
            ("t3", ["alice", "zulu"]),         # zulu not in w1 -> no
            ("t4", ["bob", "jones"]),          # ⊆ w2 (equal sets)
            ("t5", ["solo"]),                  # size 1: excluded
        ],
        "url string, name_tokens array<string>",
    )
    got = {
        (r["url_a"], r["url_b"])
        for r in blk.subset_token_pairs(wd, target).collect()
    }
    assert got == {("w1", "t1"), ("w1", "t2"), ("w2", "t4")}


def test_slp_matches_logistic_quality(spark, fixture_frames):
    """M6: the numpy SLP (Dense+sigmoid, Nadam, early stopping) reaches the
    logistic-regression F1 on the e2e fixture and is seed-deterministic."""
    _, features, labeled = fixture_frames
    X, y = clf.collect_training_matrix(features, labeled)

    def f1_of(p):
        pred = (p >= 0.5).astype(float)
        tp = ((y == 1) & (pred == 1)).sum()
        fp = ((y == 0) & (pred == 1)).sum()
        fn = ((y == 1) & (pred == 0)).sum()
        return 2 * tp / (2 * tp + fp + fn)

    lg = clf.train_logistic(X, y)
    f1_log = f1_of(1 / (1 + np.exp(-(X @ lg.weights + lg.bias))))
    slp = clf.train_slp(X, y)
    slp2 = clf.train_slp(X, y)
    np.testing.assert_array_equal(slp.weights, slp2.weights)
    f1_slp = f1_of(1 / (1 + np.exp(-(X @ slp.weights + slp.bias))))
    assert f1_slp >= f1_log - 1e-9, (f1_slp, f1_log)
    # scoring stays pure column arithmetic (LinearModel contract)
    assert slp.score_column() is not None


def test_mlp_quality_and_determinism(spark, fixture_frames):
    """M7: the numpy MLP (selu/batchnorm/Adadelta) separates the fixture at
    least as well as logistic and reproduces bit-identically per seed."""
    _, features, labeled = fixture_frames
    X, y = clf.collect_training_matrix(features, labeled)
    m1 = clf.train_mlp(X, y, epochs=150)
    m2 = clf.train_mlp(X, y, epochs=150)
    for k in m1.params:
        np.testing.assert_array_equal(m1.params[k], m2.params[k])
    p = m1.predict_proba(X)
    pred = (p >= 0.5).astype(float)
    tp = ((y == 1) & (pred == 1)).sum()
    fp = ((y == 0) & (pred == 1)).sum()
    fn = ((y == 1) & (pred == 0)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.97, f1


def test_voting_ensemble(spark, fixture_frames):
    _, features, labeled = fixture_frames
    X, y = clf.collect_training_matrix(features, labeled)
    model = clf.train_voting(X, y, n_trees=20, nn_epochs=150)
    p = model.predict_proba(X)
    assert p.shape == y.shape and (0 <= p).all() and (p <= 1).all()
    pred = (p >= 0.5).astype(float)
    tp = ((y == 1) & (pred == 1)).sum()
    fp = ((y == 0) & (pred == 1)).sum()
    fn = ((y == 1) & (pred == 0)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.97, f1
    # ensemble average equals the mean of member probabilities
    member_mean = np.mean(
        [clf.VotingModel(model.features, [m]).predict_proba(X) for m in model.members],
        axis=0,
    )
    np.testing.assert_allclose(p, member_mean, atol=1e-12)
    # and scores through the broadcast UDF path
    scored = clf.score(features, model)
    assert scored.filter("score >= 0.5").count() > 0


def test_svc_quality_and_determinism(spark, fixture_frames):
    """M4: from-scratch SMO RBF SVC with Platt probabilities separates the
    e2e fixture and reproduces bit-identically (deterministic sweep)."""
    _, features, labeled = fixture_frames
    X, y = clf.collect_training_matrix(features, labeled)
    m1 = clf.train_svc(X, y)
    m2 = clf.train_svc(X, y)
    np.testing.assert_array_equal(m1.support_alpha_y, m2.support_alpha_y)
    assert (m1.platt_a, m1.platt_b) == (m2.platt_a, m2.platt_b)
    p = m1.predict_proba(X)
    assert (0 <= p).all() and (p <= 1).all()
    pred = (p >= 0.5).astype(float)
    tp = ((y == 1) & (pred == 1)).sum()
    fp = ((y == 0) & (pred == 1)).sum()
    fn = ((y == 1) & (pred == 0)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.97, f1


def test_gated_and_stacked_ensembles(spark, fixture_frames):
    """M9/M10: super-learner ensembles (out-of-fold member probs -> SLP
    meta layer) at least match the solo-logistic F1 on the fixture."""
    _, features, labeled = fixture_frames
    X, y = clf.collect_training_matrix(features, labeled)

    def f1_of(p):
        pred = (p >= 0.5).astype(float)
        tp = ((y == 1) & (pred == 1)).sum()
        fp = ((y == 0) & (pred == 1)).sum()
        fn = ((y == 1) & (pred == 0)).sum()
        return 2 * tp / (2 * tp + fp + fn)

    for trainer in (clf.train_gated, clf.train_stacked):
        model = trainer(X, y, n_trees=15, nn_epochs=120)
        f1 = f1_of(model.predict_proba(X))
        assert f1 >= 0.97, (trainer.__name__, f1)
        # broadcast-scoring path accepts it (predict_proba contract)
        scored = clf.score(features, model)
        assert "score" in scored.columns


def test_kfold_accepts_every_model_family(spark, fixture_frames):
    """M11's k-fold harness evaluates every registry family (linear,
    forest, neural, SVC and ensembles) through one probability
    interface."""
    _, features, labeled = fixture_frames
    for name in clf.TRAINERS:
        out = ev.kfold_scores(features, labeled, k=3, trainer=_small(name))
        assert out["f1"] >= 0.9, (name, out)


def test_mlp_backprop_matches_finite_differences():
    """Gold-standard check of the hand-written batchnorm/selu backprop:
    analytic gradients equal central finite differences of the batch BCE
    loss for every parameter tensor."""
    rng = np.random.RandomState(3)
    n, d, h1, h2 = 12, 5, 6, 4
    X = rng.rand(n, d)
    y = (rng.rand(n) > 0.5).astype(float)

    def glorot(i, o):
        lim = np.sqrt(6.0 / (i + o))
        return rng.uniform(-lim, lim, size=(i, o))

    p = {
        "W1": glorot(d, h1), "b1": rng.randn(h1) * 0.1,
        "g1": 1 + rng.randn(h1) * 0.1, "be1": rng.randn(h1) * 0.1,
        "rm1": np.zeros(h1), "rv1": np.ones(h1),
        "W2": glorot(h1, h2), "b2": rng.randn(h2) * 0.1,
        "g2": 1 + rng.randn(h2) * 0.1, "be2": rng.randn(h2) * 0.1,
        "rm2": np.zeros(h2), "rv2": np.ones(h2),
        "W3": glorot(h2, 1), "b3": rng.randn(1) * 0.1,
    }

    def loss(params):
        prob, _ = clf._mlp_forward_train(params, X, update_running=False)
        return clf._bce(prob, y)

    prob, cache = clf._mlp_forward_train(p, X, update_running=False)
    grads = clf._mlp_backward(p, y, prob, cache)

    eps = 1e-6
    for k, g in grads.items():
        num = np.zeros_like(p[k])
        it = np.nditer(p[k], flags=["multi_index"])
        while not it.finished:
            idx = it.multi_index
            orig = p[k][idx]
            p[k][idx] = orig + eps
            lp = loss(p)
            p[k][idx] = orig - eps
            lm = loss(p)
            p[k][idx] = orig
            num[idx] = (lp - lm) / (2 * eps)
            it.iternext()
        np.testing.assert_allclose(
            g, num, rtol=1e-4, atol=1e-7,
            err_msg=f"gradient mismatch for {k}",
        )

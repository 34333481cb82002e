"""End-to-end pipeline over the deterministic synthetic pages fixture:
pairwise F1 >= 0.99 on labeled pairs (BASELINE.json target) and cluster
agreement vs the planted ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from soweego_spark.operators import evaluate as ev
from soweego_spark.plans.pipeline import PipelineConfig, run_pipeline
from soweego_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def fixture():
    return generate_pages(250, seed=42)


def _run(spark, fixture, **config):
    pages = spark.createDataFrame(fixture.pages)
    labeled = spark.createDataFrame(fixture.labeled_pairs)
    closure = {
        row.code: list(row.related)
        for row in spark.createDataFrame(fixture.occupation_closure).collect()
    }
    cfg = PipelineConfig(occupation_closure=closure, **config)
    return run_pipeline(spark, pages, labeled, cfg)


@pytest.fixture(scope="module")
def result(spark, fixture):
    return _run(spark, fixture)


def test_blocking_recall_on_labeled_positives(spark, fixture, result):
    labeled = spark.createDataFrame(fixture.labeled_pairs)
    pos = labeled.filter("label = 1")
    blocked = pos.join(result.pairs, ["url_a", "url_b"], "left_semi").count()
    assert blocked / pos.count() >= 0.99


def test_pairwise_f1_target(result):
    # In-sample decision F1 over the labeled pairs (model + rules + threshold).
    assert result.metrics["f1"] >= 0.99, result.metrics


def test_kfold_f1(spark, fixture, result):
    labeled = spark.createDataFrame(fixture.labeled_pairs)
    scores = ev.kfold_scores(result.features, labeled, k=5)
    assert scores["f1"] >= 0.99, scores


def test_clusters_match_ground_truth(spark, fixture, result):
    """Pairwise cluster agreement vs the planted entities, measured on
    labeled pairs (the BASELINE.json evidence rule)."""
    labeled = spark.createDataFrame(fixture.labeled_pairs)
    clusters = result.clusters
    a = clusters.select(
        F.col("url").alias("url_a"), F.col("cluster_id").alias("ca")
    )
    b = clusters.select(
        F.col("url").alias("url_b"), F.col("cluster_id").alias("cb")
    )
    joined = labeled.join(a, "url_a").join(b, "url_b")
    agree = joined.filter(
        ((F.col("label") == 1) & (F.col("ca") == F.col("cb")))
        | ((F.col("label") == 0) & (F.col("ca") != F.col("cb")))
    ).count()
    total = joined.count()
    tp = joined.filter((F.col("label") == 1) & (F.col("ca") == F.col("cb"))).count()
    fp = joined.filter((F.col("label") == 0) & (F.col("ca") == F.col("cb"))).count()
    fn = joined.filter((F.col("label") == 1) & (F.col("ca") != F.col("cb"))).count()
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0
    assert f1 >= 0.99, dict(
        f1=f1, precision=precision, recall=recall, agree=agree, total=total
    )


def test_all_pages_assigned_to_exactly_one_cluster(result, fixture):
    n_pages = len(fixture.pages)
    assert result.clusters.count() == n_pages
    assert result.clusters.select("url").distinct().count() == n_pages


def test_pipeline_runs_a_broadcast_scored_model(spark, fixture):
    """A model with no Catalyst form (the forest) runs through the same
    pipeline: scored by the broadcast UDF, its stages keyed on the model."""
    res = _run(spark, fixture, classifier="random_forest")
    n_pages = len(fixture.pages)
    assert res.clusters.count() == n_pages
    assert res.clusters.select("url").distinct().count() == n_pages
    assert res.metrics["f1"] >= 0.99, res.metrics


def test_pipeline_survives_degenerate_pages(spark):
    """Null text/html/lang, empty strings, whitespace-only names: web
    crawls contain all of these; under Spark 4 ANSI mode any unguarded
    cast/divide would kill the job. They must flow through as inert
    singletons instead."""
    from datetime import datetime

    from soweego_spark.plans.pipeline import PipelineConfig, run_pipeline
    from soweego_spark.sources.pages import generate_pages, pages_to_spark

    fx = generate_pages(n_entities=60, seed=7)
    pages, _, labeled, _ = pages_to_spark(spark, fx)
    ts = datetime(2020, 1, 1)
    extra = spark.createDataFrame(
        [
            ("https://x.test/null", None, None, None, None),
            ("https://x.test/empty", ts, b"", "", "en"),
            ("https://x.test/ws", ts, b"<html></html>", "   ", None),
        ],
        pages.schema,
    )
    res = run_pipeline(spark, pages.unionByName(extra), labeled,
                       PipelineConfig())
    assert res.metrics["f1"] >= 0.99
    # the degenerate pages survive as singleton clusters, not crashes
    urls = {r["url"] for r in res.clusters.collect()}
    assert "https://x.test/null" in urls and "https://x.test/ws" in urls

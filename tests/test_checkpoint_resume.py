"""Stage-checkpoint resumability (plans/checkpoint.py) — the reference's
pickle-memo semantics (blocking.py:86-94) done with parquet + manifests:
re-run with the same config skips the compute; changed config invalidates;
manifests carry row counts + per-partition lineage."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from soweego_spark.plans import pipeline as pl
from soweego_spark.plans.checkpoint import StageCheckpointer, config_hash
from soweego_spark.sources.pages import generate_pages


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="soweego-ckpt-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stage_memoization_and_invalidation(spark, root):
    ck = StageCheckpointer(root, spark)
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(10).withColumnRenamed("id", "x")

    cfg = {"alpha": 1}
    a = ck.stage("s1", cfg, compute)
    assert calls["n"] == 1 and a.count() == 10
    b = ck.stage("s1", cfg, compute)
    assert calls["n"] == 1  # loaded from checkpoint, not recomputed
    assert sorted(r["x"] for r in b.collect()) == list(range(10))

    ck.stage("s1", {"alpha": 2}, compute)
    assert calls["n"] == 2  # config change invalidates

    mf = ck.manifest("s1")
    assert mf["row_count"] == 10
    assert sum(mf["partitions"].values()) == 10
    assert mf["config_hash"] == config_hash({"alpha": 2})


def test_crash_between_data_and_manifest_write_does_not_resume_wrong_rows(
    spark, root, monkeypatch
):
    """A save that dies after overwriting the stage data but before its
    manifest lands must not let a resume under the OLD config return the
    NEW config's rows."""
    import json as real_json

    from soweego_spark.plans import checkpoint as ckpt_mod

    ck = StageCheckpointer(root, spark)
    cfg_a, cfg_b = config_hash({"alpha": 1}), config_hash({"alpha": 2})
    ck.save("s", spark.range(10).withColumnRenamed("id", "x"), cfg_a)

    class Crash(Exception):
        pass

    class CrashingJson:
        loads = staticmethod(real_json.loads)

        @staticmethod
        def dumps(*a, **k):
            raise Crash("killed before the manifest write")

    monkeypatch.setattr(ckpt_mod, "json", CrashingJson)
    with pytest.raises(Crash):
        ck.save("s", spark.range(3).withColumnRenamed("id", "x"), cfg_b)
    monkeypatch.undo()
    data = spark.read.parquet(f"{root}/s/data")
    assert data.count() == 3  # the crash came after the data write

    resumed = ck.load("s", cfg_a)
    assert resumed is None or resumed.count() == 10


def test_bucketed_signatures_default_and_exchange_free_resume(spark, root):
    """Round-4 contract: run_pipeline defaults the signatures stage to
    BUCKETED persistence (by url), and a resumed run's pair-assembly joins
    start Exchange-free on the signatures side — the checkpointed table's
    bucketing replaces the shuffle that a plain-parquet resume would pay
    on both assemble_pairs joins."""
    from pathlib import Path

    from soweego_spark.operators import pairfeatures as pf

    fx = generate_pages(80, seed=7)
    pages = spark.createDataFrame(fx.pages)
    labeled = spark.createDataFrame(fx.labeled_pairs)
    ck = StageCheckpointer(root, spark)
    res = pl.run_pipeline(
        spark, pages, labeled, pl.PipelineConfig(use_lsh=False),
        checkpointer=ck,
    )
    mf = ck.manifest("signatures")
    assert mf and mf["bucket_spec"]["bucket_cols"] == ["url"]

    sig = ck.load("signatures", mf["config_hash"])  # the resume path
    plain = spark.read.parquet(str(Path(root) / "signatures" / "data"))
    pairs = res.pairs.select("url_a", "url_b")

    # disable broadcast so the join strategy is the one a 10^12-row
    # signatures table would get (sort-merge), making the Exchange
    # elision visible in the plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def n_shuffles(s):
            return (
                s._jdf.queryExecution().executedPlan().toString()
                .count("Exchange hashpartitioning")
            )

        with_buckets = n_shuffles(pf.assemble_pairs(pairs, sig))
        without = n_shuffles(pf.assemble_pairs(pairs, plain))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # both signature-side shuffles disappear; the pairs-side ones remain
    assert with_buckets >= 1  # sanity: counting is not degenerate
    assert with_buckets == without - 2, (with_buckets, without)

    # opt-out: an explicit falsy spec suppresses the default
    ck2 = StageCheckpointer(
        tempfile.mkdtemp(prefix="soweego-ckpt-"), spark,
        bucket_specs={"signatures": None},
    )
    pl.run_pipeline(
        spark, pages, labeled, pl.PipelineConfig(use_lsh=False),
        checkpointer=ck2,
    )
    assert "bucket_spec" not in ck2.manifest("signatures")


def test_iceberg_registration_ddl_seam(spark, root):
    """The lake seam (DDL only — no Iceberg jars in the sandbox): with
    table_format='iceberg' the bucketed-stage registration emits USING
    iceberg with the bucket(n, col) partition transform and a WRITE
    ORDERED BY for the sort spec, instead of Spark-native CLUSTERED BY."""
    ck = StageCheckpointer(root, spark, table_format="iceberg")
    manifest = {
        "bucket_spec": {
            "bucket_cols": ["url"], "sort_cols": ["url"], "n_buckets": 32,
        },
        "schema_ddl": "url STRING, name ARRAY<STRING>",
    }
    stmts = ck._register_ddl("signatures", manifest, root + "/sig/data")
    assert len(stmts) == 2
    assert "USING iceberg" in stmts[0]
    assert "PARTITIONED BY (bucket(32, url))" in stmts[0]
    assert "url STRING, name ARRAY<STRING>" in stmts[0]
    assert f"LOCATION '{root}/sig/data'" in stmts[0]
    assert stmts[1].endswith("WRITE ORDERED BY (url)")

    # default remains the sandbox-tested Spark-native bucketed parquet
    ck_pq = StageCheckpointer(root, spark)
    (stmt,) = ck_pq._register_ddl("signatures", manifest, root + "/sig/data")
    assert "USING PARQUET" in stmt and "CLUSTERED BY (url)" in stmt

    with pytest.raises(ValueError, match="table_format"):
        StageCheckpointer(root, spark, table_format="delta")


def test_bucketed_stage_name_must_be_identifier(spark, root):
    """Stage names reach CREATE/DROP TABLE statements for bucketed stages:
    a non-identifier name must fail fast with ValueError, not produce a
    malformed SQL statement."""
    ck = StageCheckpointer(
        root, spark,
        bucket_specs={"bad-stage.name": {"bucket_cols": ["x"], "n_buckets": 2}},
    )
    with pytest.raises(ValueError, match="identifier"):
        ck.stage(
            "bad-stage.name", {"a": 1},
            lambda: spark.range(3).withColumnRenamed("id", "x"),
        )
    # non-bucketed stages never touch SQL — any directory-safe name is fine
    ok = ck.stage(
        "ok-stage.name", {"a": 1},
        lambda: spark.range(3).withColumnRenamed("id", "x"),
    )
    assert ok.count() == 3


def test_pipeline_resume_skips_stages(spark, root, monkeypatch):
    fx = generate_pages(120, seed=11)
    pages = spark.createDataFrame(fx.pages)
    labeled = spark.createDataFrame(fx.labeled_pairs)
    cfg = pl.PipelineConfig(use_lsh=False)

    calls = {"extract": 0, "block": 0}
    real_extract = pl.extract_signatures
    real_block = pl.blk.block_candidates

    def count_extract(*a, **k):
        calls["extract"] += 1
        return real_extract(*a, **k)

    def count_block(*a, **k):
        calls["block"] += 1
        return real_block(*a, **k)

    monkeypatch.setattr(pl, "extract_signatures", count_extract)
    monkeypatch.setattr(pl.blk, "block_candidates", count_block)

    ck1 = StageCheckpointer(root, spark)
    r1 = pl.run_pipeline(spark, pages, labeled, cfg, checkpointer=ck1)
    out1 = sorted(map(tuple, r1.clusters.collect()))
    assert calls == {"extract": 1, "block": 1}

    # "Kill and re-run": new checkpointer over the same root — every stage
    # thunk must be skipped and the output identical.
    ck2 = StageCheckpointer(root, spark)
    r2 = pl.run_pipeline(spark, pages, labeled, cfg, checkpointer=ck2)
    out2 = sorted(map(tuple, r2.clusters.collect()))
    assert calls == {"extract": 1, "block": 1}  # unchanged: resumed
    assert out1 == out2

    # Changed blocking config -> blocking recomputes, extract stage reloads.
    cfg3 = pl.PipelineConfig(use_lsh=False, top_k=3)
    ck3 = StageCheckpointer(root, spark)
    pl.run_pipeline(spark, pages, labeled, cfg3, checkpointer=ck3)
    assert calls["extract"] == 2  # config hash covers the whole pipeline cfg
    assert calls["block"] == 2


def test_lineage_manifests_exposed(spark, root):
    fx = generate_pages(80, seed=13)
    pages = spark.createDataFrame(fx.pages)
    labeled = spark.createDataFrame(fx.labeled_pairs)
    ck = StageCheckpointer(root, spark)
    res = pl.run_pipeline(
        spark, pages, labeled, pl.PipelineConfig(use_lsh=False), checkpointer=ck
    )
    assert set(res.lineage) == {
        "signatures", "pairs", "features", "matches", "clusters"
    }
    assert res.lineage["signatures"]["row_count"] == res.signatures.count()
    for mf in res.lineage.values():
        assert sum(mf["partitions"].values()) == mf["row_count"]


def test_bucketed_signature_checkpoint_resumes_exchange_free(spark, root):
    """A resumed run loads the signatures checkpoint as a BUCKETED table:
    joining it on the bucket key plans with no Exchange on the signature
    side — even after the catalog entry is dropped (a fresh session), the
    manifest re-registers the external bucketed table."""
    from pyspark.sql import functions as F

    spec = {"signatures": {"bucket_cols": ["url"], "sort_cols": ["url"],
                           "n_buckets": 8}}
    sig = spark.createDataFrame(
        [(f"u{i:03d}", [f"t{i % 5}", "x"]) for i in range(200)],
        "url string, name_tokens array<string>",
    )
    ck1 = StageCheckpointer(root, spark, bucket_specs=spec)
    ck1.stage("signatures", {"v": 1}, lambda: sig)
    assert ck1.manifest("signatures")["bucket_spec"]["n_buckets"] == 8

    # simulate a fresh session: drop the catalog entry, keep the files
    spark.sql(f"DROP TABLE IF EXISTS {ck1._table_name('signatures')}")

    ck2 = StageCheckpointer(root, spark, bucket_specs=spec)
    loaded = ck2.stage("signatures", {"v": 1}, lambda: (_ for _ in ()).throw(
        AssertionError("resume must not recompute")))
    assert loaded.count() == 200

    pairs = spark.createDataFrame(
        [(f"u{i:03d}", i) for i in range(200)], "url string, v long"
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = loaded.join(pairs, "url")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 200
        # exactly ONE Exchange: the non-bucketed pairs side; the bucketed
        # checkpoint side must plan shuffle-free
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_bucketed_checkpoint_roundtrip_matches_plain(spark, root):
    """Bucketed persistence is a layout choice, not a semantic one."""
    df = spark.createDataFrame(
        [(f"u{i}", float(i)) for i in range(57)], "url string, score double"
    )
    plain = StageCheckpointer(f"{root}/plain", spark)
    buck = StageCheckpointer(
        f"{root}/buck", spark,
        bucket_specs={"s": {"bucket_cols": ["url"], "n_buckets": 4}},
    )
    a = plain.stage("s", {}, lambda: df)
    b = buck.stage("s", {}, lambda: df)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert plain.manifest("s")["row_count"] == buck.manifest("s")["row_count"]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", ["plain", "empty", "bucketed"])
def test_save_runs_only_the_write_and_counts_from_footers(spark, root, kind):
    """``save`` of a materialized frame runs the write's own jobs and no
    job after them (no counting collect, no schema-inference read), and
    the manifest's row count and per-part counts, read from the parquet
    footers, match the rows written."""
    from soweego_spark.operators import pins
    from soweego_spark.sources.readers import write_bucketed_table

    spec = {"bucket_cols": ["k"], "sort_cols": ["k"], "n_buckets": 3}
    n = 0 if kind == "empty" else 500
    with pins.scope():
        df = pins.persist(
            spark.range(n, numPartitions=4).selectExpr(
                "id", "CAST(id % 7 AS STRING) AS k", "array(id, id) AS a"
            )
        )
        df.count()
        if kind == "bucketed":
            def bare():
                write_bucketed_table(df, "soweego_bare_write", ["k"], 3,
                                     ["k"], path=f"{root}/bare")
        else:
            def bare():
                df.write.mode("overwrite").parquet(f"{root}/bare")
        write_jobs = _jobs_in_group(spark, f"bare-{kind}", bare)
        ck = StageCheckpointer(
            root, spark,
            bucket_specs={"s": spec} if kind == "bucketed" else None,
        )
        save_jobs = _jobs_in_group(
            spark, f"save-{kind}", lambda: ck.save("s", df, "h")
        )
    spark.sql("DROP TABLE IF EXISTS soweego_bare_write")
    assert len(save_jobs) == len(write_jobs) >= 1, (save_jobs, write_jobs)
    rows = spark.read.parquet(f"{root}/s/data").count()
    mf = ck.manifest("s")
    assert rows == n
    assert mf["row_count"] == rows
    assert sum(mf["partitions"].values()) == rows


def test_resume_reads_with_the_recorded_schema(spark, root):
    """A loaded stage has the schema Spark infers from its files, read
    with the manifest's DDL instead (no inference job); a manifest
    without a schema is a miss and the stage is recomputed."""
    import json
    from pathlib import Path

    # ``id`` is NOT NULL in the frame; parquet reads it back nullable
    df = spark.range(1).selectExpr(
        "id", "'a' AS s", "array(1.5D) AS d", "map('k', 2) AS m",
        "named_struct('i', 3, 't', 'x') AS st",
    )
    assert not df.schema["id"].nullable
    ck = StageCheckpointer(root, spark)
    ck.stage("s", {"v": 1}, lambda: df)
    loaded = ck.load("s", config_hash({"v": 1}))
    inferred = spark.read.parquet(f"{root}/s/data")
    assert loaded.schema == inferred.schema
    assert loaded.collect() == inferred.collect()

    mf = Path(root) / "s" / "_stage_manifest.json"
    manifest = json.loads(mf.read_text())
    del manifest["schema_ddl"]
    mf.write_text(json.dumps(manifest))
    assert ck.load("s", config_hash({"v": 1})) is None
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return df

    ck.stage("s", {"v": 1}, compute)
    assert calls["n"] == 1
    assert ck.manifest("s")["schema_ddl"]

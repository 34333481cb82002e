"""The pin scope (operators/pins.py): every persist and localCheckpoint
is released by the scope that owns it, blocking, and no gate query
leaves a pinned RDD behind its scope."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest
from test_dedup import SF_DIR  # the sf0.001 set the dedup tests read

from soweego_spark.operators import pins

ROOT = Path(__file__).resolve().parents[1]


def _pinned_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


def _checkpoint_rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _block_locations(spark, rdd_id: int) -> int:
    """Block managers holding partition 0 of the RDD."""
    jvm = spark.sparkContext._jvm
    master = jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    return master.getLocations(
        jvm.org.apache.spark.storage.RDDBlockId(rdd_id, 0)
    ).size()


def test_scope_releases_persist(spark):
    before = _pinned_ids(spark)
    with pins.scope():
        df = pins.persist(spark.range(50).selectExpr("id * 2 AS x"))
        assert df.count() == 50
        assert len(_pinned_ids(spark) - before) == 1
    assert _pinned_ids(spark) - before == set()
    assert not df.is_cached


def test_scope_releases_checkpoint_blocks(spark):
    """The pinned LogicalRDD of a localCheckpoint really drops: gone from
    the persistent set and its blocks gone from the block manager the
    moment the scope returns (blocking release)."""
    before = _pinned_ids(spark)
    with pins.scope():
        df = pins.checkpoint(spark.range(50).selectExpr("id * 3 AS x"))
        rdd_id = _checkpoint_rdd_id(df)
        assert rdd_id in _pinned_ids(spark)
        assert _block_locations(spark, rdd_id) >= 1
    assert rdd_id not in _pinned_ids(spark)
    assert _block_locations(spark, rdd_id) == 0
    assert _pinned_ids(spark) - before == set()


def test_lazy_checkpoint_released(spark):
    before = _pinned_ids(spark)
    with pins.scope():
        df = pins.checkpoint(spark.range(20).selectExpr("id AS x"), eager=False)
        assert df.count() == 20  # the action that writes its blocks
    assert _pinned_ids(spark) - before == set()


def test_release_drops_now_and_deregisters(spark):
    before = _pinned_ids(spark)
    with pins.scope():
        keep = pins.checkpoint(spark.range(10).selectExpr("id AS a"))
        gone = pins.checkpoint(spark.range(10).selectExpr("id AS b"))
        gone_id = _checkpoint_rdd_id(gone)
        pins.release(gone)
        assert gone_id not in _pinned_ids(spark)
        assert _block_locations(spark, gone_id) == 0
        assert _checkpoint_rdd_id(keep) in _pinned_ids(spark)
        pins.release(gone)  # a second release is a no-op
    assert _pinned_ids(spark) - before == set()

    # outside any scope nothing is registered, but release still drops
    loose = pins.persist(spark.range(5).selectExpr("id AS c"))
    loose.count()
    assert len(_pinned_ids(spark) - before) == 1
    pins.release(loose)
    assert _pinned_ids(spark) - before == set()


def test_nested_scopes_release_their_own_pins(spark):
    before = _pinned_ids(spark)
    with pins.scope():
        outer = pins.checkpoint(spark.range(10).selectExpr("id AS o"))
        with pins.scope():
            inner = pins.checkpoint(spark.range(10).selectExpr("id AS i"))
            inner_id = _checkpoint_rdd_id(inner)
        assert inner_id not in _pinned_ids(spark)
        assert _checkpoint_rdd_id(outer) in _pinned_ids(spark)
        assert outer.count() == 10  # still readable after the inner exit
    assert _pinned_ids(spark) - before == set()


def test_scope_releases_on_exception(spark):
    before = _pinned_ids(spark)
    with pytest.raises(RuntimeError):
        with pins.scope():
            pins.checkpoint(spark.range(10).selectExpr("id AS e"))
            raise RuntimeError("stage failed")
    assert _pinned_ids(spark) - before == set()


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entry_for_pins_test", ROOT / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_ENTRY = _entry()


@pytest.mark.slow
@pytest.mark.parametrize("name", list(_ENTRY.queries()))
def test_gate_query_leaves_no_pins(spark, name):
    """Leak gate: every queries() entry, run to completion inside one
    scope (as the gate runners do), leaves no pinned RDD behind it."""
    before = _pinned_ids(spark)
    with pins.scope():
        _ENTRY.queries()[name](spark, SF_DIR).toPandas()
    leaked = _pinned_ids(spark) - before
    assert not leaked, f"{name} left {len(leaked)} pinned RDD(s)"

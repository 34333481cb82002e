"""The one pin lifecycle: every ``persist`` and ``localCheckpoint`` goes
through here and is released by the scope that owns it.

:func:`persist` and :func:`checkpoint` pin a frame and register it with
the innermost open :func:`scope` (outside any scope nothing is
registered). :func:`release` drops one pin now; a scope drops the rest
when it exits. Both block until the executors have let the blocks go.
An operator returning a lazy frame over a pin leaves it to the caller's
scope; a stage, a job and a gate query each open one.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

# open scopes, innermost last; opened and closed by the calling thread only
# (exact-mode dedup's two checkpoint threads just append, atomically)
_scopes: list[list[DataFrame]] = []


def _register(df: DataFrame) -> DataFrame:
    if _scopes:
        _scopes[-1].append(df)
    return df


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (the ``cache()`` level), registered."""
    return _register(df.persist())


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered."""
    return _register(df.localCheckpoint(eager=eager))


def release(df: DataFrame) -> None:
    """Drop the pin of a frame :func:`persist` or :func:`checkpoint`
    returned, now, and remove it from its scope."""
    for pins in _scopes:
        pins[:] = [p for p in pins if p is not df]
    if df.is_cached:
        df.unpersist(True)
    else:
        # df.rdd.unpersist() does not release a localCheckpoint: df.rdd
        # is a derived deserialization RDD. The pinned one is the plan's
        # LogicalRDD.rdd, which only the JVM plan exposes.
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)


@contextmanager
def scope():
    """Release every pin still registered with the block when it exits,
    also on an exception."""
    pins: list[DataFrame] = []
    _scopes.append(pins)
    try:
        yield
    finally:
        _scopes.pop()  # scopes nest, so the innermost is this one
        for df in reversed(pins):
            release(df)

"""``karna_spark.intermediates``: a scope releases what was persisted or
checkpointed inside it, on success and on failure, and nothing else."""

from __future__ import annotations

import threading

import pytest
from pyspark.storagelevel import StorageLevel

from karna_spark import intermediates

LEVEL = StorageLevel.MEMORY_AND_DISK


def _count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_scope_releases_persists_and_checkpoints(spark):
    start = _count(spark)
    with intermediates.scope():
        a = intermediates.persist(spark.range(10), LEVEL)
        assert a.count() == 10 and a.storageLevel == LEVEL
        lazy = intermediates.checkpoint(spark.range(5), eager=False)
        eager = intermediates.checkpoint(spark.range(7), eager=True)
        assert lazy.count() == 5 and eager.count() == 7
        assert _count(spark) == start + 3
    assert _count(spark) == start
    assert not a.storageLevel.useMemory


def test_scope_keeps_level_and_caller_owned_frames(spark):
    """Each call keeps its storage level; a frame the caller persisted
    is returned as is and survives the scope."""
    start = _count(spark)
    mine = spark.range(20).persist()
    mine.count()
    try:
        with intermediates.scope():
            assert intermediates.persist(mine, LEVEL) is mine
            deser = intermediates.persist(
                spark.range(3), StorageLevel.MEMORY_AND_DISK_DESER
            )
            assert deser.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
            deser.count()
        assert mine.storageLevel.useMemory
        assert _count(spark) == start + 1
    finally:
        mine.unpersist()


def test_builder_that_raises_inside_a_scope_releases(spark):
    start = _count(spark)

    def builder():
        df = intermediates.persist(spark.range(100), LEVEL)
        df.count()
        intermediates.checkpoint(df.selectExpr("id * 2 AS x"), eager=True)
        assert _count(spark) == start + 2
        raise RuntimeError("builder failed after persisting")

    with pytest.raises(RuntimeError, match="after persisting"):
        with intermediates.scope():
            builder()
    assert _count(spark) == start


def test_inner_scope_releases_only_its_own(spark):
    start = _count(spark)
    with intermediates.scope():
        outer = intermediates.persist(spark.range(4), LEVEL)
        outer.count()
        with intermediates.scope():
            intermediates.persist(spark.range(6), LEVEL).count()
            assert _count(spark) == start + 2
        assert _count(spark) == start + 1
        assert outer.storageLevel.useMemory
    assert _count(spark) == start


def test_implicit_scope_is_per_thread(spark):
    """Outside any scope a registration lands in the thread's implicit
    scope: ``release_intermediates`` on another thread leaves it, on
    the registering thread it releases it. (Both run off the main
    thread, whose implicit scope other tests may share.)"""
    start = _count(spark)
    made, go, frames = threading.Event(), threading.Event(), []

    def owner():
        df = intermediates.persist(spark.range(8), LEVEL)
        df.count()
        frames.append(df)
        made.set()
        go.wait(60)
        intermediates.release_intermediates(df)

    t = threading.Thread(target=owner)
    t.start()
    assert made.wait(60)
    other = threading.Thread(target=intermediates.release_intermediates)
    other.start()
    other.join(timeout=60)
    assert not other.is_alive()
    assert _count(spark) == start + 1
    go.set()
    t.join(timeout=60)
    assert not t.is_alive()
    assert _count(spark) == start
    assert not frames[0].storageLevel.useMemory


def test_concurrent_scopes_release_only_their_own(spark):
    """Scopes are per thread: while other threads open and close
    theirs, each thread's frame stays persisted inside its scope and
    is released when that scope closes."""
    import sys

    start = _count(spark)
    errors = []

    def work(t):
        try:
            for i in range(3):
                with intermediates.scope():
                    df = intermediates.persist(spark.range(t * 100 + i + 1), LEVEL)
                    df.count()
                    if not df.storageLevel.useMemory:
                        errors.append((t, i, "released inside its scope"))
                if df.storageLevel.useMemory:
                    errors.append((t, i, "kept after its scope"))
        except Exception as e:  # reported through errors below
            errors.append((t, repr(e)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(6)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert _count(spark) == start

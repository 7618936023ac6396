"""The one owner of every cached intermediate the engine makes.

Persisted frames and local checkpoints outlive the frame that made
them: Spark frees the first only on ``unpersist()`` and the second only
when the RDD under it is unpersisted. So every persist and local
checkpoint in ``karna_spark`` goes through :func:`persist` or
:func:`checkpoint`, which register it in the calling thread's innermost
:func:`scope` (the one exception is the round-to-round label cache in
``connected_components``, released by hand one round later). Ownership rule: whoever materializes a result opens the
scope around building and reading it (a server request, a CLI run,
``oracle.check_query``, a snapshot verb, ``lr`` training, a streaming
``foreachBatch`` body); a function that returns a frame built on its
intermediates opens none, so they ride the caller's scope. On exit a
scope releases what it holds in reverse order, on an exception too.
Outside any scope, registrations land in the thread's implicit scope,
which :func:`release_intermediates` closes.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_local = threading.local()


def _scopes() -> list[list]:
    """The calling thread's scope stack, its implicit scope first."""
    if not hasattr(_local, "scopes"):
        _local.scopes = [[]]
    return _local.scopes


def _release(held: list) -> None:
    """Run every release in ``held``, newest first; then raise the
    first that failed, if any."""
    error = None
    while held:
        try:
            held.pop()()
        except Exception as e:
            error = error or e
    if error is not None:
        raise error


@contextmanager
def scope():
    """Release, on exit, everything registered inside the block."""
    held: list = []
    _scopes().append(held)
    try:
        yield
    finally:
        _scopes().pop()
        _release(held)


def persist(df: DataFrame, level: StorageLevel) -> DataFrame:
    """``df.persist(level)``, released (non-blocking) by the current
    scope. A frame that is already persisted is returned as is and not
    registered: its storage belongs to whoever persisted it."""
    current = df.storageLevel
    if current.useMemory or current.useDisk:
        return df
    df = df.persist(level)
    _scopes()[-1].append(df.unpersist)
    return df


def checkpoint(df: DataFrame, eager: bool) -> DataFrame:
    """``df.localCheckpoint(eager)``, released by the current scope
    through the RDD under the checkpointed plan: the checkpoint is not
    in the cache manager, so ``DataFrame.unpersist()`` misses it."""
    ckpt = df.localCheckpoint(eager=eager)
    rdd = ckpt._jdf.queryExecution().analyzed().rdd()
    _scopes()[-1].append(lambda: rdd.unpersist(True))
    return ckpt


def release_intermediates(result: DataFrame | None = None) -> None:
    """Close the calling thread's implicit scope. ``result`` (the frame
    the caller just read) is accepted for the old call shape; what is
    released does not depend on it."""
    _release(_scopes()[0])

"""Lifecycle of the frames operators persist internally.

A persisted DataFrame stays in Spark's CacheManager until unpersisted
(the ContextCleaner never evicts it), so package code persists only
through :func:`persist`, which hands the frame to the innermost open
owner: a caller's ``with scope():`` block, released at exit, or, for a
top-level :func:`owns` call outside any scope, the returned frame,
released when it is garbage-collected. Nested operator calls join the
enclosing owner. The owner stack is a ``ContextVar``, so calls on
different threads never share an owner. A frame that is already
persisted (a caller's cache) is used as is and never released here.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import weakref

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_OWNERS: contextvars.ContextVar[tuple] = contextvars.ContextVar(
    "bioframe_spark_persist_owners", default=())


def persist(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Persist ``df`` and register it with the innermost open owner.

    Returns ``df`` untouched, registering nothing, when it is already
    persisted. Raises when no owner is open: the public operator that
    reaches this call is missing :func:`owns`."""
    owners = _OWNERS.get()
    if not owners:
        raise RuntimeError(
            "persist() outside an owner: decorate the public operator "
            "with @owns, or call it inside bioframe_spark.scope()")
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk or lvl.useOffHeap:
        return df
    df = df.persist(level)
    owners[-1].append(df)
    return df


def _unpersist(jdfs) -> None:
    for j in jdfs:
        try:
            j.unpersist(False)
        except Exception:
            pass  # session already stopped: nothing left to free


@contextlib.contextmanager
def scope():
    """Own every internal persist made inside the block, including those
    of nested operator calls, and unpersist them (without blocking) at
    exit. Yields the list of frames persisted so far."""
    held: list[DataFrame] = []
    token = _OWNERS.set(_OWNERS.get() + (held,))
    try:
        yield held
    finally:
        _OWNERS.reset(token)
        _unpersist([d._jdf for d in held])


def owns(fn):
    """Decorator for a public operator that persists, or calls one that
    does. Inside an open owner the call just runs. Otherwise the call
    owns its persists: released at once on an exception, else when the
    returned frame is garbage-collected. The finalizer holds JVM handles,
    not frames, which could keep the result itself alive."""
    @functools.wraps(fn)
    def call(*args, **kwargs):
        if _OWNERS.get():
            return fn(*args, **kwargs)
        with scope() as held:
            out = fn(*args, **kwargs)
            jdfs = [d._jdf for d in held]
            held.clear()  # the result owns them from here
        if jdfs:
            weakref.finalize(out, _unpersist, jdfs)
        return out
    return call

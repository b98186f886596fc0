"""The one owner of cached intermediates.

Operators that reuse an intermediate (a shingle index, a symmetrized
edge list, a token table) cache it through :func:`persist`, the one
place that picks the storage level. MEMORY_AND_DISK blocks that spill
to disk are not LRU-evicted, so something has to release them:
:func:`scope` does. A harness or caller wraps a query's build and its
action in ``with scope():`` and, on exit (normal or by exception),
every frame persisted inside it is unpersisted. Scopes nest; each
releases only what was persisted inside it and not in an inner scope.

Outside any scope, :func:`persist` is a plain lazy persist that is
never released. Caches that a scope did not make (``Engine.analyze``'s
``cacheTable``, a caller's own ``df.cache()``, a plan already cached
by an outer scope) are left alone.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# frames persisted in the innermost open scope of this thread/context
_frames: ContextVar[list[DataFrame] | None] = ContextVar("cached_frames", default=None)


def persist(df: DataFrame) -> DataFrame:
    """Lazily persist ``df`` MEMORY_AND_DISK; inside a scope, record it
    for release unless its plan is already cached."""
    frames = _frames.get()
    if frames is not None and df.storageLevel == StorageLevel.NONE:
        frames.append(df)
    return df.persist(StorageLevel.MEMORY_AND_DISK)


@contextmanager
def scope() -> Iterator[None]:
    """Unpersist, on exit, every frame :func:`persist` recorded inside."""
    frames: list[DataFrame] = []
    token = _frames.set(frames)
    try:
        yield
    finally:
        _frames.reset(token)
        for df in frames:
            df.unpersist()

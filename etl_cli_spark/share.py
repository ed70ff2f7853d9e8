"""One owner per shared materialization.

A job is the unit of work (the reference's POSTed job spec), so what a
job materializes belongs to the job. :func:`shared` is the engine's only
``persist`` and :func:`scope` its only ``unpersist``:

- ``shared(df)`` persists ``df`` (``MEMORY_AND_DISK``) and registers it
  with the innermost open :func:`scope`. A plan that is already cached
  comes back unchanged and unregistered: the cache stays with whoever
  cached it (``unpersist`` matches by plan, so an inner scope would
  otherwise uncache an outer owner's relation).
- ``scope()`` unpersists everything registered inside it when the block
  exits, normally or by an exception. The stack is a ``contextvars``
  variable, so scopes nest and a worker thread starts with its own.

Who opens scopes: an operator that runs its own action (index writes,
connected components, the MERGE rewrite, ...) opens one around the
build and the action; an operator that returns a lazy frame only calls
``shared`` and leaves the release to whoever runs the action. The engine
opens one around each job that runs its action itself (logged and async
runs, non-dry-run target writes, each convergence-loop pass and each
change-feed drain). Targetless and dry-run jobs return lazy frames, so
their caller owns the cache; a share made outside any scope belongs to
the session, exactly like a bare ``persist()``.

``localCheckpoint`` sites are not shares: they truncate lineage (bpe,
connected-components and pagerank rounds) or pin a narrow result before
a scope releases its base. Their blocks belong to the returned frame and
Spark's ``ContextCleaner`` frees them once it is garbage.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_scopes: ContextVar[tuple[list[DataFrame], ...]] = ContextVar("etl_share_scopes", default=())


def shared(df: DataFrame) -> DataFrame:
    """Persist ``df`` for reuse and hand its release to the open scope."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    stack = _scopes.get()
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def scope() -> Iterator[None]:
    """Release every frame :func:`shared` registers inside the block."""
    owned: list[DataFrame] = []
    token = _scopes.set(_scopes.get() + (owned,))
    try:
        yield
    finally:
        _scopes.reset(token)
        for df in owned:
            df.unpersist()

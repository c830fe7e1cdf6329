"""The package's one policy for persisted intermediates.

``materialize`` persists a frame and fills it with one ``count()`` before
its consumers run: two scans of a lazily persisted frame inside one job
race the cache fill, and both recompute the subtree. ``released`` scopes
the cache to code that owns every consumer: on exit, also on error, it
unpersists each frame materialized inside it, by its body or by a callee,
and each frame appended to the list it yields. A frame belongs to the
innermost open scope of the current context (threads start outside any
scope); outside every scope it stays held until the caller's clearCache.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_scope: ContextVar[list[DataFrame] | None] = ContextVar("released_scope", default=None)


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Persist ``df`` and fill it; return the frame and its row count."""
    df = df.persist()
    rows = df.count()
    if (held := _scope.get()) is not None:
        held.append(df)
    return df, rows


@contextmanager
def released() -> Iterator[list[DataFrame]]:
    """Unpersist, on exit, every frame materialized inside the block and
    every frame appended to the yielded list."""
    held: list[DataFrame] = []
    token = _scope.set(held)
    try:
        yield held
    finally:
        _scope.reset(token)
        for df in held:
            df.unpersist()

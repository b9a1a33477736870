"""One cache lifecycle for operators whose persisted frames outlive the call.

An operator whose returned lazy frame reads a cache or local checkpoint
records it with ``scoped(df)``; the innermost open ``cache_scope()``
releases it on close, after its owner has materialized what it needed.
Scopes stack per thread (per ``contextvars`` context), so no lock is
needed, and closing a scope also closes the scopes opened inside it.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_SCOPES: ContextVar[tuple[list[DataFrame], ...]] = ContextVar(
    "cache_scopes", default=()
)


def _release(df: DataFrame) -> None:
    try:
        if df.is_cached:
            df.unpersist()
        else:  # a local checkpoint: Dataset.unpersist never reaches its RDD
            df._jdf.logicalPlan().rdd().unpersist(False)
    except Exception:
        # a handle whose SparkSession has been stopped raises here; a dead
        # context holds no blocks, so the handle is already released
        pass


@contextmanager
def cache_scope():
    """Open a scope; on exit release every frame ``scoped`` into it or
    into a scope opened inside it."""
    held: list[DataFrame] = []
    _SCOPES.set((*_SCOPES.get(), held))
    try:
        yield
    finally:
        stack = _SCOPES.get()
        depth = next((i for i, s in enumerate(stack) if s is held), len(stack))
        _SCOPES.set(stack[:depth])
        for frames in (held, *stack[depth + 1:]):
            while frames:
                _release(frames.pop())


def scoped(df: DataFrame) -> DataFrame:
    """Record the persisted or local-checkpointed ``df`` in the innermost
    open scope and return it. A checkpoint has no lineage, so a frame that
    still reads it after its scope closes fails instead of recomputing."""
    stack = _SCOPES.get()
    if not stack:
        raise RuntimeError("scoped() needs an open cache_scope() to own the cache")
    stack[-1].append(df)
    return df

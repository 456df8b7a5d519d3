"""Persist lifecycle: intermediates persisted inside a ``released()`` block
are unpersisted when the block exits.

Operators that reuse an intermediate several times persist it with
``persist`` instead of ``DataFrame.persist``. Their result is usually a lazy
plan over that intermediate, so the operator cannot release it itself: the
caller that materializes the result (a stage write) opens ``released()``
around the write, and everything persisted under it is freed once the write
is done. Outside any block ``persist`` is a plain ``DataFrame.persist``.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame


class _Scopes(threading.local):
    def __init__(self):
        self.stack: list[list[DataFrame]] = []


_scopes = _Scopes()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with the innermost open ``released()``."""
    df = df.persist()
    if _scopes.stack:
        _scopes.stack[-1].append(df)
    return df


@contextlib.contextmanager
def released():
    """Unpersist every DataFrame ``persist``-ed inside the block on exit."""
    held: list[DataFrame] = []
    _scopes.stack.append(held)
    try:
        yield
    finally:
        _scopes.stack.pop()
        for df in held:
            df.unpersist()

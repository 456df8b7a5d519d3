"""Persist lifecycle: intermediates persisted inside a ``released()`` block
are unpersisted when the block exits.

Operators that reuse an intermediate several times persist it with
``persist`` instead of ``DataFrame.persist``. Their result is usually a lazy
plan over that intermediate, so the operator cannot release it itself: the
caller that materializes the result (a stage write) opens ``released()``
around the write, and everything persisted under it is freed once the write
is done. Outside any block ``persist`` is a plain ``DataFrame.persist``.

Spark keeps one cache entry per plan: persisting a plan that is already
cached adds nothing, and one ``unpersist`` frees it for every holder. So
each cached plan has one owner count across all blocks and threads, and a
block frees a plan only when it is the last holder. A plan that was cached
before any block registered it (a plain ``persist`` or
``DataFrame.persist``) has an owner outside the blocks and is never freed by
one.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_NOT_CACHED = StorageLevel(False, False, False, False, 1)


class _Scopes(threading.local):
    def __init__(self):
        self.stack: list[list[tuple[int, DataFrame]]] = []


_scopes = _Scopes()
# cached plan (its semantic hash) -> [open blocks holding it, whether an
# owner outside the blocks holds it too]
_owners: dict[int, list] = {}
_lock = threading.Lock()


def _plan_key(df: DataFrame) -> int:
    """Equal for plans Spark's cache treats as one (``sameResult``)."""
    return df._jdf.queryExecution().analyzed().semanticHash()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with the innermost open ``released()``."""
    with _lock:
        key = _plan_key(df)
        if key not in _owners:
            # already cached here = cached by an owner no block knows of
            _owners[key] = [0, df.storageLevel != _NOT_CACHED]
        df = df.persist()
        if _scopes.stack:
            _owners[key][0] += 1
            _scopes.stack[-1].append((key, df))
        else:
            _owners[key][1] = True
        if _owners[key][0] == 0:
            del _owners[key]
    return df


@contextlib.contextmanager
def released():
    """Unpersist every DataFrame ``persist``-ed inside the block on exit,
    unless another open block or an owner outside the blocks still holds
    its plan."""
    held: list[tuple[int, DataFrame]] = []
    _scopes.stack.append(held)
    try:
        yield
    finally:
        _scopes.stack.pop()
        with _lock:
            for key, df in held:
                owner = _owners[key]
                owner[0] -= 1
                if owner[0] == 0:
                    del _owners[key]
                    if not owner[1]:
                        df.unpersist()

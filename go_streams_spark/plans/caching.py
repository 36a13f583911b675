"""Tracked persistence: library operators that must pin ONE
materialization of a nondeterministic subtree (range shuffles feeding
two consumer branches, LSH band tables probed twice) register their
persisted DataFrames here so long-lived sessions (bench loops, repeated
query invocations) can reclaim executor memory between queries instead
of accumulating dead caches.

Usage::

    part = track_persist(part)            # inside an operator
    ...
    release_tracked()                     # bench/tests, between queries

or, when several queries run concurrently (threads sharing one
SparkSession), scope each query's pins so releasing one query cannot
unpersist a DataFrame another still depends on::

    with pin_scope():                     # releases ONLY its own pins
        run_query_to_completion()

Call ``release_tracked`` (or exit the scope) only AFTER the action that
consumed the pinned DataFrame: the pins are correctness devices for
nondeterministic subtrees (range exchanges feeding two branches), so
releasing one before its query's first action re-exposes the divergent
re-evaluation the persist exists to prevent.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LOCK = threading.RLock()
#: process-wide pins (single-threaded bench/oracle loops)
_TRACKED: list[DataFrame] = []
#: active scopes, per thread — track_persist targets the innermost one
_SCOPES = threading.local()


def _current_bucket() -> list[DataFrame]:
    stack = getattr(_SCOPES, "stack", None)
    return stack[-1] if stack else _TRACKED


def track_persist(df: DataFrame,
                  level: StorageLevel = StorageLevel.MEMORY_AND_DISK
                  ) -> DataFrame:
    """Persist ``df`` and remember the handle for ``release_tracked``
    (or, inside a ``pin_scope``, for release at scope exit)."""
    df.persist(level)
    with _LOCK:
        _current_bucket().append(df)
    return df


def _unpersist_all(dfs: list[DataFrame]) -> int:
    n = len(dfs)
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    dfs.clear()
    return n


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint``'ed DataFrame.
    ``DataFrame.unpersist`` does not reach it (the checkpoint persists
    the RDD itself, not a cached query), so an iterative loop that
    checkpoints every round releases each superseded round here. Safe
    on a lazy checkpoint that was never computed."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def release_tracked() -> int:
    """Unpersist every GLOBALLY tracked DataFrame; returns how many were
    freed. Does not touch pins registered inside an active
    ``pin_scope`` (those belong to their scope) — so a bench/test
    thread calling this cannot unpersist a concurrent scoped query's
    correctness pins."""
    with _LOCK:
        dfs = list(_TRACKED)
        _TRACKED.clear()
    return _unpersist_all(dfs)


@contextmanager
def pin_scope():
    """Collect this thread's ``track_persist`` pins and release exactly
    them on exit. Scopes nest; each thread has its own stack, so
    concurrent queries in one SparkSession cannot release each other's
    pins. Exit the scope only after the query's consuming action."""
    bucket: list[DataFrame] = []
    if not hasattr(_SCOPES, "stack"):
        _SCOPES.stack = []
    _SCOPES.stack.append(bucket)
    try:
        yield bucket
    finally:
        _SCOPES.stack.pop()
        _unpersist_all(bucket)

"""Deterministic lifecycle for operator-internal persisted DataFrames.

Several operators persist an intermediate (a sketch relation, a round
cache) because their plan branches — without the persist, Catalyst
re-executes the producing stage once per branch (measured 5-7× for the
encode UDF, see operators/build.py). But `.persist()` handles that leak
in a long-lived driver: repeated operator calls accumulate cached blocks
in executor storage until the session dies.

This module gives those internal caches an owner:

* ``track(df)`` — persist ``df`` and register the handle with the
  innermost active :func:`cache_scope`, or with the module-global
  registry when no scope is active.
* ``checkpoint(df)`` — eager ``localCheckpoint`` of ``df``, registered
  the same way. Its blocks belong to the checkpointed RDD, which
  ``DataFrame.unpersist`` does not reach; the release paths unpersist
  that RDD.
* ``cache_scope()`` — context manager; on exit, unpersists everything
  tracked inside it. Wrap one query's *materialization* in a scope and
  its internal caches are released deterministically.
* ``release_caches()`` — drain the global registry; callers with a
  "previous results are consumed" boundary (the driver harness between
  queries, a REPL user between jobs) call this to bound storage to the
  current query's working set.

Unpersisting is safe at any point — Spark recomputes lazily if a
released handle is re-used — so over-eager release costs time, never
correctness.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["track", "checkpoint", "untrack", "disown", "cache_scope", "release_caches"]

_SCOPES: list[list[DataFrame]] = []
_GLOBAL: list[DataFrame] = []
#: plans whose cached data is owned OUTSIDE this module (see untrack) —
#: release paths must not unpersist any handle that shares one of these
#: plans, because Spark's CacheManager keys cached data by ANALYZED PLAN,
#: not by DataFrame handle: unpersisting a same-plan handle drops the
#: owner's cached blocks too.
_ADOPTED: list[DataFrame] = []


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:
        return False


def _owned_elsewhere(df: DataFrame) -> bool:
    return any(_same_plan(df, h) for h in _ADOPTED)


def track(df: DataFrame, storage_level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` and register it for deterministic release."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    (_SCOPES[-1] if _SCOPES else _GLOBAL).append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now with ``localCheckpoint`` and register the
    snapshot for deterministic release. The snapshot's plan is a bare
    scan of the checkpointed RDD, so it cuts the lineage: an iterative
    operator that feeds each round's snapshot into the next keeps its
    plan O(1) deep."""
    df = df.localCheckpoint(eager=True)
    (_SCOPES[-1] if _SCOPES else _GLOBAL).append(df)
    return df


def _release(df: DataFrame) -> None:
    """Unpersist ``df``; for a :func:`checkpoint` snapshot also unpersist
    the RDD it scans, which holds blocks Spark's cache manager does not
    know about."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def untrack(*dfs: DataFrame) -> int:
    """Remove handles from the registries WITHOUT unpersisting —
    transfers ownership to the caller. Use for a long-lived substrate
    (the built LQT table a whole query sweep shares) whose lifecycle
    must outlive per-query ``release_caches()`` boundaries; the caller
    then owns the eventual ``unpersist()``. Returns how many handles
    were removed.

    Ownership is PLAN-based, not handle-based: the adopted plans are
    remembered, and both release paths skip any tracked handle whose
    analyzed plan ``sameResult``-matches an adopted one — rebuilding the
    same lineage (same source, same expressions) yields a distinct
    handle that Spark's CacheManager maps to the SAME cached relation,
    so unpersisting it would silently drop the owner's cache. Call
    :func:`disown` when the owner finally unpersists."""
    handles = [d for d in dfs if d is not None]
    ids = {id(d) for d in handles}
    removed = 0
    for lst in (_GLOBAL, *_SCOPES):
        kept = [
            d
            for d in lst
            if id(d) not in ids and not any(_same_plan(d, h) for h in handles)
        ]
        removed += len(lst) - len(kept)
        lst[:] = kept
    # idempotent adoption: never register the same handle (or another
    # handle of the same plan) twice — duplicates would both leak
    # same-plan skips forever and add py4j calls to every release
    for h in handles:
        if id(h) not in {id(a) for a in _ADOPTED} and not _owned_elsewhere(h):
            _ADOPTED.append(h)
    return removed


def disown(*dfs: DataFrame) -> None:
    """Forget adopted plans (the owner is about to unpersist them)."""
    ids = {id(d) for d in dfs if d is not None}
    _ADOPTED[:] = [
        h
        for h in _ADOPTED
        if id(h) not in ids
        and not any(_same_plan(h, d) for d in dfs if d is not None)
    ]


@contextmanager
def cache_scope():
    """Unpersist every DataFrame ``track``-ed inside the block on exit."""
    lst: list[DataFrame] = []
    _SCOPES.append(lst)
    try:
        yield
    finally:
        _SCOPES.pop()
        for df in lst:
            if _owned_elsewhere(df):
                continue
            try:
                _release(df)
            except Exception:
                pass


def release_caches() -> int:
    """Unpersist every globally-tracked cache; returns how many were
    actually unpersisted (adopted-plan handles are dropped from the
    registry without an unpersist and do not count)."""
    n = 0
    while _GLOBAL:
        df = _GLOBAL.pop()
        if _owned_elsewhere(df):
            continue
        try:
            _release(df)
            n += 1
        except Exception:
            pass
    return n

"""The one owner of every persist and localCheckpoint in the package.

No other module calls ``.persist()`` or ``.localCheckpoint()``; they
call the helpers here, so "who frees this intermediate, and when" has
one answer:

- ``persist(df)`` persists ``df`` and registers it;
- ``checkpoint(df)`` takes an eager ``localCheckpoint`` and records the
  new RDD as owned;
- ``release(df)`` frees one now: a registered persist is unpersisted;
  otherwise the owned checkpoint leaves of ``df`` (``df`` may be a
  projection of the checkpoint) are freed;
- ``release_tracked()`` frees everything still registered.

Eager operators (iterative loops, streaming batches) ``release`` each
intermediate as soon as it is dead, so storage stays O(1) in rounds.
Lazy query builders cannot: the returned plan still reads their
persists and checkpoints, so the caller runs ``release_tracked()`` once
the result is materialized (bench.py does so after every run).

Ownership means "created by ``checkpoint()``". A released checkpoint
cannot be recomputed (its lineage was truncated), so a caller-supplied
checkpoint in the same plan is never freed. The registry keeps
checkpoint RDD ids, not frames, so a checkpoint that is never released
is still freed by Spark's GC-based ContextCleaner. On Spark Connect
(no ``_jdf``) ``checkpoint`` records nothing and releasing one is a
no-op.
"""

from __future__ import annotations

import threading

from pyspark import SparkContext
from pyspark.sql import DataFrame

__all__ = ["persist", "checkpoint", "release", "release_tracked"]

# streaming batches register from Spark's callback thread
_LOCK = threading.Lock()
_PERSISTED: dict[int, DataFrame] = {}
# (applicationId, rdd id): RDD ids restart in a new SparkContext
_OWNED: set[tuple[str, int]] = set()


def _checkpoint_leaves(df: DataFrame):
    """(key, rdd) for every checkpoint scan (``LogicalRDD``) leaf."""
    app = df.sparkSession.sparkContext.applicationId
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            yield (app, leaf.rdd().id()), leaf.rdd()


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` (lazily, default storage level) and register it."""
    df = df.persist()
    with _LOCK:
        _PERSISTED[id(df)] = df
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df``, recorded as owned. A fresh
    checkpoint plan has exactly one leaf, the checkpoint itself, so no
    caller-supplied input is ever recorded."""
    df = df.localCheckpoint(eager=True)
    try:
        keys = [key for key, _ in _checkpoint_leaves(df)]
    except Exception:
        return df  # Connect: no _jdf — left to GC-based cleanup
    with _LOCK:
        _OWNED.update(keys)
    return df


def release(df: DataFrame | None) -> None:
    """Free ``df`` now: unpersist it if it is a registered persist,
    else free the owned checkpoint leaves of its plan — so pass only a
    frame the caller built on its own checkpoints. ``None`` is a
    no-op."""
    if df is None:
        return
    with _LOCK:
        registered = _PERSISTED.pop(id(df), None) is not None
    if registered:
        df.unpersist(False)
        return
    try:
        for key, rdd in _checkpoint_leaves(df):
            with _LOCK:
                owned = key in _OWNED
                _OWNED.discard(key)
            if owned:
                rdd.unpersist(False)
    except Exception:
        pass  # Connect, or the session is gone — nothing to free


def release_tracked() -> int:
    """Free every registered persist and owned checkpoint; returns how
    many. Idempotent, and safe after the session has stopped."""
    with _LOCK:
        frames, keys = list(_PERSISTED.values()), list(_OWNED)
        _PERSISTED.clear()
        _OWNED.clear()
    for df in frames:
        try:
            df.unpersist(False)
        except Exception:
            pass  # session already stopped — nothing to free
    sc = SparkContext._active_spark_context
    if sc is not None:
        app = sc.applicationId
        for key in keys:
            if key[0] == app:
                sc._jsc.sc().unpersistRDD(key[1], False)
    return len(frames) + len(keys)

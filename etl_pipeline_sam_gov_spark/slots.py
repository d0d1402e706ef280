"""Per-session bounded cache slots for persisted relations.

Iterative operators (PageRank, k-core, BPE induction, prefix-sum
packing, shared-scan dedup ...) persist per-invocation relations and
must release the PREVIOUS invocation's entries BEFORE persisting
plan-identical new ones (Spark's CacheManager matches cache entries by
logical-plan equality, so an unpersist after the new persist would
evict the new entry too). Those slots live here, in ONE
WeakKeyDictionary keyed on the SparkSession OBJECT — never id(spark):
CPython reuses ids after GC, so an id key could alias a dead session's
slot onto a new session (the stale unpersist would then raise against
a stopped context) while the strong value reference pinned the dead
session's JVM-side state alive in the meantime (ADVICE r05; the same
weak-keyed pattern registry.py's prepared-plan cache uses).

The prepared-plan cache (registry.py) serves a persisting query's
plan again through ``written_since`` + ``rearm``: it records the slots
the first build wrote, and on every later call swaps fresh, unloaded
cache entries in for them, so the next action recomputes each cached
relation instead of reading the previous call's blocks.
"""

from __future__ import annotations

import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_SLOTS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

def session_slots(spark: SparkSession) -> dict:
    """The session's mutable slot dict (created on first use).

    Keys are operator-chosen tuples/strings; values are persisted
    DataFrames (or tuples of them) the next invocation releases.
    """
    try:
        return _SLOTS.setdefault(spark, {})
    except TypeError:  # non-weakref-able session stub in unit tests
        return {}


def _frames(value) -> tuple[DataFrame, ...]:
    """The DataFrames of a slot value (one DataFrame or a tuple of
    them); empty for anything else."""
    if isinstance(value, DataFrame):
        return (value,)
    if isinstance(value, tuple):
        return tuple(v for v in value if isinstance(v, DataFrame))
    return ()


def release(spark: SparkSession, key) -> None:
    """Pop ``key``'s slot and unpersist what it held — call it BEFORE
    persisting the relations that will take the slot."""
    for df in reversed(_frames(session_slots(spark).pop(key, None))):
        df.unpersist()


def slot_persist(spark: SparkSession, key, df: DataFrame) -> DataFrame:
    """Persist ``df`` as the sole content of ``key``'s slot: release
    what the slot held, persist ``df``, store it, return it. Queries
    that persist plan-identical relations share one key."""
    release(spark, key)
    df = df.persist()
    session_slots(spark)[key] = df
    return df


def written_since(spark: SparkSession, before: dict) -> tuple:
    """(key, value, storage levels) of every slot holding DataFrames
    whose value object is not the one in ``before`` (a copy of
    ``session_slots`` taken earlier), in the order they were written.
    The "tables"/"views" dicts of tables.py hold no DataFrame at the
    top level and never count."""
    return tuple(
        (key, value, tuple(df.storageLevel for df in _frames(value)))
        for key, value in session_slots(spark).items()
        if before.get(key) is not value and _frames(value)
    )


def rearm(spark: SparkSession, key, value, levels) -> None:
    """Put ``value`` back in ``key``'s slot with fresh cache entries.

    In order: release whatever another call left in the slot; unpersist
    ``value``'s relations (dependents first, so CacheManager never
    re-plans a dependent of a relation being dropped); persist them
    again in their original order at their recorded ``levels`` (each
    persist then plans over its predecessors' new entries); store
    ``value`` in the slot. The new entries are unloaded: the next
    action recomputes every relation. Costs a few py4j calls per
    relation and launches no job."""
    if session_slots(spark).get(key) is not value:
        release(spark, key)
    frames = _frames(value)
    for df in reversed(frames):
        df.unpersist()
    for df, level in zip(frames, levels):
        if level != StorageLevel.NONE:
            df.persist(level)
    session_slots(spark)[key] = value

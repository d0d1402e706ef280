"""Per-session bounded cache slots: the one way the engine persists and
releases an intermediate relation.

Iterative operators (PageRank, k-core, BPE induction, prefix-sum
packing, shared-scan dedup ...) persist per-invocation relations and
must release the PREVIOUS invocation's entries BEFORE persisting
plan-identical new ones (Spark's CacheManager matches cache entries by
logical-plan equality, so an unpersist after the new persist would
evict the new entry too). ``slot`` is that rule as one scope.

The slots live in ONE WeakKeyDictionary keyed on the SparkSession
OBJECT — never id(spark): CPython reuses ids after GC, so an id key
could alias a dead session's slot onto a new session (the stale
unpersist would then raise against a stopped context) while the
strong value reference pinned the dead session's JVM-side state alive
in the meantime (ADVICE r05; the same weak-keyed pattern registry.py's
prepared-plan cache uses).

The AQE pin (PIN_CONF) decides whether AQE may re-optimize a cache's
output partitioning: true lets a cached ``repartition`` coalesce to a
width derived from its measured bytes; false materializes it at the
static shuffle-partition count. Results do not depend on it; speed
does, per query (OPTIMIZATION_r10.md §3). Spark reads the conf only
inside CacheManager, when a relation is persisted and when an
unpersist re-caches a dependent, and a cache keeps the value it was
planned under whatever the conf says when it runs. So the pin binds
where the cache is made: each ``slot`` call site declares
``adaptive=``, and the scope holds the conf at that value while it
releases and persists, restoring the previous value on exit. No
session conf is left behind, and a DataFrame built before another
query's build still runs its caches under its own pin.

The prepared-plan cache (registry.py) serves every job-free build
again through ``written_since`` + ``rearm``: it records the slots the
build wrote and those its component queries' hits re-armed, with
their storage levels and pin, and on every later call swaps fresh,
unloaded cache entries in for them under the same pin, so the next
action recomputes each cached relation instead of reading the
previous call's blocks.
"""

from __future__ import annotations

import weakref
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_SLOTS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

PIN_CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def session_slots(spark: SparkSession) -> dict:
    """The session's mutable slot dict (created on first use).

    Keys are operator-chosen tuples/strings; values are persisted
    DataFrames (or tuples of them) the next invocation releases.
    """
    try:
        return _SLOTS.setdefault(spark, {})
    except TypeError:  # non-weakref-able session stub in unit tests
        return {}


def _pins(spark: SparkSession) -> dict:
    """slot key → the ``adaptive`` value its relations were persisted
    under. Holds no DataFrame at the top level, like tables.py's
    "tables"/"views" dicts."""
    return session_slots(spark).setdefault("pins", {})


def _frames(value) -> tuple[DataFrame, ...]:
    """The DataFrames of a slot value (one DataFrame or a tuple of
    them); empty for anything else."""
    if isinstance(value, DataFrame):
        return (value,)
    if isinstance(value, tuple):
        return tuple(v for v in value if isinstance(v, DataFrame))
    return ()


@contextmanager
def _pinned(spark: SparkSession, adaptive: bool) -> Iterator[None]:
    """PIN_CONF set to ``adaptive`` for the block, the previous value
    restored after it."""
    prev = spark.conf.get(PIN_CONF)
    spark.conf.set(PIN_CONF, str(adaptive).lower())
    try:
        yield
    finally:
        spark.conf.set(PIN_CONF, prev)


def release(spark: SparkSession, key) -> None:
    """Pop ``key``'s slot and unpersist what it held, dependents
    first."""
    for df in reversed(_frames(session_slots(spark).pop(key, None))):
        df.unpersist()


class _Keeper:
    """What ``slot`` yields: ``keep(df)`` persists ``df`` and claims it
    in the slot; ``keep.drop(df)`` unpersists a relation early and takes
    it out of the slot."""

    def __init__(self, spark: SparkSession, key, adaptive: bool):
        self._spark, self._key, self._adaptive = spark, key, adaptive
        self._kept: list[DataFrame] = []

    def _claim(self) -> None:
        session_slots(self._spark)[self._key] = tuple(self._kept)
        _pins(self._spark)[self._key] = self._adaptive

    def __call__(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._kept.append(df)
        self._claim()
        return df

    def drop(self, df: DataFrame) -> None:
        df.unpersist()
        self._kept = [k for k in self._kept if k is not df]
        self._claim()


@contextmanager
def slot(spark: SparkSession, key, adaptive: bool = False) -> Iterator[_Keeper]:
    """Scope that owns ``key``'s slot for one build: release what the
    slot held, then yield ``keep``. Every ``keep(df)`` persists ``df``
    and adds it to the slot right away, so an exception partway through
    a build leaves no cache entry that no slot owns. The scope runs
    with PIN_CONF set to ``adaptive`` and restores the previous value
    on exit, exception or not. Queries that persist plan-identical
    relations share one key."""
    with _pinned(spark, adaptive):
        release(spark, key)
        yield _Keeper(spark, key, adaptive)


def slot_persist(
    spark: SparkSession, key, df: DataFrame, adaptive: bool = False
) -> DataFrame:
    """Persist ``df`` as the sole content of ``key``'s slot."""
    with slot(spark, key, adaptive) as keep:
        return keep(df)


def written_since(spark: SparkSession, before: dict) -> tuple:
    """(key, value, storage levels, pin) of every slot holding
    DataFrames whose value object is not the one in ``before`` (a copy
    of ``session_slots`` taken earlier), in the order they were
    written."""
    pins = _pins(spark)
    return tuple(
        (
            key,
            value,
            tuple(df.storageLevel for df in _frames(value)),
            pins.get(key, False),
        )
        for key, value in session_slots(spark).items()
        if before.get(key) is not value and _frames(value)
    )


def rearm(spark: SparkSession, key, value, levels, adaptive: bool) -> None:
    """Put ``value`` back in ``key``'s slot with fresh cache entries,
    persisted under the pin ``adaptive`` it was first built with.

    In order: release whatever another call left in the slot; unpersist
    ``value``'s relations (dependents first, so CacheManager never
    re-plans a dependent of a relation being dropped); persist them
    again in their original order at their recorded ``levels`` (each
    persist then plans over its predecessors' new entries); store
    ``value`` in the slot. The new entries are unloaded: the next
    action recomputes every relation. Costs a few py4j calls per
    relation and launches no job."""
    with _pinned(spark, adaptive):
        if session_slots(spark).get(key) is not value:
            release(spark, key)
        frames = _frames(value)
        for df in reversed(frames):
            df.unpersist()
        for df, level in zip(frames, levels):
            if level != StorageLevel.NONE:
                df.persist(level)
    session_slots(spark)[key] = value
    _pins(spark)[key] = adaptive

"""Query/oracle registry backing the driver contract (``__spark_entry__.py``).

Every implemented operator from SURVEY.md §2 registers here as a named
query: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are ANSI-SQL-expressible) an equivalent DuckDB SQL string run
against the same parquet tables. The driver compares the two at sf=0.01
(row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- float aggregates go through exact decimal arithmetic or a final
  ``round()`` so both engines produce bit-identical doubles;
- timestamps are emitted as formatted strings or ``unix_micros`` ints
  (DuckDB ``epoch_us``) — never raw timestamps, to stay timezone-proof.

Every registered builder is served prepared by one rule: a build that
launched no Spark job is memoized per (session, sf_dir), and a repeat
call returns the same DataFrame after re-arming the cache slots the
build recorded (``_plan_cached``).
"""

from __future__ import annotations

import functools
import threading
import weakref
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_sam_gov_spark.plans.introspect import jobs_started
from etl_pipeline_sam_gov_spark.slots import rearm, session_slots, written_since

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: session → {(query name, sf_dir) → (prepared DataFrame, the slots its
#: build wrote or re-armed, as slots.written_since records them, pins
#: included)}. Weak-keyed so a stopped session's plans (bound to a dead
#: JVM handle) can never be served to a new session that reuses the
#: same id().
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

#: One build or hit at a time, across threads: a build records the
#: slots it wrote or re-armed, so no other call may write or re-arm a
#: slot meanwhile. Re-entrant, as a composed build calls its
#: components' wrappers.
_LOCK = threading.RLock()

#: One list per build in progress, innermost last (a composed query's
#: ``_Q[...]`` calls nest): the slot records of the prepared-plan hits
#: it got.
_BUILDING: list[list] = []


def _plan_cached(name: str, fn: QueryFn) -> QueryFn:
    """Serve ``fn``'s DataFrame prepared: memoize it per (session,
    sf_dir) when its build launched no Spark job.

    A query function is a plan builder, and rebuilding an unchanged
    plan only re-pays the py4j round trips of expression construction
    (up to 0.9 s of driver CPU for the widest composed DAGs at sf0.1).
    A build that counts, collects, writes or runs a stream launched
    jobs and could not be replayed, so it is returned unmemoized and
    tried again on the next call; that retry also absorbs the schema
    job of a table's first read in the session. Another thread's jobs
    can keep a build from being memoized, never make a wrong one
    memoized.

    Every persist goes through ``slots.slot``, so the build's record is
    the slots it wrote (``written_since``) after those its component
    hits re-armed: a re-arm keeps the slot's value object, so
    ``written_since`` alone would miss them. A repeat call re-arms the
    record (``slots.rearm``): fresh, unloaded cache entries, so the
    next action recomputes every cached relation instead of reading
    the previous call's blocks. The prepared plan still executes in
    full. Execute it through a fresh Dataset (``df.select("*")``): a
    second action on the same object reuses its executed plan, cache
    bindings included."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (name, sf_dir)
        with _LOCK:
            per = _PLAN_CACHE.setdefault(spark, {})
            hit = per.get(key)
            if hit is not None:
                df, armed = hit
                for entry in armed:
                    rearm(spark, *entry)
                for record in _BUILDING:
                    record.extend(armed)
                return df
            record: list = []
            _BUILDING.append(record)
            before, jobs = dict(session_slots(spark)), jobs_started(spark)
            try:
                df = fn(spark, sf_dir)
            finally:
                _BUILDING.pop()
            if jobs_started(spark) == jobs:
                per[key] = (df, (*record, *written_since(spark, before)))
            return df

    return wrapper


#: Deliberately non-scalable ground-truth twins: query name → the
#: registered scale-path variant that is the engine's production answer
#: for the same problem. A baseline stays registered (it shares its
#: oracle with the twin, PROVING the twin's blocking/bucketing loses
#: nothing) but must never be mistaken for the serving plan.
BASELINE_OF: dict[str, str] = {}


def query(
    name: str,
    oracle: Optional[str] = None,
    baseline_of: Optional[str] = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as queries()[name]; ``oracle`` as its DuckDB SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator
    (streaming stateful ops, approximate sketches); the driver then runs
    a weaker rows-only check.

    ``baseline_of="x"`` marks this query as the exact-but-O(n²)/(Q×N)
    ground-truth twin of scale-path query ``x`` — kept registered so
    the pair stays oracle-green together, never the production path.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = _plan_cached(name, fn)
        if oracle is not None:
            ORACLES[name] = oracle
        if baseline_of is not None:
            BASELINE_OF[name] = baseline_of
        return fn

    return deco

"""Physical-plan introspection helpers.

The engine's scale guarantees (pushdown, broadcast, top-k, codegen,
partition pruning) are properties of the *physical plan*, not of small-
scale results — these helpers expose the plan as text so tests (and
operators' own assertions) can gate on them. Used by
``tests/test_plans.py``; usable in notebooks to audit any query:

    from etl_pipeline_sam_gov_spark.plans.introspect import explain_formatted
    print(explain_formatted(df))
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_sam_gov_spark.slots import PIN_CONF


def physical_plan(df: DataFrame) -> str:
    """The executed physical plan (post-AQE if already executed)."""
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text: operator tree + per-scan details
    (PushedFilters / PartitionFilters / ReadSchema)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def scan_detail(df: DataFrame, marker: str) -> str:
    """The first line following ``marker`` (e.g. "PushedFilters",
    "PartitionFilters", "ReadSchema") in the formatted plan."""
    s = explain_formatted(df)
    if marker not in s:
        return ""
    return s.split(marker, 1)[1].splitlines()[0]


def execution_metrics(df: DataFrame) -> dict[str, dict[str, int]]:
    """Per-operator SQL metrics of an EXECUTED DataFrame: operator name
    → {metric: value} (rows produced, shuffle bytes, spill, scan rows).
    The observability hook a perf investigation starts from — the same
    numbers the Spark UI shows, programmatically, so regression
    harnesses can assert on "bytes shuffled" rather than wall-clock.

    Run an action first (count/noop write); metrics are zero until the
    plan executes. Metric keys are Spark's internal names
    ("numOutputRows", "shuffleBytesWritten", "spillSize", ...)."""
    out: dict[str, dict[str, int]] = {}
    idx = [0]

    def walk(node):
        name = node.nodeName()
        # AQE wrapper and materialized query stages hold the real tree
        # behind accessors, not children()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStage"):
            walk(node.plan())
            return
        m = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m[str(kv._1())] = int(kv._2().value())
        if m:
            out[f"{idx[0]:03d}_{name}"] = m
        idx[0] += 1
        cit = node.children().iterator()
        while cit.hasNext():
            walk(cit.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _cached_leaves(df: DataFrame):
    """The leaves of ``df``'s analyzed plan with CacheManager's entries
    substituted as they stand now, as a new action on ``df`` would bind
    them. (``queryExecution().withCachedData()`` is a lazy val: it
    keeps the entries of its first read, which a later re-arm may have
    replaced.)"""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    return cm.useCachedData(df._jdf.queryExecution().analyzed()).collectLeaves()


def cache_loads(df: DataFrame) -> list[bool]:
    """isCachedColumnBuffersLoaded of every InMemoryRelation the plan
    of ``df`` reads, as CacheManager substitutes them now: True where
    the plan would read blocks an earlier action already stored."""
    leaves = _cached_leaves(df)
    return [
        leaves.apply(i).cacheBuilder().isCachedColumnBuffersLoaded()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "InMemoryRelation"
    ]


def cache_pins(df: DataFrame) -> list[bool]:
    """The AQE pin (slots.PIN_CONF) every InMemoryRelation the plan of
    ``df`` reads was persisted under, as CacheManager substitutes them
    now; a persisted ``df`` reads just its own entry. Read from the
    session the entry's physical plan was planned in, which keeps the
    conf of persist time, so no job runs."""
    leaves = _cached_leaves(df)
    return [
        leaves.apply(i)
        .cacheBuilder()
        .cachedPlan()
        .session()
        .sessionState()
        .conf()
        .getConfString(PIN_CONF)
        == "true"
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "InMemoryRelation"
    ]


def jobs_started(spark: SparkSession) -> int:
    """Jobs the session's DAGScheduler has started since its context
    began, read synchronously (no listener-bus wait, about 0.04 ms a
    py4j call). The difference of two reads counts the jobs any thread
    started in between."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by Janino since the JVM started,
    from Spark's process-wide CodegenMetrics. Every codegen cache miss
    compiles one class, so the count's delta across a run is the run's
    misses. The milliseconds are the histogram's mean × its count: the
    mean comes from a sampled reservoir, so they are an estimate."""
    hist = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    n = hist.getCount()
    return n, hist.getSnapshot().getMean() * n


def _pyworker_probe(_rows):
    import importlib
    import os
    import sys
    import time

    import pyspark

    jars = [p for p in sys.path if isinstance(p, str) and p.endswith(".jar")]
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    in_zip = "pyspark.zip" + os.sep in pyspark.__file__
    engine = sorted(m for m in sys.modules if m.startswith("etl_pipeline_sam_gov_spark."))
    yield jars, ms, in_zip, engine


def pyworker_import_cost(spark: SparkSession) -> dict:
    """What a Python worker pays for imports at the start of each
    request, read inside one executor worker by a one-row task:

    - ``jars``: the ``.jar`` entries on that worker's ``sys.path``;
    - ``invalidate_ms``: the milliseconds of one
      ``importlib.invalidate_caches()``, the call PySpark makes before
      every planner call and task. ``pyworker`` brings these to no jars
      and about 2 ms; without it each zip and jar on the path is
      re-read, about 220 ms a request with the spark-core jar (4 cores,
      CPython 3.11);
    - ``pyspark_in_zip``: whether the worker runs SPARK_HOME's
      ``pyspark.zip``, compiled from source in every daemon, rather
      than the installed pyspark (``session.python_launcher``);
    - ``engine_modules``: the ``etl_pipeline_sam_gov_spark.*`` modules
      the worker holds, this probe's own ``plans.introspect`` and
      ``slots`` included. A worker that only served engine code that
      needs no registry holds no ``operators.*`` module."""
    jars, ms, in_zip, engine = (
        spark.sparkContext.parallelize([0], 1)
        .mapPartitions(_pyworker_probe)
        .collect()[0]
    )
    return {
        "jars": jars,
        "invalidate_ms": ms,
        "pyspark_in_zip": in_zip,
        "engine_modules": engine,
    }


def total_metric(df: DataFrame, metric_key: str) -> int:
    """Sum of one metric key across all operators (e.g. "spillSize",
    "shuffleBytesWritten", "numOutputRows")."""
    return sum(
        v
        for per_op in execution_metrics(df).values()
        for k, v in per_op.items()
        if k == metric_key
    )

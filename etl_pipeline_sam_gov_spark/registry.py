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
"""

from __future__ import annotations

import functools
import weakref
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_sam_gov_spark.slots import rearm, session_slots, written_since

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Queries whose constructed DataFrame is memoized per (session, sf_dir)
#: — the prepared-statement path. A query function is a PURE plan
#: builder: same (spark, sf_dir) → the identical immutable plan, so
#: rebuilding it per invocation only re-pays the py4j round trips of
#: expression construction (measured 23% of total headline bench time
#: at sf0.1 — up to 0.9 s for the widest composed DAGs, pure
#: single-threaded driver CPU that a loaded machine inflates worst).
#: The cached plan still EXECUTES in full on every action — nothing is
#: materialized — so bench numbers keep measuring real engine work.
#:
#: Opt-in and structurally gated: tests/test_plans.py asserts every
#: name below builds a plan with ZERO InMemoryRelation nodes, so a
#: stateful helper sneaking into a cached query fails CI. Queries that
#: persist through session slots are cached only via PLAN_CACHED_REARM
#: below; queries that collect or count while building stay out.
PLAN_CACHED: frozenset[str] = frozenset(
    {
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier",
        "agg_rollup",
        "window_running_user",
        "sessionize_events",
        "contracts_transform",
        "ann_bruteforce_topk",
        "fn_json_events",
        "q10_returned_items",
        "text_quality_score",
        "q9_product_type_profit",
        "q21_sole_returning_supplier",
        "ann_ivf_topk",
        "merge_incremental_upsert",
        "text_redact_pii",
        "multimodal_features",
        "resample_interpolate_hourly",
        "join_bloom_prefilter",
        "text_bm25_retrieval",
        "ts_anomaly_rolling_z",
        "join_spatial_grid_radius",
        "similarity_maxsim_topk",
        "agg_gini_customer_spend",
        "ts_peak_concurrency_minutes",
        "dq_referential_orphans",
        "pipeline_health_report",
        "ab_test_cuped",
        "seq_session_trigrams",
        "text_boilerplate_removal",
        "ann_mmr_rerank",
        "udf_holt_winters_hourly",
        # mwu stays cacheable: its r8 exchange-reuse-independence fix
        # is deterministic width_bucket slicing (a pure row function),
        # not the persist the other five fan-out sites took — so it
        # still builds zero InMemoryRelation nodes.
        "ab_mann_whitney_u",
        "dedup_levenshtein_blocked",
        # r9: the remaining pure-plan-builder headliners (no persist,
        # no collect anywhere in their construction — the zero-
        # InMemoryRelation gate in tests/test_plans.py covers them like
        # the rest). Their widest DAGs (the 11-branch profile union,
        # the two-leg fusion) were paying up to ~1 s of pure py4j
        # plan-construction per bench invocation.
        # (pipeline_training_corpus_v2 stays OUT: semantic_keep
        # persists its cluster assignment internally.)
        "join_fuzzy_name_match",
        "join_salted_skewed_orders",
        "agg_table_profile",
        "dq_constraint_suite",
        "retrieval_hybrid_rrf",
        # No persist, no collect: the GD steps chain lazy broadcast
        # 1-row weight relations, and the flagship's SQL resolves the
        # contracts view when it is built, so a later re-registration
        # of the view cannot change the cached plan.
        "contracts_flagship",
        "ml_logistic_regression_gd",
    }
)

#: Prepared plans for queries whose build persists relations through
#: session slots (slots.py). A hit must not read the previous call's
#: blocks, so the cache records the slots the first build wrote and
#: every hit re-arms them (slots.rearm): unpersist, then persist again
#: at the recorded levels. The hit therefore costs a few persist calls
#: instead of 100s-1000s of py4j calls, and its next action recomputes
#: every cached relation, launching the same jobs as a cold call.
#: Only queries whose plan construction launches ZERO Spark jobs
#: qualify. The CDC query runs its stream while building and stays
#: out; kcore, random walks, corpus v2 and isotonic build job-free (0
#: build jobs measured) but are not in the set yet. tests/test_plans.py gates each name on a job-free build,
#: unloaded cache entries after a hit, and the cold call's job count
#: and rows on the hit's execution.
PLAN_CACHED_REARM: frozenset[str] = frozenset(
    {
        "graph_pagerank_bipartite",
        "text_bpe_merge_rounds",
        "reco_item_lift",
        "dedup_minhash_lsh",
        "curate_pack_token_shards",
    }
)

#: session → {(query name, sf_dir) → (prepared DataFrame, the slots its
#: build wrote as slots.written_since records them, pins included)}.
#: Weak-keyed so a stopped session's plans (bound to a dead JVM handle)
#: can never be served to a new session that reuses the same id().
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _plan_cached(name: str, fn: QueryFn) -> QueryFn:
    """Memoize ``fn``'s DataFrame per (session, sf_dir). A repeat call
    returns the same object after re-arming the slots the first build
    wrote (none for a pure plan). Execute it through a fresh
    Dataset (``df.select("*")``): a second action on the same object
    reuses its executed plan, cache bindings included."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            per = _PLAN_CACHE.setdefault(spark, {})
        except TypeError:  # non-weakref-able session stub in tests
            return fn(spark, sf_dir)
        key = (name, sf_dir)
        hit = per.get(key)
        if hit is not None:
            df, armed = hit
            for entry in armed:
                rearm(spark, *entry)
            return df
        before = dict(session_slots(spark))
        df = fn(spark, sf_dir)
        per[key] = (df, written_since(spark, before))
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
        QUERIES[name] = (
            _plan_cached(name, fn)
            if name in PLAN_CACHED | PLAN_CACHED_REARM
            else fn
        )
        if oracle is not None:
            ORACLES[name] = oracle
        if baseline_of is not None:
            BASELINE_OF[name] = baseline_of
        return fn

    return deco

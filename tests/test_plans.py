"""Physical-plan quality gates (SURVEY.md §4): these assert the
*scale-relevant* plan properties, not just results — filters reach the
parquet scan, small dims broadcast, top-k avoids full sorts, and the
hot relational path stays inside whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import functions as F

import etl_pipeline_sam_gov_spark as eng
from etl_pipeline_sam_gov_spark.plans.introspect import (
    cache_loads,
    cache_pins,
    codegen_stats,
    jobs_started,
    explain_formatted as formatted,
    physical_plan as plan,
)
from etl_pipeline_sam_gov_spark.tables import load_tables
from oracle_compare import canonical_rows


def fresh(name):
    """Builder for a FRESH plan: every job-free build is served
    prepared, so the registry may hand back a DataFrame another test
    already executed, and an AQE-finalized plan prints runtime stage
    structure (extra exchanges, reused stages) instead of the
    compile-time shape these gates assert. The registry's wrapper
    exposes the raw builder as ``__wrapped__``."""
    return eng.QUERIES[name].__wrapped__


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = fresh("q1_pricing_summary")(spark, sf_dir)
    s = formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in s


def test_column_pruning_reaches_parquet(spark, sf_dir):
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    two_cols = li.select("l_orderkey", "l_quantity")
    s = formatted(two_cols)
    # ReadSchema lists only the projected columns
    assert "l_orderkey" in s.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" not in s.split("ReadSchema")[1].splitlines()[0]


def test_q3_q5_use_broadcast_joins(spark, sf_dir):
    for name in ("q3_shipping_priority", "q5_local_supplier"):
        s = plan(fresh(name)(spark, sf_dir))
        assert "BroadcastHashJoin" in s, f"{name} lost its broadcast join"


def test_flagship_topk_avoids_full_sort(spark, sf_dir):
    df = fresh("contracts_flagship")(spark, sf_dir)
    assert "TakeOrderedAndProject" in plan(df)


def test_semi_and_anti_join_operators(spark, sf_dir):
    assert "LeftSemi" in plan(fresh("q4_order_priority")(spark, sf_dir))
    assert "LeftAnti" in plan(
        fresh("join_anti_inactive_customers")(spark, sf_dir)
    )


def test_q1_stays_in_wholestage_codegen(spark, sf_dir):
    df = fresh("q1_pricing_summary")(spark, sf_dir)
    df.collect()  # AQE finalizes the plan on execution; codegen spans appear then
    s = plan(df)
    assert "isFinalPlan=true" in s
    # '*(n)' prefixes mark WholeStageCodegen spans in the final plan
    assert "*(1)" in s and "*(2)" in s
    assert "BatchEvalPython" not in s  # no row-at-a-time Python in the hot path


def test_no_python_udfs_anywhere_in_relational_path(spark, sf_dir):
    """Every oracle-checked query must stay JVM-side (multimodal
    mapInPandas is intentionally rows-only and excluded; udtf_* queries
    exist precisely to exercise the Python-UDTF lane and are exempt)."""
    for name in sorted(eng.ORACLES):
        if name.startswith("udtf_"):
            continue
        s = plan(fresh(name)(spark, sf_dir))
        assert "BatchEvalPython" not in s, f"{name} fell back to a Python UDF"


def test_range_join_broadcasts_band_table(spark, sf_dir):
    s = plan(fresh("join_range_quantity_bands")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in s


def test_aqe_enabled(spark, sf_dir):
    load_tables(spark, sf_dir, ("lineitem",))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_tpch_topk_avoid_full_sort(spark, sf_dir):
    for name in ("q10_returned_items", "q18_large_volume_customers"):
        assert "TakeOrderedAndProject" in plan(fresh(name)(spark, sf_dir)), (
            f"{name} plans a full sort for its LIMIT"
        )


def test_q6_pushes_all_scan_predicates(spark, sf_dir):
    s = formatted(fresh("q6_forecast_revenue")(spark, sf_dir))
    pushed = s.split("PushedFilters")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed to parquet scan"


def test_q17_correlated_subquery_is_one_window_pass(spark, sf_dir):
    s = plan(fresh("q17_small_quantity_revenue")(spark, sf_dir))
    assert "Window" in s  # correlated AVG collapsed into a window…
    assert s.count("FileScan parquet") <= 2  # …not a per-row re-scan

def test_salted_agg_has_two_aggregation_levels(spark, sf_dir):
    s = plan(fresh("agg_salted_heavy_hitters")(spark, sf_dir))
    # partial(key,salt) + merge(key): ≥2 keyed exchange-backed aggs
    assert s.count("HashAggregate") >= 4


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides of a fact-fact join on the key removes the
    shuffle entirely — the 100 TB co-located-join strategy (SURVEY.md
    §2.3 scale notes). Written as catalog tables because bucket metadata
    lives in the catalog, not the parquet footer."""
    from etl_pipeline_sam_gov_spark.tables import load_tables

    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            (
                t[name].write.mode("overwrite")
                .bucketBy(8, key).sortBy(key)
                .option("path", str(tmp_path / name))
                .saveAsTable(f"b_{name}")
            )
        joined = (
            spark.table("b_orders")
            .join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        s = plan(joined)
        assert "SortMergeJoin" in s
        # the only exchange allowed is the final 3-row groupBy, never the join
        assert s.split("SortMergeJoin")[1].count("Exchange") == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_partitions_on_read(spark, sf_dir, tmp_path):
    """Partition-pruned scans are the 100 TB generalization of the
    reference's manual date-window filter (SURVEY.md S2): a reader
    filtering on the partition key must list only matching directories
    (PartitionFilters), never scan the full table."""
    from etl_pipeline_sam_gov_spark.plans.introspect import scan_detail
    from etl_pipeline_sam_gov_spark.sinks import write_partitioned_snapshot

    t = load_tables(spark, sf_dir, ("orders",))
    out = str(tmp_path / "orders_by_status")
    write_partitioned_snapshot(t["orders"], out, "o_orderstatus")
    pruned = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    detail = scan_detail(pruned, "PartitionFilters")
    assert "o_orderstatus" in detail, f"no partition filter in scan: {detail!r}"
    n_all = t["orders"].count()
    n_f = t["orders"].filter(F.col("o_orderstatus") == "F").count()
    assert pruned.count() == n_f < n_all


def test_shingle_plan_splits_text_exactly_once(spark, sf_dir):
    """Regression gate: InferFiltersFromGenerate + predicate pushdown
    can clone an explode'd expression (inline tokenizer included) into
    a pre-filter, re-splitting the text many times per row — a measured
    20x slowdown. doc_shingles must keep exactly one split() in the
    optimized plan."""
    from etl_pipeline_sam_gov_spark.operators.dedup import doc_shingles

    # ngram_jaccard persists this exact relation; a prior in-session run
    # would make CacheManager swap an InMemoryRelation into the plan and
    # hide the split count this gate exists to pin down.
    spark.catalog.clearCache()
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    optimized = doc_shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(") == 1, optimized


#: Columns that identify a scale-class relation (grows with SF) inside a
#: logical-plan subtree. nation/region/band tables have none of these.
_SCALE_MARKERS = (
    "l_orderkey#", "o_orderkey#", "c_custkey#", "s_suppkey#",
    "p_partkey#", "doc_id#", "vec_id#",
)


def _pinned_hint_violations(df):
    """Subtrees of ResolvedHint nodes in the analyzed logical plan that
    reference a scale-class table without a cardinality-bounding
    Aggregate/GlobalLimit between the hint and the scan."""
    import re

    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    bad = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        # Only BROADCAST pins are the memory hazard this gate exists
        # for; MERGE/SHUFFLE_HASH hints over a scale table are safe
        # (they force the SHUFFLE direction — sql_join_hints does this
        # deliberately to outrank broadcast-eligibility).
        if "broadcast" not in line.lower():
            continue
        indent = len(re.match(r"^[ :+|-]*", line).group(0))
        subtree = []
        for nxt in lines[i + 1:]:
            if len(re.match(r"^[ :+|-]*", nxt).group(0)) <= indent:
                break
            subtree.append(nxt)
        body = "\n".join(subtree)
        touches_scale = any(m in body for m in _SCALE_MARKERS)
        bounded = "Aggregate" in body or "GlobalLimit" in body
        if touches_scale and not bounded:
            bad.append(body)
    return bad


def test_no_pinned_broadcast_of_scale_tables(spark, sf_dir):
    """Broadcast-hint policy (100 TB safety): an explicit F.broadcast
    pin removes AQE's ability to demote the join when the build side
    outgrows executor memory, so hints may pin only bounded sides —
    nation/region, literal band tables, 1-row scalar aggregates,
    max-filtered / LIMIT-ed sets. customer/supplier/part-scale sides
    must stay un-hinted (size-based planning still broadcasts them at
    small SF). ann_* probe-set broadcasts are exempt by design: the
    query batch is serving-bounded, and the brute-force baseline is
    *definitionally* a broadcast nested loop."""
    gated = [
        n for n in eng.ORACLES
        if not n.startswith(("ann_", "stream_", "multimodal_", "udf", "udtf"))
    ]
    for name in gated:
        bad = _pinned_hint_violations(fresh(name)(spark, sf_dir))
        assert not bad, (
            f"{name}: broadcast hint pinned over a scale-class table:\n"
            + bad[0]
        )


def test_tpch_breadth_queries_broadcast_their_dims(spark, sf_dir):
    for name in ("q7_volume_shipping", "q8_market_share",
                 "q10_returned_items", "q19_discounted_revenue"):
        assert "BroadcastHashJoin" in plan(fresh(name)(spark, sf_dir)), (
            f"{name} lost its dimension broadcast"
        )


def test_adapted_tpch_broadcast_their_dims(spark, sf_dir):
    for name in ("q2_min_cost_supplier", "q9_product_type_profit",
                 "q11_important_parts", "q16_supplier_part_counts",
                 "q20_heavy_red_suppliers"):
        assert "BroadcastHashJoin" in plan(fresh(name)(spark, sf_dir)), (
            f"{name} lost its dimension broadcast"
        )


def test_q21_plans_semi_and_anti_self_joins(spark, sf_dir):
    # The EXISTS / NOT EXISTS self-joins must stay semi/anti (never a
    # full join + post-filter, which would explode multi-line orders).
    s = plan(fresh("q21_sole_returning_supplier")(spark, sf_dir))
    assert "LeftSemi" in s and "LeftAnti" in s


def test_q2_correlated_min_is_one_window_pass(spark, sf_dir):
    # The per-part MIN must be a Window over the joined view — exactly
    # one aggregate pass over lineitem (the cost view), not two scans.
    s = plan(fresh("q2_min_cost_supplier")(spark, sf_dir))
    assert "Window" in s
    import re
    assert len(re.findall(r"Scan parquet .*lineitem", s)) == 1


def test_ivf_assignment_is_shuffle_free(spark, sf_dir):
    # IVF cell assignment must be map-side (broadcast centroid array);
    # the only hash exchange is the per-query candidate ranking, and it
    # is preceded by a partial WindowGroupLimit (per-partition top-k heap).
    import re
    s = plan(fresh("ann_ivf_topk")(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", s)) == 1
    assert "WindowGroupLimit" in s
    assert "BroadcastHashJoin" in s


def test_curation_split_and_mixture_are_shuffle_free(spark, sf_dir):
    # Hash-bucket split and mixture sampling are pure scan-side
    # projections/filters — any Exchange would mean they stopped
    # scaling linearly.
    for name in ("curate_split_train_holdout", "curate_sample_source_mixture"):
        assert "Exchange" not in plan(fresh(name)(spark, sf_dir)), (
            f"{name} acquired a shuffle"
        )


def test_shard_packing_is_two_phase_prefix_sum(spark, sf_dir):
    # The straggler guard (VERDICT r2 #3): no corpus-sized window may be
    # partitioned by lang alone — one task per language at 100 TB. The
    # packing must range-split the corpus, run its running sum keyed by
    # (_pid, lang) (task size bounded by the range split), and bring the
    # prefix offsets back as a broadcast.
    import re
    s = plan(fresh("curate_pack_token_shards")(spark, sf_dir))
    assert "Exchange rangepartitioning" in s
    assert re.search(r"windowspecdefinition\(_pid#\d+, lang#", s), s
    assert "BroadcastExchange" in s
    # the lang-only window exists only above the tiny subtotal aggregate
    assert re.search(r"HashAggregate\(keys=\[_pid#\d+, lang#", s), s


def test_training_corpus_packs_with_bounded_tasks(spark, sf_dir):
    # quality gate + mixture sample + split are scan-side; the shard
    # packing range-splits once and windows on (_pid, lang, split).
    import re
    # (the persisted range-split relation prints its plan under both the
    # subtotal branch and the main branch; it executes once)
    s = plan(fresh("pipeline_training_corpus")(spark, sf_dir))
    assert "Exchange rangepartitioning" in s
    assert re.search(r"windowspecdefinition\(_pid#\d+, lang#\d+, split#", s), s


def test_label_propagation_checkpoints_bound_lineage(spark):
    # A 13-node chain forces ~12 propagation rounds (diameter), far more
    # than CC_CHECKPOINT_EVERY — the checkpoint must keep the final plan
    # to the post-checkpoint rounds only, or plan depth (and failure
    # recompute cost) grows linearly with rounds at 100 TB.
    from etl_pipeline_sam_gov_spark.operators.dedup import (
        CC_CHECKPOINT_EVERY,
        propagate_min_labels,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "a long, b long")
    bidir = edges.union(edges.selectExpr("b as a", "a as b"))
    labels = propagate_min_labels(bidir)
    rows = {r["node"]: r["label"] for r in labels.collect()}
    assert len(rows) == 13 and set(rows.values()) == {0}
    plan_str = labels._jdf.queryExecution().optimizedPlan().toString()
    # ≤ 2 joins per round since the last checkpoint; the checkpoint
    # itself appears as a leaf (LogicalRDD / ExistingRDD), not a join chain
    assert plan_str.count("Join") <= 2 * CC_CHECKPOINT_EVERY, plan_str


def test_redaction_is_shuffle_free(spark, sf_dir):
    # PII redaction is an ingest-fused cleaning map; an Exchange would
    # mean the regex chain stopped scaling as a narrow stage.
    assert "Exchange" not in plan(fresh("text_redact_pii")(spark, sf_dir))


def test_top_bigrams_single_shuffle_topk(spark, sf_dir):
    # one partial-combined count shuffle + TakeOrderedAndProject: the
    # bigram space must never be globally sorted.
    s = plan(fresh("text_top_bigrams")(spark, sf_dir))
    assert "TakeOrderedAndProject" in s
    assert s.count("Exchange") == 1


def test_repetition_and_stratified_sample_are_shuffle_free(spark, sf_dir):
    """The Gopher-style repetition filters and the hash-bucket
    stratified sample are pure per-row expressions — a shuffle
    anywhere in either plan means the array-fold/bucket rewrite
    regressed to explode+groupBy."""
    for name in ("text_repetition_quality", "curate_stratified_sample"):
        s = plan(fresh(name)(spark, sf_dir))
        assert "Exchange" not in s, f"{name} grew a shuffle"


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL top-N must decorrelate into a per-key
    WindowGroupLimit (partial before the shuffle, final after) — never
    a nested-loop re-execution of the inner query per outer row."""
    s = plan(fresh("join_lateral_topk_orders")(spark, sf_dir))
    assert "WindowGroupLimit" in s
    assert "CartesianProduct" not in s


def test_pagerank_iterations_reuse_cached_edges(spark, sf_dir):
    """Every PageRank iteration must read the persisted edge/degree
    relations (InMemoryTableScan), not re-derive them from the join of
    lineitem and orders — at scale, re-deriving means re-shuffling the
    fact table once per iteration."""
    from etl_pipeline_sam_gov_spark.operators.graph import PR_ITERS

    s = plan(fresh("graph_pagerank_bipartite")(spark, sf_dir))
    assert s.count("InMemoryTableScan") >= 2 * PR_ITERS


def test_tfidf_broadcasts_document_frequency(spark, sf_dir):
    """The term→df relation is vocabulary-sized, far smaller than the
    (doc, term) counts — it must broadcast, never shuffle the counts."""
    s = plan(fresh("text_tfidf_keywords")(spark, sf_dir))
    assert "BroadcastHashJoin" in s


def test_chunking_is_single_generate_narrow_stage(spark, sf_dir):
    """Sliding-window chunking must stay a narrow generate stage: the
    only Exchange allowed is the fixture-layout round-robin spread, and
    the chunk windows come from ONE posexplode over the materialized
    token array — a second Generate or a Python eval node means the
    slice rewrite regressed."""
    s = plan(fresh("text_chunk_sliding")(spark, sf_dir))
    assert s.count("Exchange") <= 1
    assert s.count("Generate") == 1
    assert "BatchEvalPython" not in s


def test_crossdoc_ngrams_single_shingle_pass(spark, sf_dir):
    """All three consumers (denominator, corpus-frequency, dup-count
    probe) must read the CACHED shingle arrays. The failure mode this
    pins down: a filter on the computed shingle count getting pushed
    below the projection, where InferFilters clones the whole
    tokenize+shingle construction into a pre-Exchange filter over raw
    text (plan symptom: a Filter condition containing the shingle
    array_distinct expression)."""
    s = formatted(fresh("dedup_crossdoc_ngrams")(spark, sf_dir))
    assert "InMemoryTableScan" in s
    for line in s.splitlines():
        if line.strip().startswith("Condition"):
            assert "array_distinct" not in line, (
                "shingle construction cloned into a filter:\n" + line
            )
        if "explode" in line and "Generate" in line:
            assert "split(" not in line, (
                "generate re-tokenizes raw text instead of exploding the cache"
            )


def test_bloom_prefilter_below_join_exchange(spark, sf_dir):
    """The bloom membership tests must apply to the probe side BEFORE
    its shuffle into the (pinned shuffle) join: in plan text, the
    array_contains conditions and the IdentityBroadcastMode bloom
    broadcast appear under the probe-side Exchange of the
    SortMergeJoin — that ordering is what spares the ~99.9% of
    non-joining fact rows from the shuffle at 100 TB."""
    s = plan(fresh("join_bloom_prefilter")(spark, sf_dir))
    assert "SortMergeJoin" in s  # join pinned to the no-broadcast regime
    assert s.count("shiftright") >= 3  # O(1) word-fetch membership tests
    probe_exchange = s.index("Exchange hashpartitioning(o_custkey")
    assert s.index("shiftright") > probe_exchange, (
        "bloom filter applied above the probe shuffle — prefiltering lost"
    )
    # the bloom itself is a single broadcast row built with map-side combine
    assert "IdentityBroadcastMode" in s
    assert "partial_bit_or" in s


def test_quality_classifier_is_zero_shuffle_scan(spark, sf_dir):
    """Scoring must stay a pure narrow map inside the scan stage —
    no Exchange, no Generate (the token array never explodes), no
    Python eval. This is the property that lets the filter run inline
    in a 100 TB ingest scan."""
    s = plan(fresh("text_quality_classifier")(spark, sf_dir))
    assert "Exchange" not in s
    assert "Generate" not in s
    assert "BatchEvalPython" not in s


def test_semdedup_assignment_broadcasts_seeds(spark, sf_dir):
    """Cluster assignment must be a map-side broadcast of the k seed
    vectors (BroadcastNestedLoopJoin over the 8-row seed relation),
    never a corpus-vs-corpus shuffle; the only corpus self-join is the
    within-cluster pair stage keyed on cid."""
    s = plan(fresh("dedup_semantic_clusters")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in s
    assert "BatchEvalPython" not in s


def test_temperature_resample_broadcasts_sizes(spark, sf_dir):
    """The per-language sizes must reach the corpus via a broadcast
    join of the tiny groupBy result — a per-language Window here would
    serialize each language through one task at 100 TB (the
    shard-packing straggler). No Window node, one broadcast."""
    s = plan(fresh("curate_temperature_resample")(spark, sf_dir))
    assert "Window" not in s
    assert "BroadcastHashJoin" in s
    assert "BatchEvalPython" not in s


def test_bitmap_distinct_shuffles_bitmaps_not_values(spark, sf_dir):
    """The first aggregation keys on (event_type, bucket) with a
    map-side partial bitmap_construct_agg — the shuffle carries
    bounded bitmaps; no Expand (the count-distinct rewrite) and no
    second pass over raw values."""
    s = plan(fresh("agg_bitmap_distinct")(spark, sf_dir))
    assert "Expand" not in s
    assert "partial_bitmap_construct_agg" in s
    assert s.count("Exchange") == 2


def test_bm25_partial_topk_and_broadcast_model(spark, sf_dir):
    """BM25's ranking must plan as WindowGroupLimit (partial top-k on
    the map side, no full per-query sort shuffle) and the query-term /
    document-frequency model relations must broadcast — shuffling the
    (doc, term) counts against a vocabulary-sized model would be the
    100 TB bottleneck."""
    s = plan(fresh("text_bm25_retrieval")(spark, sf_dir))
    assert "WindowGroupLimit" in s
    assert s.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in s


def test_inverted_index_caps_before_collect(spark, sf_dir):
    """The posting cap must sit BELOW collect_list (a conditional
    collect over the rank window) so no task materializes an unbounded
    posting array, and the rank window + final aggregation must share
    ONE exchange on tok (3 total: spread, term-count, tok)."""
    s = plan(fresh("text_inverted_index")(spark, sf_dir))
    assert "partial_collect_list(CASE WHEN" in s
    assert s.count("Window") == 1
    assert s.count("Exchange") <= 3


def test_negative_pairs_no_cartesian_candidates(spark, sf_dir):
    """Candidate generation must be a generated-key equi-join: the only
    nested-loop allowed is the 1-row corpus-size scalar broadcast — a
    CartesianProduct over (anchors × corpus) would be the O(n²) trap
    this operator exists to avoid."""
    s = plan(fresh("curate_negative_pairs")(spark, sf_dir))
    assert "CartesianProduct" not in s
    assert "BatchEvalPython" not in s


def test_dsir_model_broadcasts_onto_token_stream(spark, sf_dir):
    """The DSIR bucket model (64 rows) must broadcast back onto the
    token stream — shuffling the exploded corpus against it would add
    a corpus-sized exchange; scoring then rides the same per-doc
    groupBy as the quality filters."""
    s = plan(fresh("curate_dsir_importance")(spark, sf_dir))
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s
    assert "BatchEvalPython" not in s


def test_pq_encode_is_shuffle_free_assignment(spark, sf_dir):
    """PQ code assignment must be map-side against the broadcast
    sub-codebook: the only exchanges are the fixture-layout spread and
    the codebook's own tiny collect — never a corpus-wide shuffle, no
    per-(vector, subspace) explode reaching an Exchange."""
    s = plan(fresh("ann_pq_encode")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in s  # the 1-row codebook attach
    assert "CartesianProduct" not in s
    assert "BatchEvalPython" not in s
    # corpus side: spread exchange only; codebook side: one shuffle into
    # the single-row collect_list agg (BroadcastExchange is not a shuffle)
    assert s.count("Exchange") - s.count("BroadcastExchange") <= 3


def test_hypertable_rollup_merges_partials_not_raw(spark, sf_dir):
    """The hourly tier must aggregate the 5-minute rollup relation,
    not re-scan raw events: exactly two aggregation exchanges (bucket
    tier, merge tier) over ONE FileScan of events."""
    s = plan(fresh("agg_hypertable_rollup")(spark, sf_dir))
    assert s.count("FileScan") == 1
    assert s.count("Exchange") - s.count("BroadcastExchange") == 2


def test_bpe_rounds_run_on_vocabulary_not_corpus(spark, sf_dir):
    """The corpus must be touched exactly once (token count into the
    vocabulary relation); every merge round then reads the persisted
    vocabulary — the final plan may contain at most the one corpus scan
    per cached vocabulary lineage and no Python fallback."""
    import etl_pipeline_sam_gov_spark.operators.bpe as bpe

    spark.catalog.clearCache()
    s = plan(fresh("text_bpe_merge_rounds")(spark, sf_dir))
    assert "InMemoryTableScan" in s  # rounds read the persisted vocab
    assert "BatchEvalPython" not in s
    assert "CartesianProduct" not in s


def test_dynamic_partition_pruning_on_partitioned_join(spark, sf_dir, tmp_path):
    """Joining a partition-keyed fact against a selectively-filtered
    dimension must plan a dynamicpruning subquery on the partition
    column — the runtime generalization of the reference's manual
    date-window pushdown (SURVEY.md S2): only matching partitions are
    listed at execution, without the user writing the partition filter."""
    t = load_tables(spark, sf_dir, ("orders",))
    out = str(tmp_path / "orders_by_status_dpp")
    t["orders"].write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    )
    joined = (
        fact.join(dim, fact["o_orderstatus"] == dim["status"])
        .filter(F.col("label") == "final")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = formatted(joined)
    assert "dynamicpruning" in s.lower(), "no DPP subquery in the scan"


def test_execution_metrics_expose_shuffle_and_rows(spark, sf_dir):
    """The metrics hook must surface per-operator rows and shuffle
    bytes after execution — the programmatic Spark-UI numbers a perf
    harness gates on (bytes shuffled, not wall clock)."""
    from etl_pipeline_sam_gov_spark.plans.introspect import (
        execution_metrics,
        total_metric,
    )

    df = fresh("q1_pricing_summary")(spark, sf_dir)
    df.collect()  # the DataFrame's OWN QueryExecution must run
    metrics = execution_metrics(df)
    assert metrics, "no metrics collected"
    assert total_metric(df, "numOutputRows") > 0
    assert total_metric(df, "shuffleBytesWritten") > 0  # the groupBy


def test_aqe_replans_smj_to_broadcast_at_runtime(spark, sf_dir):
    """With a deliberately huge static estimate (no stats, inflated
    threshold disabled) AQE must still convert the sort-merge join to a
    broadcast join at RUNTIME once the filtered side's true size is
    known — the runtime replan that saves the shuffle at 100 TB when
    a filter is far more selective than the optimizer guessed."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    # static broadcast OFF, adaptive broadcast ON: the only way this
    # join can broadcast is an AQE runtime conversion. The build side
    # is an aggregation whose post-filter size is unknowable statically
    # (and whose shuffle stage materializes BEFORE the join stage is
    # planned — raw scan-side filters get no such replan point).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
    try:
        tiny = (
            t["orders"]
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 100)  # empty at runtime; unknown statically
        )
        joined = t["lineitem"].join(
            tiny, F.col("l_orderkey") == F.col("o_orderkey")
        )
        joined.collect()  # finalize THIS DataFrame's adaptive plan
        s = plan(joined)
        assert "isFinalPlan=true" in s
        final = s.split("== Initial Plan ==")[0]
        initial = s.split("== Initial Plan ==")[1]
        assert "SortMergeJoin" in initial, "static plan was already broadcast"
        assert "BroadcastHashJoin" in final, "AQE did not replan to broadcast"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_point_in_time_join_is_keyed_not_nested_loop(spark, sf_dir):
    """The PIT feature join must key on the entity (hash/sort-merge
    join on user_id) with the validity band as a RESIDUAL predicate —
    a nested-loop over the band would be quadratic per entity."""
    s = plan(fresh("join_point_in_time_features")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert ("BroadcastHashJoin" in s) or ("SortMergeJoin" in s)


def test_sample_k_per_group_uses_window_group_limit(spark, sf_dir):
    """rnk <= k must plan as WindowGroupLimit: per-task k-row heaps,
    so the shuffle carries candidate heads, never whole groups."""
    s = plan(fresh("curate_sample_k_per_group")(spark, sf_dir))
    assert "WindowGroupLimit" in s


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    """The per-type percentile bounds are group-count-sized — they must
    broadcast back onto the event scan, never shuffle it."""
    s = plan(fresh("fn_winsorize_values")(spark, sf_dir))
    assert "BroadcastHashJoin" in s


def test_no_cartesian_product_anywhere_unless_declared(spark, sf_dir):
    """Registry-wide sweep: a CartesianProduct node is only legal where
    the SEMANTICS are a cross product (the explicit cross-join query).
    Everywhere else — joins, ANN, dedup, interval/range shapes — a
    cartesian means a broadcast hint or an equi-key got lost and the
    operator just became O(n*m) at scale."""
    DECLARED_CROSS = {"join_cross_region_status"}
    offenders = []
    for name in sorted(eng.QUERIES):
        if name in DECLARED_CROSS:
            continue
        try:
            s = plan(fresh(name)(spark, sf_dir))
        except Exception as e:  # streaming memory-sink reruns etc.
            raise AssertionError(f"{name} failed to plan: {e}") from e
        if "CartesianProduct" in s:
            offenders.append(name)
    assert not offenders, f"unintended cartesian products: {offenders}"


def test_weighted_sample_is_topk_not_full_sort(spark, sf_dir):
    """The A-ES global top-k must plan as TakeOrderedAndProject —
    per-partition k-row heaps; a full sort (or a global Window over
    the corpus) would serialize the whole table through one task."""
    s = plan(fresh("curate_weighted_sample_aes")(spark, sf_dir))
    assert "TakeOrderedAndProject" in s


def test_timeline_walks_use_running_frames_only(spark, sf_dir):
    """Spark executes a [current row, unbounded following] window frame
    by re-aggregating the remaining rows PER ROW — O(n²) in partition
    length (measured 2.46s → 0.59s at sf0.1 when resample's forward
    walk moved to the reversed-sort running frame). Pin that no
    merged-timeline walk plans an unbounded-following aggregate frame;
    the forward direction must ride the reversed sort instead."""
    for name in ("resample_interpolate_hourly", "asof_join_nearest"):
        s = plan(fresh(name)(spark, sf_dir)).lower()
        assert "unboundedfollowing" not in s, (
            f"{name} plans an unbounded-following frame (quadratic "
            "per-partition execution) — use the reversed-sort running "
            "frame"
        )
        assert s.count("window [") >= 2  # both walk directions present


def test_skyline_is_window_based_not_quadratic(spark, sf_dir):
    """The skyline must plan as the two-stage window filter — the
    oracle's NOT-EXISTS dominance formulation would appear here as a
    nested-loop self-join, which is O(n²) and dies at scale."""
    s = plan(fresh("join_skyline_parts")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert "Window" in s


def test_dq_suite_scans_each_table_once(spark, sf_dir):
    """All constraint metrics for a table must ride ONE aggregation
    over one scan — a per-constraint rescan pattern multiplies 100 TB
    scan cost by the number of checks."""
    # physical_plan, not the formatted text: EXPLAIN FORMATTED spells
    # scans "Scan parquet", so counting "FileScan parquet" there is 0.
    s = plan(fresh("dq_constraint_suite")(spark, sf_dir))
    assert s.count("FileScan parquet") <= 3  # orders + lineitem + customer


def test_health_report_scans_events_three_times(spark, sf_dir):
    """The composed health report reads events three times: the PSI
    bounds, the PSI band cells and the gap report. Its PSI row sums the
    per-band terms it shares with dq_psi_value_drift; composing that
    whole query instead brings in its contrib ⨯ psum self-join, a
    second pass over the cells (five events scans)."""
    import re

    s = plan(fresh("pipeline_health_report")(spark, sf_dir))
    assert len(re.findall(r"FileScan parquet [^\n]*/events\.parquet", s)) == 3


def test_kcore_rounds_reuse_persisted_relations(spark, sf_dir):
    """Each peel round must read persisted relations (the cached edge
    list for its decrement semi-join and the previous round's tracked
    degree vector), not replay the whole peel lineage — the same
    flat-lineage discipline the PageRank loop pins."""
    from etl_pipeline_sam_gov_spark.operators.graph import KC_ROUNDS

    s = plan(fresh("graph_kcore_membership")(spark, sf_dir))
    assert s.count("InMemoryTableScan") >= KC_ROUNDS


def test_audio_stats_is_shuffle_free(spark, sf_dir):
    """synthesize → chunk-walk decode → per-channel stats all happen in
    the scan stage (per-doc aggregation inside the kernel); an Exchange
    would mean raw samples crossed the network."""
    s = plan(fresh("multimodal_audio_channel_stats")(spark, sf_dir))
    assert "Exchange" not in s


def test_join_hints_pin_strategies(spark, sf_dir):
    """sql_join_hints must plan the customer joins as SortMergeJoin
    (MERGE hint outranks broadcast-eligibility) while the region dim
    still builds a BroadcastHashJoin — proving strategy hints reach
    the physical planner rather than being parsed and dropped."""
    s = plan(fresh("sql_join_hints")(spark, sf_dir))
    assert "SortMergeJoin" in s
    assert "BroadcastHashJoin" in s


def test_no_corpus_scale_global_windows(spark, sf_dir):
    """Round-5 gate (VERDICT r04 'What's wrong' #4): a Window with no
    partition spec whose subtree reaches a corpus FileScan without an
    intervening aggregation/limit funnels the corpus through ONE
    partition. ml_lift_gain_table slipped through the old auditor with
    exactly that shape; after its distributed-rank rewrite the gate
    must be clean over every query family the r04 ADVICE named plus
    the fixed ones. (tools/plan_audit.py enforces it registry-wide;
    this test pins the representative set so a regression fails fast.)"""
    import sys as _sys, os as _os

    _sys.path.insert(
        0, _os.path.join(_os.path.dirname(_os.path.dirname(__file__)), "tools")
    )
    from plan_audit import DECLARED_BOUNDED_GLOBAL_WINDOW, corpus_global_windows

    names = [
        "ml_lift_gain_table",  # the r04 offender, now distributed-rank
        "ml_kmeans_embeddings",  # init rank now rides the LIMIT-K side
        "ab_mann_whitney_u",  # ADVICE-named: midranks on value domain
        "ab_propensity_caliper_match",  # ADVICE-named: score-domain walk
        "ts_theil_sen_trend",  # ADVICE-named: day-grain slope medians
        "ml_reliability_bins_quality",  # the sanctioned banding pattern
        "join_skyline_parts",  # declared exception: bounded by design
    ]
    for name in names:
        hits = corpus_global_windows(fresh(name)(spark, sf_dir))
        if name in DECLARED_BOUNDED_GLOBAL_WINDOW:
            continue
        assert hits == 0, (
            f"{name}: {hits} no-partition Window(s) over an unaggregated "
            "corpus relation — single-partition funnel at scale"
        )


def _jobs_launched(spark, thunk):
    """(Spark jobs ``thunk`` launched, its return value)."""
    first = jobs_started(spark)
    out = thunk()
    return jobs_started(spark) - first, out


def _run(df):
    """Canonical rows of ``df``, executed through a fresh Dataset as a
    prepared plan's caller must (a second action on the same object
    would reuse its executed plan)."""
    out = df.select("*")
    return canonical_rows(out.columns, [tuple(r) for r in out.collect()])


#: SLOT_QUERIES entries whose build launches Spark jobs, so they are
#: never served prepared: the co_supply family counts while it builds
#: and cluster components checkpoints every label round.
JOB_BUILDING_SLOT_QUERIES = {
    "dedup_cluster_components",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "graph_label_propagation",
}


def _job_free_slot_queries():
    from test_slot_reinvocation import SLOT_QUERIES

    assert JOB_BUILDING_SLOT_QUERIES <= set(SLOT_QUERIES)
    return [n for n in SLOT_QUERIES if n not in JOB_BUILDING_SLOT_QUERIES]


def _composed_queries():
    """Queries whose builder calls another registered query through
    the registry (``_Q[...]``)."""
    import inspect

    return [
        name
        for name, fn in eng.QUERIES.items()
        if "_Q[" in inspect.getsource(fresh(name))
    ]


#: Queries whose every execution runs the same number of Spark jobs,
#: so a hit must run exactly the cold call's. For most plans AQE's
#: count varies from one execution of the same object to the next (the
#: stages it plans depend on which stage finishes first):
#: graph_bfs_hops ran 32 or 33 jobs, ml_classifier_scorecard 25-31.
FIXED_JOB_COUNT = {
    "graph_pagerank_bipartite",
    "text_bpe_merge_rounds",
    "reco_item_lift",
    "dedup_minhash_lsh",
    "curate_pack_token_shards",
}


def _assert_served_prepared(spark, sf_dir, name, cold, hits=1):
    """``cold``, a prepared plan that has not run yet, runs; then each
    of ``hits`` repeat calls returns the same object, reads no loaded
    cache right after the call (a slot query reads some), and executes
    with the cold call's rows and, for FIXED_JOB_COUNT, its job
    count."""
    from test_slot_reinvocation import SLOT_QUERIES

    cold_jobs, cold_rows = _jobs_launched(spark, lambda: _run(cold))
    assert cold_rows, f"{name}: no rows"
    for i in range(hits):
        hit = eng.QUERIES[name](spark, sf_dir)
        assert hit is cold, f"{name}: prepared-plan cache miss"
        loads = cache_loads(hit)
        assert loads or name not in SLOT_QUERIES, f"{name} reads no cache"
        assert not any(loads), (
            f"{name} hit {i + 1}: reads loaded cache entries {loads} "
            "before any action — it would measure the previous call's "
            "blocks"
        )
        hit_jobs, hit_rows = _jobs_launched(spark, lambda: _run(hit))
        assert name not in FIXED_JOB_COUNT or hit_jobs == cold_jobs, (
            f"{name} hit {i + 1}: ran {hit_jobs} jobs, the cold call "
            f"{cold_jobs}"
        )
        assert hit_rows == cold_rows, (
            f"{name} hit {i + 1}: the prepared plan drifted from its "
            "cold call"
        )


def _gate_queries():
    """The prepared-plan gate's queries: every bench headliner, every
    job-free slot query and every composed query."""
    from bench import HEADLINE

    composed = _composed_queries()
    assert len(composed) >= 7, composed
    return {*HEADLINE, *_job_free_slot_queries(), *composed}


def _partition_gate(spark, sf_dir):
    """(stateless, stateful) gate queries: whether a fresh build's
    optimized plan references an InMemoryRelation, its own persists or
    plan-identical ones."""
    load_tables(spark, sf_dir)
    stateless, stateful = set(), set()
    for name in _gate_queries():
        # Fresh builder: the optimizedPlan must be judged against the
        # query's OWN persists, not a cached DataFrame's history.
        df = fresh(name)(spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        (stateful if "InMemoryRelation" in opt else stateless).add(name)
    return stateless, stateful


def _assert_gate(spark, sf_dir, names):
    """Each of ``names`` builds without a Spark job and is served
    prepared (``_assert_served_prepared``) from a cold plan."""
    from etl_pipeline_sam_gov_spark.registry import _PLAN_CACHE

    # The first read of a table in a session infers its parquet schema
    # with a Spark job; that is table loading, not plan building.
    load_tables(spark, sf_dir)
    for name in sorted(names):
        n, _ = _jobs_launched(spark, lambda: fresh(name)(spark, sf_dir))
        assert n == 0, f"{name}: the build launched {n} Spark job(s)"
        # Start from a cold prepared plan: an earlier test may have
        # executed the cached object itself.
        _PLAN_CACHE.get(spark, {}).pop((name, sf_dir), None)
        _assert_served_prepared(spark, sf_dir, name, eng.QUERIES[name](spark, sf_dir))


def test_plan_cached_queries_exist_and_hold_no_state(spark, sf_dir):
    """The gate queries whose plan holds no persisted relation are
    served prepared and stay stateless: once the gate ran them, with
    their stateful siblings' caches registered, a new action on each
    prepared plan still binds no cache entry, so bench measures the query, not Spark's
    block cache. Also pins that every gate query is registered (typo
    guard) and that every slot query among them reads a cache."""
    from test_slot_reinvocation import SLOT_QUERIES

    gate = _gate_queries()
    missing = gate - set(eng.QUERIES)
    assert not missing, f"gate names not in registry: {sorted(missing)}"
    stateless, stateful = _partition_gate(spark, sf_dir)
    assert stateless and stateful, (stateless, stateful)
    assert gate & set(SLOT_QUERIES) <= stateful, sorted(
        gate & set(SLOT_QUERIES) & stateless
    )
    _assert_gate(spark, sf_dir, stateless)
    for name in sorted(stateless):
        loads = cache_loads(eng.QUERIES[name](spark, sf_dir))
        assert loads == [], (
            f"{name}: the prepared plan binds cache entries {loads} — "
            "repeat invocations would measure the block cache"
        )


def test_rearmed_prepared_plans_rebuild_their_caches(spark, sf_dir):
    """The gate queries whose plan reads persisted relations (job-free
    slot queries, and composed queries and headliners that read slot
    caches) build without a Spark job and are served prepared: the raw
    build launches no job; a repeat call returns the same object;
    right after that hit no cache the plan reads is loaded
    (slots.rearm swapped in fresh entries, a composed query's
    components' included), so the hit cannot read the previous call's
    blocks; and executing the hit returns the cold call's rows, and
    for FIXED_JOB_COUNT runs its job count."""
    _, stateful = _partition_gate(spark, sf_dir)
    _assert_gate(spark, sf_dir, stateful)


def test_composed_query_hits_rearm_their_components(spark, sf_dir):
    """reco_eval_coverage_novelty reads reco_item_lift's cached basket
    through a prepared-plan hit of that component. Its own hits must
    re-arm those caches too, on every hit, not only the first."""
    from etl_pipeline_sam_gov_spark.registry import _PLAN_CACHE

    name = "reco_eval_coverage_novelty"
    load_tables(spark, sf_dir)
    _run(eng.QUERIES["reco_item_lift"](spark, sf_dir))
    _PLAN_CACHE.get(spark, {}).pop((name, sf_dir), None)
    cold = eng.QUERIES[name](spark, sf_dir)
    assert cache_loads(cold), f"{name} reads no cache"
    _assert_served_prepared(spark, sf_dir, name, cold, hits=2)


def test_concurrent_builds_memoize_sound_plans(spark, sf_dir):
    """More threads than cores build and hit composed queries and their
    components at once, under a short switch interval. Builds and hits
    take turns, so no thread releases a slot another thread's build is
    recording, and every plan memoized meanwhile is sound: its hits
    re-arm every cache it reads."""
    import sys
    import threading

    from etl_pipeline_sam_gov_spark.registry import _PLAN_CACHE

    names = [
        "reco_item_lift",
        "reco_eval_coverage_novelty",
        "ab_sequential_sprt",
        "pipeline_experiment_report",
    ]
    load_tables(spark, sf_dir)
    for name in names:
        _PLAN_CACHE.get(spark, {}).pop((name, sf_dir), None)
    errors = []

    def work(k):
        try:
            for i in range(4):
                eng.QUERIES[names[(k + i) % len(names)]](spark, sf_dir)
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(k,)) for k in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a build hung"
    assert not errors, errors
    for name in names:
        _assert_served_prepared(spark, sf_dir, name, eng.QUERIES[name](spark, sf_dir))


def test_job_launching_builds_are_not_memoized(spark, sf_dir):
    """A build that launches a Spark job is rebuilt on every call."""
    load_tables(spark, sf_dir)
    for name in (
        "sql_session_variables",
        "stream_tumbling_hourly",
        *sorted(JOB_BUILDING_SLOT_QUERIES),
    ):
        n, first = _jobs_launched(spark, lambda: eng.QUERIES[name](spark, sf_dir))
        assert n > 0, f"{name}: the build launched no job"
        assert eng.QUERIES[name](spark, sf_dir) is not first, name


def test_first_read_of_a_table_delays_the_prepared_plan(spark, sf_dir, tmp_path):
    """The first build over tables this session has not read runs their
    schema jobs, so it is not memoized; the next build is."""
    import shutil

    d = str(tmp_path / "sf")
    shutil.copytree(sf_dir, d)
    first = eng.QUERIES["q1_pricing_summary"](spark, d)
    second = eng.QUERIES["q1_pricing_summary"](spark, d)
    assert second is not first
    assert eng.QUERIES["q1_pricing_summary"](spark, d) is second


def test_cache_loads_binds_as_a_new_action(spark, sf_dir):
    """cache_loads reads the cache entries a new action would bind now,
    not the ones the object first bound: after a sibling re-armed the
    shared caches and loaded them, the prepared object reads them
    loaded."""
    load_tables(spark, sf_dir)
    lift = eng.QUERIES["reco_item_lift"](spark, sf_dir)
    assert not any(cache_loads(lift))
    _run(eng.QUERIES["reco_eval_coverage_novelty"](spark, sf_dir))
    loads = cache_loads(lift)
    assert loads and all(loads), f"reco_item_lift reads {loads}"


#: Each prepared slot query → the queries that release its slot key,
#: persist plan-identical relations under a key of their own, or re-arm
#: it as a composed query's component.
REARM_SIBLINGS = {
    "dedup_minhash_lsh": [
        "dedup_cluster_components",
        "dedup_crossdoc_ngrams",
        "dedup_minhash_estimate_quality",
    ],
    "dedup_crossdoc_ngrams": ["dedup_minhash_estimate_quality"],
    "dedup_ngram_jaccard": ["dedup_shingle_containment"],
    "dedup_semantic_clusters": [
        "dedup_semantic_capped",
        "pipeline_training_corpus_v2",
    ],
    "text_bpe_merge_rounds": ["text_bpe_encode"],
    "curate_pack_token_shards": ["pipeline_training_corpus"],
    "reco_item_lift": ["reco_eval_coverage_novelty"],
    "ab_sequential_sprt": ["pipeline_experiment_report"],
}


def test_rearmed_prepared_plans_interleave_with_slot_siblings(spark, sf_dir):
    """A sibling's build releases the re-armed query's relations (or
    shares them through CacheManager's plan equality); interleaving
    the two must leave both outputs stable."""
    for name, sibs in REARM_SIBLINGS.items():
        want = _run(eng.QUERIES[name](spark, sf_dir))
        for sib in sibs:
            sib_want = _run(eng.QUERIES[sib](spark, sf_dir))
            assert _run(eng.QUERIES[name](spark, sf_dir)) == want, (
                f"{name} drifted after {sib}"
            )
            assert _run(eng.QUERIES[sib](spark, sf_dir)) == sib_want, (
                f"{sib} drifted after {name}"
            )


#: The six iterative queries of the benchmark's registry_mix.
ITERATIVE_MIX = [
    "graph_pagerank_bipartite", "text_bpe_merge_rounds", "reco_item_lift",
    "dedup_minhash_lsh", "curate_pack_token_shards",
    "ml_logistic_regression_gd",
]


def test_iterative_mix_keeps_persisted_rdds_bounded(spark, sf_dir):
    """ITERATIVE_MIX, two passes in one session: the second pass may
    not leave more persisted RDDs than the first (each slot holds one
    call's relations). Spark tracks persisted RDDs weakly, so a
    collected leftover of an earlier test can only lower the second
    count."""
    counts = []
    for _ in range(2):
        for name in ITERATIVE_MIX:
            _run(eng.QUERIES[name](spark, sf_dir))
        counts.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    assert counts[1] <= counts[0], f"persisted RDDs grew across passes: {counts}"


def test_repeated_iterative_mix_compiles_no_code(spark, sf_dir):
    """ITERATIVE_MIX after one warm pass: a second pass finds every
    generated class in Spark's codegen cache. At the default cache
    size (100 entries) the mix's ~180 classes evicted each other and
    every pass recompiled ~200 of them. The bound leaves room for one
    class pair (driver and task class loaders compile separately) of a
    plan AQE has not produced before."""
    for name in ITERATIVE_MIX:
        _run(eng.QUERIES[name](spark, sf_dir))
    before, _ = codegen_stats(spark)
    for name in ITERATIVE_MIX:
        _run(eng.QUERIES[name](spark, sf_dir))
    compiled = codegen_stats(spark)[0] - before
    assert compiled <= 5, f"a repeated pass compiled {compiled} classes"


def test_salted_join_hot_lane_is_populated_and_bounded(spark, sf_dir):
    """The partial-salt join splits on a hash-sample heavy-hitter
    sketch. Two vacuous failure modes are pinned here: an EMPTY hot
    set (the salted lane never executes, so oracle parity proves only
    the cold lane) and a hot set so large the 'partial' salt degrades
    back into whole-table replication."""
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60
    from etl_pipeline_sam_gov_spark.operators.relational import (
        SKEW_HOT_MIN,
        SKEW_SAMPLE_MOD,
    )

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    hot = (
        li.filter(
            _spark_hash60(
                F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber"))
            )
            % SKEW_SAMPLE_MOD
            == 0
        )
        .groupBy("l_orderkey")
        .count()
        .filter(F.col("count") >= SKEW_HOT_MIN)
        .count()
    )
    total_keys = li.select("l_orderkey").distinct().count()
    assert hot > 0, "hot-key sketch nominated nothing: salted lane untested"
    assert hot < total_keys * 0.05, (
        f"hot set is {hot}/{total_keys} keys — partial salting has "
        "degraded into near-whole-table replication"
    )


def test_fuzzy_match_blocks_are_high_entropy(spark, sf_dir):
    """The ER block key must spread candidates: the round-5 regression
    (blocking on the LEADING digits of a zero-padded id — 'block
    00000' holding the whole table) made the blocked join secretly
    all-pairs. Gate: no block may hold more than 1% of customers, so
    candidate volume stays ~|dirty| x small-constant."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    n = cust.count()
    biggest = (
        cust.groupBy(F.substring("c_name", 12, 7).alias("blk"))
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert biggest <= max(2, n * 0.01), (
        f"largest fuzzy-match block holds {biggest}/{n} customers"
    )


def test_no_low_cardinality_window_funnels(spark, sf_dir):
    """Round-5 gate, the SPRT lesson generalized: a Window keyed ONLY
    by a 2-5-value column (arm, event_type, lang, source) holds a
    constant fraction of the corpus in one task — invisible to the
    stress battery (time stays linear; parallelism is capped at |key|).
    The three real members were restructured (SPRT two-phase prefix,
    level-shift overlap replication, exp-KS boundary carry); this pins
    them plus the sanctioned WindowGroupLimit shape."""
    import sys as _sys, os as _os

    _sys.path.insert(
        0, _os.path.join(_os.path.dirname(_os.path.dirname(__file__)), "tools")
    )
    from plan_audit import (
        DECLARED_BOUNDED_LOW_CARD_WINDOW,
        low_card_corpus_windows,
    )

    names = [
        "ab_sequential_sprt",  # was PARTITION BY arm — half the corpus
        "ts_level_shift_detect",  # was per-type frames over raw events
        "ts_exponential_fit_ks",  # was per-type lag + gap prefix
        "curate_sample_k_per_group",  # rank<=k: WindowGroupLimit bounds it
        "window_topk_docs_per_lang",  # same sanctioned shape
        "markov_event_transitions",  # per-type window rides |types|² cells
        "ml_isotonic_calibration",  # PAV now two-level, no per-source group
    ]
    for name in names:
        hits = low_card_corpus_windows(fresh(name)(spark, sf_dir))
        if name in DECLARED_BOUNDED_LOW_CARD_WINDOW:
            continue
        assert hits == 0, (
            f"{name}: {hits} Window(s) keyed only by a low-cardinality "
            "column over an unaggregated corpus relation — |key|-task "
            "funnel at scale"
        )


def test_no_corpus_nested_loop_joins(spark, sf_dir):
    """Round-6 gate (VERDICT r05 #1/#2): a CONDITIONED
    BroadcastNestedLoopJoin with both sides at corpus scale does the
    same O(n·m) candidate work as a CartesianProduct but escaped the
    old auditor's Cartesian count — exactly how
    multimodal_image_dhash_pairs' OR-of-band-equalities join (which
    Catalyst cannot hash-partition) survived a '0 flags' audit while
    its docstring claimed banding. Pins the fixed offender, the shape
    it was rewritten into, representative bounded-build BNLJ users,
    and the declared exact baselines."""
    import sys as _sys, os as _os

    _sys.path.insert(
        0, _os.path.join(_os.path.dirname(_os.path.dirname(__file__)), "tools")
    )
    from plan_audit import DECLARED_CORPUS_BNLJ, corpus_nested_loop_joins

    names = [
        "multimodal_image_dhash_pairs",  # the r05 offender, now band equi-join
        "dedup_simhash_blocked",  # the shape it was rewritten into
        "join_range_quantity_bands",  # bounded build side (band table)
        "ann_lsh_bucketed_topk",  # the declared-baseline's scale twin
        "ann_bruteforce_topk",  # declared O(Q×N) ground-truth baseline
        "ann_recall_at_k",  # declared: consumes brute-force ground truth
    ]
    for name in names:
        hits = corpus_nested_loop_joins(fresh(name)(spark, sf_dir))
        if name in DECLARED_CORPUS_BNLJ:
            continue
        assert hits == 0, (
            f"{name}: {hits} corpus×corpus nested-loop join(s) — "
            "all-pairs candidate work at scale"
        )
    # The fixed offender must ALSO plan zero plain BNLJ nodes of any
    # kind: its banding claim is now checkable, keep it checked.
    s = plan(fresh("multimodal_image_dhash_pairs")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    # r7 exact-duplicate representative collapse (VERDICT r06 #1): the
    # band join must consume the DISTINCT-hash relation — a pre-join
    # HashAggregate keyed by the 4 hash bands computing min(doc_id).
    # Without it, k identical images cost 4·k² band-join candidates.
    import re

    assert re.search(
        r"HashAggregate\(keys=\[b0#\d+L, b1#\d+L, b2#\d+L, b3#\d+L\], "
        r"functions=\[min\(doc_id#\d+L\)\]",
        s,
    ), "dHash plan lost its pre-band-join distinct-hash collapse"


def test_approx_topk_combine_survives_aqe_off(spark, sf_dir):
    """Spark 4.1's ApproxTopKCombine MatchErrors serializing the
    partial buffer of an EMPTY input partition (item type still null).
    AQE masks it by coalescing the tiny post-accumulate shuffle; the
    query must not depend on that — the bounded sketch relation is
    coalesced to one partition explicitly (found by a full-registry
    AQE-off sweep; every other query passed unchanged)."""
    fn = fresh("agg_approx_topk_merge")
    original = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        assert fn(spark, sf_dir).count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", original)


def test_approx_topk_combine_survives_empty_corpus(spark, sf_dir, tmp_path):
    """The all-empty case hits the same ApproxTopKCombine serialize
    crash even with the explicit coalesce — zero input rows leave the
    single combine partition empty. The unioned sentinel sketch keeps
    it non-empty; an empty corpus must yield an empty result, not a
    MatchError (an empty day/slice is routine at real scale)."""
    import os

    import pyarrow.parquet as pq

    d = str(tmp_path / "sf_empty")
    os.makedirs(d)
    sch = pq.read_schema(os.path.join(sf_dir, "events.parquet"))
    pq.write_table(sch.empty_table(), os.path.join(d, "events.parquet"))
    assert fresh("agg_approx_topk_merge")(spark, d).count() == 0


#: Queries whose slot caches persist with AQE free to re-optimize their
#: output partitioning (the r10 A/B winners). Each declares
#: ``adaptive=True`` at its slot call sites; every other slot cache
#: persists with it off.
ADAPTIVE_SLOT_QUERIES = {
    "graph_pagerank_bipartite",
    "graph_personalized_pagerank",
    "graph_bfs_hops",
    "graph_label_propagation",
    "graph_random_walks",
    "reco_item_lift",
    "text_bpe_merge_rounds",
    "graph_hits_scores",
    "graph_clustering_coefficient",
    "graph_triangle_count",
    "dedup_cluster_components",
}


def _release_all(spark):
    """Empty every slot. CacheManager serves a plan-identical entry
    another slot still holds, with that entry's pin, so a build checks
    its own call sites' pins only from empty slots."""
    from etl_pipeline_sam_gov_spark.slots import _frames, release, session_slots

    for key, value in list(session_slots(spark).items()):
        if _frames(value):
            release(spark, key)


def _pins_of(spark, keys):
    """The pin of every relation in the slots ``keys``."""
    from etl_pipeline_sam_gov_spark.slots import _frames, session_slots

    slots = session_slots(spark)
    return [
        p for key in keys for df in _frames(slots.get(key)) for p in cache_pins(df)
    ]


def test_cached_plan_aqe_partitioning_pinned_per_query(spark, sf_dir):
    """Every slot cache keeps the AQE pin its query declares — true for
    ADAPTIVE_SLOT_QUERIES, false for the rest — read from each cache
    entry, not from session conf: on a fresh build, on a prepared-plan
    hit (which re-arms the slots under their recorded pin), and for a
    query built before another one and executed after it. No call
    leaves the pin in the live session conf."""
    from test_slot_reinvocation import SLOT_QUERIES

    from etl_pipeline_sam_gov_spark.slots import (
        PIN_CONF,
        session_slots,
        written_since,
    )

    assert ADAPTIVE_SLOT_QUERIES <= set(SLOT_QUERIES)
    default = spark.conf.get(PIN_CONF)
    assert default == "false"
    load_tables(spark, sf_dir)
    written = {}
    for name in SLOT_QUERIES:
        _release_all(spark)
        before = dict(session_slots(spark))
        df = fresh(name)(spark, sf_dir)
        assert spark.conf.get(PIN_CONF) == default, f"{name} left the pin set"
        written[name] = [key for key, *_ in written_since(spark, before)]
        want = name in ADAPTIVE_SLOT_QUERIES
        pins = _pins_of(spark, written[name])
        assert pins and set(pins) == {want}, f"{name}: slot pins {pins}"
        assert set(cache_pins(df)) <= {want}, name

    # Prepared-plan hits: a sibling with another pin (or the live
    # conf flipped) in between must not change the re-armed pins.
    for name in _job_free_slot_queries():
        want = name in ADAPTIVE_SLOT_QUERIES
        eng.QUERIES[name](spark, sf_dir)
        if name == "dedup_minhash_lsh":
            eng.QUERIES["dedup_cluster_components"](spark, sf_dir)
        flipped = "false" if want else "true"
        spark.conf.set(PIN_CONF, flipped)
        try:
            eng.QUERIES[name](spark, sf_dir)
            assert spark.conf.get(PIN_CONF) == flipped
        finally:
            spark.conf.set(PIN_CONF, default)
        pins = _pins_of(spark, written[name])
        assert pins and set(pins) == {want}, f"{name} hit: slot pins {pins}"

    # Build A, build B with the other pin, then execute A: A's caches
    # keep A's pin (ADVICE #1: a session-conf pin would follow B).
    for a, b in (
        ("graph_pagerank_bipartite", "graph_kcore_membership"),
        ("graph_kcore_membership", "graph_hits_scores"),
    ):
        want = a in ADAPTIVE_SLOT_QUERIES
        df_a = eng.QUERIES[a](spark, sf_dir)
        eng.QUERIES[b](spark, sf_dir)
        assert spark.conf.get(PIN_CONF) == default
        assert _run(df_a)
        pins = _pins_of(spark, written[a])
        assert pins and set(pins) == {want}, f"{a} after {b}: slot pins {pins}"

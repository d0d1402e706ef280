"""Second-invocation stability for every slot-caching operator.

Iterative/persisting operators stash their persisted relations in
per-session cache slots (slots.session_slots) and must release the
PREVIOUS invocation's entries BEFORE persisting plan-identical new
ones — Spark's CacheManager matches entries by logical-plan equality,
so an unpersist AFTER the new persist evicts the new entry too, and a
missed release leaks cached relations across invocations. A
single-pass oracle sweep never exercises the release path; this suite
invokes each slot-caching query TWICE in one session and requires
identical canonical output (and, transitively, no exception from
unpersisting a relation the second build is already using).
"""

from __future__ import annotations

import pytest

import etl_pipeline_sam_gov_spark as eng
from etl_pipeline_sam_gov_spark.plans.introspect import cache_loads
from oracle_compare import canonical_rows

#: Slot queries whose build launches no Spark job, so a fresh build
#: must plan over unloaded caches only. (Every job-free slot query is
#: also served prepared; tests/test_plans.py gates its hits.)
JOB_FREE_SLOT_QUERIES = [
    "dedup_ngram_jaccard",       # "shingles"
    "dedup_shingle_containment",  # "shingles"
    "dedup_simhash_blocked",     # "simhash"
    "dedup_semantic_clusters",   # "semdedup"
    "dedup_semantic_capped",     # "semdedup"
    "multimodal_image_dhash_pairs",  # "dhash"
]

#: Every registry query whose module stashes persisted relations in
#: session_slots (grep: `session_slots(spark)[...] =`, `slot_persist`).
SLOT_QUERIES = [
    "reco_item_lift",            # "basket"
    "graph_bfs_hops",            # "bfs"
    "dedup_cluster_components",  # "minhash", "cc_labels"
    "dedup_minhash_lsh",         # "minhash"
    "dedup_crossdoc_ngrams",     # "minhash"
    "dedup_minhash_estimate_quality",  # "minhash"
    "graph_hits_scores",         # "hits"
    "ml_isotonic_calibration",   # "iso"
    "graph_kcore_membership",    # "kcore"
    "graph_label_propagation",   # "co_supply" (r9 shared family slot)
    "graph_pagerank_bipartite",  # "pagerank"
    "ml_pca_power_iteration",    # "pca"
    "graph_personalized_pagerank",  # "ppr"
    "graph_random_walks",        # "rw"
    "text_bpe_merge_rounds",     # ("bpe", "merges")
    "text_bpe_encode",           # ("bpe", "encode")
    "curate_pack_token_shards",  # ("pack", group_cols)
    "graph_triangle_count",      # "co_supply" (r9 shared family slot)
    "graph_clustering_coefficient",  # "co_supply" (pop-first, r9)
    # r8 exchange-reuse-independence persists (range fan-outs; mwu is
    # absent — it uses deterministic width_bucket slicing instead):
    "ab_sequential_sprt",        # "sprt"
    "ab_propensity_caliper_match",  # "caliper"
    "ts_level_shift_detect",     # "lshift"
    "ts_exponential_fit_ks",     # ("ks", two relations)
    "ml_lift_gain_table",        # "lift"
    *JOB_FREE_SLOT_QUERIES,
]


def _fresh(name):
    """Bypass the prepared-plan cache: each call must run the build's
    own release-before-persist path (the re-armed prepared plans are
    gated in tests/test_plans.py)."""
    return eng.QUERIES[name].__wrapped__


@pytest.mark.parametrize("name", SLOT_QUERIES)
def test_second_invocation_is_identical(spark, sf_dir, name):
    d1 = _fresh(name)(spark, sf_dir)
    r1 = canonical_rows(d1.columns, [tuple(r) for r in d1.collect()])
    d2 = _fresh(name)(spark, sf_dir)
    r2 = canonical_rows(d2.columns, [tuple(r) for r in d2.collect()])
    assert r1 == r2 and len(r1) > 0, f"{name} drifted on re-invocation"


def test_co_supply_family_interleaving(spark, sf_dir):
    """tri/cc/lp persist plan-identical scored/edges relations; they
    share ONE slot ("co_supply", r9) precisely because CacheManager has
    no refcounting — with per-query slots, running a sibling evicted
    relations another slot still referenced. Interleave the family and
    require each member's output stable across the round-trip."""
    fam = [
        "graph_triangle_count",
        "graph_clustering_coefficient",
        "graph_label_propagation",
    ]
    first = {}
    for name in fam:
        d = _fresh(name)(spark, sf_dir)
        first[name] = canonical_rows(
            d.columns, [tuple(r) for r in d.collect()]
        )
    for name in reversed(fam):
        d = _fresh(name)(spark, sf_dir)
        again = canonical_rows(d.columns, [tuple(r) for r in d.collect()])
        assert again == first[name] and len(again) > 0, (
            f"{name} drifted under family interleaving"
        )


@pytest.mark.parametrize("name", JOB_FREE_SLOT_QUERIES)
def test_repeat_build_reads_no_previous_blocks(spark, sf_dir, name):
    """After one executed call, a second build must plan over fresh,
    unloaded cache entries. A persist no slot released would find the
    first call's plan-identical entry, already loaded, and the second
    call would read its blocks."""
    _fresh(name)(spark, sf_dir).collect()
    loads = cache_loads(_fresh(name)(spark, sf_dir))
    assert loads and not any(loads), f"{name} reads loaded caches: {loads}"


def test_label_propagation_releases_previous_labels(spark):
    """propagate_min_labels keeps its final labels persisted in the
    "cc_labels" slot; the next call releases them."""
    from pyspark import StorageLevel

    from etl_pipeline_sam_gov_spark.operators.dedup import propagate_min_labels

    def edges(a, b):
        return spark.createDataFrame([(a, b), (b, a)], "a long, b long")

    first = propagate_min_labels(edges(0, 1))
    assert first.storageLevel != StorageLevel.NONE
    second = propagate_min_labels(edges(5, 6))
    assert first.storageLevel == StorageLevel.NONE, "first labels still cached"
    assert {r["label"] for r in second.collect()} == {5}

"""Results must not lean on ReuseExchange/ReuseSubquery (r8 lane).

A range slicing samples its partition boundaries with an rdd.id-seeded
sampler, so two physical executions of the same logical range exchange
can split differently. Any query that reads a `_pid`-stamped range
relation from TWO plan branches (local ranks + per-slice subtotals)
therefore only agreed with its oracle because ReuseExchange
deduplicated the two executions into one — a physical-plan
optimization, not a guarantee. The r8 sweep with
`spark.sql.exchange.reuse=false` caught three real mismatches
(ab_sequential_sprt ±10 on n_total, ts_level_shift_detect 16 rows
short, ts_exponential_fit_ks KS statistic 2501 vs 0.012) and three
latent twins of the same shape. All eight queries below either persist
the stamped relation, which pins ONE execution's boundaries regardless
of reuse, or stamp `_pid` as a pure function of the row
(functions/prefix.py states the contract); these tests run each
against its oracle with reuse disabled so the class cannot recur.
"""

from __future__ import annotations

import pytest

from oracle_compare import compare

import etl_pipeline_sam_gov_spark as eng

FIXED = [
    "ab_sequential_sprt",
    "ab_mann_whitney_u",
    "ab_propensity_caliper_match",
    "ts_level_shift_detect",
    "ts_exponential_fit_ks",
    "ml_lift_gain_table",
    "curate_pack_token_shards",
    "pipeline_training_corpus",
]


def _fresh(name):
    fn = eng.QUERIES[name]
    return getattr(fn, "__wrapped__", fn)


@pytest.mark.parametrize("name", FIXED)
def test_oracle_match_with_exchange_reuse_off(spark, sf_dir, name):
    conf = spark.conf
    before = (
        conf.get("spark.sql.exchange.reuse", "true"),
        conf.get("spark.sql.execution.reuseSubquery", "true"),
    )
    conf.set("spark.sql.exchange.reuse", "false")
    conf.set("spark.sql.execution.reuseSubquery", "false")
    try:
        compare(spark, name, _fresh(name), eng.ORACLES[name], sf_dir)
    finally:
        conf.set("spark.sql.exchange.reuse", before[0])
        conf.set("spark.sql.execution.reuseSubquery", before[1])

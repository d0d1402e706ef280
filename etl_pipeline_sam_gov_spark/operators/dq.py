"""Data-quality operators: a Deequ/Great-Expectations-style constraint
suite and a batch snapshot diff (CDC between two table versions).

The reference's only quality control is the null-drop at
``lambda_function.py:86`` and runtime logging (SURVEY.md §5.1). A
production pipeline at 100 TB runs declarative expectation suites over
every landed snapshot and publishes per-constraint pass/fail metrics;
the CDC diff is the batch dual of the streaming upsert lane
(``streaming/jobs.py`` stream_cdc_upsert): given yesterday's and
today's snapshots, emit the minimal insert/update/delete delta.

Scale shape: the whole constraint suite is ONE aggregation per scanned
table (all constraint metrics ride the same partial-combined agg — no
per-constraint rescans), plus one broadcast dim join for the
referential check; the wide 1-row result explodes into constraint rows
driver-free. The snapshot diff is a single full-outer join on the
snapshot key — at 100 TB both sides are date-partitioned snapshots
bucketed on the key, so the join is co-located (tests/test_bucketing.py
demonstrates the zero-exchange layout on this very shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.tables import load_tables

#: (constraint, target, threshold) — metric >= threshold passes. The
#: suite deliberately includes a failing check (o_custkey is NOT unique
#: in orders: customers reorder) so both verdicts are exercised.
_ORDERS_THRESHOLDS = {
    "row_count_min": 1.0,
    "completeness_o_custkey": 1.0,
    "uniqueness_o_orderkey": 1.0,
    "uniqueness_o_custkey": 1.0,  # deliberately failing
    "accepted_values_o_orderstatus": 1.0,
    "referential_o_custkey_in_customer": 1.0,
}
_LINEITEM_THRESHOLDS = {
    "completeness_l_shipdate": 1.0,
    "non_negative_l_quantity": 1.0,
    "range_l_discount": 0.95,
}


def _suite_rows(wide: DataFrame, rows: list[tuple[str, str, float]]) -> DataFrame:
    """Explode a 1-row wide metric relation into (constraint, target,
    metric, threshold, passed) rows — same driver-free unpivot as
    agg_table_profile."""
    arr = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.lit(target).alias("target"),
                F.round(F.col(name), 6).alias("metric"),
                F.lit(thr).alias("threshold"),
                (F.round(F.col(name), 6) >= F.lit(thr)).alias("passed"),
            )
            for name, target, thr in rows
        ]
    )
    return wide.select(F.explode(arr).alias("r")).select("r.*")


@query(
    "dq_constraint_suite",
    oracle=f"""
WITH o AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS nn_cust,
         CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS nd_ok,
         CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS nd_ck,
         CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS DOUBLE) AS ok_status,
         CAST(SUM(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS ri_ok
  FROM orders LEFT JOIN customer c ON orders.o_custkey = c.c_custkey
),
l AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS nn_ship,
         CAST(SUM(CASE WHEN l_quantity >= 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nonneg_qty,
         CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 0.11 THEN 1 ELSE 0 END) AS DOUBLE) AS disc_in
  FROM lineitem
),
m AS (
  SELECT 'row_count_min' AS check_name, 'orders' AS target,
         round(CASE WHEN n >= 1 THEN 1.0 ELSE 0.0 END, 6) AS metric,
         {_ORDERS_THRESHOLDS["row_count_min"]} AS threshold FROM o
  UNION ALL
  SELECT 'completeness_o_custkey', 'orders', round(nn_cust / n, 6),
         {_ORDERS_THRESHOLDS["completeness_o_custkey"]} FROM o
  UNION ALL
  SELECT 'uniqueness_o_orderkey', 'orders', round(nd_ok / n, 6),
         {_ORDERS_THRESHOLDS["uniqueness_o_orderkey"]} FROM o
  UNION ALL
  SELECT 'uniqueness_o_custkey', 'orders', round(nd_ck / n, 6),
         {_ORDERS_THRESHOLDS["uniqueness_o_custkey"]} FROM o
  UNION ALL
  SELECT 'accepted_values_o_orderstatus', 'orders', round(ok_status / n, 6),
         {_ORDERS_THRESHOLDS["accepted_values_o_orderstatus"]} FROM o
  UNION ALL
  SELECT 'referential_o_custkey_in_customer', 'orders', round(ri_ok / n, 6),
         {_ORDERS_THRESHOLDS["referential_o_custkey_in_customer"]} FROM o
  UNION ALL
  SELECT 'completeness_l_shipdate', 'lineitem', round(nn_ship / n, 6),
         {_LINEITEM_THRESHOLDS["completeness_l_shipdate"]} FROM l
  UNION ALL
  SELECT 'non_negative_l_quantity', 'lineitem', round(nonneg_qty / n, 6),
         {_LINEITEM_THRESHOLDS["non_negative_l_quantity"]} FROM l
  UNION ALL
  SELECT 'range_l_discount', 'lineitem', round(disc_in / n, 6),
         {_LINEITEM_THRESHOLDS["range_l_discount"]} FROM l
)
SELECT check_name, target, metric,
       CAST(threshold AS DOUBLE) AS threshold,
       metric >= threshold AS passed
FROM m
""",
)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (Deequ-style ``VerificationSuite``):
    completeness, uniqueness, accepted-values, value-range, and
    referential-integrity constraints evaluated in ONE aggregation per
    table, emitting (constraint, target, metric, threshold, passed).

    Every metric is a ratio of exact integer counts (division of exact
    ints is a deterministic IEEE double; ``round(…, 6)`` then pins the
    rendered value on both engines). The uniqueness check on
    ``o_custkey`` fails by construction — customers reorder — so the
    suite exercises both verdicts. Referential integrity joins the
    customer key dim onto the orders scan (un-hinted per the broadcast
    policy — planner-broadcast at small SF, AQE-demotable at scale);
    no constraint triggers a second scan of its table."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem", "customer"))
    # No broadcast pin on the customer key dim: customer is a
    # scale-class table per the hint policy (test_plans gates this) —
    # the planner broadcasts it from size estimates at small SF and
    # AQE can demote to a shuffle join at 100 TB.
    cust_keys = t["customer"].select(F.col("c_custkey").alias("ck")).distinct()
    o_wide = (
        t["orders"]
        .join(cust_keys, F.col("o_custkey") == F.col("ck"), "left")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("o_custkey").isNotNull().cast("int"))
            .cast("double")
            .alias("nn_cust"),
            F.count_distinct(F.col("o_orderkey")).cast("double").alias("nd_ok"),
            F.count_distinct(F.col("o_custkey")).cast("double").alias("nd_ck"),
            F.sum(F.col("o_orderstatus").isin("O", "F", "P").cast("int"))
            .cast("double")
            .alias("ok_status"),
            F.sum(F.col("ck").isNotNull().cast("int")).cast("double").alias("ri_ok"),
        )
        .select(
            F.when(F.col("n") >= 1, F.lit(1.0)).otherwise(F.lit(0.0)).alias(
                "row_count_min"
            ),
            (F.col("nn_cust") / F.col("n")).alias("completeness_o_custkey"),
            (F.col("nd_ok") / F.col("n")).alias("uniqueness_o_orderkey"),
            (F.col("nd_ck") / F.col("n")).alias("uniqueness_o_custkey"),
            (F.col("ok_status") / F.col("n")).alias("accepted_values_o_orderstatus"),
            (F.col("ri_ok") / F.col("n")).alias("referential_o_custkey_in_customer"),
        )
    )
    l_wide = (
        t["lineitem"]
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("l_shipdate").isNotNull().cast("int"))
            .cast("double")
            .alias("nn_ship"),
            F.sum((F.col("l_quantity") >= 0).cast("int"))
            .cast("double")
            .alias("nonneg_qty"),
            F.sum(F.col("l_discount").between(0, 0.11).cast("int"))
            .cast("double")
            .alias("disc_in"),
        )
        .select(
            (F.col("nn_ship") / F.col("n")).alias("completeness_l_shipdate"),
            (F.col("nonneg_qty") / F.col("n")).alias("non_negative_l_quantity"),
            (F.col("disc_in") / F.col("n")).alias("range_l_discount"),
        )
    )
    o_rows = _suite_rows(
        o_wide,
        [(k, "orders", v) for k, v in _ORDERS_THRESHOLDS.items()],
    )
    l_rows = _suite_rows(
        l_wide,
        [(k, "lineitem", v) for k, v in _LINEITEM_THRESHOLDS.items()],
    )
    return o_rows.unionByName(l_rows)


#: Deterministic derivation of the two snapshot versions from orders:
#: v_old drops keys ≡ 3 (mod 10) (rows inserted since), marks keys ≡ 0
#: (mod 7) with a stale price (rows updated since); v_new drops keys
#: ≡ 5 (mod 13) (rows deleted since). The +10.00 price delta is exact
#: in binary doubles (2-decimal base price + integer), so both engines
#: compare bit-identical values.
_CDC_INS_MOD, _CDC_INS_REM = 10, 3
_CDC_UPD_MOD = 7
_CDC_DEL_MOD, _CDC_DEL_REM = 13, 5
_CDC_PRICE_DELTA = 10.0


@query(
    "dq_snapshot_diff_cdc",
    oracle=f"""
WITH v_old AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {_CDC_UPD_MOD} = 0
              THEN o_totalprice + {_CDC_PRICE_DELTA}
              ELSE o_totalprice END AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % {_CDC_INS_MOD} <> {_CDC_INS_REM}
),
v_new AS (
  SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS status
  FROM orders WHERE o_orderkey % {_CDC_DEL_MOD} <> {_CDC_DEL_REM}
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS action,
       o.price AS old_price,
       n.price AS new_price
FROM v_old o
FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.price <> n.price
""",
)
def dq_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC: diff two snapshot versions of the orders table into
    the minimal insert/update/delete delta — the batch dual of the
    streaming upsert (stream_cdc_upsert applies such a delta; this
    query DERIVES one from two full snapshots, the pattern behind
    snapshot-based replication into a lakehouse table).

    One full-outer join on the snapshot key; unchanged rows (the vast
    majority) are filtered out post-join. At 100 TB both snapshot
    versions are bucketed on the key so the join plans with zero
    exchanges (tests/test_bucketing.py pins that layout); the delta is
    typically <1% of rows, so the output write is small."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    k = F.col("o_orderkey")
    v_old = orders.filter(k % _CDC_INS_MOD != _CDC_INS_REM).select(
        k.alias("old_key"),
        F.when(k % _CDC_UPD_MOD == 0, F.col("o_totalprice") + _CDC_PRICE_DELTA)
        .otherwise(F.col("o_totalprice"))
        .alias("old_price"),
    )
    v_new = orders.filter(k % _CDC_DEL_MOD != _CDC_DEL_REM).select(
        k.alias("new_key"), F.col("o_totalprice").alias("new_price")
    )
    joined = v_old.join(
        v_new, F.col("old_key") == F.col("new_key"), "full_outer"
    )
    return (
        joined.filter(
            F.col("old_key").isNull()
            | F.col("new_key").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .select(
            F.coalesce(F.col("old_key"), F.col("new_key")).alias("o_orderkey"),
            F.when(F.col("old_key").isNull(), F.lit("insert"))
            .when(F.col("new_key").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("action"),
            F.when(F.col("old_key").isNotNull(), F.col("old_price")).alias(
                "old_price"
            ),
            F.when(F.col("new_key").isNotNull(), F.col("new_price")).alias(
                "new_price"
            ),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

KANON_K = 5  # minimum group size for a quasi-identifier combination


@query(
    "dq_k_anonymity_audit",
    oracle=f"""
WITH g AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(floor(c_acctbal / 1000) AS INT) AS acctbal_band,
         CAST(COUNT(*) AS BIGINT) AS group_size
  FROM customer GROUP BY c_mktsegment, c_nationkey, 3
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN group_size < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_risky_groups,
         CAST(SUM(CASE WHEN group_size < {KANON_K} THEN group_size ELSE 0 END) AS BIGINT)
           AS n_risky_rows,
         CAST(MIN(group_size) AS BIGINT) AS k_anonymity
  FROM g
)
SELECT g.c_mktsegment, CAST(g.c_nationkey AS INT) AS c_nationkey,
       g.acctbal_band, g.group_size, t.k_anonymity,
       g.group_size < {KANON_K} AS risky,
       t.n_risky_groups, t.n_risky_rows
FROM g CROSS JOIN t
WHERE g.group_size < {KANON_K}
""",
)
def dq_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier triple (market
    segment, nation, $1k account-balance band — the banded continuous
    column is what makes real QI sets dangerous, and what keeps the
    audit non-degenerate at every fixture scale): every combination
    whose group is smaller than k
    is a re-identification risk — the privacy-compliance check run
    before releasing or joining "anonymized" data (Sweeney 2002). The
    companion to the masking lane (fn_mask_customer): masking hides
    direct identifiers; this audits whether the REMAINING columns
    still single people out.

    Output: each risky group with its size, alongside the table-wide
    k-anonymity (the min group size) and risk totals (a 1-row scalar
    relation riding a broadcast cross join — the scalar ride-along
    pattern). One partial-combined groupBy of the table; the audit
    relation is |segments × nations|-sized regardless of row count."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    g = cust.groupBy(
        "c_mktsegment",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("acctbal_band"),
    ).agg(F.count(F.lit(1)).alias("group_size"))
    t = g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("group_size") < KANON_K).cast("bigint")).alias(
            "n_risky_groups"
        ),
        F.sum(
            F.when(F.col("group_size") < KANON_K, F.col("group_size")).otherwise(
                F.lit(0)
            )
        ).alias("n_risky_rows"),
        F.min("group_size").alias("k_anonymity"),
    )
    return (
        g.crossJoin(F.broadcast(t))
        .filter(F.col("group_size") < KANON_K)
        .select(
            "c_mktsegment",
            "c_nationkey",
            "acctbal_band",
            "group_size",
            "k_anonymity",
            (F.col("group_size") < KANON_K).alias("risky"),
            "n_risky_groups",
            "n_risky_rows",
        )
    )


# ---------------------------------------------------------------------------
# Snapshot profile-drift detection
# ---------------------------------------------------------------------------

#: Relative-drift threshold: a metric moving more than 1% between
#: snapshot versions is flagged.
DRIFT_REL_TOL = 0.01


@query(
    "dq_profile_drift",
    oracle=f"""
WITH v_old AS (
  SELECT * FROM lineitem WHERE l_orderkey % {_CDC_INS_MOD} <> {_CDC_INS_REM}
),
p_old AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_disc
  FROM v_old
),
p_new AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_disc
  FROM lineitem
),
m AS (
  SELECT 'row_count' AS metric,
         CAST(o.n AS DOUBLE) AS old_value, CAST(nw.n AS DOUBLE) AS new_value
  FROM p_old o CROSS JOIN p_new nw
  UNION ALL
  SELECT 'mean_l_quantity', o.mean_qty, nw.mean_qty FROM p_old o CROSS JOIN p_new nw
  UNION ALL
  SELECT 'mean_l_extendedprice', o.mean_price, nw.mean_price FROM p_old o CROSS JOIN p_new nw
  UNION ALL
  SELECT 'mean_l_discount', o.mean_disc, nw.mean_disc FROM p_old o CROSS JOIN p_new nw
)
SELECT metric,
       round(old_value, 6) AS old_value,
       round(new_value, 6) AS new_value,
       round(abs(new_value - old_value) / abs(old_value), 6) AS rel_drift,
       round(abs(new_value - old_value), 6)
         > {DRIFT_REL_TOL} * round(abs(old_value), 6) AS drifted
FROM m
""",
)
def dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical profile drift between two snapshot versions: compare
    row counts and column means of the previous landing (the CDC
    lane's v_old derivation) against today's, flag metrics moving more
    than {DRIFT_REL_TOL:.0%} — the data-drift monitor that catches an
    upstream source silently changing distribution BEFORE a model
    trains on it (the monitoring companion to dq_constraint_suite:
    constraints check invariants, drift checks trends).

    One aggregation per version (exact decimal sums rendered once as
    doubles); the comparison relation is metrics-count-sized. The
    drift boolean compares the SAME float expression on both engines
    (single multiply vs abs-difference — deterministic bits, the
    ab_test_proportions contract)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]

    def profile(df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_qty"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("mean_price"),
            (
                F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_disc"),
        )

    p_old = profile(li.filter(F.col("l_orderkey") % _CDC_INS_MOD != _CDC_INS_REM))
    p_new = profile(li)
    o = p_old.select(
        F.col("n").cast("double").alias("o_n"),
        F.col("mean_qty").alias("o_qty"),
        F.col("mean_price").alias("o_price"),
        F.col("mean_disc").alias("o_disc"),
    )
    nw = p_new.select(
        F.col("n").cast("double").alias("n_n"),
        F.col("mean_qty").alias("n_qty"),
        F.col("mean_price").alias("n_price"),
        F.col("mean_disc").alias("n_disc"),
    )
    wide = o.crossJoin(F.broadcast(nw))
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("metric"),
                F.col(oc).alias("old_value"),
                F.col(nc).alias("new_value"),
            )
            for name, oc, nc in (
                ("row_count", "o_n", "n_n"),
                ("mean_l_quantity", "o_qty", "n_qty"),
                ("mean_l_extendedprice", "o_price", "n_price"),
                ("mean_l_discount", "o_disc", "n_disc"),
            )
        ]
    )
    flat = wide.select(F.explode(rows).alias("r")).select("r.*")
    return flat.select(
        "metric",
        F.round("old_value", 6).alias("old_value"),
        F.round("new_value", 6).alias("new_value"),
        F.round(
            F.abs(F.col("new_value") - F.col("old_value"))
            / F.abs(F.col("old_value")),
            6,
        ).alias("rel_drift"),
        (
            F.round(F.abs(F.col("new_value") - F.col("old_value")), 6)
            > DRIFT_REL_TOL * F.round(F.abs(F.col("old_value")), 6)
        ).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Candidate-key discovery (uniqueness profiling)
# ---------------------------------------------------------------------------

#: Candidate key expressions probed over ``orders`` — (label, DuckDB
#: expression); the Spark side derives its own expressions in lockstep.
_KEY_CANDIDATES = (
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderdate", "strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')"),
    ("o_orderstatus", "o_orderstatus"),
    (
        "o_custkey+o_orderdate",
        "CAST(o_custkey AS VARCHAR) || '|' || strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')",
    ),
    (
        "o_custkey+o_orderdate+o_totalprice",
        "CAST(o_custkey AS VARCHAR) || '|' || strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')"
        " || '|' || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)",
    ),
)


@query(
    "dq_key_discovery",
    oracle=f"""
WITH stats AS (
  SELECT COUNT(*) AS n_rows,
         {", ".join(f"COUNT(DISTINCT {expr}) AS d{i}" for i, (_, expr) in enumerate(_KEY_CANDIDATES))}
  FROM orders
)
{" UNION ALL ".join(
    f"SELECT '{label}' AS candidate, CAST(n_rows AS BIGINT) AS n_rows,"
    f" CAST(d{i} AS BIGINT) AS n_distinct,"
    f" round(CAST(d{i} AS DOUBLE) / n_rows, 6) AS uniqueness,"
    f" d{i} = n_rows AS is_key FROM stats"
    for i, (label, _) in enumerate(_KEY_CANDIDATES)
)}
""",
)
def dq_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery (the uniqueness half of schema
    profiling, cf. Abedjan et al.'s data-profiling survey): probe a
    fixed lattice of column combinations over ``orders`` for exact
    uniqueness — which single columns and composites functionally
    identify a row — feeding primary-key inference, MERGE key
    selection, and the dq suite's uniqueness expectations. ALL
    candidates evaluate in ONE aggregation pass (Spark plans
    multi-distinct aggregates via a single expand + two-phase
    aggregate — still one scan of the fact table, no per-candidate
    rescans); composite candidates serialize through a delimited
    rendering identical on both engines (dates as ISO strings, money
    as exact cents). The result unpivots to one verdict row per
    candidate with its uniqueness ratio (one exact int division)."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    date_s = F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd")
    spark_exprs = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_orderdate": date_s,
        "o_orderstatus": F.col("o_orderstatus"),
        "o_custkey+o_orderdate": F.concat_ws(
            "|", F.col("o_custkey").cast("string"), date_s
        ),
        "o_custkey+o_orderdate+o_totalprice": F.concat_ws(
            "|",
            F.col("o_custkey").cast("string"),
            date_s,
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .cast("string"),
        ),
    }
    stats = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.count_distinct(spark_exprs[label]).alias(f"d{i}")
            for i, (label, _) in enumerate(_KEY_CANDIDATES)
        ],
    )
    rows = None
    for i, (label, _) in enumerate(_KEY_CANDIDATES):
        one = stats.select(
            F.lit(label).alias("candidate"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col(f"d{i}").cast("bigint").alias("n_distinct"),
            F.round(
                F.col(f"d{i}").cast("double") / F.col("n_rows"), 6
            ).alias("uniqueness"),
            (F.col(f"d{i}") == F.col("n_rows")).alias("is_key"),
        )
        rows = one if rows is None else rows.unionAll(one)
    return rows


# ---------------------------------------------------------------------------
# Cross-table value reconciliation (order headers vs line detail)
# ---------------------------------------------------------------------------


@query(
    "dq_reconcile_order_totals",
    oracle="""
WITH calc AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(round(l_extendedprice * (1 + l_tax) * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS calc_c
  FROM lineitem GROUP BY 1
),
recon AS (
  SELECT o.o_orderstatus,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_c,
         c.calc_c,
         c.calc_c IS NULL AS missing_lines,
         ABS(CAST(round(o.o_totalprice * 100) AS BIGINT)
             - COALESCE(c.calc_c, 0)) AS gap_c
  FROM orders o LEFT JOIN calc c ON o.o_orderkey = c.l_orderkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN missing_lines THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_lines,
       CAST(SUM(CASE WHEN NOT missing_lines AND gap_c * 100 <= total_c
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
       CAST(SUM(CASE WHEN NOT missing_lines AND gap_c * 100 > total_c
                     AND gap_c * 10 <= total_c
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10pct,
       CAST(SUM(CASE WHEN NOT missing_lines AND gap_c * 10 > total_c
                THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond_10pct,
       CAST(MAX(gap_c) AS BIGINT) AS max_gap_cents,
       round(CAST(SUM(COALESCE(calc_c, 0)) AS DOUBLE)
             / CAST(SUM(total_c) AS DOUBLE), 6) AS recon_ratio
FROM recon GROUP BY o_orderstatus
""",
)
def dq_reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table value reconciliation: does the order header's
    total match the detail recomputed from its lines
    (Σ price·(1+tax)·(1−discount))? — the financial-close /
    double-entry dq check that referential integrity alone can't
    express (keys can match while the MONEY doesn't). Emits a
    per-status reconciliation profile: orders with no detail lines,
    tolerance bands (within 1% / 10% / beyond — spelled as integer
    cross-multiplications ``gap·100 ≤ total``, no float division per
    row), the worst gap, and the aggregate recomputed/stated ratio
    (ONE division of two exact cent sums). On this synthetic corpus
    the header totals are drawn independently of the lines, so the
    report quantifies a fully-broken invariant — exactly what it
    exists to surface.

    Scale shape: one partial-combined rollup of the detail table keyed
    on the order key, one LEFT join to headers on that key (at 100 TB:
    both sides co-partitioned on orderkey — the dq suite's RI-join
    shape), one tiny per-status aggregation. Per-line money rounds to
    cents through the SAME left-associated expression on both engines,
    so every gap is an exact integer."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    calc = (
        t["lineitem"]
        .select(
            "l_orderkey",
            F.round(
                F.col("l_extendedprice")
                * (1 + F.col("l_tax"))
                * (1 - F.col("l_discount"))
                * 100,
                0,
            )
            .cast("bigint")
            .alias("line_c"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("line_c").cast("bigint").alias("calc_c"))
    )
    recon = (
        t["orders"]
        .select(
            "o_orderstatus",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("total_c"),
        )
        .join(calc, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .select(
            "o_orderstatus",
            "total_c",
            "calc_c",
            F.col("calc_c").isNull().alias("missing_lines"),
            F.abs(
                F.col("total_c") - F.coalesce(F.col("calc_c"), F.lit(0))
            ).alias("gap_c"),
        )
    )
    n_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    ok = ~F.col("missing_lines")
    gap, tot = F.col("gap_c"), F.col("total_c")
    return recon.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        n_if(F.col("missing_lines")).alias("n_missing_lines"),
        n_if(ok & (gap * 100 <= tot)).alias("n_within_1pct"),
        n_if(ok & (gap * 100 > tot) & (gap * 10 <= tot)).alias(
            "n_within_10pct"
        ),
        n_if(ok & (gap * 10 > tot)).alias("n_beyond_10pct"),
        F.max("gap_c").cast("bigint").alias("max_gap_cents"),
        F.round(
            F.sum(F.coalesce(F.col("calc_c"), F.lit(0))).cast("double")
            / F.sum("total_c").cast("double"),
            6,
        ).alias("recon_ratio"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (fabricated-data / anomaly screening)
# ---------------------------------------------------------------------------

#: Benford's-law expected first-digit shares, as FIXED literals (not
#: engine-computed log10) so both engines start from bit-identical
#: doubles; 6-decimal precision matches the output rounding.
_BENFORD_P = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}

#: Chi-square critical value at df=8, alpha=0.05.
_BENFORD_CHI2_CRIT = 15.507


@query(
    "dq_benford_first_digit",
    oracle=f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
  WHERE o_totalprice > 0
),
digits AS (
  SELECT c // CAST(power(10, len(CAST(c AS VARCHAR)) - 1) AS BIGINT) AS d
  FROM cents
),
obs AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY d),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digits),
bp(d, p) AS (VALUES {", ".join(f"({d}, {p})" for d, p in _BENFORD_P.items())}),
contrib AS (
  SELECT bp.d AS digit, COALESCE(o.n_obs, 0) AS n_obs, t.n,
         CAST(bp.p AS DOUBLE) AS p,
         (COALESCE(o.n_obs, 0) - t.n * CAST(bp.p AS DOUBLE))
           * (COALESCE(o.n_obs, 0) - t.n * CAST(bp.p AS DOUBLE))
           / (t.n * CAST(bp.p AS DOUBLE)) AS x2
  FROM bp LEFT JOIN obs o ON bp.d = o.d CROSS JOIN tot t
),
x2tot AS (SELECT SUM(x2) AS chi2 FROM contrib)
SELECT CAST(c.digit AS INT) AS digit, c.n_obs,
       round(CAST(c.n_obs AS DOUBLE) / c.n, 6) + 0.0 AS obs_share,
       c.p AS benford_p,
       round(c.x2, 6) + 0.0 AS chi2_contrib,
       round(t.chi2, 6) + 0.0 AS chi2_total,
       round(t.chi2, 6) > {_BENFORD_CHI2_CRIT} AS reject_benford
FROM contrib c CROSS JOIN x2tot t
""",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the forensic
    data-quality screen for fabricated or truncated numeric columns
    (synthetic uniform generators, price floors, unit mix-ups all bend
    the first-digit curve). Emits per-digit observed vs Benford share,
    each digit's chi-square contribution, and the global chi-square
    with an alpha=0.05 verdict riding along. (The synthetic uniform
    price generator here SHOULD reject — the audit certifies the
    detector fires, not that the data is Benford.)

    First digits come from INTEGER cents (leading digit of the decimal
    string length), never from log10 on doubles — libm rounding at
    power-of-10 boundaries is not an engine contract; expected shares
    are fixed literals for the same reason. One scan collapses to the
    9-row digit relation; scalars ride broadcast cross joins.

    Scale shape: partial-combined count per digit — the audit costs
    one scan regardless of table size."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    c = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.expr(
            "CAST(round(o_totalprice * 100) AS BIGINT) div "
            "CAST(power(10, length(CAST(CAST(round(o_totalprice * 100) "
            "AS BIGINT) AS STRING)) - 1) AS BIGINT)"
        ).alias("d")
    )
    obs = digits.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    tot = digits.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bp = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_P.items()], "d INT, p DOUBLE"
    )
    nob = F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
    dev = nob - F.col("n") * F.col("p")
    contrib = (
        F.broadcast(bp)
        .join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            nob.alias("n_obs"),
            "n",
            "p",
            (dev * dev / (F.col("n") * F.col("p"))).alias("x2"),
        )
    )
    x2tot = contrib.agg(F.sum("x2").alias("chi2"))
    return contrib.crossJoin(F.broadcast(x2tot)).select(
        F.col("digit").cast("int").alias("digit"),
        "n_obs",
        (F.round(F.col("n_obs").cast("double") / F.col("n"), 6) + F.lit(0.0)).alias(
            "obs_share"
        ),
        F.col("p").alias("benford_p"),
        (F.round("x2", 6) + F.lit(0.0)).alias("chi2_contrib"),
        (F.round("chi2", 6) + F.lit(0.0)).alias("chi2_total"),
        (F.round("chi2", 6) > _BENFORD_CHI2_CRIT).alias("reject_benford"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit over every FK edge of the schema
# ---------------------------------------------------------------------------

#: (edge label, child table, fk column, parent table, pk column)
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _fk_edge_sql(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{label}' AS fk_edge,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(COUNT(DISTINCT c.{fk}) AS BIGINT) AS n_fk_values,
       CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) + 0.0 AS orphan_ratio
FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}"""


@query(
    "dq_referential_orphans",
    oracle="\nUNION ALL\n".join(_fk_edge_sql(*e) for e in _FK_EDGES),
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every FK edge of the schema,
    count child rows, distinct FK values, and orphans (child rows whose
    parent key is absent) — the first report a warehouse loader runs
    after ingest, because silent orphans turn every downstream inner
    join into row loss that no single query can see. A clean TPC-H
    derivation audits all-zero orphans; the value is the law itself
    (and a loader that drops a parent partition flips the row red).

    Scale shape (r9): each edge first collapses the child to its
    DISTINCT-FK relation (one map-side-combined groupBy carrying the
    per-key child-row count), then left-joins THAT to the PK parent —
    the RI join moves |distinct keys| rows instead of the raw fact
    (lineitem edges: ~4x fewer rows at the 16x stress step), the
    countDistinct expand disappears (n_fk_values is a plain count of
    the grouped relation), and orphaned CHILD rows are recovered
    exactly as sum(per-key count) over unmatched keys. The nation/
    region/part/supplier parents broadcast under AQE, the orders
    parent shuffles on its natural key. The 7 one-row scorecards union
    into a constant-size report; nothing ever collects to the driver."""
    names = {n for _, child, _, parent, _ in _FK_EDGES for n in (child, parent)}
    t = load_tables(spark, sf_dir, tuple(sorted(names)))
    parts = []
    for label, child, fk, parent, pk in _FK_EDGES:
        keys = (
            t[child]
            .select(F.col(fk).alias("fk"))
            .groupBy("fk")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        joined = keys.join(
            t[parent].select(F.col(pk).alias("pk")),
            F.col("fk") == F.col("pk"),
            "left",
        )
        # A NULL fk matches no parent (pk comes back NULL), so its
        # child rows count as orphans — identical to the raw-fact left
        # join; count("fk") skips the NULL group exactly like the old
        # countDistinct did.
        orphan = F.sum(
            F.when(F.col("pk").isNull(), F.col("cnt")).otherwise(F.lit(0))
        )
        n_child = F.sum("cnt")
        parts.append(
            joined.agg(
                F.lit(label).alias("fk_edge"),
                n_child.cast("bigint").alias("n_child"),
                F.count("fk").cast("bigint").alias("n_fk_values"),
                orphan.cast("bigint").alias("n_orphans"),
                (
                    F.round(orphan.cast("double") / n_child, 6)
                    + F.lit(0.0)
                ).alias("orphan_ratio"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Missing-hour gap report over the event stream's hourly grid
# ---------------------------------------------------------------------------


@query(
    "dq_missing_hours_report",
    oracle="""
WITH minutes AS (
  SELECT DISTINCT epoch_us(ts) // 60000000 AS m FROM events
),
flagged AS (
  SELECT m, lead(m) OVER (ORDER BY m) AS nxt FROM minutes
)
SELECT CAST(m + 1 AS BIGINT) AS gap_start_minute,
       CAST(nxt - 1 AS BIGINT) AS gap_end_minute,
       CAST(nxt - m - 1 AS BIGINT) AS n_missing_minutes
FROM flagged WHERE nxt - m > 1
""",
)
def dq_missing_hours_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-gap report: every run of consecutive MISSING minutes
    in the event stream's minute grid, as (start, end, length) spans —
    minute grain because it is the freshness-SLA unit AND because it
    stays non-degenerate at every fixture scale (the hourly grid is
    fully dense from sf0.1 up, which would certify this query only as
    an empty result — the zero-row-audit lesson) —
    the first thing an on-call engineer asks when a dashboard flatlines
    ("did traffic stop, or did the pipeline?"), and the data-arrival
    complement of resample_interpolate_hourly (which papers over gaps;
    this one reports them for alerting). Gaps-and-islands via one
    lead() over the distinct-minute relation.

    Exactness: minutes are exact integer epoch-minute indices; spans
    are integer arithmetic. Scale shape: the corpus collapses to
    distinct minutes in one partial-combined pass; the lead window
    runs on the calendar-BOUNDED minute axis (the STL-family
    convention), and the output is at most one row per gap."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    minutes = ev.select(
        F.expr("unix_micros(ts) div 60000000").alias("m")
    ).distinct()
    flagged = minutes.select(
        "m", F.lead("m").over(W.orderBy("m")).alias("nxt")
    )
    return flagged.filter(F.col("nxt") - F.col("m") > 1).select(
        (F.col("m") + 1).cast("bigint").alias("gap_start_minute"),
        (F.col("nxt") - 1).cast("bigint").alias("gap_end_minute"),
        (F.col("nxt") - F.col("m") - 1).cast("bigint").alias("n_missing_minutes"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index between the two halves of the stream
# ---------------------------------------------------------------------------


def _psi_band_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(band, n_ref, n_cur, psi_c): the events value distribution split
    at the stream's time midpoint into power-of-two cents bands, with
    each band's add-one-smoothed PSI term. The half totals come from a
    single-partition window over the ≤64 band rows, so the cells stay
    one plan branch. Shared by dq_psi_value_drift and
    pipeline_health_report so the two cannot drift apart."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    bounds = ev.agg(
        F.expr(
            "min(ts) + make_dt_interval(0, 0, 0, "
            "CAST((unix_micros(max(ts)) - unix_micros(min(ts))) div 2000000 "
            "AS INT))"
        ).alias("mid")
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    cells = (
        ev.filter(F.col("value") > 0)
        .crossJoin(F.broadcast(bounds))
        .select(
            F.when(F.col("ts") <= F.col("mid"), 0).otherwise(1).alias("half"),
            (F.length(F.bin(cents)) - 1).cast("int").alias("band"),
        )
        .groupBy("band")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ref"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cur"),
        )
    )
    w_all = W.partitionBy(F.lit(1))
    p_cur = (F.col("n_cur") + 1).cast("double") / (F.sum("n_cur").over(w_all) + 1)
    p_ref = (F.col("n_ref") + 1).cast("double") / (F.sum("n_ref").over(w_all) + 1)
    return cells.select(
        "band",
        "n_ref",
        "n_cur",
        ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_c"),
    )


@query(
    "dq_psi_value_drift",
    oracle="""
WITH bounds AS (
  SELECT MIN(ts) + CAST(datediff('second', MIN(ts), MAX(ts)) // 2 AS INT)
           * INTERVAL 1 SECOND AS mid
  FROM events
),
banded AS (
  SELECT CASE WHEN e.ts <= b.mid THEN 0 ELSE 1 END AS half,
         CAST(len(bin(CAST(round(e.value * 100) AS BIGINT))) - 1 AS INT)
           AS band
  FROM events e CROSS JOIN bounds b
  WHERE e.value > 0
),
cells AS (
  SELECT band,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM banded GROUP BY band
),
tot AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr, CAST(SUM(n_cur) AS BIGINT) AS tc
  FROM cells
),
contrib AS (
  SELECT c.band, c.n_ref, c.n_cur,
         ((c.n_cur + 1)::DOUBLE / (t.tc + 1) - (c.n_ref + 1)::DOUBLE / (t.tr + 1))
           * ln(((c.n_cur + 1)::DOUBLE / (t.tc + 1))
                / ((c.n_ref + 1)::DOUBLE / (t.tr + 1))) AS psi_c
  FROM cells c CROSS JOIN tot t
),
psum AS (SELECT SUM(psi_c) AS psi FROM contrib)
SELECT c.band, c.n_ref, c.n_cur,
       round(c.psi_c, 6) + 0.0 AS psi_contrib,
       round(p.psi, 6) + 0.0 AS psi_total,
       round(p.psi, 6) > 0.2 AS drifted
FROM contrib c CROSS JOIN psum p
""",
)
def dq_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream's value distribution — the model-monitoring
    drift metric (credit-risk lineage: PSI < 0.1 stable, > 0.2 act)
    that complements the KS test (ts_ks_test_pairwise compares two
    TYPES; PSI compares the SAME population across time) and the
    moment-based dq_profile_drift (PSI reads the whole banded shape).
    Bands are power-of-two cents buckets (the exponential-histogram
    convention — data-independent edges, so the banding itself cannot
    drift); both margins get add-one smoothing so an empty band
    contributes a finite, deterministic penalty instead of ±inf.

    Determinism: band counts are exact int64; each band's PSI term is
    a fixed shape of two smoothed-share divisions, one subtraction,
    one ln (round(6) absorbs libm ulps — the transcendental
    convention), and the total sums ≤64 such terms. Scale shape: one
    scan collapses to (half, band) cells; everything else lives on the
    ≤64-row band relation, whose half totals ride a single-partition
    window and whose 1-row PSI total rides a broadcast cross join."""
    contrib = _psi_band_contrib(spark, sf_dir)
    psum = contrib.agg(F.sum("psi_c").alias("psi"))
    return contrib.crossJoin(F.broadcast(psum)).select(
        "band",
        "n_ref",
        "n_cur",
        (F.round("psi_c", 6) + F.lit(0.0)).alias("psi_contrib"),
        (F.round("psi", 6) + F.lit(0.0)).alias("psi_total"),
        (F.round("psi", 6) > 0.2).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Composed daily health report: constraints + drift + gaps + RI in one plan
# ---------------------------------------------------------------------------


def _health_oracle() -> str:
    """Composes the four component oracles VERBATIM as subqueries — the
    pipeline_* composition rule: the health report is certified to be
    exactly the union of the individually-certified checks."""
    from etl_pipeline_sam_gov_spark.registry import ORACLES

    suite = ORACLES["dq_constraint_suite"]
    psi = ORACLES["dq_psi_value_drift"]
    gaps = ORACLES["dq_missing_hours_report"]
    orphans = ORACLES["dq_referential_orphans"]
    return f"""
SELECT check_name, target, metric, passed FROM ({suite})
UNION ALL
SELECT 'psi_value_drift' AS check_name, 'events' AS target,
       ANY_VALUE(psi_total) AS metric, NOT bool_or(drifted) AS passed
FROM ({psi})
UNION ALL
SELECT 'missing_minutes' AS check_name, 'events' AS target,
       CAST(COALESCE(SUM(n_missing_minutes), 0) AS DOUBLE) AS metric,
       COALESCE(SUM(n_missing_minutes), 0) = 0 AS passed
FROM ({gaps})
UNION ALL
SELECT 'orphans_' || fk_edge AS check_name, fk_edge AS target,
       orphan_ratio AS metric, n_orphans = 0 AS passed
FROM ({orphans})
"""


@query("pipeline_health_report", oracle=_health_oracle())
def pipeline_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed daily health run: Deequ-style constraints, PSI
    value drift, ingestion gaps, and all seven FK-edge orphan audits
    unioned into ONE (check_name, target, metric, passed) report —
    what a warehouse's morning on-call page actually renders, and the
    DQ counterpart of pipeline_training_corpus_v2's composition rule:
    each component is individually driver-certified, the composition's
    oracle embeds those oracles verbatim, so the report is provably
    the sum of its certified parts. The constraint, gap and orphan
    rows call their components' registered builders; the PSI row
    sums the per-band terms dq_psi_value_drift is built from
    (``_psi_band_contrib``) into its one scalar instead of
    aggregating the component's per-band output. Catalyst plans the
    whole union lazily, and nothing materializes between components.

    Scale shape: each component's (one aggregation per table, bounded
    band/gap/edge relations); events is scanned three times (PSI
    bounds, PSI band cells, gaps). The PSI totals add one
    single-partition exchange over ≤64 band rows; the union itself
    adds no shuffle."""
    from etl_pipeline_sam_gov_spark.registry import QUERIES as _Q

    suite = _Q["dq_constraint_suite"](spark, sf_dir).select(
        "check_name", "target", "metric", "passed"
    )
    # The PSI branch needs only the psi SCALAR: on
    # dq_psi_value_drift's output, psi_total and drifted are constant
    # over the band rows (both derive solely from the psum subtree), so
    # any_value(psi_total) ≡ round(psi, 6) + 0.0 and NOT bool_or(drifted)
    # ≡ NOT (round(psi, 6) > 0.2), including the empty-cells edge (agg
    # over zero rows yields NULL on both paths). Composing the whole
    # component would bring in its contrib ⨯ broadcast(psum) self-join,
    # a second pass over the cells (events scans 3 → 5). The per-band
    # terms are the component's own; only the summation order can
    # differ, which round(6) absorbs (the transcendental convention).
    psi_scalar = _psi_band_contrib(spark, sf_dir).agg(F.sum("psi_c").alias("psi"))
    psi = psi_scalar.select(
        F.lit("psi_value_drift").alias("check_name"),
        F.lit("events").alias("target"),
        (F.round("psi", 6) + F.lit(0.0)).alias("metric"),
        (~(F.round("psi", 6) > 0.2)).alias("passed"),
    )
    gaps = (
        _Q["dq_missing_hours_report"](spark, sf_dir)
        .agg(
            F.coalesce(F.sum("n_missing_minutes"), F.lit(0))
            .cast("double")
            .alias("metric")
        )
        .select(
            F.lit("missing_minutes").alias("check_name"),
            F.lit("events").alias("target"),
            "metric",
            (F.col("metric") == 0).alias("passed"),
        )
    )
    orphans = _Q["dq_referential_orphans"](spark, sf_dir).select(
        F.concat(F.lit("orphans_"), F.col("fk_edge")).alias("check_name"),
        F.col("fk_edge").alias("target"),
        F.col("orphan_ratio").alias("metric"),
        (F.col("n_orphans") == 0).alias("passed"),
    )
    return suite.unionByName(psi).unionByName(gaps).unionByName(orphans)


# ---------------------------------------------------------------------------
# Differential-privacy-style noisy release (Laplace mechanism)
# ---------------------------------------------------------------------------

DP_EPSILON = 1.0  #: privacy budget; count sensitivity Δf = 1


def _dp_noisy_sql(hash60) -> str:
    """ONE SQL text, hash spelling aside. Laplace noise via the
    inverse CDF on a DETERMINISTIC 1e-6-grid uniform derived from the
    key's md5 (u ∈ [1e-6, 0.999999] so ln never sees 0): reproducible
    noise makes the mechanism oracle-checkable; production would swap
    the hash-uniform for a real RNG and release ONLY the noisy
    column."""
    u = f"CAST({hash60('n_name')} % 999999 + 1 AS DOUBLE) / 1000000"
    noise = (
        f"(CASE WHEN uu >= 0.5 THEN -1.0 ELSE 1.0 END)"
        f" * ln(1.0 - 2.0 * abs(uu - 0.5)) / {DP_EPSILON!r}"
    )
    return f"""
WITH counts AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
),
seeded AS (
  SELECT n_name, n_true, {u} AS uu FROM counts
)
SELECT n_name, n_true,
       round({noise}, 6) + 0.0 AS noise,
       round(CAST(n_true AS DOUBLE) + {noise}, 6) + 0.0 AS noisy_count,
       CAST({DP_EPSILON!r} AS DOUBLE) AS epsilon
FROM seeded
"""


@query(
    "dq_dp_noisy_release",
    oracle=_dp_noisy_sql(
        lambda e: f"('0x' || substr(md5({e}), 1, 15))::BIGINT"
    ),
)
def dq_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy count release per nation (ε=1, Δf=1) —
    the differential-privacy primitive a data platform applies before
    publishing per-group statistics from sensitive tables (Dwork et
    al. 2006): noise ~ Lap(Δf/ε) via the inverse CDF
    −(1/ε)·sgn(u−½)·ln(1−2|u−½|). The uniform u is a deterministic
    md5-grid value per key, the repo's reproducible-randomness
    convention (same as every sampling operator), which is what makes
    a noise mechanism hash-checkable across engines; the true count
    rides along here only for the oracle contract — a production
    release drops it.

    Scale: broadcast dim join + one partial-combined count; the noise
    map is per-GROUP (25 rows), zero additional shuffle."""
    load_tables(spark, sf_dir, ("customer", "nation"))
    return spark.sql(
        _dp_noisy_sql(
            lambda e: f"CAST(conv(substring(md5({e}), 1, 15), 16, 10) AS BIGINT)"
        )
    )


# ---------------------------------------------------------------------------
# Duplicate-charge detection (exact-amount repeats per account)
# ---------------------------------------------------------------------------


def _dup_charges_sql(epoch_us: str = "epoch_us") -> str:
    """Shared SQL parameterized only by the epoch-micros spelling
    (DuckDB epoch_us vs Spark unix_micros): equi-join on the (user,
    exact cents) block key with a deterministic (earlier id, later id)
    orientation; the time gap rides along as evidence."""
    return f"""
WITH c AS (
  SELECT user_id, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents, ts
  FROM events
)
SELECT a.user_id, a.event_id AS first_event, b.event_id AS second_event,
       a.cents,
       a.event_type AS first_type, b.event_type AS second_type,
       CAST(floor(abs({epoch_us}(b.ts) - {epoch_us}(a.ts)) / 1000000.0)
            AS BIGINT) AS gap_s
FROM c a JOIN c b
  ON a.user_id = b.user_id AND a.cents = b.cents
 AND a.event_id < b.event_id
"""


@query("dq_duplicate_charges", oracle=_dup_charges_sql())
def dq_duplicate_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-charge / double-entry detection: pairs of events on
    the SAME account with the SAME exact amount — the reconciliation
    sieve every billing/ledger pipeline runs (retried payments, double
    submits, replayed webhooks), with the time gap emitted as triage
    evidence (a 3-second gap is a double-click; a 3-week gap is a
    subscription). The amount key is EXACT integer cents — the whole
    point of the centize convention: float amounts would make "same
    amount" a tolerance question, the classic reconciliation bug.

    Scale: one equi-join blocked on (user, cents) — candidate pairs
    are per-block quadratic but a block is one account×amount (the
    skew-safe key); the orientation predicate halves the output and
    sits in the ON clause with the block keys (the Levenshtein-dedup
    predicate-order lesson). ONE shared SQL text drives both engines
    (epoch-micros spelling aside)."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(_dup_charges_sql("unix_micros"))

"""User-behavior analytics: RFM segmentation, Markov event-transition
matrices, and rolling z-score anomaly detection.

These generalize the reference's banded-scoring kernel
(``recency_score``, ``lambda_function.py:102-114``: band a continuous
recency metric into an ordinal score) from one hand-written CASE chain
to data-driven banding — quartile thresholds computed from the data
itself (RFM), transition probabilities estimated from the event log
(Markov), and per-entity adaptive control bands (rolling z-score).

Scale shapes:
- RFM: one shuffle on the customer key for the per-customer rollup,
  then ONE tiny percentile aggregation (3 cut points × 3 metrics, a
  1-row relation) broadcast back. No global sort, no unpartitioned
  window — the classic ntile() formulation needs a total order and
  dies at 100 TB; threshold-banding is order-free and gives identical
  quartiles up to boundary ties.
- Markov: one shuffle on user_id for the lag window, then a
  partial-combined count on (prev, next) — the output is
  |event_type|² rows regardless of corpus size.
- Anomaly: one shuffle on user_id; the rolling frame is ROWS-bounded
  (10 preceding), so state per row is O(1) and all arithmetic is
  exact int64 on centized values (quantization to cents is the
  documented contract; both engines centize identically because
  round(double*100) is deterministic IEEE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.functions.prefix import range_sliced, running_sums
from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.slots import slot_persist
from etl_pipeline_sam_gov_spark.tables import load_tables

# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

_RFM_QS = (0.25, 0.5, 0.75)


@query(
    "rfm_customer_segments",
    oracle=f"""
WITH base AS (
  SELECT o_custkey AS c_custkey,
         CAST(date_diff('day', MAX(o_orderdate),
              (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT
    {", ".join(f"round(quantile_cont(recency_days, {q}), 6) AS r{i}" for i, q in enumerate(_RFM_QS))},
    {", ".join(f"round(quantile_cont(frequency, {q}), 6) AS f{i}" for i, q in enumerate(_RFM_QS))},
    {", ".join(f"round(quantile_cont(monetary, {q}), 6) AS m{i}" for i, q in enumerate(_RFM_QS))}
  FROM base
),
scored AS (
  SELECT c_custkey, recency_days, frequency, monetary,
         1 + CAST(recency_days < r2 AS INT) + CAST(recency_days < r1 AS INT)
           + CAST(recency_days < r0 AS INT) AS r_score,
         1 + CAST(frequency > f0 AS INT) + CAST(frequency > f1 AS INT)
           + CAST(frequency > f2 AS INT) AS f_score,
         1 + CAST(monetary > m0 AS INT) + CAST(monetary > m1 AS INT)
           + CAST(monetary > m2 AS INT) AS m_score
  FROM base CROSS JOIN cuts
)
SELECT c_custkey, recency_days, frequency, monetary,
       CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
         || '-' || CAST(m_score AS VARCHAR) AS segment
FROM scored
""",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    data-driven quartile banding — the marketing-analytics staple the
    reference's hand-tuned recency bands (``lambda_function.py:102-114``)
    approximate with fixed constants.

    Instead of ``ntile(4)`` (which needs a total order → an
    unpartitioned window → single-task at 100 TB), each score is
    1 + the number of quartile cut points the metric beats: identical
    quartile assignment up to boundary ties, computed with one tiny
    percentile aggregation broadcast back onto the per-customer rollup.
    Cut points are exact interpolated percentiles rounded to 6 decimals
    (the engine-stable boundary contract fn_winsorize_values pinned);
    metrics compared against them are exact ints / exact decimal sums,
    so band membership is bit-deterministic on both engines. Recency is
    anchored to the corpus max order date (a 1-row broadcast ride-along),
    not wall clock — SURVEY.md §5.3 determinism rule."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "c_custkey",
            F.datediff(F.col("anchor"), F.col("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    cut_exprs = []
    for col, pre in (("recency_days", "r"), ("frequency", "f"), ("monetary", "m")):
        for i, q in enumerate(_RFM_QS):
            cut_exprs.append(
                F.round(F.expr(f"percentile({col}, {q})"), 6).alias(f"{pre}{i}")
            )
    cuts = base.agg(*cut_exprs)
    c = base.crossJoin(F.broadcast(cuts))
    r_score = (
        F.lit(1)
        + (F.col("recency_days") < F.col("r2")).cast("int")
        + (F.col("recency_days") < F.col("r1")).cast("int")
        + (F.col("recency_days") < F.col("r0")).cast("int")
    ).cast("int")
    f_score = (
        F.lit(1)
        + (F.col("frequency") > F.col("f0")).cast("int")
        + (F.col("frequency") > F.col("f1")).cast("int")
        + (F.col("frequency") > F.col("f2")).cast("int")
    ).cast("int")
    m_score = (
        F.lit(1)
        + (F.col("monetary") > F.col("m0")).cast("int")
        + (F.col("monetary") > F.col("m1")).cast("int")
        + (F.col("monetary") > F.col("m2")).cast("int")
    ).cast("int")
    return c.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
        F.concat_ws(
            "-",
            r_score.cast("string"),
            f_score.cast("string"),
            m_score.cast("string"),
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# Markov event-transition matrix
# ---------------------------------------------------------------------------


@query(
    "markov_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n_transitions,
       round(CAST(n_transitions AS DOUBLE)
             / SUM(n_transitions) OVER (PARTITION BY prev_type), 6) AS prob
FROM pairs
""",
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous event type) — the
    session-modeling / next-action-prediction primitive (and the
    stationary analysis behind funnel drop-off attribution).

    One shuffle on user_id for the lag window (the same timeline
    exchange sessionize_events rides), then a partial-combined count on
    the (prev, next) pair; the row-normalizing window runs on the
    |event_type|²-row aggregate, so its cost is independent of corpus
    size. Probabilities are exact-int ratios rounded to 6 — the
    deterministic-double contract."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_norm = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_norm),
            6,
        ).alias("prob"),
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection
# ---------------------------------------------------------------------------

ZS_LOOKBACK = 10  # preceding events in the control window
ZS_MIN_N = 4  # minimum history before scoring
ZS_SIGMAS = 3  # flag |x - mean| > ZS_SIGMAS * stddev


@query(
    "ts_anomaly_rolling_z",
    oracle=f"""
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
framed AS (
  SELECT user_id, v,
         COUNT(*)  OVER w AS n,
         SUM(v)    OVER w AS s1,
         SUM(v*v)  OVER w AS s2
  FROM c
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN {ZS_LOOKBACK} PRECEDING AND 1 PRECEDING)
),
flagged AS (
  SELECT user_id,
         CASE WHEN n >= {ZS_MIN_N}
              AND (n*v - s1)*(n*v - s1) > {ZS_SIGMAS * ZS_SIGMAS}*(n*s2 - s1*s1)
              THEN 1 ELSE 0 END AS is_anomaly,
         CASE WHEN n >= {ZS_MIN_N} THEN 1 ELSE 0 END AS scored
  FROM framed
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(scored) AS BIGINT) AS n_scored,
       CAST(SUM(is_anomaly) AS BIGINT) AS n_anomalies
FROM flagged GROUP BY user_id
""",
)
def ts_anomaly_rolling_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity adaptive control band: flag an event whose value sits
    more than {ZS_SIGMAS}σ from the mean of its user's preceding
    {ZS_LOOKBACK} events — streaming-style anomaly detection in batch
    form (the stateful-streaming twin is an applyInPandasWithState
    keyed buffer; this batch form shares the detection algebra).

    The σ test runs WITHOUT computing σ: |x−μ| > kσ is squared into
    (n·x − S)² > k²·(n·Σx² − S²), all on exact int64 cent values —
    no sqrt, no float variance, no catastrophic cancellation, and the
    identical inequality evaluates on both engines bit-for-bit.
    Quantization to cents is the documented contract (events.value is
    2-decimal money-like data). One shuffle on user_id; the ROWS frame
    holds O(1) running state per row."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    c = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ZS_LOOKBACK, -1)
    )
    framed = c.select(
        "user_id",
        "v",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).alias("s1"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("s2"),
    )
    n, v, s1, s2 = (F.col(x) for x in ("n", "v", "s1", "s2"))
    dev = n * v - s1
    is_anom = (
        (n >= ZS_MIN_N)
        & (dev * dev > ZS_SIGMAS * ZS_SIGMAS * (n * s2 - s1 * s1))
    ).cast("int")
    return (
        framed.select(
            "user_id",
            is_anom.alias("is_anomaly"),
            (n >= ZS_MIN_N).cast("int").alias("scored"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("scored").alias("n_scored"),
            F.sum("is_anomaly").alias("n_anomalies"),
        )
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis (two-proportion z-test)
# ---------------------------------------------------------------------------

#: z² threshold for two-sided α=0.05 significance: 1.96² = 3.8416.
AB_Z2_CRIT = 3.8416


@query(
    "ab_test_proportions",
    oracle=f"""
WITH assigned AS (
  SELECT user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
         CAST(CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) > COUNT(*)
              THEN 1 ELSE 0 END AS BIGINT) AS converted
  FROM events
  GROUP BY user_id
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM assigned GROUP BY arm
),
w AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
         MAX(CASE WHEN arm = 0 THEN conv END) AS conv_a,
         MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
         MAX(CASE WHEN arm = 1 THEN conv END) AS conv_b
  FROM arms
),
z AS (
  SELECT n_a, conv_a, n_b, conv_b,
         (conv_b * n_a - conv_a * n_b)::DOUBLE
           * (conv_b * n_a - conv_a * n_b)
           * (n_a + n_b) / n_a / n_b
           / (conv_a + conv_b) / (n_a + n_b - conv_a - conv_b) AS z2
  FROM w
)
SELECT n_a, conv_a, n_b, conv_b,
       round(conv_a::DOUBLE / n_a, 6) AS rate_a,
       round(conv_b::DOUBLE / n_b, 6) AS rate_b,
       round(conv_b::DOUBLE / n_b - conv_a::DOUBLE / n_a, 6) AS uplift,
       round(z2, 6) AS z_squared,
       round(z2, 6) > {AB_Z2_CRIT} AS significant
FROM z
""",
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-assigned to two arms, pooled
    two-proportion z-test on conversion (= the user's purchase share
    exceeds the 1/5 base rate — scale-stable: a raw any-purchase flag
    saturates to 100% once histories grow past ~30 events, which made
    the original metric degenerate, z² = 0/0, certified only
    vacuously; the all-NULL gate in oracle_compare now bans that) — the experimentation
    primitive behind every product-launch decision pipeline. Assignment
    is the md5-hash coin of the curation family (reproducible,
    append-stable: a user's arm never changes as data grows — the
    property a real experiment assignment MUST have).

    Algebra: with D = conv_b·n_a − conv_a·n_b, C = conv_a+conv_b,
    N = n_a+n_b, the pooled z² = D²·N / (n_a·n_b·C·(N−C)). Every
    factor is an exact int64; the ONE float expression computes this
    in an identical operation order on both engines (multiply up,
    divide down), so the bits — and the significance boolean compared
    against 1.96² — agree exactly. One groupBy(user_id) to collapse
    events (the conversion flag is a MAX — order-free), one 2-row arm
    aggregate, one 1-row readout."""
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    assigned = (
        ev.groupBy("user_id")
        .agg(
            (
                5 * F.sum((F.col("event_type") == "purchase").cast("bigint"))
                > F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("converted")
        )
        .select(
            (_spark_hash60(F.col("user_id").cast("string")) % 2).alias("arm"),
            "converted",
        )
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("conv_b"),
    )
    n_a, conv_a = F.col("n_a"), F.col("conv_a")
    n_b, conv_b = F.col("n_b"), F.col("conv_b")
    d = conv_b * n_a - conv_a * n_b
    z2 = (
        d.cast("double")
        * d
        * (n_a + n_b)
        / n_a
        / n_b
        / (conv_a + conv_b)
        / (n_a + n_b - conv_a - conv_b)
    )
    zrel = w.select(
        "n_a", "conv_a", "n_b", "conv_b", z2.alias("z2")
    )
    return zrel.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(conv_a.cast("double") / n_a, 6).alias("rate_a"),
        F.round(conv_b.cast("double") / n_b, 6).alias("rate_b"),
        F.round(
            conv_b.cast("double") / n_b - conv_a.cast("double") / n_a, 6
        ).alias("uplift"),
        F.round(F.col("z2"), 6).alias("z_squared"),
        (F.round(F.col("z2"), 6) > AB_Z2_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Market-basket analysis (item-item lift)
# ---------------------------------------------------------------------------

MB_MIN_SUPPORT = 2  # minimum co-occurrence count for a reported pair
MB_TOP_K = 50

#: session id → persisted basket relation (release-before-re-persist,
#: the graph-loop cache discipline).


@query(
    "reco_item_lift",
    oracle=f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM basket GROUP BY l_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM basket),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
scored AS (
  SELECT p.part_a, p.part_b, p.c_ab,
         round(p.c_ab::DOUBLE / ia.c, 6) AS confidence,
         round(n.n_orders::DOUBLE * p.c_ab / ia.c / ib.c, 6) AS lift
  FROM pair p
  JOIN item ia ON p.part_a = ia.l_partkey
  JOIN item ib ON p.part_b = ib.l_partkey
  CROSS JOIN n
  WHERE p.c_ab >= {MB_MIN_SUPPORT}
)
SELECT part_a, part_b, c_ab, confidence, lift
FROM scored
ORDER BY lift DESC, part_a, part_b
LIMIT {MB_TOP_K}
""",
)
def reco_item_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: item-item association rules ranked by
    lift = N·c(a,b) / (c(a)·c(b)) — the co-purchase recommendation
    primitive ("customers who bought A also bought B") and the
    association-rule kernel under Apriori-style mining.

    Scale shape (r7): ONE corpus shuffle total — the fact table goes
    straight to groupBy(orderkey) with the per-order dedup INSIDE the
    aggregation (array_distinct ∘ collect_list, then array_sort), so
    the r6 shape's separate distinct exchange on (orderkey, partkey)
    disappears; the persisted per-order array relation (|orders| rows)
    then feeds all three consumers — item counts (map-side explode →
    part-keyed agg), the order-count scalar (a count of arrs rows,
    since distinct orderkeys = rows after the group), and the map-side
    ordered pair emission (nested HOFs; fan-out bounded by basket size
    squared per order, ≤ C(17,2) here — a real retailer caps basket
    size the same way — never corpus-quadratic). Measured on a clean
    box, interleaved best-of-5: 2.20 s → 1.74 s at sf0.1 (~21%), output
    byte-identical. Counts are exact ints; lift/confidence are one
    float expression in identical operation order on both engines,
    rounded to 6; the top-k cut orders by the ROUNDED lift with pair
    tiebreaks and plans as TakeOrderedAndProject, not a full sort.

    Persisting arrs makes each consumer read the one grouped result
    instead of re-shuffling the fact table — without it, exchange
    reuse is plan-layout-dependent and a 16× amplification measured
    super-linear (5.1×/4×) purely from the repeated grouping (the
    PageRank/k-core persist discipline)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # Adaptive cache width: 1.94 → 1.07 s at sf0.1 (r10 A/B).
    arrs = slot_persist(
        spark,
        "basket",
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.array_distinct(F.collect_list("l_partkey"))
            ).alias("ps")
        ),
        adaptive=True,
    )
    item = (
        arrs.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = arrs.agg(F.count(F.lit(1)).alias("n_orders"))
    pair = (
        arrs.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ps, (x, i) -> transform("
                        "slice(ps, i + 2, size(ps)), "
                        "y -> struct(x AS part_a, y AS part_b)))"
                    )
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= MB_MIN_SUPPORT)
    )
    scored = (
        pair.join(item.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")), "part_a")
        .join(item.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(F.col("c_ab").cast("double") / F.col("c_a"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_orders").cast("double")
                * F.col("c_ab")
                / F.col("c_a")
                / F.col("c_b"),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(MB_TOP_K)


# ---------------------------------------------------------------------------
# Multi-touch attribution (position-based / U-shaped)
# ---------------------------------------------------------------------------

ATTR_WINDOW_S = 3600  # clicks within this many seconds before a purchase


@query(
    "attribution_position_based",
    oracle=f"""
WITH p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us, value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
),
touch AS (
  SELECT p.purchase_id, p.value, c.click_id,
         row_number() OVER (PARTITION BY p.purchase_id ORDER BY c.c_us, c.click_id) AS pos,
         COUNT(*) OVER (PARTITION BY p.purchase_id) AS n
  FROM p JOIN c
    ON p.user_id = c.user_id
   AND c.c_us > p.p_us - CAST({ATTR_WINDOW_S} AS BIGINT) * 1000000
   AND c.c_us <= p.p_us
),
credited AS (
  SELECT purchase_id, click_id, CAST(pos AS INT) AS pos, CAST(n AS INT) AS n_touches,
         CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
              WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
              WHEN pos = 1 OR pos = n THEN CAST(0.4 AS DOUBLE)
              ELSE CAST(0.2 AS DOUBLE) / (n - 2) END AS credit,
         value
  FROM touch
)
SELECT purchase_id, click_id, pos, n_touches,
       round(credit, 6) AS credit,
       round(value * credit, 6) AS attributed_value
FROM credited
""",
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every click
    in the hour before a purchase shares the purchase's value — 40% to
    the first touch, 40% to the last, the middle 20% split evenly —
    the marketing-spend allocation model one step past the
    single-touch as-of join (asof_join_purchase_click picks ONE click;
    this credits the whole path).

    Scale shape: purchases⋈clicks is an equi-join on user_id with the
    time band as a residual predicate (the join_point_in_time_features
    shape), so fan-out is bounded by a user's click rate × the window,
    never corpus-quadratic; position and path length come from one
    window over the purchase key. Credit is a CASE over exact ints
    with double literals evaluated in identical expression order on
    both engines; renders through round(6)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        us.alias("p_us"),
        "value",
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        us.alias("c_us"),
    )
    touch = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_us") > F.col("p_us") - ATTR_WINDOW_S * 1_000_000)
        & (F.col("c_us") <= F.col("p_us")),
    )
    w_pos = W.partitionBy("purchase_id").orderBy("c_us", "click_id")
    w_n = W.partitionBy("purchase_id")
    staged = touch.select(
        "purchase_id",
        "click_id",
        "value",
        F.row_number().over(w_pos).cast("int").alias("pos"),
        F.count(F.lit(1)).over(w_n).cast("int").alias("n_touches"),
    )
    n, pos = F.col("n_touches"), F.col("pos")
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((pos == 1) | (pos == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    return staged.select(
        "purchase_id",
        "click_id",
        "pos",
        "n_touches",
        F.round(credit, 6).alias("credit"),
        F.round(F.col("value") * credit, 6).alias("attributed_value"),
    )


# ---------------------------------------------------------------------------
# Sequential-pattern support (2-sequences)
# ---------------------------------------------------------------------------


@query(
    "seq_pattern_support",
    oracle="""
WITH occ AS (
  SELECT user_id, event_type,
         MIN(epoch_us(ts) * 100 + event_id % 100) AS first_k,
         MAX(epoch_us(ts) * 100 + event_id % 100) AS last_k
  FROM events GROUP BY user_id, event_type
),
users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
pairs AS (
  SELECT a.event_type AS first_type, b.event_type AS then_type,
         CAST(COUNT(*) AS BIGINT) AS n_supporting
  FROM occ a JOIN occ b
    ON a.user_id = b.user_id AND a.first_k < b.last_k
   AND a.event_type <> b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT first_type, then_type, n_supporting,
       round(n_supporting::DOUBLE / n_users, 6) AS support
FROM pairs CROSS JOIN users
""",
)
def seq_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining (the 2-sequence core of
    PrefixSpan/GSP): for every ordered type pair ⟨A then B⟩, the count
    and fraction of users whose timeline contains SOME A before SOME
    B — the order-sensitive complement to markov_event_transitions
    (Markov counts adjacent steps; this counts containment with
    arbitrary gaps, the pattern-mining notion of support).

    The containment test collapses to first(A) < last(B) per user, so
    the corpus reduces to one groupBy(user, type) of first/last
    occurrence keys — |users|×|types| rows — and the pair join runs on
    that reduced relation, bounded by |types|² per user, never over
    raw events. Occurrence keys pack (epoch_us, event_id mod 100) into
    one int64 (micros × 100 stays under 2⁶³) so the before/after
    comparison is a single exact integer compare; the low-digit
    tiebreak is identical on both engines, which is the parity
    contract."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    k = F.unix_micros(F.col("ts")) * 100 + F.col("event_id") % 100
    occ = ev.groupBy("user_id", "event_type").agg(
        F.min(k).alias("first_k"), F.max(k).alias("last_k")
    )
    users = ev.agg(F.count_distinct("user_id").alias("n_users"))
    a = occ.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("first_type"),
        "first_k",
    )
    b = occ.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("then_type"),
        "last_k",
    )
    pairs = (
        a.join(b, "u")
        .filter(
            (F.col("first_type") != F.col("then_type"))
            & (F.col("first_k") < F.col("last_k"))
        )
        .groupBy("first_type", "then_type")
        .agg(F.count(F.lit(1)).alias("n_supporting"))
    )
    return pairs.crossJoin(F.broadcast(users)).select(
        "first_type",
        "then_type",
        "n_supporting",
        F.round(
            F.col("n_supporting").cast("double") / F.col("n_users"), 6
        ).alias("support"),
    )


# ---------------------------------------------------------------------------
# Cohort lifetime-value (LTV) curves
# ---------------------------------------------------------------------------


@query(
    "behavior_cohort_ltv",
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
firstday AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
),
sizes AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM firstday GROUP BY cohort_day
),
rev AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, e.day) AS age,
         CAST(SUM(e.cents) AS BIGINT) AS cents
  FROM ev e JOIN firstday f USING (user_id)
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_day, age, cents,
         CAST(SUM(cents) OVER (PARTITION BY cohort_day ORDER BY age
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cents
  FROM rev
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(c.age AS INT) AS age, s.n_users, c.cum_cents,
       round(CAST(c.cum_cents AS DOUBLE) / CAST(100 * s.n_users AS DOUBLE), 6)
         AS ltv
FROM cum c JOIN sizes s USING (cohort_day)
""",
)
def behavior_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohort by first-activity
    day; each (cohort, age) cell accumulates the cohort's revenue to
    that age and normalizes per user — the LTV trajectory behind
    payback-period and acquisition-budget decisions (retention counts
    WHO comes back; LTV weighs what they're worth). Revenue stays in
    exact int64 cents through the cumulative window; the per-user
    normalization is ONE division of two exact integers at the end
    (bit-identical both engines, no float accumulation anywhere).

    Scale shape: one shuffle keyed on user_id derives cohorts, one
    partial-combined groupBy collapses the corpus to (cohort, age)
    cells, and the running-sum window walks the calendar-bounded cell
    relation partitioned by cohort — O(days²) cells total regardless
    of corpus size; cohort sizes broadcast back onto the curve."""
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    firstday = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = firstday.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rev = (
        ev.join(firstday, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("age"),
        )
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    w = (
        W.partitionBy("cohort_day")
        .orderBy("age")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = rev.select(
        "cohort_day",
        "age",
        F.sum("cents").over(w).cast("bigint").alias("cum_cents"),
    )
    return cum.join(F.broadcast(sizes), "cohort_day").select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("age").cast("int").alias("age"),
        "n_users",
        "cum_cents",
        F.round(
            F.col("cum_cents").cast("double")
            / (F.lit(100) * F.col("n_users")).cast("double"),
            6,
        ).alias("ltv"),
    )


# ---------------------------------------------------------------------------
# Time-decayed engagement scoring (feature-store recency weighting)
# ---------------------------------------------------------------------------

DECAY_HL_SHORT = 7  #: half-life buckets (days) for the fast feature
DECAY_HL_LONG = 28


@query(
    "behavior_time_decay_score",
    oracle=f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events
),
anchor AS (SELECT MAX(day) AS now_day FROM ev),
w AS (
  SELECT e.user_id, e.day, e.value,
         date_diff('day', e.day, a.now_day) AS age
  FROM ev e CROSS JOIN anchor a
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       strftime(MAX(day), '%Y-%m-%d') AS last_seen_day,
       round(SUM(value * power(0.5, age // {DECAY_HL_SHORT})), 6) + 0.0
         AS score_fast,
       round(SUM(value * power(0.5, age // {DECAY_HL_LONG})), 6) + 0.0
         AS score_slow
FROM w GROUP BY user_id
""",
)
def behavior_time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement scores (the feature-store recency
    weighting behind churn features and ranking freshness): each
    event's value is weighted by 2^(−age/half-life) and summed per
    user, at a fast (7-day) and slow (28-day) half-life — recent
    activity dominates the fast feature, sustained history the slow
    one, and their divergence flags churn risk. The decay exponent is
    the INTEGER day-age divided by the half-life (floor), so every
    weight is an exact dyadic double (0.5^k) and each row's term is
    bit-identical on both engines; only the per-user sum is
    order-sensitive — hence the final round(6) (+0.0 for the −0.0
    gate). The anchor "now" is the corpus max day riding a broadcast
    1-row cross join (deterministic replays, no wall clock — the
    Date.now() ban appears at the engine level too).

    Scale shape: one narrow scan computes ages and weights; ONE
    partial-combined groupBy on user_id produces every feature —
    the cheapest possible shape for a per-entity feature refresh."""
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "user_id", F.col("ts").cast("date").alias("day"), "value"
    )
    anchor = ev.agg(F.max("day").alias("now_day"))
    aged = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "day",
        "value",
        F.datediff(F.col("now_day"), F.col("day")).alias("age"),
    )
    decay = lambda hl: F.sum(  # noqa: E731
        F.col("value") * F.pow(F.lit(0.5), F.expr(f"age div {hl}"))
    )
    return aged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_seen_day"),
        (F.round(decay(DECAY_HL_SHORT), 6) + F.lit(0.0)).alias("score_fast"),
        (F.round(decay(DECAY_HL_LONG), 6) + F.lit(0.0)).alias("score_slow"),
    )


# ---------------------------------------------------------------------------
# Time-bound ordered funnel: view → click → purchase within a window
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_US = 86_400_000_000  #: max gap between consecutive steps (24 h)


@query(
    "behavior_funnel_timebound",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
v0 AS (
  SELECT user_id, MIN(us) AS view_us FROM ev
  WHERE event_type = 'view' GROUP BY 1
),
c0 AS (
  SELECT v.user_id, MIN(e.us) AS click_us
  FROM v0 v JOIN ev e ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.us > v.view_us AND e.us <= v.view_us + {FUNNEL_WINDOW_US}
  GROUP BY 1
),
p0 AS (
  SELECT c.user_id, MIN(e.us) AS purchase_us
  FROM c0 c JOIN ev e ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.us > c.click_us AND e.us <= c.click_us + {FUNNEL_WINDOW_US}
  GROUP BY 1
)
SELECT v.user_id,
       CAST(v.view_us AS BIGINT) AS view_us,
       CAST(c.click_us AS BIGINT) AS click_us,
       CAST(p.purchase_us AS BIGINT) AS purchase_us,
       CAST(1 + CASE WHEN c.click_us IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.purchase_us IS NULL THEN 0 ELSE 1 END
            AS INT) AS steps_completed
FROM v0 v
LEFT JOIN c0 c ON c.user_id = v.user_id
LEFT JOIN p0 p ON p.user_id = v.user_id
""",
)
def behavior_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel with a per-step time bound: a user's
    FIRST view, then the earliest click within 24 h AFTER it, then the
    earliest purchase within 24 h after THAT — the strict-sequence,
    time-bounded funnel every growth dashboard reports (and the
    anchored semantics that make the number reproducible: each step
    anchors to the earliest qualifying prior step, so there is exactly
    one chain per user, not a per-pair explosion). Cross-session by
    design — the complement of sessionize_funnel's within-session
    conversion.

    Scale shape: three user-keyed partial-combined MIN aggregations,
    each narrowing (views → clicked-after-view → purchased-after-
    click), chained by equi-joins on user_id and stitched with two
    left joins — every shuffle is on the user key, no windows, no
    timeline materialization. All timestamps are exact epoch-micros
    int64; the step count is integer CASE arithmetic."""
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v0 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("view_us"))
    )
    c0 = (
        v0.join(ev.filter(F.col("event_type") == "click"), "user_id")
        .filter(
            (F.col("us") > F.col("view_us"))
            & (F.col("us") <= F.col("view_us") + FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("click_us"))
    )
    p0 = (
        c0.join(ev.filter(F.col("event_type") == "purchase"), "user_id")
        .filter(
            (F.col("us") > F.col("click_us"))
            & (F.col("us") <= F.col("click_us") + FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("purchase_us"))
    )
    steps = (
        F.lit(1)
        + F.when(F.col("click_us").isNull(), 0).otherwise(1)
        + F.when(F.col("purchase_us").isNull(), 0).otherwise(1)
    )
    return (
        v0.join(c0, "user_id", "left")
        .join(p0, "user_id", "left")
        .select(
            "user_id",
            F.col("view_us").cast("bigint").alias("view_us"),
            F.col("click_us").cast("bigint").alias("click_us"),
            F.col("purchase_us").cast("bigint").alias("purchase_us"),
            steps.cast("int").alias("steps_completed"),
        )
    )


# ---------------------------------------------------------------------------
# User-user collaborative-filtering cosine similarity (top-k neighbors)
# ---------------------------------------------------------------------------

UU_HUB_CAP = 64  #: parts bought by more than this many customers are dropped
UU_TOP_K = 5  #: neighbors kept per customer


@query(
    "reco_user_user_cosine",
    oracle=f"""
WITH bought AS (
  SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
pop AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS np FROM bought GROUP BY 1),
capped AS (
  SELECT b.ck, b.pk FROM bought b JOIN pop p ON p.pk = b.pk
  WHERE p.np <= {UU_HUB_CAP}
),
sizes AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS nb FROM capped GROUP BY 1),
shared AS (
  SELECT a.ck AS u, b.ck AS v, CAST(COUNT(*) AS BIGINT) AS nshared
  FROM capped a JOIN capped b ON b.pk = a.pk AND a.ck <> b.ck
  GROUP BY 1, 2
),
scored AS (
  SELECT s.u, s.v, s.nshared,
         round(CAST(s.nshared AS DOUBLE)
               / (sqrt(CAST(su.nb AS DOUBLE)) * sqrt(CAST(sv.nb AS DOUBLE))),
               6) + 0.0 AS cosine
  FROM shared s
  JOIN sizes su ON su.ck = s.u
  JOIN sizes sv ON sv.ck = s.v
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY u
                               ORDER BY cosine DESC, nshared DESC, v) AS rk
  FROM scored
)
SELECT u AS custkey, v AS neighbor, nshared, cosine, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {UU_TOP_K}
""",
)
def reco_user_user_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-based collaborative filtering: top-K most-similar customers
    by cosine over binary bought-part incidence vectors — the
    "customers like you" neighbor list that user-based recommenders
    serve from (the complement of reco_item_lift's item-item rules:
    lift finds co-bought ITEMS, this finds look-alike USERS).

    Scale shape — the candidate generator is the shared-item equi-join
    of the incidence relation with itself, NEVER an all-pairs user
    comparison, and items above the UU_HUB_CAP popularity cap are
    dropped first (a part half the userbase bought creates quadratic
    candidate pairs while carrying ~zero similarity signal — the
    graph_jaccard_neighbors hub-cap move, which bounds per-item join
    fan-out at cap²); ranking is per-user WindowGroupLimit, never a
    global sort. Exactness: shared counts and basket sizes are exact
    int64; cosine is one division by a product of two correctly-
    rounded sqrts (no libm hazard), tie-broken (cosine, nshared, v)
    so the top-K frontier is deterministic."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    bought = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    pop = bought.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    capped = (
        bought.join(pop, "pk").filter(F.col("np") <= UU_HUB_CAP).select("ck", "pk")
    )
    sizes = capped.groupBy("ck").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    a = capped.select(F.col("ck").alias("u"), "pk")
    b = capped.select(F.col("ck").alias("v"), F.col("pk").alias("pkb"))
    shared = (
        a.join(b, (F.col("pkb") == F.col("pk")) & (F.col("u") != F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nshared"))
    )
    su = sizes.select(F.col("ck").alias("u"), F.col("nb").alias("nb_u"))
    sv = sizes.select(F.col("ck").alias("v"), F.col("nb").alias("nb_v"))
    scored = (
        shared.join(su, "u")
        .join(sv, "v")
        .select(
            "u",
            "v",
            "nshared",
            (
                F.round(
                    F.col("nshared").cast("double")
                    / (
                        F.sqrt(F.col("nb_u").cast("double"))
                        * F.sqrt(F.col("nb_v").cast("double"))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("u").orderBy(
        F.desc("cosine"), F.desc("nshared"), F.asc("v")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= UU_TOP_K)
        .select(
            F.col("u").alias("custkey"),
            F.col("v").alias("neighbor"),
            "nshared",
            "cosine",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B metric (pre-period covariate adjustment)
# ---------------------------------------------------------------------------


@query(
    "ab_test_cuped",
    oracle="""
WITH bounds AS (
  SELECT MIN(ts) + CAST(datediff('second', MIN(ts), MAX(ts)) // 2 AS INT)
           * INTERVAL 1 SECOND AS mid
  FROM events
),
per_user AS (
  SELECT e.user_id,
         ('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % 2
           AS arm,
         CAST(SUM(CASE WHEN e.ts <= b.mid
              THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN e.ts > b.mid
              THEN CAST(round(e.value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events e CROSS JOIN bounds b
  GROUP BY 1, 2
),
pool AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM per_user
),
theta AS (
  SELECT n, sx, sy,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS th,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           / (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) AS rho2
  FROM pool
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_arm,
         CAST(SUM(x) AS BIGINT) AS sx_a, CAST(SUM(y) AS BIGINT) AS sy_a
  FROM per_user GROUP BY 1
)
SELECT CAST(a.arm AS INT) AS arm, a.n_arm,
       round(CAST(a.sy_a AS DOUBLE) / a.n_arm / 100, 6) + 0.0 AS mean_post,
       round((CAST(a.sy_a AS DOUBLE) / a.n_arm
              - t.th * (CAST(a.sx_a AS DOUBLE) / a.n_arm
                        - CAST(t.sx AS DOUBLE) / t.n)) / 100, 6) + 0.0
         AS mean_post_cuped,
       round(t.rho2, 6) + 0.0 AS variance_reduction
FROM arms a CROSS JOIN theta t
""",
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. 2013) — the variance-reduction technique every large
    experimentation platform applies before reading an A/B metric:
    adjust each user's post-period spend by θ·(pre-period spend −
    pooled pre mean), with θ = cov(x,y)/var(x), which removes the
    predictable between-user variance (ρ² of it — emitted as
    variance_reduction) and leaves the treatment effect untouched
    (both arms shift identically because θ and the pre-mean are
    pooled). Emits each arm's raw and CUPED-adjusted post means — the
    adjusted gap is the same uplift with tighter error bars.

    Determinism: the arm is the ab_test md5 coin; pre/post totals are
    exact int64 cents split at the corpus time midpoint (broadcast
    1-row bounds); θ and ρ² come from exact pooled int64 moments
    combined in fixed-order double arithmetic. Scale shape: one
    user-keyed rollup, one 1-row pooled-moment aggregate broadcast
    onto the 2-row arm relation."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    bounds = ev.agg(
        F.expr(
            "min(ts) + make_dt_interval(0, 0, 0, "
            "CAST((unix_micros(max(ts)) - unix_micros(min(ts))) div 2000000 "
            "AS INT))"
        ).alias("mid")
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (_spark_hash60(F.col("user_id").cast("string")) % 2).alias("arm"),
            F.when(F.col("ts") <= F.col("mid"), cents).otherwise(0).alias("xc"),
            F.when(F.col("ts") > F.col("mid"), cents).otherwise(0).alias("yc"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.sum("xc").cast("bigint").alias("x"),
            F.sum("yc").cast("bigint").alias("y"),
        )
    )
    pool = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    varx_n = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary_n = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    theta = pool.select(
        "n",
        "sx",
        (cov_n / varx_n).alias("th"),
        (cov_n * cov_n / varx_n / vary_n).alias("rho2"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_arm"),
        F.sum("x").cast("bigint").alias("sx_a"),
        F.sum("y").cast("bigint").alias("sy_a"),
    )
    return arms.crossJoin(F.broadcast(theta)).select(
        F.col("arm").cast("int").alias("arm"),
        "n_arm",
        (
            F.round(F.col("sy_a").cast("double") / F.col("n_arm") / 100, 6)
            + F.lit(0.0)
        ).alias("mean_post"),
        (
            F.round(
                (
                    F.col("sy_a").cast("double") / F.col("n_arm")
                    - F.col("th")
                    * (
                        F.col("sx_a").cast("double") / F.col("n_arm")
                        - F.col("sx").cast("double") / F.col("n")
                    )
                )
                / 100,
                6,
            )
            + F.lit(0.0)
        ).alias("mean_post_cuped"),
        (F.round(F.col("rho2"), 6) + F.lit(0.0)).alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# Top within-session event-type trigrams (behavioral n-grams)
# ---------------------------------------------------------------------------

SEQ_TRIGRAM_TOP = 20  #: trigram rows emitted


@query(
    "seq_session_trigrams",
    oracle=f"""
WITH numbered AS (
  SELECT user_id, event_type, ts_us, event_id,
         CAST(SUM(CASE WHEN prev_us IS NULL
                  OR ts_us - prev_us > 1800 * 1000000
                  THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM (
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_us
    FROM events
  )
),
tri AS (
  SELECT event_type
           || '>' || lead(event_type, 1) OVER w
           || '>' || lead(event_type, 2) OVER w AS trigram,
         lead(session_seq, 2) OVER w = session_seq AS same_session
  FROM numbered
  WINDOW w AS (PARTITION BY user_id, session_seq
               ORDER BY ts_us, event_id)
)
SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
FROM tri WHERE trigram IS NOT NULL AND same_session
GROUP BY trigram
ORDER BY n DESC, trigram
LIMIT {SEQ_TRIGRAM_TOP}
""",
)
def seq_session_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral n-grams: the most frequent 3-step event-type
    sequences WITHIN a session (the shared gap rule) — the pattern
    vocabulary funnel designers and anomaly hunters read before
    hand-authoring any funnel (behavior_funnel_timebound checks ONE
    hypothesized path; this surfaces which paths actually dominate).
    Windows partition by (user, session) so a trigram can never span a
    session boundary — the lead() pair stays NULL at the tail, and the
    same-session guard makes the boundary rule explicit.

    Scale shape: sessionization is the shared one-shuffle timeline
    walk; the trigram projection is two lead()s on the SAME
    (user, session) exchange; counting is partial-combined and the
    scorecard is TakeOrderedAndProject. Everything is exact integer
    counts over deterministic string keys."""
    from etl_pipeline_sam_gov_spark.operators.analytics import (
        numbered_sessions,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    numbered = numbered_sessions(ev)
    w = W.partitionBy("user_id", "session_seq").orderBy("ts_us", "event_id")
    tri = numbered.select(
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("trigram"),
        (F.lead("session_seq", 2).over(w) == F.col("session_seq")).alias(
            "same_session"
        ),
        F.lead("event_type", 2).over(w).alias("third"),
    )
    return (
        tri.filter(F.col("third").isNotNull() & F.col("same_session"))
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(SEQ_TRIGRAM_TOP)
    )


# ---------------------------------------------------------------------------
# Information Value / Weight of Evidence of the spend-band feature
# ---------------------------------------------------------------------------


@query(
    "ml_information_value_spend",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) > COUNT(*)
              THEN 1 ELSE 0 END AS BIGINT) AS good
  FROM events GROUP BY 1
),
banded AS (
  SELECT CAST(len(bin(cents)) - 1 AS INT) AS band, good
  FROM per_user WHERE cents > 0
),
cells AS (
  SELECT band,
         CAST(SUM(good) AS BIGINT) AS n_good,
         CAST(SUM(1 - good) AS BIGINT) AS n_bad
  FROM banded GROUP BY band
),
tot AS (
  SELECT CAST(SUM(n_good) AS BIGINT) AS tg, CAST(SUM(n_bad) AS BIGINT) AS tb
  FROM cells
),
contrib AS (
  SELECT c.band, c.n_good, c.n_bad,
         ln(((c.n_good + 1)::DOUBLE / (t.tg + 1))
            / ((c.n_bad + 1)::DOUBLE / (t.tb + 1))) AS woe,
         ((c.n_good + 1)::DOUBLE / (t.tg + 1)
          - (c.n_bad + 1)::DOUBLE / (t.tb + 1))
           * ln(((c.n_good + 1)::DOUBLE / (t.tg + 1))
                / ((c.n_bad + 1)::DOUBLE / (t.tb + 1))) AS iv_c
  FROM cells c CROSS JOIN tot t
),
ivsum AS (SELECT SUM(iv_c) AS iv FROM contrib)
SELECT c.band, c.n_good, c.n_bad,
       round(c.woe, 6) + 0.0 AS woe,
       round(c.iv_c, 6) + 0.0 AS iv_contrib,
       round(s.iv, 6) + 0.0 AS iv_total
FROM contrib c CROSS JOIN ivsum s
""",
)
def ml_information_value_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information Value / Weight of Evidence of the spend-band feature
    against the heavy-purchaser label (purchase share above the 1/5
    base rate — an any-purchase flag saturates to all-good at this
    event density, leaving n_bad ≡ 0 and the WoE column meaningless;
    the degenerate-output audit) — credit-scoring's feature-screening
    staple (IV < 0.02 useless, > 0.3 strong) and PSI's SUPERVISED
    sibling: PSI (dq_psi_value_drift) asks "did the banded shape move
    over time?"; IV asks "does the banded shape separate good from
    bad?" — both over the same data-independent power-of-two bands,
    both with add-one smoothing so empty cells stay finite.

    Determinism: per-user totals and labels are exact int64; each
    band's WOE is one ln of a ratio of smoothed shares (round(6)
    absorbs libm ulps) and IV sums ≤64 such terms with identical order
    sensitivity to the PSI/Benford convention. Scale shape: one
    user-keyed rollup, one ≤64-row band relation, 1-row totals riding
    broadcast cross joins."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
            (
                5 * F.sum((F.col("event_type") == "purchase").cast("bigint"))
                > F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("good"),
        )
        .filter(F.col("cents") > 0)
    )
    cells = per_user.select(
        (F.length(F.bin("cents")) - 1).cast("int").alias("band"), "good"
    ).groupBy("band").agg(
        F.sum("good").cast("bigint").alias("n_good"),
        F.sum(1 - F.col("good")).cast("bigint").alias("n_bad"),
    )
    tot = cells.agg(
        F.sum("n_good").cast("bigint").alias("tg"),
        F.sum("n_bad").cast("bigint").alias("tb"),
    )
    pg = (F.col("n_good") + 1).cast("double") / (F.col("tg") + 1)
    pb = (F.col("n_bad") + 1).cast("double") / (F.col("tb") + 1)
    contrib = cells.crossJoin(F.broadcast(tot)).select(
        "band",
        "n_good",
        "n_bad",
        F.log(pg / pb).alias("woe"),
        ((pg - pb) * F.log(pg / pb)).alias("iv_c"),
    )
    ivsum = contrib.agg(F.sum("iv_c").alias("iv"))
    return contrib.crossJoin(F.broadcast(ivsum)).select(
        "band",
        "n_good",
        "n_bad",
        (F.round("woe", 6) + F.lit(0.0)).alias("woe"),
        (F.round("iv_c", 6) + F.lit(0.0)).alias("iv_contrib"),
        (F.round("iv", 6) + F.lit(0.0)).alias("iv_total"),
    )


# ---------------------------------------------------------------------------
# Stratified adjustment / IPW average treatment effect
# ---------------------------------------------------------------------------

#: Activity-band stratum edges (total events per user).
IPW_LO, IPW_HI = 60, 70


@query(
    "ab_ipw_stratified_ate",
    oracle=f"""
WITH u AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS spend
  FROM events GROUP BY user_id
),
lab AS (
  SELECT CASE WHEN n < {IPW_LO} THEN 'lo'
              WHEN n < {IPW_HI} THEN 'mid' ELSE 'hi' END AS stratum,
         CASE WHEN e * 5 > n THEN 1 ELSE 0 END AS t,
         spend
  FROM u
),
cells AS (
  SELECT stratum, t, COUNT(*)::BIGINT AS nu, SUM(spend)::BIGINT AS s
  FROM lab GROUP BY stratum, t
),
wide AS (
  SELECT stratum,
         MAX(CASE WHEN t = 1 THEN nu END) AS nt,
         MAX(CASE WHEN t = 1 THEN s END) AS st,
         MAX(CASE WHEN t = 0 THEN nu END) AS nc,
         MAX(CASE WHEN t = 0 THEN s END) AS sc
  FROM cells GROUP BY stratum
  HAVING MAX(CASE WHEN t = 1 THEN nu END) > 0
     AND MAX(CASE WHEN t = 0 THEN nu END) > 0
),
tot AS (SELECT SUM(nt + nc) AS bign FROM wide),
term AS (
  SELECT w.stratum, w.nt, w.nc, w.st, w.sc,
         (w.nt + w.nc)::DOUBLE / t.bign AS wgt,
         (w.st::DOUBLE / w.nt / 100 - w.sc::DOUBLE / w.nc / 100) AS diff
  FROM wide w CROSS JOIN tot t
),
run AS (
  SELECT *, SUM(wgt * diff) OVER (ORDER BY stratum
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ate_run,
         row_number() OVER (ORDER BY stratum DESC) AS rid
  FROM term
)
SELECT stratum, nt AS n_treated, nc AS n_control,
       round(st::DOUBLE / nt / 100, 6) AS mean_treated,
       round(sc::DOUBLE / nc / 100, 6) AS mean_control,
       round(diff, 6) AS diff,
       round(wgt, 6) AS weight
FROM run
UNION ALL
SELECT 'ALL', SUM(nt)::BIGINT, SUM(nc)::BIGINT, NULL, NULL,
       round(MAX(CASE WHEN rid = 1 THEN ate_run END), 6),
       CAST(1.0 AS DOUBLE)
FROM run
""",
)
def ab_ipw_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified-adjustment average treatment effect — IPW with a
    discrete propensity: users stratify by activity band, "treatment"
    is an observed behavior (error share > 20%, deliberately
    correlated with the activity stratum), and the ATE is the
    stratum-size-weighted mean outcome difference over strata where
    BOTH arms are populated (off-support strata drop out, the
    positivity rule). This is the causal-inference readout pipelines
    run when assignment was NOT randomized — the observational
    counterpart of ab_test_proportions/ab_test_cuped.

    Exactness: outcomes are cents-quantized int64 sums, every mean is
    one IEEE division, and the cross-stratum ATE accumulates through
    an ORDERED running-sum window (both engines add the per-stratum
    terms in the same sequence — an unordered SUM over doubles would
    be shuffle-order-dependent).

    Scale shape: one user-keyed partial-combined rollup (the only
    shuffle), then all arithmetic on the |strata|×2-cell relation;
    the ALL row rides the same tiny relation. No driver math."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("int")).alias("e"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("spend"),
    )
    lab = u.select(
        F.when(F.col("n") < IPW_LO, "lo")
        .when(F.col("n") < IPW_HI, "mid")
        .otherwise("hi")
        .alias("stratum"),
        (F.col("e") * 5 > F.col("n")).cast("int").alias("t"),
        "spend",
    )
    cells = lab.groupBy("stratum", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("nu"),
        F.sum("spend").cast("bigint").alias("s"),
    )
    wide = (
        cells.groupBy("stratum")
        .agg(
            F.max(F.when(F.col("t") == 1, F.col("nu"))).alias("nt"),
            F.max(F.when(F.col("t") == 1, F.col("s"))).alias("st"),
            F.max(F.when(F.col("t") == 0, F.col("nu"))).alias("nc"),
            F.max(F.when(F.col("t") == 0, F.col("s"))).alias("sc"),
        )
        .filter((F.col("nt") > 0) & (F.col("nc") > 0))
    )
    tot = wide.agg(F.sum(F.col("nt") + F.col("nc")).alias("bign"))
    term = wide.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "nt",
        "nc",
        "st",
        "sc",
        ((F.col("nt") + F.col("nc")).cast("double") / F.col("bign")).alias(
            "wgt"
        ),
        (
            F.col("st").cast("double") / F.col("nt") / 100
            - F.col("sc").cast("double") / F.col("nc") / 100
        ).alias("diff"),
    )
    w_run = W.orderBy("stratum").rowsBetween(W.unboundedPreceding, W.currentRow)
    run = term.select(
        "*",
        F.sum(F.col("wgt") * F.col("diff")).over(w_run).alias("ate_run"),
        F.row_number().over(W.orderBy(F.desc("stratum"))).alias("rid"),
    )
    per_stratum = run.select(
        "stratum",
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_control"),
        F.round(F.col("st").cast("double") / F.col("nt") / 100, 6).alias(
            "mean_treated"
        ),
        F.round(F.col("sc").cast("double") / F.col("nc") / 100, 6).alias(
            "mean_control"
        ),
        F.round("diff", 6).alias("diff"),
        F.round("wgt", 6).alias("weight"),
    )
    all_row = run.agg(
        F.lit("ALL").alias("stratum"),
        F.sum("nt").cast("bigint").alias("n_treated"),
        F.sum("nc").cast("bigint").alias("n_control"),
        F.lit(None).cast("double").alias("mean_treated"),
        F.lit(None).cast("double").alias("mean_control"),
        F.round(
            F.max(F.when(F.col("rid") == 1, F.col("ate_run"))), 6
        ).alias("diff"),
        F.lit(1.0).alias("weight"),
    )
    return per_stratum.unionByName(all_row)


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval (deterministic resampling)
# ---------------------------------------------------------------------------

BOOT_B = 32  #: bootstrap replicas

#: Poisson(1) CDF cut points: a 60-bit md5 uniform maps through the
#: inverse CDF to the per-user replica weight — the Poisson bootstrap
#: (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
#: Google 2012), which needs NO shared state across rows and is the
#: only bootstrap that runs in one scan at 100 TB.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)
_U_DEN = float(1 << 60)


def _pois_w_sql(u: str) -> str:
    branches = "".join(
        f" WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE{branches} ELSE 7 END"


def _boot_u_sql() -> str:
    from etl_pipeline_sam_gov_spark.operators.dedup import _sql_hash60

    h = _sql_hash60("CAST(user_id AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)")
    return f"({h})::DOUBLE / {_U_DEN!r}"


@query(
    "ab_bootstrap_ci_poisson",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS spend
  FROM events GROUP BY user_id
),
reps AS (
  SELECT u.user_id, u.spend, b.b,
         {_pois_w_sql(_boot_u_sql())} AS w
  FROM u CROSS JOIN (SELECT unnest(range({BOOT_B})) AS b) b
),
boot AS (
  SELECT b, SUM(w * spend)::BIGINT AS sw, SUM(w)::BIGINT AS ww
  FROM reps GROUP BY b
),
ranked AS (
  SELECT b, sw::DOUBLE / ww / 100 AS m,
         row_number() OVER (ORDER BY sw::DOUBLE / ww / 100, b) AS r
  FROM boot
),
tot AS (SELECT COUNT(*)::BIGINT AS n_users, SUM(spend)::BIGINT AS s FROM u)
SELECT t.n_users,
       round(t.s::DOUBLE / t.n_users / 100, 6) AS point_mean,
       round(MAX(CASE WHEN r.r = 2 THEN r.m END), 6) AS boot_lo,
       round((MAX(CASE WHEN r.r = {BOOT_B // 2} THEN r.m END)
            + MAX(CASE WHEN r.r = {BOOT_B // 2 + 1} THEN r.m END)) / 2, 6)
         AS boot_median,
       round(MAX(CASE WHEN r.r = {BOOT_B - 1} THEN r.m END), 6) AS boot_hi
FROM ranked r CROSS JOIN tot t
GROUP BY t.n_users, t.s
""",
)
def ab_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean user spend via the
    POISSON bootstrap: each (user, replica) pair draws a Poisson(1)
    weight from a deterministic md5 uniform, so resampling is a pure
    per-row map — no sampling with replacement across a 100 TB
    corpus, no shared state, reproducible across engines AND across
    reruns (append-stable like every sampling decision in the
    curation family). The replica means' order statistics give the
    interval (ranks 2 and B-1 of B=32 ≈ a 94% interval; the
    percentile-rank convention is pinned, not interpolated).

    Exactness: weights are small ints from exact 60-bit-hash uniform
    cut-point compares; each replica's weighted sum/count are int64;
    each replica mean is one IEEE division; the median of two middle
    ranks is one addition + one halving. Scale shape: one user rollup
    (the only corpus shuffle), a ×B generate (narrow: two ints per
    row), one B-group partial-combined agg, then all math on B rows."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("spend")
    )
    reps = u.select(
        "user_id",
        "spend",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    uu = (
        _spark_hash60(
            F.concat_ws(":", F.col("user_id").cast("string"), F.col("b").cast("string"))
        ).cast("double")
        / F.lit(_U_DEN)
    )
    w = F.lit(7)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(uu < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    boot = (
        reps.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("spend")).cast("bigint").alias("sw"),
            F.sum("w").cast("bigint").alias("ww"),
        )
    )
    m = F.col("sw").cast("double") / F.col("ww") / 100
    ranked = boot.select("b", m.alias("m")).withColumn(
        "r", F.row_number().over(W.orderBy("m", "b"))
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("spend").cast("bigint").alias("s"),
    )
    mid1, mid2 = BOOT_B // 2, BOOT_B // 2 + 1
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("n_users", "s")
        .agg(
            F.round(F.max(F.when(F.col("r") == 2, F.col("m"))), 6).alias(
                "boot_lo"
            ),
            F.round(
                (
                    F.max(F.when(F.col("r") == mid1, F.col("m")))
                    + F.max(F.when(F.col("r") == mid2, F.col("m")))
                )
                / 2,
                6,
            ).alias("boot_median"),
            F.round(
                F.max(F.when(F.col("r") == BOOT_B - 1, F.col("m"))), 6
            ).alias("boot_hi"),
        )
        .select(
            "n_users",
            F.round(F.col("s").cast("double") / F.col("n_users") / 100, 6).alias(
                "point_mean"
            ),
            "boot_lo",
            "boot_median",
            "boot_hi",
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test between hash-assigned arms
# ---------------------------------------------------------------------------

#: z² threshold for two-sided α=0.05 on the normal approximation.
MWU_Z2_CRIT = 3.8416


@query(
    "ab_mann_whitney_u",
    oracle=f"""
WITH peruser AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY user_id
),
byval AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS ceq,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca
  FROM peruser GROUP BY v
),
ranked AS (
  SELECT ceq, ca,
         COALESCE(SUM(ceq) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt
  FROM byval
),
sums AS (
  SELECT CAST(SUM(ca * (2 * clt + ceq + 1)) AS BIGINT) AS r2a,
         CAST(SUM(ca) AS BIGINT) AS n_a,
         CAST(SUM(ceq) - SUM(ca) AS BIGINT) AS n_b,
         CAST(SUM(ceq * ceq * ceq - ceq) AS BIGINT) AS tie3
  FROM ranked
)
SELECT n_a, n_b,
       round(CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2, 6) AS u_stat,
       round(CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) / 2.0
             / sqrt(CAST(n_a AS DOUBLE) * n_b
                    * ((n_a + n_b + 1)
                       - CAST(tie3 AS DOUBLE) / (n_a + n_b)
                         / (n_a + n_b - 1)) / 12.0), 6) + 0.0 AS z_stat,
       round(CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) / 2.0
             / sqrt(CAST(n_a AS DOUBLE) * n_b
                    * ((n_a + n_b + 1)
                       - CAST(tie3 AS DOUBLE) / (n_a + n_b)
                         / (n_a + n_b - 1)) / 12.0), 6)
       * round(CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE) / 2.0
               / sqrt(CAST(n_a AS DOUBLE) * n_b
                      * ((n_a + n_b + 1)
                         - CAST(tie3 AS DOUBLE) / (n_a + n_b)
                           / (n_a + n_b - 1)) / 12.0), 6) > {MWU_Z2_CRIT}
         AS significant
FROM sums
""",
)
def ab_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test on per-user total spend
    between two hash-assigned experiment arms — the NONPARAMETRIC
    counterpart of the two-proportion z (ab_test_proportions) and
    Welch t (ts_welch_ttest_pairwise): it compares whole distributions
    by rank, so a heavy-tailed metric (revenue!) can't let a few
    whales fake or mask a shift. The tie-corrected normal
    approximation z = (U − n_a·n_b/2) / √Var is the standard readout
    at experiment scale.

    Exactness without a global per-row sort: pool per-user totals,
    collapse to the DISTINCT-VALUE relation (value → count, per-arm
    count), take one ordered prefix-sum over that |V|-row relation —
    average midranks are then clt + (ceq+1)/2, and DOUBLED rank sums
    (2R = Σ ca·(2·clt + ceq + 1)) keep every rank statistic an exact
    int64, ties included. The tie correction Σ(t³−t) falls out of the
    same relation. One double expression (identical op order both
    engines) produces z; significance compares z² against 1.96².

    Scale shape: one shuffle on user_id, one groupBy(v) partial-
    combined collapse, then a prefix sum over distinct values. |V| ≪
    corpus rows but still GROWS with users (cent-grain spend totals are
    nearly all distinct), so the prefix sum is
    ``functions.prefix.running_sums``, never one global window task.
    The slice id is a PURE FUNCTION of the value (width_bucket over
    the broadcast min/max span) rather than a sampled range slicing:
    this query is a prepared-plan headliner, where persisting the
    slices would cost a per-invocation cache cycle. Slices are
    value-equidistant rather than count-balanced — correctness only
    needs ordered disjoint spans, and the offsets window stays
    ≤ n_parts+1 rows."""
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("v")
        )
        .select(
            (_spark_hash60(F.col("user_id").cast("string")) % 2).alias("arm"),
            "v",
        )
    )
    byval = per_user.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("ceq"),
        F.sum((F.col("arm") == 0).cast("bigint")).alias("ca"),
    )
    # _pid = width_bucket of v over the broadcast min/max span: a pure
    # row function (functions/prefix.py's slice contract), so the
    # running sums need no persist and no sampled exchange. byval fans
    # out to the span aggregate too, but it is fully deterministic, so
    # independent re-executions agree.
    span = byval.agg(
        F.min("v").alias("vlo"), F.max("v").alias("vhi")
    )
    n_parts = spark.sparkContext.defaultParallelism
    ranged = byval.crossJoin(F.broadcast(span)).select(
        "v",
        "ceq",
        "ca",
        F.width_bucket(
            "v", "vlo", F.col("vhi") + 1, F.lit(n_parts)
        ).alias("_pid"),
    )
    ranked = running_sums(ranged, [], ["v"], {"cle": F.col("ceq")}).select(
        "ceq", "ca", (F.col("cle") - F.col("ceq")).alias("clt")
    )
    sums = ranked.agg(
        F.sum(
            F.col("ca") * (2 * F.col("clt") + F.col("ceq") + 1)
        ).cast("bigint").alias("r2a"),
        F.sum("ca").cast("bigint").alias("n_a"),
        (F.sum("ceq") - F.sum("ca")).cast("bigint").alias("n_b"),
        F.sum(
            F.col("ceq") * F.col("ceq") * F.col("ceq") - F.col("ceq")
        ).cast("bigint").alias("tie3"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    nn = n_a + n_b
    a2 = F.col("r2a") - n_a * (n_a + 1) - n_a * n_b  # 2·(U − E[U]), exact
    z = (
        a2.cast("double")
        / 2.0
        / F.sqrt(
            n_a.cast("double")
            * n_b
            * ((nn + 1) - F.col("tie3").cast("double") / nn / (nn - 1))
            / 12.0
        )
    )
    return sums.select(
        "n_a",
        "n_b",
        F.round(
            (F.col("r2a") - n_a * (n_a + 1)).cast("double") / 2, 6
        ).alias("u_stat"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
        (F.round(z, 6) * F.round(z, 6) > MWU_Z2_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check — chi-square goodness of fit
# ---------------------------------------------------------------------------

SRM_BUCKETS = 4  #: hash-assignment cells, each expected N/4
#: χ² threshold at α=0.001 for df=3 — SRM checks alarm STRICT (a real
#: assignment bug shows up at p ≪ 0.001; looser thresholds false-alarm).
SRM_CHI2_CRIT = 16.266


@query(
    "ab_srm_check",
    oracle=f"""
WITH assigned AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % {SRM_BUCKETS} AS bucket
  FROM events GROUP BY user_id
),
counts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM assigned GROUP BY bucket
),
tot0 AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM counts
),
tot AS (
  SELECT t0.n,
         CAST(SUM(({SRM_BUCKETS} * c.n_obs - t0.n)
                  * ({SRM_BUCKETS} * c.n_obs - t0.n)) AS BIGINT) AS ssq
  FROM counts c CROSS JOIN tot0 t0
  GROUP BY t0.n
)
SELECT c.bucket, c.n_obs,
       round(CAST(t.n AS DOUBLE) / {SRM_BUCKETS}, 6) AS expected,
       round(CAST(({SRM_BUCKETS} * c.n_obs - t.n)
                  * ({SRM_BUCKETS} * c.n_obs - t.n) AS DOUBLE)
             / ({SRM_BUCKETS}.0 * t.n), 6) AS chi2_contrib,
       round(CAST(t.ssq AS DOUBLE) / ({SRM_BUCKETS}.0 * t.n), 6) AS chi2_total,
       round(CAST(t.ssq AS DOUBLE) / ({SRM_BUCKETS}.0 * t.n), 6)
         > {SRM_CHI2_CRIT} AS srm_detected
FROM counts c CROSS JOIN tot t
""",
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard: chi-square goodness-of-fit of the
    hash-assignment cell counts against the designed uniform split —
    the FIRST validity check every experimentation platform runs
    before reading any metric (a biased assignment invalidates the
    whole experiment; Kohavi's trustworthy-experiments rule). Alarm
    threshold is the df=3 χ² at α=0.001, the industry-standard strict
    cut for SRM.

    Exactness: with E = N/k, Σ(O−E)²/E ≡ Σ(k·O − N)² / (k·N) — the
    numerator is a sum of exact int64 squares, so the χ² total is ONE
    double division; per-cell contributions use the same int-square
    form. No float accumulation anywhere.

    Scale: one groupBy(user_id) to dedupe assignment, one k-row count
    relation, one 1-row total cross-joined (broadcast) back."""
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    counts = (
        ev.select("user_id")
        .distinct()
        .select(
            (_spark_hash60(F.col("user_id").cast("string")) % SRM_BUCKETS)
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    tot0 = counts.agg(F.sum("n_obs").cast("bigint").alias("n"))
    d0 = SRM_BUCKETS * F.col("n_obs") - F.col("n")
    tot = (
        counts.crossJoin(F.broadcast(tot0))
        .groupBy("n")
        .agg(F.sum(d0 * d0).cast("bigint").alias("ssq"))
    )
    dev = SRM_BUCKETS * F.col("n_obs") - F.col("n")
    chi2_total = F.col("ssq").cast("double") / (float(SRM_BUCKETS) * F.col("n"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_obs",
        F.round(F.col("n").cast("double") / SRM_BUCKETS, 6).alias("expected"),
        F.round(
            (dev * dev).cast("double") / (float(SRM_BUCKETS) * F.col("n")), 6
        ).alias("chi2_contrib"),
        F.round(chi2_total, 6).alias("chi2_total"),
        (F.round(chi2_total, 6) > SRM_CHI2_CRIT).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# Delta-method ratio metric (purchases per event) with arm comparison
# ---------------------------------------------------------------------------

DELTA_Z2_CRIT = 3.8416  #: 1.96² — two-sided α=0.05


def _delta_ratio_sql(hash60) -> str:
    """ONE SQL text for both engines (the ml_conformal_interval move):
    only the 60-bit md5 hash spelling differs. Every moment is exact
    int64; mx/my/R/vx/vy/cxy/var(R) appear once each as named columns
    so the double op ORDER is structurally identical."""
    arm = hash60("CAST(user_id AS {s})")
    return f"""
WITH peruser AS (
  SELECT {arm} % 2 AS arm,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
mom AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM peruser GROUP BY arm
),
means AS (
  SELECT arm, n, sx, sy,
         CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my
  FROM mom
),
stats AS (
  SELECT m.arm, m.n, m.sx, m.sy, m.mx, m.my,
         m.mx / m.my AS r,
         (CAST(o.sxx AS DOUBLE) / m.n - m.mx * m.mx) * m.n / (m.n - 1) AS vx,
         (CAST(o.syy AS DOUBLE) / m.n - m.my * m.my) * m.n / (m.n - 1) AS vy,
         (CAST(o.sxy AS DOUBLE) / m.n - m.mx * m.my) * m.n / (m.n - 1) AS cxy
  FROM means m JOIN mom o ON m.arm = o.arm
),
varr AS (
  SELECT arm, n, sx, sy, r,
         (vx + r * r * vy - 2 * r * cxy) / (my * my) / n AS var_r
  FROM stats
),
w AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
         MAX(CASE WHEN arm = 0 THEN r END) AS r_a,
         MAX(CASE WHEN arm = 0 THEN var_r END) AS var_a,
         MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
         MAX(CASE WHEN arm = 1 THEN r END) AS r_b,
         MAX(CASE WHEN arm = 1 THEN var_r END) AS var_b
  FROM varr
)
SELECT n_a, n_b,
       round(r_a, 6) AS ratio_a,
       round(r_b, 6) AS ratio_b,
       round(sqrt(var_a), 6) AS se_a,
       round(sqrt(var_b), 6) AS se_b,
       round(r_b - r_a, 6) + 0.0 AS diff,
       round((r_b - r_a) / sqrt(var_a + var_b), 6) + 0.0 AS z_stat,
       round((r_b - r_a) / sqrt(var_a + var_b), 6)
         * round((r_b - r_a) / sqrt(var_a + var_b), 6) > {DELTA_Z2_CRIT}
         AS significant
FROM w
"""


@query(
    "ab_delta_method_ratio",
    oracle=_delta_ratio_sql(
        lambda e: f"('0x' || substr(md5({e.format(s='VARCHAR')}), 1, 15))::BIGINT"
    ),
)
def ab_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method inference for a RATIO metric — purchase events per
    event (session-level CTR analog) compared across two hash arms.
    Ratio metrics violate the iid-per-user assumption (numerator and
    denominator are correlated within a user), so naive proportion
    variance is wrong; the experimentation-platform standard (Deng et
    al., KDD'18) linearizes R = x̄/ȳ and uses Var(R) ≈ (σx² + R²σy²
    − 2R·σxy) / (ȳ²·n) with per-USER moments — exactly what this
    computes, then a two-arm z on the difference.

    ONE SQL text drives both engines (hash spelling aside), so every
    double op — means, Bessel-corrected (co)variances, the var(R)
    assembly, z — runs in an identical order; moments underneath are
    exact int64 counts. Scale: one shuffle on user_id, a 2-row moment
    relation, a 1-row readout."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _delta_ratio_sql(
            lambda e: (
                "CAST(conv(substring(md5("
                + e.format(s="STRING")
                + "), 1, 15), 16, 10) AS BIGINT)"
            )
        )
    )


# ---------------------------------------------------------------------------
# Minimum detectable effect (experiment power analysis)
# ---------------------------------------------------------------------------

#: z_{α/2} + z_{β} for a two-sided α=0.05 test at 80% power:
#: 1.959964 + 0.841621 = 2.801585 (both quantiles to 6 dp).
MDE_Z_SUM = 2.801585


def _mde_sql() -> str:
    """Engine-shared SQL (no hashing at all — fully portable)."""
    return f"""
WITH peruser AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY event_type, user_id
),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM peruser GROUP BY event_type
),
v AS (
  SELECT event_type, n_users, s1,
         (CAST(s2 AS DOUBLE) / n_users
          - (CAST(s1 AS DOUBLE) / n_users) * (CAST(s1 AS DOUBLE) / n_users))
           * n_users / (n_users - 1) AS var_c
  FROM mom
)
SELECT event_type, n_users,
       round(CAST(s1 AS DOUBLE) / n_users / 100, 6) AS mean_value,
       round(sqrt(var_c) / 100, 6) AS stddev_value,
       round({MDE_Z_SUM} * sqrt(2 * var_c / (CAST(n_users AS DOUBLE) / 2))
             / 100, 6) AS mde_abs,
       round({MDE_Z_SUM} * sqrt(2 * var_c / (CAST(n_users AS DOUBLE) / 2))
             / (CAST(s1 AS DOUBLE) / n_users), 6) AS mde_rel
FROM v
"""


@query("ab_minimum_detectable_effect", oracle=_mde_sql())
def ab_minimum_detectable_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment DESIGN readout: per event-type segment, the minimum
    detectable effect a 50/50 split of today's population could
    certify at α=0.05 / 80% power — MDE = (z_{{α/2}}+z_β)·√(2σ²/n̂)
    with n̂ = n/2 users per arm. This is the pre-registration step of
    every experimentation platform (pick segments/duration BEFORE
    launch); it pairs with ab_test_proportions (the post-hoc readout)
    and ab_srm_check (the validity gate).

    Variance comes from exact int64 centized per-user moments with
    the Bessel factor; the z-quantile sum is a fixed 6-dp constant,
    so both engines execute one identical double expression per
    segment. Scale: one (type,user) shuffle, a |types|-row readout."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(_mde_sql())


# ---------------------------------------------------------------------------
# Sequential probability ratio test (Wald SPRT)
# ---------------------------------------------------------------------------

import math as _math

SPRT_P0 = 0.10  #: H0 conversion rate
SPRT_P1 = 0.15  #: H1 conversion rate
#: Per-observation log-likelihood-ratio increments, computed ONCE in
#: Python and embedded as double literals, so both engines only ever
#: multiply exact int counts by the same two constants.
SPRT_C1 = _math.log(SPRT_P1 / SPRT_P0)
SPRT_C0 = _math.log((1 - SPRT_P1) / (1 - SPRT_P0))
#: Wald boundaries at α=β=0.05: ln((1−β)/α) and ln(β/(1−α)).
SPRT_A = _math.log(19.0)
SPRT_B = -_math.log(19.0)


def _sprt_sql(hash60) -> str:
    """ONE SQL text for both engines — only the md5 hash spelling
    differs. The LLR after n observations with k successes is
    k·c1 + (n−k)·c0 (exact ints × fixed literals), so the whole
    sequential walk is reproducible bit-for-bit."""
    arm = hash60("CAST(user_id AS {s})")
    return f"""
WITH tagged AS (
  SELECT {arm} % 2 AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ,
         ts, event_id
  FROM events
),
walk AS (
  SELECT arm,
         row_number() OVER (PARTITION BY arm ORDER BY ts, event_id) AS rn,
         CAST(SUM(succ) OVER (PARTITION BY arm ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS k
  FROM tagged
),
scored AS (
  SELECT arm, rn, k,
         CAST(k AS DOUBLE) * {SPRT_C1!r}
           + CAST(rn - k AS DOUBLE) * {SPRT_C0!r} AS llr
  FROM walk
),
crossed AS (
  SELECT arm,
         MIN(CASE WHEN llr >= {SPRT_A!r} OR llr <= {SPRT_B!r}
                  THEN rn END) AS rn_dec,
         CAST(MAX(rn) AS BIGINT) AS n_total
  FROM scored GROUP BY arm
)
SELECT c.arm, c.n_total,
       CAST(COALESCE(c.rn_dec, c.n_total) AS BIGINT) AS n_at_decision,
       s.k AS k_at_decision,
       round(s.llr, 6) + 0.0 AS llr_at_decision,
       CASE WHEN c.rn_dec IS NULL THEN 'continue'
            WHEN s.llr >= {SPRT_A!r} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision
FROM crossed c
JOIN scored s
  ON s.arm = c.arm AND s.rn = COALESCE(c.rn_dec, c.n_total)
"""


@query(
    "ab_sequential_sprt",
    oracle=_sprt_sql(
        lambda e: f"('0x' || substr(md5({e.format(s='VARCHAR')}), 1, 15))::BIGINT"
    ),
)
def ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (1945) per experiment
    arm: walk the event stream in time order accumulating the Bernoulli
    log-likelihood ratio for conversion rate p1=0.15 vs p0=0.10, and
    STOP at the first crossing of the ln(19) boundaries — the
    always-valid sequential monitor that lets an experiment end the
    moment the evidence suffices (the peeking-problem fix; ~half the
    fixed-n sample on average). Reports where each arm's walk first
    decided, or 'continue' if it never did.

    LLR_n = k·ln(p1/p0) + (n−k)·ln(q1/q0): k and n are exact integer
    prefix sums, the two log constants are computed once in Python and
    embedded as literals in both engines — the walk is bit-reproducible,
    no libm call in either engine. The oracle states the walk as plain
    PARTITION BY arm windows, so the hash match also proves the
    decomposition below loses nothing (formulation independence).

    Scale: a sequential test is an inherently ordered scan — but
    PARTITION BY arm alone puts HALF THE CORPUS in one window task
    (two arms; measured 6.25x super-linear at the 16x stress step).
    The per-arm n (a running sum of 1) and k run as
    ``functions.prefix.running_sums`` over (arm, ts, event_id)
    slices instead: one task per slice, the offsets over the
    2·n_parts-row subtotal relation. The first-crossing lookup is
    then one partial-combined aggregate per arm — never a driver-side
    loop."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    tagged = ev.select(
        (_spark_hash60(F.col("user_id").cast("string")) % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("succ"),
        "ts",
        "event_id",
    )
    # Persisted: the slices feed both phases of the running sums
    # (functions/prefix.py's slice contract).
    ranged = slot_persist(
        spark, "sprt", range_sliced(tagged, "arm", "ts", "event_id")
    )
    scored = (
        running_sums(
            ranged,
            ["arm"],
            ["ts", "event_id"],
            {"rn": F.lit(1), "k": F.col("succ")},
        )
        .select("arm", "rn", "k")
        .withColumn(
            "llr",
            F.col("k").cast("double") * F.lit(SPRT_C1)
            + (F.col("rn") - F.col("k")).cast("double") * F.lit(SPRT_C0),
        )
    )
    hit = (F.col("llr") >= F.lit(SPRT_A)) | (F.col("llr") <= F.lit(SPRT_B))
    # ONE aggregate pass recovers the decision row (ADVICE r05: the old
    # crossed-aggregate + decision-row join consumed `scored` twice with
    # no persist, so the window/join work above executed twice per
    # action). rn is unique within an arm, so min_by picks the k at the
    # first crossing and max_by the k at the final row — and llr is a
    # pure function of (k, n) with literal log constants, so recomputing
    # it from the aggregated ints is bit-identical to the row's value.
    agg = scored.groupBy("arm").agg(
        F.min(F.when(hit, F.col("rn"))).alias("rn_dec"),
        F.max("rn").cast("bigint").alias("n_total"),
        F.min_by("k", F.when(hit, F.col("rn"))).alias("k_dec"),
        F.max_by("k", "rn").alias("k_tot"),
    )
    n_dec = F.coalesce(F.col("rn_dec"), F.col("n_total")).cast("bigint")
    k_dec = (
        F.when(F.col("rn_dec").isNull(), F.col("k_tot"))
        .otherwise(F.col("k_dec"))
        .cast("bigint")
    )
    llr_dec = k_dec.cast("double") * F.lit(SPRT_C1) + (
        n_dec - k_dec
    ).cast("double") * F.lit(SPRT_C0)
    return agg.select(
        "arm",
        "n_total",
        n_dec.alias("n_at_decision"),
        k_dec.alias("k_at_decision"),
        (F.round(llr_dec, 6) + F.lit(0.0)).alias("llr_at_decision"),
        F.when(F.col("rn_dec").isNull(), "continue")
        .when(llr_dec >= F.lit(SPRT_A), "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Propensity caliper matching (1-NN with replacement) — ATT estimate
# ---------------------------------------------------------------------------

MATCH_CALIPER_BP = 500  #: max |propensity gap| in basis points


@query(
    "ab_propensity_caliper_match",
    oracle=f"""
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS spend
  FROM events GROUP BY user_id
),
lab AS (
  SELECT user_id, (e * 5 > n) AS treated,
         CAST((e * 10000) // n AS BIGINT) AS bp, spend
  FROM u
),
walk AS (
  SELECT user_id, treated, bp, spend,
         last_value(CASE WHEN NOT treated THEN bp END IGNORE NULLS)
           OVER w_prev AS pbp,
         last_value(CASE WHEN NOT treated THEN spend END IGNORE NULLS)
           OVER w_prev AS pspend,
         first_value(CASE WHEN NOT treated THEN bp END IGNORE NULLS)
           OVER w_next AS nbp,
         first_value(CASE WHEN NOT treated THEN spend END IGNORE NULLS)
           OVER w_next AS nspend
  FROM lab
  WINDOW
    w_prev AS (ORDER BY bp, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
    w_next AS (ORDER BY bp, user_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
chosen AS (
  SELECT user_id, spend,
         CASE WHEN pbp IS NULL AND nbp IS NULL THEN NULL
              WHEN nbp IS NULL THEN bp - pbp
              WHEN pbp IS NULL THEN nbp - bp
              WHEN bp - pbp <= nbp - bp THEN bp - pbp
              ELSE nbp - bp END AS dist,
         CASE WHEN pbp IS NULL AND nbp IS NULL THEN NULL
              WHEN nbp IS NULL THEN pspend
              WHEN pbp IS NULL THEN nspend
              WHEN bp - pbp <= nbp - bp THEN pspend
              ELSE nspend END AS cspend
  FROM walk WHERE treated
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
       CAST(SUM(CASE WHEN dist <= {MATCH_CALIPER_BP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       round(CAST(SUM(CASE WHEN dist <= {MATCH_CALIPER_BP}
                      THEN spend - cspend END) AS DOUBLE)
             / SUM(CASE WHEN dist <= {MATCH_CALIPER_BP} THEN 1 ELSE 0 END)
             / 100, 6) + 0.0 AS att_dollars,
       round(CAST(SUM(CASE WHEN dist <= {MATCH_CALIPER_BP}
                      THEN dist END) AS DOUBLE)
             / SUM(CASE WHEN dist <= {MATCH_CALIPER_BP} THEN 1 ELSE 0 END),
             6) AS avg_match_dist_bp
FROM chosen
""",
)
def ab_propensity_caliper_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score CALIPER MATCHING (1-nearest-neighbor with
    replacement) — the third causal-inference method in the family:
    ab_test_* assume randomization, ab_ipw_stratified_ate reweights
    strata; matching instead pairs each treated user with the control
    whose propensity index is nearest (within a 500-basis-point
    caliper) and reads the ATT off the matched outcome differences (Rosenbaum
    & Rubin 1983; Stuart 2010 for the caliper convention).

    The propensity index is the EXACT integer error-share in basis
    points (e·10000 DIV n — the same observed-treatment driver the
    IPW query uses, kept integral so nearest/tie decisions are exact),
    and nearest-control search is a MERGED WALK, not a join: sort the
    pooled users once by (bp, user_id), take last-control-before and
    first-control-after via IGNORE-NULLS window frames, pick the
    closer side (ties → the lower side, documented). Outcomes are
    int64 cents; the ATT and mean match distance are one double
    division each.

    Scale: one user rollup shuffle, then the ordered walk runs as the
    two-phase RANGE-PARTITION walk with boundary carry: each partition
    walks its own slice in parallel (windows keyed by partition id),
    and a row whose slice holds no control on one side falls back to
    the carry — the nearest edge control among preceding/following
    slices, computed on the ≤ n_parts-row per-slice edge relation and
    broadcast back. Identical semantics to the single global walk
    (slices are ordered and disjoint, so "last control in earlier
    slices" IS the global predecessor), never the treated×control
    quadratic, and no unpartitioned corpus-sized window task."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("e"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("spend"),
    )
    lab = u.select(
        "user_id",
        (F.col("e") * 5 > F.col("n")).alias("treated"),
        F.expr("CAST((e * 10000) DIV n AS BIGINT)").alias("bp"),
        "spend",
    )
    # Running frames only: Spark executes [unbounded preceding, current]
    # incrementally in O(n); the textbook [unbounded, 1 PRECEDING] /
    # [1 FOLLOWING, unbounded] frames re-aggregate per row — O(n²),
    # measured 12× super-linear at the 16× stress step. Including the
    # CURRENT row is harmless here because a treated row's own control
    # columns are NULL; the forward walk is the reversed-sort running
    # frame (the resample_interpolate_hourly move). The oracle keeps
    # the textbook frames — semantics are identical.
    # Persisted: `ranged` feeds both the directional edge-control
    # windows and the per-slice extreme aggregation, which must agree
    # on _pid (functions/prefix.py's slice contract).
    ranged = slot_persist(spark, "caliper", range_sliced(lab, "bp", "user_id"))
    w_prev = W.partitionBy("_pid").orderBy("bp", "user_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_next = (
        W.partitionBy("_pid")
        .orderBy(F.col("bp").desc(), F.col("user_id").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # One struct per direction keeps (bp, spend) from the SAME control
    # row; struct comparison is lexicographic, so max/min over
    # (bp, user_id, spend) picks each slice's edge control exactly.
    ctrl = F.when(
        ~F.col("treated"), F.struct("bp", "user_id", "spend")
    )
    walk_local = ranged.select(
        "_pid",
        "treated",
        "bp",
        "spend",
        F.last(ctrl, ignorenulls=True).over(w_prev).alias("pc"),
        F.last(ctrl, ignorenulls=True).over(w_next).alias("nc"),
    )
    # Boundary carry: per slice, its extreme controls; prefix/suffix
    # extremes over the ≤ n_parts-row slice relation give each slice
    # the nearest control in every EARLIER (resp. LATER) slice.
    edges = ranged.groupBy("_pid").agg(
        F.max(ctrl).alias("last_c"), F.min(ctrl).alias("first_c")
    )
    # Suffix extreme as the reversed-sort RUNNING frame (the repo-wide
    # rule: [1 FOLLOWING, unbounded] frames re-aggregate per row).
    w_before = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    w_after = W.orderBy(F.col("_pid").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    carry = edges.select(
        "_pid",
        F.max("last_c").over(w_before).alias("cprev"),
        F.min("first_c").over(w_after).alias("cnext"),
    )
    walk = walk_local.join(F.broadcast(carry), "_pid").select(
        "treated",
        "bp",
        "spend",
        F.coalesce(F.col("pc.bp"), F.col("cprev.bp")).alias("pbp"),
        F.coalesce(F.col("pc.spend"), F.col("cprev.spend")).alias("pspend"),
        F.coalesce(F.col("nc.bp"), F.col("cnext.bp")).alias("nbp"),
        F.coalesce(F.col("nc.spend"), F.col("cnext.spend")).alias("nspend"),
    )
    bp, pbp, nbp = F.col("bp"), F.col("pbp"), F.col("nbp")
    both_null = pbp.isNull() & nbp.isNull()
    dist = (
        F.when(both_null, F.lit(None))
        .when(nbp.isNull(), bp - pbp)
        .when(pbp.isNull(), nbp - bp)
        .when(bp - pbp <= nbp - bp, bp - pbp)
        .otherwise(nbp - bp)
    )
    csp = (
        F.when(both_null, F.lit(None))
        .when(nbp.isNull(), F.col("pspend"))
        .when(pbp.isNull(), F.col("nspend"))
        .when(bp - pbp <= nbp - bp, F.col("pspend"))
        .otherwise(F.col("nspend"))
    )
    chosen = walk.filter("treated").select(
        "spend", dist.alias("dist"), csp.alias("cspend")
    )
    ok = F.col("dist") <= MATCH_CALIPER_BP
    n_matched = F.sum(ok.cast("bigint"))
    return chosen.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated"),
        n_matched.cast("bigint").alias("n_matched"),
        (
            F.round(
                F.sum(F.when(ok, F.col("spend") - F.col("cspend")))
                .cast("double")
                / n_matched
                / 100,
                6,
            )
            + F.lit(0.0)
        ).alias("att_dollars"),
        F.round(
            F.sum(F.when(ok, F.col("dist"))).cast("double") / n_matched, 6
        ).alias("avg_match_dist_bp"),
    )


# ---------------------------------------------------------------------------
# Bayesian A/B — exact P(B > A) under Beta-Binomial posteriors
# ---------------------------------------------------------------------------

BAYES_DECISION_P = 0.95  #: ship threshold on P(B beats A)


def _bayes_ab_sql(hash60, gen_i) -> str:
    """ONE SQL text (hash + series-generator spellings aside). With
    uniform priors the posteriors are Beta with INTEGER parameters, so
    P(B>A) has Cook's closed form — a finite sum of Beta-function
    ratios — and every lnΓ of an integer is a PREFIX SUM of ln k built
    in-engine (running window over a generated series, both engines
    accumulating in ascending k): no lgamma needed, every term's op
    order pinned, the outer sum accumulated in ascending i by another
    running window."""
    arm = hash60("CAST(user_id AS {t})")
    return f"""
WITH peruser AS (
  SELECT {arm} % 2 AS arm,
         CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) > COUNT(*)
              THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS conv
  FROM peruser GROUP BY arm
),
w AS (
  SELECT CAST(MAX(CASE WHEN arm = 0 THEN conv END) + 1 AS BIGINT) AS aa,
         CAST(MAX(CASE WHEN arm = 0 THEN n - conv END) + 1 AS BIGINT) AS ba,
         CAST(MAX(CASE WHEN arm = 1 THEN conv END) + 1 AS BIGINT) AS ab,
         CAST(MAX(CASE WHEN arm = 1 THEN n - conv END) + 1 AS BIGINT) AS bb,
         CAST(MAX(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
         CAST(MAX(CASE WHEN arm = 0 THEN conv END) AS BIGINT) AS conv_a,
         CAST(MAX(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
         CAST(MAX(CASE WHEN arm = 1 THEN conv END) AS BIGINT) AS conv_b
  FROM arms
),
ks AS (SELECT {gen_i("(SELECT aa + ab + ba + bb FROM w)")} AS k),
lf AS (
  SELECT k,
         SUM(ln(CAST(k AS DOUBLE)))
           OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS lfk
  FROM ks WHERE k >= 1
),
lf0 AS (
  SELECT CAST(0 AS BIGINT) AS k, CAST(0.0 AS DOUBLE) AS lfk
  UNION ALL SELECT k, lfk FROM lf
),
terms AS (
  SELECT i.k AS i,
         exp(l1.lfk + l2.lfk - l3.lfk
             - ln(CAST(w.bb + i.k AS DOUBLE))
             - (l4.lfk + l5.lfk - l6.lfk)
             - (l7.lfk + l8.lfk - l9.lfk)) AS t
  FROM w
  JOIN lf0 i ON i.k < w.ab
  JOIN lf0 l1 ON l1.k = w.aa + i.k - 1
  JOIN lf0 l2 ON l2.k = w.ba + w.bb - 1
  JOIN lf0 l3 ON l3.k = w.aa + i.k + w.ba + w.bb - 1
  JOIN lf0 l4 ON l4.k = i.k
  JOIN lf0 l5 ON l5.k = w.bb - 1
  JOIN lf0 l6 ON l6.k = i.k + w.bb
  JOIN lf0 l7 ON l7.k = w.aa - 1
  JOIN lf0 l8 ON l8.k = w.ba - 1
  JOIN lf0 l9 ON l9.k = w.aa + w.ba - 1
),
psum AS (
  SELECT i, SUM(t) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS p,
         COUNT(*) OVER () AS m,
         row_number() OVER (ORDER BY i) AS r
  FROM terms
)
SELECT w.n_a, w.conv_a, w.n_b, w.conv_b,
       round(CAST(w.aa AS DOUBLE) / (w.aa + w.ba), 6) AS posterior_mean_a,
       round(CAST(w.ab AS DOUBLE) / (w.ab + w.bb), 6) AS posterior_mean_b,
       round(s.p, 6) + 0.0 AS prob_b_beats_a,
       s.p > {BAYES_DECISION_P} AS ship_b
FROM w CROSS JOIN (SELECT p FROM psum WHERE r = m) s
"""


@query(
    "ab_bayesian_beta_binomial",
    oracle=_bayes_ab_sql(
        lambda e: f"('0x' || substr(md5({e.format(t='VARCHAR')}), 1, 15))::BIGINT",
        lambda n: f"unnest(range(1, {n} + 1))",
    ),
)
def ab_bayesian_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout: Beta(1,1)-prior conversion posteriors per
    hash arm and the EXACT P(B > A) via Cook's closed-form sum for
    integer-parameter Betas — the decision quantity Bayesian
    experimentation platforms ship on (no p-values, direct "probability
    B is better"), complementing the frequentist family
    (ab_test_proportions / ab_mann_whitney_u / ab_sequential_sprt).

    The numerics are the interesting part at engine level: every
    lnΓ(integer) is a PREFIX SUM of ln k over a generated series (a
    running window both engines accumulate in ascending k — no lgamma
    builtin needed, identical float op sequence), each of the conv_B
    closed-form terms exponentiates the same pinned expression, and
    the outer sum runs in ascending i through another running window —
    order-pinned end to end, certified to round(6).

    Scale: one user-keyed rollup; the lnfact relation is O(n_users)
    rows built once; the term relation is conv_B rows of O(1) lookups
    (equi-joins into lnfact). All downstream of the 2-row arm
    aggregate."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _bayes_ab_sql(
            lambda e: (
                "CAST(conv(substring(md5("
                + e.format(t="STRING")
                + "), 1, 15), 16, 10) AS BIGINT)"
            ),
            lambda n: f"explode(sequence(1, {n}))",
        )
    )


# ---------------------------------------------------------------------------
# Composed experiment readout (SRM gate + four inference methods)
# ---------------------------------------------------------------------------


def _experiment_report_oracle() -> str:
    """Composes the five component oracles VERBATIM — the pipeline_*
    rule: the report is certified to be exactly the union of the
    individually-certified methods."""
    from etl_pipeline_sam_gov_spark.registry import ORACLES

    srm = ORACLES["ab_srm_check"]
    prop = ORACLES["ab_test_proportions"]
    mwu = ORACLES["ab_mann_whitney_u"]
    sprt = ORACLES["ab_sequential_sprt"]
    bayes = ORACLES["ab_bayesian_beta_binomial"]
    return f"""
SELECT 'srm_gate' AS component, 'chi2_total' AS metric,
       ANY_VALUE(chi2_total) AS value,
       NOT bool_or(srm_detected) AS verdict
FROM ({srm})
UNION ALL
SELECT 'two_proportion_z', 'uplift', uplift, significant FROM ({prop})
UNION ALL
SELECT 'mann_whitney_u', 'z_stat', z_stat, significant FROM ({mwu})
UNION ALL
SELECT 'sprt_arm_' || CAST(arm AS VARCHAR), 'llr_at_decision',
       llr_at_decision, decision = 'accept_h1'
FROM ({sprt})
UNION ALL
SELECT 'bayesian', 'prob_b_beats_a', prob_b_beats_a, ship_b
FROM ({bayes})
"""


@query("pipeline_experiment_report", oracle=_experiment_report_oracle())
def pipeline_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed EXPERIMENT READOUT: the SRM validity gate plus all
    four inference methods (frequentist z, rank-based Mann-Whitney,
    sequential SPRT per arm, Bayesian P(B>A)) unioned into one
    (component, metric, value, verdict) table — what an
    experimentation platform's decision page renders, and the
    methods-triangulation discipline in one plan: a launch call you'd
    trust has the validity gate passing and the methods AGREEING.
    Composition rule as for pipeline_health_report: each component is
    individually driver-certified and the report's oracle embeds those
    oracles verbatim, so the union is provably the sum of its parts;
    Catalyst plans the whole thing lazily (the five per-user rollups
    share scan/exchange shapes where they align).

    Scale: inherits each component's one-user-rollup shape; the union
    adds no shuffle. The verdict column is the only new logic — pure
    renames of each method's own decision output."""
    from etl_pipeline_sam_gov_spark.registry import QUERIES as _Q

    srm = (
        _Q["ab_srm_check"](spark, sf_dir)
        .agg(
            F.any_value("chi2_total").alias("value"),
            (~F.bool_or("srm_detected")).alias("verdict"),
        )
        .select(
            F.lit("srm_gate").alias("component"),
            F.lit("chi2_total").alias("metric"),
            "value",
            "verdict",
        )
    )
    prop = _Q["ab_test_proportions"](spark, sf_dir).select(
        F.lit("two_proportion_z").alias("component"),
        F.lit("uplift").alias("metric"),
        F.col("uplift").alias("value"),
        F.col("significant").alias("verdict"),
    )
    mwu = _Q["ab_mann_whitney_u"](spark, sf_dir).select(
        F.lit("mann_whitney_u").alias("component"),
        F.lit("z_stat").alias("metric"),
        F.col("z_stat").alias("value"),
        F.col("significant").alias("verdict"),
    )
    sprt = _Q["ab_sequential_sprt"](spark, sf_dir).select(
        F.concat(F.lit("sprt_arm_"), F.col("arm").cast("string")).alias(
            "component"
        ),
        F.lit("llr_at_decision").alias("metric"),
        F.col("llr_at_decision").alias("value"),
        (F.col("decision") == "accept_h1").alias("verdict"),
    )
    bayes = _Q["ab_bayesian_beta_binomial"](spark, sf_dir).select(
        F.lit("bayesian").alias("component"),
        F.lit("prob_b_beats_a").alias("metric"),
        F.col("prob_b_beats_a").alias("value"),
        F.col("ship_b").alias("verdict"),
    )
    out = srm
    for part in (prop, mwu, sprt, bayes):
        out = out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# Entropy rate of the behavior Markov chain
# ---------------------------------------------------------------------------


def _entropy_rate_sql() -> str:
    """Fully portable shared SQL: plug-in entropy rate from exact
    transition counts — H = −Σ (n_ij/N)·ln(n_ij/n_i), empirical state
    frequencies standing in for the stationary distribution (the
    standard plug-in; they coincide on an observed chain up to end
    effects)."""
    return """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
trans AS (
  SELECT prev, event_type AS nxt, CAST(COUNT(*) AS BIGINT) AS nij
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, nxt
),
rowtot AS (
  SELECT prev, CAST(SUM(nij) AS BIGINT) AS ni FROM trans GROUP BY prev
),
tot AS (
  SELECT CAST(SUM(nij) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT prev) AS BIGINT) AS k
  FROM trans
)
SELECT t.n AS n_transitions, t.k AS n_states,
       round(SUM(-(CAST(tr.nij AS DOUBLE) / t.n)
                 * ln(CAST(tr.nij AS DOUBLE) / r.ni)), 6) + 0.0
         AS entropy_rate_nats,
       round(ln(CAST(t.k AS DOUBLE)), 6) AS max_entropy_nats,
       round(SUM(-(CAST(tr.nij AS DOUBLE) / t.n)
                 * ln(CAST(tr.nij AS DOUBLE) / r.ni))
             / ln(CAST(t.k AS DOUBLE)), 6) + 0.0 AS relative_entropy
FROM trans tr
JOIN rowtot r ON tr.prev = r.prev
CROSS JOIN tot t
GROUP BY t.n, t.k
"""


@query("behavior_entropy_rate", oracle=_entropy_rate_sql())
def behavior_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY RATE of the user-behavior Markov chain — how predictable
    is the next action given the current one (Shannon; the
    sequence-level companion of markov_event_transitions' matrix and
    text_token_entropy's marginal entropy): H = −Σ π̂_i p̂_ij ln p̂_ij
    with plug-in empirical frequencies, reported beside the ln(k)
    ceiling as a 0-1 predictability score. Behavior modeling uses
    this to decide whether next-action prediction is worth a model at
    all (H near ln k ⇒ the chain is noise — which this fixture's
    independent generator should and does exhibit).

    Exactness: all counts exact int64 through one user-keyed lag
    window and a |k|²-bounded transition aggregate; the ≤k² ln terms
    sum under round(6) (the PSI/IV small-relation convention). Scale:
    one shuffle on user_id; everything after runs on the k²-cell
    relation."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(_entropy_rate_sql())


# ---------------------------------------------------------------------------
# Recommendation-set evaluation: catalog coverage + novelty
# ---------------------------------------------------------------------------


def _reco_eval_oracle() -> str:
    """Embeds the certified rule-set oracle VERBATIM (the composition
    rule), then evaluates it."""
    from etl_pipeline_sam_gov_spark.registry import ORACLES

    rules = ORACLES["reco_item_lift"]
    return f"""
WITH rules AS ({rules}),
rec_items AS (
  SELECT part_a AS part FROM rules
  UNION
  SELECT part_b FROM rules
),
catalog AS (
  SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem
),
pop AS (
  SELECT l_partkey AS part,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS c
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST((SELECT COUNT(*) FROM rules) AS BIGINT) AS n_rules,
       CAST(COUNT(*) AS BIGINT) AS n_rec_items,
       round(CAST(COUNT(*) AS DOUBLE) / MAX(cat.n_parts), 6)
         AS catalog_coverage,
       round(SUM(-ln(CAST(p.c AS DOUBLE) / cat.n_orders)) / COUNT(*), 6)
         + 0.0 AS mean_novelty_nats
FROM rec_items r
JOIN pop p ON r.part = p.part
CROSS JOIN catalog cat
"""


@query("reco_eval_coverage_novelty", oracle=_reco_eval_oracle())
def reco_eval_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy evaluation of the market-basket rule set:
    CATALOG COVERAGE (what share of the catalog the top-K rules ever
    recommend — a rule miner that only surfaces bestsellers scores
    high lift and zero discovery) and mean NOVELTY as self-information
    −ln(popularity share) of the recommended items (Zhou et al. 2010;
    high = long-tail recommendations, low = popularity bias). The two
    metrics every recsys review demands NEXT TO ranking quality
    (retrieval_ndcg_eval's counterpart on the reco side).

    Composition rule: the evaluated rule set is reco_item_lift's
    certified output, its oracle embedded verbatim. Exactness: counts
    exact int64; coverage one division; novelty a ≤2K-term ln sum
    (the PSI/IV small-relation convention). Scale: rides the rule
    miner's plan plus one popularity aggregate; the evaluation
    relation is K-bounded."""
    from etl_pipeline_sam_gov_spark.registry import QUERIES as _Q

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    rules = _Q["reco_item_lift"](spark, sf_dir)
    rec_items = (
        rules.select(F.col("part_a").alias("part"))
        .union(rules.select(F.col("part_b").alias("part")))
        .distinct()
    )
    catalog = li.agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )
    pop = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count_distinct("l_orderkey").alias("c")
    )
    n_rules = rules.agg(F.count(F.lit(1)).cast("bigint").alias("n_rules"))
    return (
        rec_items.join(pop, "part")
        .crossJoin(F.broadcast(catalog))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rec_items"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("n_parts"), 6
            ).alias("catalog_coverage"),
            (
                F.round(
                    F.sum(
                        -F.log(F.col("c").cast("double") / F.col("n_orders"))
                    )
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_novelty_nats"),
        )
        .crossJoin(F.broadcast(n_rules))
        .select(
            "n_rules", "n_rec_items", "catalog_coverage", "mean_novelty_nats"
        )
    )

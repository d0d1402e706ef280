"""Event analytics: sessionization and as-of joins (SURVEY.md §2.5/§2.9
adjacency — batch forms of the temporal operators; the streaming forms
live in streaming.jobs).

Scale notes: both operators are one shuffle on the entity key
(user_id) + an in-partition sort — the canonical "timeline" shape.
At 100 TB the entity key is the partitioning of the event store, so
the shuffle disappears; skewed entities are handled by AQE or a
two-level session merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.functions.prefix import range_sliced, running_sums
from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.slots import slot, slot_persist
from etl_pipeline_sam_gov_spark.tables import load_tables

SESSION_GAP_S = 1800

#: Shared sessionization CTE prefix (events → per-event session_seq),
#: used verbatim by both the sessionize and the funnel oracles so the
#: session assignment is provably identical.
def _sql_numbered(gap_s: int = SESSION_GAP_S) -> str:
    return f"""
ordered AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
         lag(epoch_us(ts)) OVER w AS prev_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL
                   OR ts_us - prev_us > {gap_s * 1000000}
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
),
numbered AS (
  -- CAST: DuckDB window SUM(INT) yields HUGEINT (int128); the driver's
  -- typed value-hash then diverges from Spark's BIGINT even when every
  -- value agrees. Pin both engines to BIGINT.
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
"""


_SQL_NUMBERED = _sql_numbered()


@query(
    "sessionize_events",
    oracle=f"""
WITH {_SQL_NUMBERED.strip()}
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us,
       (MAX(ts_us) - MIN(ts_us)) / 1000000 AS duration_s,
       round(SUM(value), 6) AS session_value
FROM numbered
GROUP BY user_id, session_seq
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag → new-session flag → running sum
    as session id → per-session aggregates. (The Structured Streaming
    twin is session_window in streaming.jobs.)"""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    numbered = numbered_sessions(ev)
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        ((F.max("ts_us") - F.min("ts_us")) / 1_000_000).alias("duration_s"),
        F.round(F.sum("value"), 6).alias("session_value"),
    )


def numbered_sessions(ev: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """(user_id, event_id, event_type, value, ts_us, session_seq) — the
    Spark twin of the _sql_numbered CTE, shared by sessionize + funnel
    (the funnel passes its own, wider gap)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    flagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        ts_us.alias("ts_us"),
        F.when(
            F.lag(ts_us).over(w).isNull()
            | (ts_us - F.lag(ts_us).over(w) > gap_s * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(
            W.partitionBy("user_id")
            .orderBy("ts_us", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )


#: The funnel uses a WIDER gap than plain sessionization: at the
#: fixture's traffic density the 30-min convention yields ~1-event
#: sessions, so an ordered 3-stage chain never completes and
#: reached_purchase certifies only as all-false (the degenerate-output
#: audit); 12 h is the visit-level funnel convention and produces real
#: conversions at every fixture scale.
FUNNEL_GAP_S = 43200


@query(
    "sessionize_funnel",
    oracle=f"""
WITH {_sql_numbered(FUNNEL_GAP_S).strip()},
s1 AS (
  SELECT user_id, session_seq, event_type, ts_us,
         MIN(CASE WHEN event_type = 'view' THEN ts_us END) OVER sw AS fv
  FROM numbered
  WINDOW sw AS (PARTITION BY user_id, session_seq)
),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_us > fv
                     THEN ts_us END) OVER sw AS fc
  FROM s1
  WINDOW sw AS (PARTITION BY user_id, session_seq)
),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_us > fc
                     THEN ts_us END) OVER sw AS fp
  FROM s2
  WINDOW sw AS (PARTITION BY user_id, session_seq)
)
SELECT DISTINCT user_id, session_seq,
       fv IS NOT NULL AS reached_view,
       fc IS NOT NULL AS reached_click,
       fp IS NOT NULL AS reached_purchase
FROM s3
""",
)
def sessionize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion per session (view → later click →
    later purchase), the product-analytics staple: three windowed
    conditional MINs over the session key, each stage anchored strictly
    after the previous stage's first event. All stages share ONE
    shuffle on (user_id) — the session windows are sub-partitions of
    the sessionize exchange, so at 100 TB this costs the same single
    timeline shuffle as sessionization itself."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sw = W.partitionBy("user_id", "session_seq")
    s1 = numbered_sessions(ev, FUNNEL_GAP_S).withColumn(
        "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(sw)
    )
    s2 = s1.withColumn(
        "fc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts_us") > F.col("fv")),
                F.col("ts_us"),
            )
        ).over(sw),
    )
    s3 = s2.withColumn(
        "fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts_us") > F.col("fc")),
                F.col("ts_us"),
            )
        ).over(sw),
    )
    return s3.select(
        "user_id",
        "session_seq",
        F.col("fv").isNotNull().alias("reached_view"),
        F.col("fc").isNotNull().alias("reached_click"),
        F.col("fp").isNotNull().alias("reached_purchase"),
    ).distinct()


@query(
    "asof_join_purchase_click",
    oracle="""
SELECT p.event_id AS purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS click_us,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY.md §2.3): for each
    purchase, the most recent click at-or-before it, per user.

    Implementation: union the two sides with a side marker, sort each
    user timeline once, and carry the last-seen click via
    last(ignorenulls) over an unbounded-preceding frame, then keep the
    purchase rows. One shuffle + one sort — no range join, no
    per-group loop; DuckDB's native ASOF JOIN is the oracle."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ts_us = F.unix_micros("ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        ts_us.alias("ts_us"),
        F.lit(0).alias("side"),  # clicks sort before same-ts purchases (>= asof)
        F.lit(None).cast("long").alias("event_id"),
        ts_us.alias("click_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        ts_us.alias("ts_us"),
        F.lit(1).alias("side"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("click_us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "matched_click_us", F.last("click_us", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("side") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("purchase_us"),
        F.col("matched_click_us").alias("click_us"),
        (F.col("ts_us") - F.col("matched_click_us")).alias("gap_us"),
    )


ASOF_TOLERANCE_US = 1800 * 1_000_000  # 30 min


@query(
    "asof_join_with_tolerance",
    oracle=f"""
SELECT purchase_id, user_id, purchase_us,
       CASE WHEN purchase_us - click_us <= {ASOF_TOLERANCE_US}
            THEN click_us END AS click_us,
       CASE WHEN purchase_us - click_us <= {ASOF_TOLERANCE_US}
            THEN purchase_us - click_us END AS gap_us
FROM (
  SELECT p.event_id AS purchase_id, p.user_id,
         epoch_us(p.ts) AS purchase_us, epoch_us(c.ts) AS click_us
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
) t
""",
)
def asof_join_with_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance (pandas ``merge_asof
    tolerance=`` semantics): the most recent click at-or-before each
    purchase counts only within 30 minutes — stale matches become NULL
    rather than joining arbitrarily old state. Same single
    shuffle+sort plan as asof_join_purchase_click; the tolerance is a
    post-window predicate, free at any scale."""
    base = asof_join_purchase_click(spark, sf_dir)
    within = (F.col("purchase_us") - F.col("click_us")) <= ASOF_TOLERANCE_US
    return base.select(
        "purchase_id",
        "user_id",
        "purchase_us",
        F.when(within, F.col("click_us")).alias("click_us"),
        F.when(within, F.col("gap_us")).alias("gap_us"),
    )


@query(
    "join_interval_overlap_incidents",
    oracle="""
WITH act AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         min(ts) AS a_start, max(ts) AS a_end
  FROM events GROUP BY 1, 2
),
inc AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h_start,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS h_end
  FROM events WHERE event_type = 'error'
)
SELECT user_id,
       strftime(day, '%Y-%m-%d') AS day,
       strftime(h_start, '%Y-%m-%d %H:%M:%S') AS incident_hour,
       epoch_us(least(a_end, h_end)) - epoch_us(greatest(a_start, h_start))
         AS overlap_us
FROM act JOIN inc ON a_start < h_end AND h_start < a_end
""",
)
def join_interval_overlap_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (a_start < b_end AND b_start < a_end) —
    which Catalyst can only plan as a nested-loop — rewritten losslessly
    as grid-cell binning: each activity interval explodes to the hour
    cells it covers, incident windows are single hour cells, the join
    becomes an EQUI-join on the cell, and the exact overlap predicate
    re-verifies candidates (boundary-touching cells are generated and
    correctly rejected — completeness is free, precision is re-checked).

    At 100 TB this is the standard spatial/temporal join trick: cost is
    O(intervals × cells-per-interval) candidates hashed on cell instead
    of |A|×|B| nested-loop pairs; cell width trades candidate volume
    against replication. Overlap durations are integer microseconds —
    engine-exact."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    act = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    inc = (
        ev.filter(F.col("event_type") == "error")
        .select(F.date_trunc("hour", "ts").alias("h_start"))
        .distinct()
        .withColumn("h_end", F.col("h_start") + F.expr("INTERVAL 1 HOUR"))
    )
    binned = act.withColumn(
        "cell",
        F.explode(
            F.expr(
                "sequence(date_trunc('hour', a_start),"
                " date_trunc('hour', a_end), interval 1 hour)"
            )
        ),
    )
    overlap = (F.col("a_start") < F.col("h_end")) & (
        F.col("h_start") < F.col("a_end")
    )
    return (
        binned.join(F.broadcast(inc), F.col("cell") == F.col("h_start"))
        .filter(overlap)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.date_format("h_start", "yyyy-MM-dd HH:mm:ss").alias(
                "incident_hour"
            ),
            (
                F.unix_micros(F.least("a_end", "h_end"))
                - F.unix_micros(F.greatest("a_start", "h_start"))
            ).alias("overlap_us"),
        )
    )


@query(
    "scd2_user_value_history",
    oracle="""
SELECT user_id,
       CAST(row_number() OVER w AS BIGINT) AS version,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER w AS valid_to_us,
       lead(epoch_us(ts)) OVER w IS NULL AS is_current,
       round(value, 6) AS value
FROM events
WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from a change
    feed: each change event becomes a version row with
    [valid_from, valid_to) validity and an is_current flag — the CDC →
    warehouse-dimension materialization. One shuffle on the entity key
    + lead/row_number over the in-partition timeline; at 100 TB the
    entity key is the change-feed partitioning, so the exchange
    disappears and versioning is a narrow sort."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    return ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        ts_us.alias("valid_from_us"),
        F.lead(ts_us).over(w).alias("valid_to_us"),
        F.lead(ts_us).over(w).isNull().alias("is_current"),
        F.round("value", 6).alias("value"),
    )


@query(
    "agg_time_weighted_value",
    oracle="""
WITH o AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS nxt_us
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       round(SUM(value * (nxt_us - ts_us)) / SUM(nxt_us - ts_us), 6)
           AS twa_value,
       round(AVG(value), 6) AS plain_avg
FROM o
WHERE nxt_us IS NOT NULL
GROUP BY user_id
""",
)
def agg_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average — the correct mean for irregularly-sampled
    measurements (sensor readings, account balances, price marks):
    each value holds until the next observation, weighted by its
    holding duration. The plain average is emitted alongside as the
    comparison every monitoring system eventually learns to stop
    using. One timeline shuffle + lead + grouped sums."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    o = ev.select(
        "user_id", "value", ts_us.alias("ts_us"), F.lead(ts_us).over(w).alias("nxt_us")
    ).filter(F.col("nxt_us").isNotNull())
    dur = F.col("nxt_us") - F.col("ts_us")
    return o.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(F.sum(F.col("value") * dur) / F.sum(dur), 6).alias("twa_value"),
        F.round(F.avg("value"), 6).alias("plain_avg"),
    )


@query(
    "window_session_batch",
    oracle=f"""
WITH {_SQL_NUMBERED.strip()}
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us,
       COUNT(*) AS n_events,
       round(SUM(value), 6) AS session_value
FROM numbered
GROUP BY user_id, session_seq
""",
)
def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN ``session_window`` in batch mode, validated
    against the lag/running-sum sessionization oracle — a three-way
    agreement (built-in operator ≡ manual construction ≡ DuckDB) that
    pins the gap semantics (strict >, measured and pinned in round 2)
    across all implementations. session_window's struct end is
    last_event + gap, so the emitted end subtracts the gap back to the
    last event time for comparability."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    gap_us = SESSION_GAP_S * 1_000_000
    agg = ev.groupBy(
        F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("session_value"),
        F.min(F.unix_micros("ts")).alias("first_us"),
    )
    return agg.select(
        "user_id",
        F.col("first_us").alias("session_start_us"),
        (F.unix_micros("w.end") - gap_us).alias("session_end_us"),
        "n_events",
        "session_value",
    )


@query(
    "cohort_retention_daily",
    oracle="""
WITH ue AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
firsts AS (SELECT user_id, MIN(day) AS cohort_day FROM ue GROUP BY user_id),
act AS (
  SELECT f.cohort_day,
         CAST(ue.day - f.cohort_day AS INT) AS day_offset,
         COUNT(DISTINCT ue.user_id) AS n_users
  FROM ue JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       day_offset,
       n_users,
       round(n_users::DOUBLE /
             first_value(n_users) OVER (PARTITION BY cohort_day ORDER BY day_offset),
             6) AS retention
FROM act
""",
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: bucket users by first-seen day, then count how
    many of each cohort return k days later — the canonical product-
    analytics rollup. Every stage is keyed aggregation (distinct
    user-days → per-user min → per-(cohort, offset) distinct count);
    the normalizing cohort size rides a window over the tiny
    (cohort × offset) result, not the event log. Day bucketing is
    timezone-proof: the session is pinned UTC so to_date matches
    DuckDB's naive date_trunc."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ue = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    firsts = ue.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = (
        ue.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
    w = W.partitionBy("cohort_day").orderBy("day_offset")
    return act.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.first("n_users").over(w), 6
        ).alias("retention"),
    )


def _corr_sql(x: str, y: str) -> str:
    """Pearson correlation from exact decimal sums, evaluated in double
    with ONE shared expression shape (see agg_corr_matrix docstring)."""
    n = "CAST(n AS DOUBLE)"
    # GREATEST(0, var-term): with a 1-row group the variance term is 0
    # in real arithmetic but the decimal Σx² and the double (Σx)² round
    # differently, leaving −ε under the sqrt — DuckDB raises a range
    # error, Spark NaNs. NULLIF(denominator, 0): a zero-variance group
    # has no defined correlation — emit NULL identically on both
    # engines instead of a divide-by-zero (found by the 1-row
    # degenerate-fixture sweep; values at any non-degenerate scale are
    # untouched, so the certified hashes are unchanged).
    return (
        f"round(({n} * CAST(s_{x}{y} AS DOUBLE)"
        f" - CAST(s_{x} AS DOUBLE) * CAST(s_{y} AS DOUBLE))"
        f" / NULLIF(sqrt(GREATEST(0.0, {n} * CAST(s_{x}{x} AS DOUBLE)"
        f" - CAST(s_{x} AS DOUBLE) * CAST(s_{x} AS DOUBLE)))"
        f" * sqrt(GREATEST(0.0, {n} * CAST(s_{y}{y} AS DOUBLE)"
        f" - CAST(s_{y} AS DOUBLE) * CAST(s_{y} AS DOUBLE))), 0.0), 6)"
    )


_CORR_SUMS_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s_q,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_p,
       SUM(CAST(l_discount AS DECIMAL(18,2))) AS s_d,
       SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS s_qq,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s_pp,
       SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s_dd,
       SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s_qp,
       SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s_qd,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s_pd
FROM lineitem
GROUP BY l_returnflag
"""


@query(
    "agg_corr_matrix",
    oracle=f"""
WITH sums AS ({_CORR_SUMS_SQL})
SELECT l_returnflag,
       n,
       {_corr_sql('q', 'p')} AS corr_qty_price,
       {_corr_sql('q', 'd')} AS corr_qty_disc,
       {_corr_sql('p', 'd')} AS corr_price_disc
FROM sums
""",
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix per return flag — the
    feature-profiling primitive. NOT computed with the builtin corr():
    a float corr is a sum whose value depends on accumulation order,
    which differs between engines (and between partition counts). Here
    every moment (Σx, Σx², Σxy) is summed as EXACT decimal (the
    fixture's 2-decimal values are exactly representable), so the
    shuffled partial aggregation is order-independent, and only the
    final closed-form division happens in double — identical inputs,
    identical expression tree, bit-identical result on both engines.
    One pass, map-side combined, 10 running decimals per group."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        f"""
WITH sums AS ({_CORR_SUMS_SQL})
SELECT l_returnflag,
       n,
       {_corr_sql('q', 'p')} AS corr_qty_price,
       {_corr_sql('q', 'd')} AS corr_qty_disc,
       {_corr_sql('p', 'd')} AS corr_price_disc
FROM sums
"""
    )


#: Resample grid step: 1 hour in microseconds.
GRID_STEP_US = 3_600_000_000


@query(
    "resample_interpolate_hourly",
    oracle=f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
),
bounds AS (
  SELECT user_id,
         (MIN(ts_us) // {GRID_STEP_US}) * {GRID_STEP_US} AS start_us,
         MAX(ts_us) AS end_us
  FROM ev GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(start_us, end_us, {GRID_STEP_US})) AS t_us
  FROM bounds
),
merged AS (
  SELECT user_id, ts_us AS t_us, 0 AS is_grid, ts_us AS ev_ts, value FROM ev
  UNION ALL
  SELECT user_id, t_us, 1 AS is_grid, NULL, NULL FROM grid
),
walled AS (
  SELECT user_id, t_us, is_grid,
         last_value(ev_ts IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY t_us, is_grid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         last_value(value IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY t_us, is_grid
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
         first_value(ev_ts IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY t_us, is_grid
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tn,
         first_value(value IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY t_us, is_grid
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn
  FROM merged
)
SELECT user_id, t_us,
       round(CASE
         WHEN tp IS NULL THEN vn
         WHEN tn IS NULL OR tn = tp THEN vp
         ELSE vp + (vn - vp) * (CAST(t_us - tp AS DOUBLE) / CAST(tn - tp AS DOUBLE))
       END, 6) AS value_interp
FROM walled
WHERE is_grid = 1
""",
)
def resample_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: per user, an hourly grid spanning their
    event history, with linearly interpolated values between the
    neighboring raw events — the gap-filling / alignment primitive
    that turns irregular event streams into model-ready fixed-step
    series. The neighbor search is NOT a join: grid points and events
    union into one relation and a last/first IGNORE NULLS window walks
    the merged timeline — one shuffle keyed on user_id, each task a
    single sorted merge (the distributed equivalent of pandas
    merge_asof both directions at once). Grid timestamps are exact
    integer microsecond arithmetic; the lerp is one shared double
    expression so both engines bit-agree."""
    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    bounds = ev.groupBy("user_id").agg(
        (F.floor(F.min("ts_us") / GRID_STEP_US) * GRID_STEP_US).alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("start_us", "end_us", F.lit(GRID_STEP_US))
        ).alias("t_us"),
    )
    merged = ev.select(
        "user_id",
        F.col("ts_us").alias("t_us"),
        F.lit(0).alias("is_grid"),
        F.col("ts_us").alias("ev_ts"),
        "value",
    ).unionAll(
        grid.select(
            "user_id",
            "t_us",
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("bigint").alias("ev_ts"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    w_back = (
        W.partitionBy("user_id")
        .orderBy("t_us", "is_grid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # The forward walk runs over the REVERSED sort with a running frame:
    # last IGNORE NULLS over [unbounded preceding, current] in
    # descending order ≡ first IGNORE NULLS over [current, unbounded
    # following] ascending (any total order reverses cleanly), but
    # Spark executes running frames incrementally in O(n) per partition
    # while a [current, unbounded following] frame re-aggregates the
    # remaining rows PER ROW — O(n²) in the timeline length (measured
    # 2.46 s → 0.59 s at sf0.1, bit-identical output). Costs a second
    # sort of the same exchange; the oracle keeps the textbook frame.
    w_fwd = (
        W.partitionBy("user_id")
        .orderBy(F.col("t_us").desc(), F.col("is_grid").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    walled = merged.select(
        "user_id",
        "t_us",
        "is_grid",
        F.last("ev_ts", ignorenulls=True).over(w_back).alias("tp"),
        F.last("value", ignorenulls=True).over(w_back).alias("vp"),
        F.last("ev_ts", ignorenulls=True).over(w_fwd).alias("tn"),
        F.last("value", ignorenulls=True).over(w_fwd).alias("vn"),
    )
    tp, vp, tn, vn = (F.col(c) for c in ("tp", "vp", "tn", "vn"))
    t = F.col("t_us")
    lerp = (
        F.when(tp.isNull(), vn)
        .when(tn.isNull() | (tn == tp), vp)
        .otherwise(
            vp + (vn - vp) * ((t - tp).cast("double") / (tn - tp).cast("double"))
        )
    )
    return walled.filter(F.col("is_grid") == 1).select(
        "user_id", "t_us", F.round(lerp, 6).alias("value_interp")
    )


#: Point-in-time for the SCD2 as-of reconstruction:
#: 2024-01-15T12:00:00Z in epoch microseconds.
SCD2_AS_OF_US = 1_705_320_000_000_000


@query(
    "scd2_as_of_snapshot",
    oracle=f"""
WITH hist AS (
  SELECT user_id,
         CAST(row_number() OVER w AS BIGINT) AS version,
         epoch_us(ts) AS valid_from_us,
         lead(epoch_us(ts)) OVER w AS valid_to_us,
         round(value, 6) AS value
  FROM events
  WHERE event_type = 'signup'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, version, valid_from_us, value
FROM hist
WHERE valid_from_us <= {SCD2_AS_OF_US}
  AND (valid_to_us IS NULL OR valid_to_us > {SCD2_AS_OF_US})
""",
)
def scd2_as_of_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction over the SCD2 history — "the table
    as of T" (time travel over a CDC-built dimension): exactly the
    version row whose [valid_from, valid_to) interval contains T.
    Composes the scd2_user_value_history build (same windowed
    versioning, provably, since this oracle embeds that oracle's CTE)
    with a pure validity-interval filter — at scale the filter prunes
    on the history table's valid_from partitioning, so "as of" reads
    touch only segments overlapping T."""
    hist = scd2_user_value_history(spark, sf_dir)
    return hist.filter(
        (F.col("valid_from_us") <= SCD2_AS_OF_US)
        & (F.col("valid_to_us").isNull() | (F.col("valid_to_us") > SCD2_AS_OF_US))
    ).select("user_id", "version", "valid_from_us", "value")


@query(
    "streak_longest_daily",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
isl AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
  FROM days
),
runs AS (
  SELECT user_id, COUNT(*) AS len,
         strftime(MIN(day), '%Y-%m-%d') AS streak_start
  FROM isl GROUP BY user_id, grp
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       MIN(CASE WHEN len = ml THEN streak_start END) AS streak_start
FROM (SELECT *, MAX(len) OVER (PARTITION BY user_id) AS ml FROM runs)
GROUP BY user_id
""",
)
def streak_longest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (ties broken
    to the earliest streak) — the retention/engagement staple, solved
    with the gaps-and-islands idiom: day minus its per-user rank is
    constant exactly along a run of consecutive days, so one window +
    one groupBy finds every streak without self-joins. Both shuffles
    key on user_id (the second on a relation already reduced to one
    row per streak); at 100 TB this is the same single timeline
    exchange as sessionization."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    isl = days.withColumn("grp", F.date_sub("day", rn))
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("streak_start"),
    )
    ml = F.max("len").over(W.partitionBy("user_id"))
    return (
        runs.withColumn("ml", ml)
        .groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.min(
                F.when(F.col("len") == F.col("ml"), F.col("streak_start"))
            ).alias("streak_start"),
        )
    )


@query(
    "join_point_in_time_features",
    oracle="""
WITH dim AS (
  SELECT user_id,
         CAST(row_number() OVER w AS BIGINT) AS version,
         epoch_us(ts) AS valid_from_us,
         lead(epoch_us(ts)) OVER w AS valid_to_us,
         round(value, 6) AS feature_value
  FROM events
  WHERE event_type = 'signup'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT p.event_id AS purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       d.version AS feature_version,
       d.feature_value,
       round(p.value, 6) AS purchase_value
FROM events p
JOIN dim d
  ON d.user_id = p.user_id
 AND d.valid_from_us <= epoch_us(p.ts)
 AND (d.valid_to_us IS NULL OR epoch_us(p.ts) < d.valid_to_us)
WHERE p.event_type = 'purchase'
""",
)
def join_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: each purchase event is
    enriched with the SCD2 feature version that was valid AT THE
    EVENT'S TIMESTAMP — the training-serving-skew guard (a model
    trained with future feature values leaks; this join is how feature
    stores prevent it).

    Scale shape: an equi-join on the entity key carries the validity
    band as a residual predicate — the planner gets a hash join keyed
    on user_id (never a nested-loop over the band), and each entity's
    probe touches only its own few versions. Both relations shuffle on
    the same key; in a real feature store the dimension is bucketed by
    entity so only the event side moves."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    dim = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("d_user"),
        F.row_number().over(w).cast("bigint").alias("feature_version"),
        ts_us.alias("valid_from_us"),
        F.lead(ts_us).over(w).alias("valid_to_us"),
        F.round("value", 6).alias("feature_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.round("value", 6).alias("purchase_value"),
    )
    return (
        purchases.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("valid_from_us") <= F.col("purchase_us"))
            & (
                F.col("valid_to_us").isNull()
                | (F.col("purchase_us") < F.col("valid_to_us"))
            ),
        )
        .select(
            "purchase_id",
            "user_id",
            "purchase_us",
            "feature_version",
            "feature_value",
            "purchase_value",
        )
    )


@query(
    "asof_join_nearest",
    oracle="""
WITH tl AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
  FROM events WHERE event_type IN ('click', 'purchase')
),
walled AS (
  SELECT user_id, ts_us, event_id, kind,
         last_value(CASE WHEN kind = 0 THEN ts_us END IGNORE NULLS) OVER w_back AS prev_ts,
         last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER w_back AS prev_id,
         first_value(CASE WHEN kind = 0 THEN ts_us END IGNORE NULLS) OVER w_fwd AS next_ts,
         first_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER w_fwd AS next_id
  FROM tl
  WINDOW w_back AS (PARTITION BY user_id ORDER BY ts_us, kind, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_fwd AS (PARTITION BY user_id ORDER BY ts_us, kind, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id AS purchase_id, user_id, ts_us AS purchase_us,
       CASE WHEN next_ts IS NULL THEN prev_id
            WHEN prev_ts IS NULL THEN next_id
            WHEN ts_us - prev_ts <= next_ts - ts_us THEN prev_id
            ELSE next_id END AS click_id,
       CASE WHEN next_ts IS NULL THEN ts_us - prev_ts
            WHEN prev_ts IS NULL THEN next_ts - ts_us
            WHEN ts_us - prev_ts <= next_ts - ts_us THEN ts_us - prev_ts
            ELSE next_ts - ts_us END AS gap_us
FROM walled
WHERE kind = 1 AND (prev_ts IS NOT NULL OR next_ts IS NOT NULL)
""",
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction (pandas merge_asof
    direction='nearest'): each purchase matches its temporally closest
    click in either direction, ties to the earlier side — completing
    the as-of family (backward and tolerance variants above).

    Scale shape: the resample_interpolate merged-timeline trick — both
    event kinds union into ONE relation, a backward and a forward
    IGNORE NULLS window walk the per-user timeline in a single sort,
    and the nearest pick is a row-local CASE. No join at all: one
    shuffle on user_id, each task one sorted merge (a band-predicate
    join formulation would re-scan clicks per purchase). Same-ts
    clicks sort before purchases (kind asc), so a tie counts as
    backward — matching the equal-allowed backward convention."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    tl = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"),
    )
    order = [F.col("ts_us"), F.col("kind"), F.col("event_id")]
    w_back = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # Reversed-sort running frame for the forward walk (the
    # resample_interpolate_hourly O(n) trick — a [current, unbounded
    # following] frame re-aggregates the tail per row, O(n²) in the
    # timeline length; the oracle keeps the textbook frame).
    w_fwd = (
        W.partitionBy("user_id")
        .orderBy(*[c.desc() for c in order])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.when(F.col("kind") == 0, F.col("ts_us"))
    click_id = F.when(F.col("kind") == 0, F.col("event_id"))
    walled = tl.select(
        "user_id",
        "ts_us",
        "event_id",
        "kind",
        F.last(click_ts, ignorenulls=True).over(w_back).alias("prev_ts"),
        F.last(click_id, ignorenulls=True).over(w_back).alias("prev_id"),
        F.last(click_ts, ignorenulls=True).over(w_fwd).alias("next_ts"),
        F.last(click_id, ignorenulls=True).over(w_fwd).alias("next_id"),
    )
    prev_gap = F.col("ts_us") - F.col("prev_ts")
    next_gap = F.col("next_ts") - F.col("ts_us")
    pick_prev = (
        F.col("next_ts").isNull()
        | (F.col("prev_ts").isNotNull() & (prev_gap <= next_gap))
    )
    return walled.filter(
        (F.col("kind") == 1)
        & (F.col("prev_ts").isNotNull() | F.col("next_ts").isNotNull())
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("purchase_us"),
        F.when(pick_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias(
            "click_id"
        ),
        F.when(pick_prev, prev_gap).otherwise(next_gap).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# STL-lite seasonal decomposition (trend / seasonal / residual)
# ---------------------------------------------------------------------------

STL_HALF = 12  #: centered moving-average half-width (25-hour window)
_STL_DEN = 100 * (2 * STL_HALF + 1)  #: cents × window size denominator


@query(
    "ts_stl_decompose_hourly",
    oracle=f"""
WITH hv AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
tw AS (
  SELECT h_us, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS s25,
         COUNT(*) OVER w AS n25
  FROM hv
  WINDOW w AS (ORDER BY h_us ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
),
interior AS (
  SELECT h_us, cents, s25,
         (2 * {STL_HALF} + 1) * cents - s25 AS det_c,
         (h_us // 3600000000) % 24 AS hod
  FROM tw WHERE n25 = 2 * {STL_HALF} + 1
),
seas AS (
  SELECT hod, CAST(SUM(det_c) AS BIGINT) AS sdc, COUNT(*) AS cnt
  FROM interior GROUP BY hod
)
SELECT i.h_us, CAST(i.hod AS INT) AS hod, i.cents,
       round(CAST(i.s25 AS DOUBLE) / {_STL_DEN}, 6) + 0.0 AS trend,
       round(CAST(s.sdc AS DOUBLE) / CAST({_STL_DEN} * s.cnt AS DOUBLE), 6) + 0.0
         AS seasonal,
       round(CAST(i.det_c AS DOUBLE) / {_STL_DEN}
             - CAST(s.sdc AS DOUBLE) / CAST({_STL_DEN} * s.cnt AS DOUBLE), 6) + 0.0
         AS residual
FROM interior i JOIN seas s USING (hod)
""",
)
def ts_stl_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the hourly revenue series:
    trend = centered 25-hour moving average, seasonal = mean detrended
    value per hour-of-day, residual = the rest — the classical
    decomposition (Cleveland's STL with one fixed pass instead of
    loess) behind seasguard dashboards, seasonal adjustment, and
    anomaly baselines.

    Exactness discipline (the rolling-z pattern): values centize to
    int64, the detrended series is scaled through the window width
    (det = W·x − Σ_window x, exact integers — no float mean, no
    cancellation), and every emitted double is a SINGLE division of
    two exact integers (plus one subtraction for the residual), so
    both engines evaluate bit-identically before the final rounding.
    Scale shape: the corpus collapses to the hour grain in one
    partial-combined aggregation FIRST; the moving-average window and
    the hour-of-day seasonal profile then run on the calendar-bounded
    hourly relation (8.8k rows/year — the partitionless ROWS window
    carries O(window) state on a bounded series, the hypertable-rollup
    serving shape, not a corpus-sized sort)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    width = 2 * STL_HALF + 1
    hv = (
        ev.select(
            F.expr("(unix_micros(ts) div 3600000000) * 3600000000").alias("h_us"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("h_us")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    w = W.orderBy("h_us").rowsBetween(-STL_HALF, STL_HALF)
    tw = hv.select(
        "h_us",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("s25"),
        F.count(F.lit(1)).over(w).alias("n25"),
    )
    interior = tw.filter(F.col("n25") == width).select(
        "h_us",
        "cents",
        "s25",
        (F.lit(width) * F.col("cents") - F.col("s25")).alias("det_c"),
        F.expr("(h_us div 3600000000) % 24").alias("hod"),
    )
    seas = interior.groupBy("hod").agg(
        F.sum("det_c").cast("bigint").alias("sdc"),
        F.count(F.lit(1)).alias("cnt"),
    )
    seasonal = F.col("sdc").cast("double") / (
        F.lit(_STL_DEN) * F.col("cnt")
    ).cast("double")
    return interior.join(F.broadcast(seas), "hod").select(
        "h_us",
        F.col("hod").cast("int").alias("hod"),
        "cents",
        (F.round(F.col("s25").cast("double") / _STL_DEN, 6) + F.lit(0.0)).alias(
            "trend"
        ),
        (F.round(seasonal, 6) + F.lit(0.0)).alias("seasonal"),
        (
            F.round(
                F.col("det_c").cast("double") / _STL_DEN - seasonal, 6
            )
            + F.lit(0.0)
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Interval union / coalescing (variable-length span merge)
# ---------------------------------------------------------------------------


@query(
    "ts_interval_union_spans",
    oracle="""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s_us,
         epoch_us(ts)
           + (CAST(round(value * 100) AS BIGINT) % 7200 + 60) * 1000000
           AS e_us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, s_us, e_us,
         CASE WHEN max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s_us > max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_span
  FROM iv
),
islands AS (
  SELECT user_id, s_us, e_us,
         SUM(new_span) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM flagged
)
SELECT user_id, CAST(span_id AS INT) AS span_id,
       MIN(s_us) AS span_start_us, MAX(e_us) AS span_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(e_us) - MIN(s_us) AS covered_us
FROM islands GROUP BY user_id, span_id
""",
)
def ts_interval_union_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (coalescing): merge each user's VARIABLE-length
    activity intervals (duration derived from the event's value, 1–120
    min) into maximal covered spans — the Allen-algebra union behind
    utilization billing, on-call coverage, and machine-uptime rollups.
    This is strictly harder than gap sessionization: an early LONG
    interval can swallow many later short ones, so the island break
    tests the new start against the RUNNING MAX of all previous ends
    (an exclusive-frame cummax window), not against the previous row's
    end. Touching intervals (start == max end) merge; only a strict
    gap opens a new span, and a span's union is exactly
    [min start, max end] because any interior gap would have opened a
    new island.

    Scale shape: one shuffle keyed on user_id; the cummax flag, island
    numbering, and span rollup all ride that single sorted pass with
    O(1) state per row; every quantity is exact integer microseconds
    (durations derive from centized values — the rolling-z
    quantization contract)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (
            F.unix_micros("ts")
            + (
                F.round(F.col("value") * 100, 0).cast("bigint") % 7200
                + 60
            )
            * 1000000
        ).alias("e_us"),
    )
    order = [F.col("s_us"), F.col("e_us"), F.col("event_id")]
    prev = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    run = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_max = F.max("e_us").over(prev)
    flagged = iv.select(
        "user_id",
        "event_id",
        "s_us",
        "e_us",
        F.when(
            prev_max.isNull() | (F.col("s_us") > prev_max), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_span"),
    )
    islands = flagged.select(
        "user_id",
        "s_us",
        "e_us",
        "event_id",
        F.sum("new_span").over(run).alias("span_id"),
    )
    return islands.groupBy("user_id", "span_id").agg(
        F.min("s_us").alias("span_start_us"),
        F.max("e_us").alias("span_end_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("e_us") - F.min("s_us")).alias("covered_us"),
    ).select(
        "user_id",
        F.col("span_id").cast("int").alias("span_id"),
        "span_start_us",
        "span_end_us",
        "n_events",
        "covered_us",
    )


# ---------------------------------------------------------------------------
# Growth-accounting waterfall (period-over-period revenue bridge)
# ---------------------------------------------------------------------------


@query(
    "analytics_growth_waterfall",
    oracle="""
WITH m AS (
  SELECT user_id, date_trunc('month', ts) AS mth,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
months AS (SELECT DISTINCT mth FROM m),
pairs AS (
  SELECT mth, mth - INTERVAL 1 MONTH AS prev_mth FROM months
),
j AS (
  SELECT p.mth,
         COALESCE(cur.user_id, prev.user_id) AS user_id,
         COALESCE(cur.cents, 0) AS cur_c,
         COALESCE(prev.cents, 0) AS prev_c
  FROM pairs p
  LEFT JOIN m cur ON cur.mth = p.mth
  LEFT JOIN m prev ON prev.mth = p.prev_mth AND prev.user_id = cur.user_id
  UNION ALL
  SELECT p.mth, prev.user_id, 0 AS cur_c, prev.cents AS prev_c
  FROM pairs p
  JOIN m prev ON prev.mth = p.prev_mth
  WHERE NOT EXISTS (
    SELECT 1 FROM m cur
    WHERE cur.mth = p.mth AND cur.user_id = prev.user_id
  )
)
SELECT strftime(mth, '%Y-%m') AS month,
       CAST(SUM(CASE WHEN prev_c = 0 AND cur_c > 0 THEN cur_c ELSE 0 END) AS BIGINT)
         AS new_cents,
       CAST(SUM(CASE WHEN cur_c > prev_c AND prev_c > 0 THEN cur_c - prev_c ELSE 0 END) AS BIGINT)
         AS expansion_cents,
       CAST(-SUM(CASE WHEN cur_c < prev_c AND cur_c > 0 THEN prev_c - cur_c ELSE 0 END) AS BIGINT)
         AS contraction_cents,
       CAST(-SUM(CASE WHEN cur_c = 0 AND prev_c > 0 THEN prev_c ELSE 0 END) AS BIGINT)
         AS churned_cents,
       CAST(SUM(cur_c) - SUM(prev_c) AS BIGINT) AS net_change_cents
FROM j GROUP BY mth
""",
)
def analytics_growth_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting waterfall (the a16z/SaaS revenue bridge):
    each month's net revenue change decomposes EXACTLY into
    new + expansion − contraction − churned, attributed per user by
    comparing their current and prior-month exact-cent revenue — the
    four mutually-exclusive buckets sum to the net change by
    construction (the identity every board deck asserts; here it's
    certified). Users absent this month but active last month enter
    through the churn leg (the NOT EXISTS / anti-join side of the
    bridge — a plain inner join silently loses churn).

    Scale shape: the corpus collapses to (user, month) cells in one
    partial-combined groupBy; the bridge is a self-join of that cell
    relation on (user, adjacent months) — keyed on user_id, linear in
    active users — plus an anti-join for the churn side; the waterfall
    is one tiny per-month rollup. Exact int64 cents end-to-end — the
    decomposition identity holds bit-for-bit."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    m = (
        ev.select(
            "user_id",
            F.date_trunc("month", "ts").alias("mth"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("user_id", "mth")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    pairs = m.select("mth").distinct().select(
        "mth", F.add_months(F.col("mth"), -1).alias("prev_mth")
    )
    cur = m.select(
        F.col("mth").alias("c_mth"),
        F.col("user_id").alias("c_user"),
        F.col("cents").alias("cur_c"),
    )
    prev = m.select(
        F.col("mth").alias("p_mth"),
        F.col("user_id").alias("p_user"),
        F.col("cents").alias("prev_c"),
    )
    active = (
        pairs.join(cur, F.col("mth") == F.col("c_mth"), "left")
        .join(
            prev,
            (F.col("prev_mth") == F.col("p_mth"))
            & (F.col("p_user") == F.col("c_user")),
            "left",
        )
        .select(
            "mth",
            F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
            F.coalesce(F.col("cur_c"), F.lit(0)).alias("cur_c"),
            F.coalesce(F.col("prev_c"), F.lit(0)).alias("prev_c"),
        )
    )
    churn_side = (
        pairs.join(prev, F.col("prev_mth") == F.col("p_mth"))
        .join(
            cur.select(
                F.col("c_mth").alias("a_mth"),
                F.col("c_user").alias("a_user"),
            ),
            (F.col("a_mth") == F.col("mth"))
            & (F.col("a_user") == F.col("p_user")),
            "anti",
        )
        .select(
            "mth",
            F.col("p_user").alias("user_id"),
            F.lit(0).cast("bigint").alias("cur_c"),
            F.col("prev_c"),
        )
    )
    j = active.unionAll(churn_side)
    cc, pc = F.col("cur_c"), F.col("prev_c")
    s_if = lambda c, v: F.sum(F.when(c, v).otherwise(0)).cast("bigint")  # noqa: E731
    return j.groupBy(F.date_format("mth", "yyyy-MM").alias("month")).agg(
        s_if((pc == 0) & (cc > 0), cc).alias("new_cents"),
        s_if((cc > pc) & (pc > 0), cc - pc).alias("expansion_cents"),
        (-s_if((cc < pc) & (cc > 0), pc - cc)).cast("bigint").alias(
            "contraction_cents"
        ),
        (-s_if((cc == 0) & (pc > 0), pc)).cast("bigint").alias(
            "churned_cents"
        ),
        (F.sum(cc) - F.sum(pc)).cast("bigint").alias("net_change_cents"),
    )


# ---------------------------------------------------------------------------
# Level-shift changepoint detection (two-window mean contrast)
# ---------------------------------------------------------------------------

#: Samples on each side of the candidate changepoint.
SHIFT_K = 12
#: Minimum absolute mean shift, in cents, to flag a changepoint.
SHIFT_MIN_CENTS = 2000


@query(
    "ts_level_shift_detect",
    oracle=f"""
WITH seq AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
frames AS (
  SELECT event_type, event_id, ts_us,
         CAST(COUNT(*) OVER wb AS BIGINT) AS nb,
         CAST(SUM(y) OVER wb AS BIGINT) AS sb,
         CAST(COUNT(*) OVER wa AS BIGINT) AS na,
         CAST(SUM(y) OVER wa AS BIGINT) AS sa
  FROM seq
  WINDOW wb AS (PARTITION BY event_type ORDER BY ts_us, event_id
                ROWS BETWEEN {SHIFT_K} PRECEDING AND 1 PRECEDING),
         wa AS (PARTITION BY event_type ORDER BY ts_us, event_id
                ROWS BETWEEN CURRENT ROW AND {SHIFT_K - 1} FOLLOWING)
)
SELECT event_type, event_id, ts_us,
       round(CAST(sb AS DOUBLE) / {SHIFT_K} / 100, 6) + 0.0 AS before_mean,
       round(CAST(sa AS DOUBLE) / {SHIFT_K} / 100, 6) + 0.0 AS after_mean,
       sa - sb AS shift_total_cents
FROM frames
WHERE nb = {SHIFT_K} AND na = {SHIFT_K}
  AND abs(sa - sb) >= {SHIFT_K} * {SHIFT_MIN_CENTS}
""",
)
def ts_level_shift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift changepoint detection: flag the points where the
    mean of the next SHIFT_K values jumps at least SHIFT_MIN_CENTS
    away from the mean of the previous SHIFT_K — the two-window
    contrast detector behind deploy-regression and pricing-change
    alarms (the bounded-memory cousin of CUSUM: no unbounded
    recurrence, so it runs as pure window frames and stays
    backfill-deterministic). The gate |Σafter − Σbefore| ≥ K·θ is
    EXACT int64 arithmetic — no float means near the decision
    boundary; the means are emitted as rounded doubles only for
    reporting.

    Scale shape: windows keyed on event_type alone put a FIFTH of the
    corpus in one task (|types| = 5 — the SPRT two-arm funnel with
    more arms). The bounded ±K frames make this the OVERLAP-
    REPLICATION decomposition instead: range-partition on (type, ts,
    event_id); each slice receives the last K rows of its type drawn
    from ALL preceding slices (and the first K−1 from all following
    ones) as CONTEXT rows — per-slice boundary rows collected into a
    bounded |types|×n_parts×K edge relation, window-concatenated in
    pid order, sliced to K, exploded back — so every slice computes
    its own rows' frames locally — windows keyed by (type, slice),
    fully parallel, robust to slices holding fewer than K rows of a
    continuing type. Context rows feed frames but are never emitted;
    rows whose global frame is genuinely short (the series' first/last
    K) stay short in their slice too, so the nb = na = K gate is
    unchanged. The oracle keeps the plain per-type
    window formulation — the hash match proves the overlap carries
    exactly the missing frame rows."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    seq = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
    )
    # Persisted (functions/prefix.py's slice contract): with exchange
    # reuse off, the local windows and the per-slice overlap carry saw
    # different sampled slices and returned 2970 rows vs the oracle's
    # 2986.
    ranged = slot_persist(
        spark, "lshift", range_sliced(seq, "event_type", "ts_us", "event_id")
    )
    w_loc = W.partitionBy("event_type", "_pid").orderBy("ts_us", "event_id")
    w_loc_d = W.partitionBy("event_type", "_pid").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    edged = ranged.select(
        "*",
        F.row_number().over(w_loc).alias("rn_a"),
        F.row_number().over(w_loc_d).alias("rn_d"),
    )
    own = edged.select(
        "event_type", "event_id", "ts_us", "y", "_pid",
        F.lit(False).alias("ctx"),
    )
    # Context carry across ALL preceding/following slices (ADVICE r05:
    # copying exactly one slice over silently under-fills frames when a
    # slice holds fewer than K rows of a type that continues past it —
    # skewed boundary sampling or tiny inputs). The K global
    # predecessors of a slice's first row decompose into ≤K-row
    # SUFFIXES of preceding slices, so each slice's last-K-per-type
    # rows (a bounded |types|×n_parts×K edge relation) are collected
    # per cell, window-concatenated over all preceding slices in pid
    # order — the ts_exponential_fit_ks boundary-carry, generalized
    # from a scalar to a K-row array — and the last K of the
    # concatenation are exploded back as that slice's context. Extra
    # context rows beyond the true K predecessors are real earlier
    # rows that sit outside every own row's ROWS frame — harmless.
    _row = F.struct("ts_us", "event_id", "y")
    sfx = (
        edged.filter(F.col("rn_d") <= SHIFT_K)
        .groupBy("event_type", "_pid")
        .agg(F.sort_array(F.collect_list(_row)).alias("rows"))
    )
    w_prev = W.partitionBy("event_type").orderBy("_pid").rowsBetween(
        W.unboundedPreceding, -1
    )
    fwd = sfx.select(
        "event_type",
        "_pid",
        F.flatten(F.collect_list("rows").over(w_prev)).alias("carr"),
    )
    ctx_fwd = fwd.select(
        "event_type",
        "_pid",
        F.explode(
            F.when(F.size("carr") <= SHIFT_K, F.col("carr")).otherwise(
                F.slice("carr", -SHIFT_K, SHIFT_K)
            )
        ).alias("r"),
    ).select(
        "event_type",
        F.col("r.event_id").alias("event_id"),
        F.col("r.ts_us").alias("ts_us"),
        F.col("r.y").alias("y"),
        "_pid",
        F.lit(True).alias("ctx"),
    )
    pfx = (
        edged.filter(F.col("rn_a") <= SHIFT_K - 1)
        .groupBy("event_type", "_pid")
        .agg(F.sort_array(F.collect_list(_row)).alias("rows"))
    )
    # "All FOLLOWING slices" as a GROWING frame over descending pid —
    # a (1, unboundedFollowing) frame is a shrinking frame Spark
    # re-aggregates O(n²) per row (the plan-audit gate; bounded here,
    # but the incremental form costs nothing). Each slice's prefix
    # array is reversed before concatenation so the NEAREST following
    # slices' rows sit at the tail of the desc-ordered carry — the
    # first K−1 global successors are then its last K−1 elements.
    # Context rows are a SET (explode feeds a union the downstream
    # windows re-sort), so the mirrored element order is immaterial.
    w_next = W.partitionBy("event_type").orderBy(F.desc("_pid")).rowsBetween(
        W.unboundedPreceding, -1
    )
    bwd = pfx.select(
        "event_type",
        "_pid",
        F.flatten(F.collect_list(F.reverse("rows")).over(w_next)).alias("carr"),
    )
    ctx_bwd = bwd.select(
        "event_type",
        "_pid",
        F.explode(
            F.when(F.size("carr") <= SHIFT_K - 1, F.col("carr")).otherwise(
                F.slice("carr", -(SHIFT_K - 1), SHIFT_K - 1)
            )
        ).alias("r"),
    ).select(
        "event_type",
        F.col("r.event_id").alias("event_id"),
        F.col("r.ts_us").alias("ts_us"),
        F.col("r.y").alias("y"),
        "_pid",
        F.lit(True).alias("ctx"),
    )
    unioned = own.unionByName(ctx_fwd).unionByName(ctx_bwd)
    order = W.partitionBy("event_type", "_pid").orderBy("ts_us", "event_id")
    wb = order.rowsBetween(-SHIFT_K, -1)
    wa = order.rowsBetween(W.currentRow, SHIFT_K - 1)
    frames = unioned.select(
        "event_type",
        "event_id",
        "ts_us",
        "ctx",
        F.count(F.lit(1)).over(wb).cast("bigint").alias("nb"),
        F.sum("y").over(wb).cast("bigint").alias("sb"),
        F.count(F.lit(1)).over(wa).cast("bigint").alias("na"),
        F.sum("y").over(wa).cast("bigint").alias("sa"),
    ).filter(~F.col("ctx"))
    sa, sb = F.col("sa"), F.col("sb")
    return frames.filter(
        (F.col("nb") == SHIFT_K)
        & (F.col("na") == SHIFT_K)
        & (F.abs(sa - sb) >= SHIFT_K * SHIFT_MIN_CENTS)
    ).select(
        "event_type",
        "event_id",
        "ts_us",
        (F.round(sb.cast("double") / SHIFT_K / 100, 6) + F.lit(0.0)).alias(
            "before_mean"
        ),
        (F.round(sa.cast("double") / SHIFT_K / 100, 6) + F.lit(0.0)).alias(
            "after_mean"
        ),
        (sa - sb).alias("shift_total_cents"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (daily seasonality, hourly grain)
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_naive_forecast_eval",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
joined AS (
  SELECT a.event_type, a.h, a.c AS actual_c, f.c AS forecast_c
  FROM hourly a
  JOIN hourly f ON f.event_type = a.event_type
                AND f.h = a.h - INTERVAL 24 HOUR
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_eval_hours,
       CAST(SUM(abs(actual_c - forecast_c)) AS BIGINT) AS abs_err_cents,
       round(CAST(SUM(abs(actual_c - forecast_c)) AS DOUBLE) / COUNT(*) / 100,
             6) + 0.0 AS mae,
       round(CAST(SUM(abs(actual_c - forecast_c)) AS DOUBLE)
             / SUM(abs(actual_c)), 6) + 0.0 AS wape
FROM joined GROUP BY event_type
""",
)
def ts_seasonal_naive_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's revenue
    with the value from the SAME hour yesterday and score MAE and
    WAPE per event type — the baseline every demand-forecasting model
    must beat (and the honest way to report it: WAPE =
    Σ|err|/Σ|actual| is a ratio of exact integer sums, immune to the
    divide-by-small-actual explosions that make per-row MAPE lie).
    Hours align by TIMESTAMP equi-join (h = h − 24h), not row offset,
    so gaps in the series never misalign the season.

    Scale shape: the corpus collapses to (type, hour) cells in one
    partial-combined groupBy; the seasonal join is a self-equi-join of
    that bounded cell relation on (type, shifted hour); the scorecard
    is a per-type rollup. All error sums are exact int64 cents."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    f = hourly.select(
        F.col("event_type").alias("f_type"),
        F.col("h").alias("f_h"),
        F.col("c").alias("forecast_c"),
    )
    joined = hourly.join(
        f,
        (F.col("f_type") == F.col("event_type"))
        & (F.col("f_h") == F.col("h") - F.expr("INTERVAL 24 HOURS")),
    )
    err = F.abs(F.col("c") - F.col("forecast_c"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_hours"),
        F.sum(err).cast("bigint").alias("abs_err_cents"),
        (
            F.round(F.sum(err).cast("double") / F.count(F.lit(1)) / 100, 6)
            + F.lit(0.0)
        ).alias("mae"),
        (
            F.round(F.sum(err).cast("double") / F.sum(F.abs(F.col("c"))), 6)
            + F.lit(0.0)
        ).alias("wape"),
    )


# ---------------------------------------------------------------------------
# Peak session concurrency per day (sweep line over minute-grain deltas)
# ---------------------------------------------------------------------------


@query(
    "ts_peak_concurrency_minutes",
    oracle=f"""
WITH {_SQL_NUMBERED.strip()},
sess AS (
  SELECT user_id, session_seq,
         MIN(ts_us) // 60000000 AS sm,
         MAX(ts_us) // 60000000 AS em
  FROM numbered GROUP BY 1, 2
),
deltas AS (
  SELECT m, m // 1440 AS day_index, CAST(SUM(d) AS BIGINT) AS delta
  FROM (
    SELECT sm AS m, 1 AS d FROM sess
    UNION ALL
    SELECT em + 1 AS m, -1 AS d FROM sess
  ) GROUP BY m
),
runs AS (
  SELECT m, day_index, delta,
         CAST(SUM(delta) OVER (PARTITION BY day_index ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run
  FROM deltas
),
daynet AS (
  SELECT day_index, CAST(SUM(delta) AS BIGINT) AS net
  FROM deltas GROUP BY 1
),
carry AS (
  SELECT day_index,
         CAST(COALESCE(SUM(net) OVER (ORDER BY day_index
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cin
  FROM daynet
),
conc AS (
  SELECT r.day_index, r.m, c.cin + r.run AS conc
  FROM runs r JOIN carry c ON c.day_index = r.day_index
),
ranked AS (
  SELECT day_index, m, conc,
         MAX(conc) OVER (PARTITION BY day_index) AS mx
  FROM conc
)
SELECT CAST(day_index AS BIGINT) AS day_index,
       CAST(mx AS BIGINT) AS peak_concurrency,
       CAST(MIN(m) AS BIGINT) AS first_peak_minute
FROM ranked WHERE conc = mx
GROUP BY day_index, mx
""",
)
def ts_peak_concurrency_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line operator behind
    capacity planning ("how many users were on AT ONCE, and when"):
    sessionize (the shared gap rule), emit +1/−1 deltas at each
    session's first/last active minute, and walk the minute axis
    cumulatively; the day's peak and the first minute that reaches it
    fall out of a per-day max.

    Scale shape — the textbook sweep-line is a single global ordered
    walk, which is exactly what a cluster can't do; this one collapses
    the corpus to MINUTE-GRAIN deltas first (partial-combined groupBy,
    the relation is bounded by the time axis, not the corpus), then
    runs the cumulative sum PARTITIONED BY DAY with a days-bounded
    carry-in window joined back — no unpartitioned corpus-sized sort
    anywhere (the two-level running-total decomposition; same move as
    the curation shard packer's distributed prefix sum). All arithmetic
    is exact int64: microsecond floors via `div`, unit deltas, integer
    cumulative sums — no float enters the query at all."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sess = numbered_sessions(ev).groupBy("user_id", "session_seq").agg(
        F.expr("min(ts_us) div 60000000").alias("sm"),
        F.expr("max(ts_us) div 60000000").alias("em"),
    )
    deltas = (
        sess.select(F.col("sm").alias("m"), F.lit(1).alias("d"))
        .unionAll(sess.select((F.col("em") + 1).alias("m"), F.lit(-1).alias("d")))
        .groupBy("m")
        .agg(F.sum("d").cast("bigint").alias("delta"))
        .select("m", F.expr("m div 1440").alias("day_index"), "delta")
    )
    runs = deltas.select(
        "m",
        "day_index",
        "delta",
        F.sum("delta")
        .over(
            W.partitionBy("day_index")
            .orderBy("m")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("bigint")
        .alias("run"),
    )
    daynet = deltas.groupBy("day_index").agg(
        F.sum("delta").cast("bigint").alias("net")
    )
    carry = daynet.select(
        "day_index",
        F.coalesce(
            F.sum("net").over(
                W.orderBy("day_index").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("cin"),
    )
    conc = runs.join(carry, "day_index").select(
        "day_index", "m", (F.col("cin") + F.col("run")).alias("conc")
    )
    ranked = conc.select(
        "day_index",
        "m",
        "conc",
        F.max("conc").over(W.partitionBy("day_index")).alias("mx"),
    )
    return (
        ranked.filter(F.col("conc") == F.col("mx"))
        .groupBy("day_index", "mx")
        .agg(F.min("m").cast("bigint").alias("first_peak_minute"))
        .select(
            F.col("day_index").cast("bigint").alias("day_index"),
            F.col("mx").cast("bigint").alias("peak_concurrency"),
            "first_peak_minute",
        )
    )


# ---------------------------------------------------------------------------
# Pairwise two-sample Kolmogorov-Smirnov tests across event types
# ---------------------------------------------------------------------------


@query(
    "ts_ks_test_pairwise",
    oracle="""
WITH cnt AS (
  SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT g.c, ty.t FROM (SELECT DISTINCT c FROM cnt) g
  CROSS JOIN (SELECT DISTINCT t FROM cnt) ty
),
cum AS (
  SELECT g.t, g.c,
         CAST(SUM(COALESCE(cnt.n, 0)) OVER (PARTITION BY g.t ORDER BY g.c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM grid g LEFT JOIN cnt ON cnt.t = g.t AND cnt.c = g.c
),
tot AS (SELECT t, CAST(SUM(n) AS BIGINT) AS nt FROM cnt GROUP BY 1),
diffs AS (
  SELECT a.t AS type_a, b.t AS type_b, a.c,
         ta.nt AS n_a, tb.nt AS n_b,
         abs(a.cum * tb.nt - b.cum * ta.nt) AS d_scaled
  FROM cum a
  JOIN cum b ON b.c = a.c AND a.t < b.t
  JOIN tot ta ON ta.t = a.t
  JOIN tot tb ON tb.t = b.t
),
ranked AS (
  SELECT *, MAX(d_scaled) OVER (PARTITION BY type_a, type_b) AS mx
  FROM diffs
)
SELECT type_a, type_b, n_a, n_b,
       CAST(mx AS BIGINT) AS ks_scaled,
       round(CAST(mx AS DOUBLE) / (n_a * n_b), 6) + 0.0 AS ks_d,
       CAST(MIN(c) AS BIGINT) AS at_cents
FROM ranked WHERE d_scaled = mx
GROUP BY type_a, type_b, n_a, n_b, mx
""",
)
def ts_ks_test_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D for EVERY pair of event types —
    "do clicks and purchases draw their amounts from the same
    distribution?" answered with the supremum ECDF gap, plus the value
    where the distributions diverge most (the natural split point for
    a segmentation rule). The drift twin of dq_profile_drift: KS reads
    the whole CDF, not summary moments.

    Exactness: ECDFs are evaluated on the shared grid of distinct
    integer cents; the gap is kept SCALED — |cum_a·n_b − cum_b·n_a| —
    so the per-pair max and its argmax are pure int64 comparisons
    (ties broken by smallest cents), and only the final D = max/(n_a·n_b)
    is one float division (int64 is ample at any registered scale;
    population-scale counts would promote the cross products to
    DECIMAL(38,0)). Scale shape: the corpus collapses to (type, cents)
    cells first — the grid is bounded by the VALUE DOMAIN (≤ max cents)
    times a handful of types, not by corpus size; cumulative windows
    partition by type over that bounded axis; the pair stage is an
    equi-join on grid point over |grid|·|type pairs| rows."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cnt = (
        ev.select(
            F.col("event_type").alias("t"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("t", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    grid = cnt.select("c").distinct().crossJoin(
        F.broadcast(cnt.select("t").distinct())
    )
    cum = (
        grid.join(cnt, ["t", "c"], "left")
        .select("t", "c", F.coalesce("n", F.lit(0)).alias("n"))
        .select(
            "t",
            "c",
            F.sum("n")
            .over(
                W.partitionBy("t")
                .orderBy("c")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            .cast("bigint")
            .alias("cum"),
        )
    )
    tot = cnt.groupBy("t").agg(F.sum("n").cast("bigint").alias("nt"))
    a = cum.select(
        F.col("t").alias("type_a"), "c", F.col("cum").alias("cum_a")
    )
    b = cum.select(
        F.col("t").alias("type_b"),
        F.col("c").alias("cb"),
        F.col("cum").alias("cum_b"),
    )
    ta = F.broadcast(tot.select(F.col("t").alias("type_a"), F.col("nt").alias("n_a")))
    tb = F.broadcast(tot.select(F.col("t").alias("type_b"), F.col("nt").alias("n_b")))
    diffs = (
        a.join(b, (F.col("cb") == F.col("c")) & (F.col("type_a") < F.col("type_b")))
        .join(ta, "type_a")
        .join(tb, "type_b")
        .select(
            "type_a",
            "type_b",
            "c",
            "n_a",
            "n_b",
            F.abs(
                F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
            ).alias("d_scaled"),
        )
    )
    ranked = diffs.select(
        "*",
        F.max("d_scaled")
        .over(W.partitionBy("type_a", "type_b"))
        .alias("mx"),
    )
    return (
        ranked.filter(F.col("d_scaled") == F.col("mx"))
        .groupBy("type_a", "type_b", "n_a", "n_b", "mx")
        .agg(F.min("c").cast("bigint").alias("at_cents"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.col("mx").cast("bigint").alias("ks_scaled"),
            (
                F.round(
                    F.col("mx").cast("double") / (F.col("n_a") * F.col("n_b")), 6
                )
                + F.lit(0.0)
            ).alias("ks_d"),
            "at_cents",
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of hourly revenue (lags 1..24)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 24  #: lags evaluated (one diurnal cycle at hourly grain)


@query(
    "ts_autocorrelation_hourly",
    oracle=f"""
WITH hourly AS (
  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1
),
lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS k),
pairs AS (
  SELECT l.k, a.c AS x, b.c AS y
  FROM lags l
  JOIN hourly a ON TRUE
  JOIN hourly b ON b.h = a.h - l.k
),
sums AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY k
)
SELECT CAST(k AS INT) AS lag_hours, n AS n_pairs,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             / sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 6)
         + 0.0 AS acf
FROM sums
""",
)
def ts_autocorrelation_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of hourly revenue at lags 1–24 — the
    seasonality fingerprint read before any forecasting model is
    chosen (a diurnal series spikes at lag 24; the seasonal-naive
    baseline ts_seasonal_naive_forecast_eval is justified exactly when
    that spike is high). Each lag's ACF is the Pearson correlation of
    the series against itself shifted k hours, pairs aligned by
    TIMESTAMP arithmetic (h = h − k), never row offset.

    Determinism: per-lag moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are
    exact int64 over integer cents; the correlation combines them in
    doubles with the IDENTICAL operation order in both engines, and
    sqrt — unlike ln/exp — is IEEE-754 correctly rounded, so it is
    bit-identical cross-engine before the 6-decimal round (at
    population scale the cross products promote to DECIMAL(38,0), the
    KS-test note). Scale shape: the corpus collapses to the hour-grain
    relation ONCE; the 24 lags ride a broadcast lag list joined
    against the bounded hourly series; per-lag sums partial-combine.
    No window at all — the shifted join IS the lag operator here,
    because 24 shifted copies of a bounded series beat 24 window
    passes over corpus-sized data."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    hourly = (
        ev.select(
            F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias(
                "h"
            ),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("h")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("k"))
    a = hourly.select("h", F.col("c").alias("x"))
    b = hourly.select(F.col("h").alias("hb"), F.col("c").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("h") - F.col("k"))
        .select("k", "x", "y")
    )
    sums = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    acf = (
        (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / F.sqrt(nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        / F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return sums.select(
        F.col("k").cast("int").alias("lag_hours"),
        F.col("n").alias("n_pairs"),
        (F.round(acf, 6) + F.lit(0.0)).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Customer spend-band migration matrix between two halves of the history
# ---------------------------------------------------------------------------


@query(
    "analytics_spend_band_migration",
    oracle="""
WITH bounds AS (
  SELECT MIN(o_orderdate) AS lo,
         MIN(o_orderdate)
           + CAST(datediff('day', MIN(o_orderdate), MAX(o_orderdate)) // 2
                  AS INT) * INTERVAL 1 DAY AS mid
  FROM orders
),
spend AS (
  SELECT o.o_custkey AS ck,
         CASE WHEN o.o_orderdate <= b.mid THEN 1 ELSE 2 END AS half,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
  FROM orders o CROSS JOIN bounds b
  GROUP BY 1, 2
),
banded AS (
  SELECT ck, half, CAST(len(bin(c)) - 1 AS INT) AS band FROM spend
),
paired AS (
  SELECT COALESCE(h1.ck, h2.ck) AS ck,
         COALESCE(CAST(h1.band AS VARCHAR), 'new') AS band_from,
         COALESCE(CAST(h2.band AS VARCHAR), 'churned') AS band_to
  FROM (SELECT ck, band FROM banded WHERE half = 1) h1
  FULL OUTER JOIN (SELECT ck, band FROM banded WHERE half = 2) h2
    ON h2.ck = h1.ck
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM paired)
SELECT p.band_from, p.band_to,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(CAST(COUNT(*) AS DOUBLE) / t.n, 6) + 0.0 AS share
FROM paired p CROSS JOIN tot t
GROUP BY p.band_from, p.band_to, t.n
""",
)
def analytics_spend_band_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer migration matrix: band each customer's spend into
    power-of-two bands separately for the FIRST and SECOND half of the
    order history, then count every (band_from → band_to) transition —
    plus 'new' (absent in H1) and 'churned' (absent in H2) rows — the
    movement table behind every retention/upsell dashboard (the
    growth-accounting waterfall's per-customer-band refinement).

    Determinism: the half boundary is exact date arithmetic on the
    corpus min/max (broadcast 1-row); spend is exact int64 cents; the
    band is the bit length of cents (the exponential-histogram
    convention — no percentile edges to disagree on); matrix cells and
    shares are exact counts with one final division. Scale shape: one
    customer-half rollup (partial-combined), a self full-outer join on
    the customer key, and a |bands|²-bounded matrix aggregate; the
    corpus-wide date bounds and the customer total ride broadcast
    1-row cross joins."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    bounds = orders.agg(
        F.min("o_orderdate").alias("lo"),
        F.expr(
            "date_add(MIN(o_orderdate), "
            "CAST(datediff(MAX(o_orderdate), MIN(o_orderdate)) div 2 AS INT))"
        ).alias("mid"),
    )
    spend = (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            F.col("o_custkey").alias("ck"),
            F.when(F.col("o_orderdate") <= F.col("mid"), 1)
            .otherwise(2)
            .alias("half"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("ck", "half")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    banded = spend.select(
        "ck", "half", (F.length(F.bin("c")) - 1).cast("int").alias("band")
    )
    h1 = banded.filter(F.col("half") == 1).select(
        F.col("ck").alias("ck1"), F.col("band").alias("b1")
    )
    h2 = banded.filter(F.col("half") == 2).select(
        F.col("ck").alias("ck2"), F.col("band").alias("b2")
    )
    paired = h1.join(h2, F.col("ck2") == F.col("ck1"), "full_outer").select(
        F.coalesce(F.col("b1").cast("string"), F.lit("new")).alias("band_from"),
        F.coalesce(F.col("b2").cast("string"), F.lit("churned")).alias(
            "band_to"
        ),
    )
    tot = paired.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        paired.groupBy("band_from", "band_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .crossJoin(F.broadcast(tot))
        .select(
            "band_from",
            "band_to",
            "n_customers",
            (
                F.round(F.col("n_customers").cast("double") / F.col("n"), 6)
                + F.lit(0.0)
            ).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence test: event type × weekday
# ---------------------------------------------------------------------------


@query(
    "ts_chi2_type_weekday",
    oracle="""
WITH obs AS (
  SELECT event_type AS t, CAST(isodow(ts) AS INT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
rows_ AS (SELECT t, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
cols_ AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT r.t, c.dow,
         COALESCE(o.o, 0) AS o,
         CAST(r.rt AS DOUBLE) * c.ct / n.n AS e
  FROM rows_ r CROSS JOIN cols_ c CROSS JOIN nt n
  LEFT JOIN obs o ON o.t = r.t AND o.dow = c.dow
),
stat AS (
  SELECT SUM((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e) AS chi2,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM cells
)
SELECT s.n_cells,
       CAST((SELECT COUNT(*) FROM rows_) - 1 AS BIGINT)
         * ((SELECT COUNT(*) FROM cols_) - 1) AS dof,
       round(s.chi2, 4) + 0.0 AS chi2
FROM stat s
""",
)
def ts_chi2_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    ISO weekday — "does behavior depend on the day of week?" as a
    single test statistic with its degrees of freedom (the categorical
    complement of the KS test's continuous-distribution comparison;
    dq_benford_first_digit runs the same statistic against a fixed
    law, this one against the data's own margins).

    Determinism: observed counts and margins are exact int64; each
    cell's (O−E)²/E is a fixed shape of double ops (E = row·col/n with
    identical operand order), and the statistic is a sum over the
    BOUNDED cell relation (|types|×7 ≈ 35 terms), so cross-engine
    addition-order noise is a few ulps — absorbed by round(4) (the
    dq_benford_first_digit convention, same statistic, 9 cells).
    Scale shape: the corpus collapses to the contingency relation in
    one partial-combined pass; margins, expecteds, and the statistic
    all live on that bounded relation."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    obs = (
        ev.select(
            F.col("event_type").alias("t"),
            F.expr("CAST(extract(DAYOFWEEK_ISO FROM ts) AS INT)").alias("dow"),
        )
        .groupBy("t", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rows_ = obs.groupBy("t").agg(F.sum("o").cast("bigint").alias("rt"))
    cols_ = obs.groupBy("dow").agg(F.sum("o").cast("bigint").alias("ct"))
    nt = obs.agg(F.sum("o").cast("bigint").alias("n"))
    cells = (
        rows_.crossJoin(F.broadcast(cols_))
        .crossJoin(F.broadcast(nt))
        .join(obs, ["t", "dow"], "left")
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (F.col("rt").cast("double") * F.col("ct") / F.col("n")).alias("e"),
        )
    )
    od = F.col("o").cast("double")
    stat = cells.agg(
        F.sum((od - F.col("e")) * (od - F.col("e")) / F.col("e")).alias(
            "chi2"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )
    dof = (
        rows_.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(cols_.agg(F.count(F.lit(1)).alias("nc")))
        .select(((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"))
    )
    return stat.crossJoin(F.broadcast(dof)).select(
        "n_cells",
        "dof",
        (F.round(F.col("chi2"), 4) + F.lit(0.0)).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Welch's t-test between every pair of event types
# ---------------------------------------------------------------------------


@query(
    "ts_welch_ttest_pairwise",
    oracle="""
WITH cents AS (
  SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
mom AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sx,
         CAST(SUM(c * c) AS BIGINT) AS sxx
  FROM cents GROUP BY 1
)
SELECT a.t AS type_a, b.t AS type_b, a.n AS n_a, b.n AS n_b,
       round((CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
             / sqrt((CAST(a.sxx AS DOUBLE) / a.n
                     - (CAST(a.sx AS DOUBLE) / a.n)
                       * (CAST(a.sx AS DOUBLE) / a.n))
                    * a.n / (a.n - 1) / a.n
                    + (CAST(b.sxx AS DOUBLE) / b.n
                       - (CAST(b.sx AS DOUBLE) / b.n)
                         * (CAST(b.sx AS DOUBLE) / b.n))
                      * b.n / (b.n - 1) / b.n), 4) + 0.0 AS t_stat
FROM mom a JOIN mom b ON a.t < b.t
""",
)
def ts_welch_ttest_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic for every pair of event
    types' value distributions — the mean-difference test a metrics
    platform runs beside the KS test (ts_ks_test_pairwise reads the
    whole CDF; Welch asks only "do the MEANS differ relative to their
    variability?", and unlike Student's t it never assumes the two
    types share a variance).

    Determinism: per-type moments (n, Σx, Σx²) are exact int64 over
    integer cents; t = (m_a − m_b)/√(v_a/n_a + v_b/n_b) is a fixed
    shape of double ops written identically in both engines (sample
    variance via the n/(n−1) Bessel factor on the raw-moment form),
    and sqrt is IEEE-754 correctly rounded — no libm hazard at all,
    rounded to 4 decimals. Scale shape: one partial-combined per-type
    moment pass; the pair stage is a |types|²-bounded self-join of a
    |types|-row relation."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    mom = (
        ev.select(
            F.col("event_type").alias("t"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("sx"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sxx"),
        )
    )
    a = mom.select(
        F.col("t").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("sx").alias("sx_a"),
        F.col("sxx").alias("sxx_a"),
    )
    b = mom.select(
        F.col("t").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("sx").alias("sx_b"),
        F.col("sxx").alias("sxx_b"),
    )

    def mean(sx, n):
        return sx.cast("double") / n

    def se2(sxx, sx, n):
        m = mean(sx, n)
        return (sxx.cast("double") / n - m * m) * n / (n - 1) / n

    t_stat = (
        mean(F.col("sx_a"), F.col("n_a")) - mean(F.col("sx_b"), F.col("n_b"))
    ) / F.sqrt(
        se2(F.col("sxx_a"), F.col("sx_a"), F.col("n_a"))
        + se2(F.col("sxx_b"), F.col("sx_b"), F.col("n_b"))
    )
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            (F.round(t_stat, 4) + F.lit(0.0)).alias("t_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Lorenz curve by spend decile (the Gini coefficient's full readout)
# ---------------------------------------------------------------------------

LORENZ_QS = tuple(i / 10 for i in range(1, 10))  #: decile cut points


@query(
    "analytics_lorenz_deciles",
    oracle=f"""
WITH rev AS (
  SELECT o_custkey AS ck,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1
),
cuts AS (
  SELECT {", ".join(f"round(quantile_cont(r, {q}), 6) AS q{i}" for i, q in enumerate(LORENZ_QS))}
  FROM rev
),
banded AS (
  SELECT r.r,
         1 {" ".join(f"+ CASE WHEN r.r > c.q{i} THEN 1 ELSE 0 END" for i in range(9))}
           AS decile
  FROM rev r CROSS JOIN cuts c
),
agg AS (
  SELECT CAST(decile AS INT) AS decile,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(r) AS BIGINT) AS spend_cents
  FROM banded GROUP BY 1
),
tot AS (SELECT CAST(SUM(spend_cents) AS BIGINT) AS st FROM agg)
SELECT a.decile, a.n_customers, a.spend_cents,
       round(CAST(a.spend_cents AS DOUBLE) / t.st, 6) + 0.0 AS spend_share,
       round(CAST(SUM(a.spend_cents) OVER (ORDER BY a.decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / t.st, 6) + 0.0 AS cum_spend_share
FROM agg a CROSS JOIN tot t
""",
)
def analytics_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend by decile — the full distribution
    readout the Gini coefficient (agg_gini_customer_spend) summarizes
    to one number: what share of revenue the bottom 10%, 20%, …
    actually contribute, which is the table a "whale concentration"
    dashboard shows and the input to any revenue-at-risk analysis.

    Banding is the RFM move, not ntile: 9 interpolated decile cuts
    (rounded to 6 decimals — the engine-stable boundary contract)
    computed in ONE tiny percentile aggregation and broadcast back;
    each customer's decile is 1 + the number of cuts their exact
    int64 cents beat — no total order, no unpartitioned corpus-sized
    window. Shares are exact integer sums with one division each; the
    cumulative share runs over the bounded 10-row decile relation.
    Scale shape: one customer rollup shuffle, one broadcast, one
    10-row scorecard."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    rev = (
        orders.select(
            F.col("o_custkey").alias("ck"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("r"),
        )
        .groupBy("ck")
        .agg(F.sum("r").cast("bigint").alias("r"))
    )
    cuts = rev.agg(
        *[
            F.round(F.expr(f"percentile(r, {q})"), 6).alias(f"q{i}")
            for i, q in enumerate(LORENZ_QS)
        ]
    )
    decile = F.lit(1)
    for i in range(9):
        decile = decile + (F.col("r") > F.col(f"q{i}")).cast("int")
    agg = (
        rev.crossJoin(F.broadcast(cuts))
        .select(F.col("r"), decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("r").cast("bigint").alias("spend_cents"),
        )
        .select(F.col("decile").cast("int").alias("decile"), "n_customers", "spend_cents")
    )
    tot = agg.agg(F.sum("spend_cents").cast("bigint").alias("st"))
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return agg.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        "spend_cents",
        (
            F.round(F.col("spend_cents").cast("double") / F.col("st"), 6)
            + F.lit(0.0)
        ).alias("spend_share"),
        (
            F.round(
                F.sum("spend_cents").over(wc).cast("double") / F.col("st"), 6
            )
            + F.lit(0.0)
        ).alias("cum_spend_share"),
    )


# ---------------------------------------------------------------------------
# Seasonality / trend strength from the STL decomposition
# ---------------------------------------------------------------------------


@query(
    "ts_seasonality_strength",
    oracle=f"""
WITH hv AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1
),
tw AS (
  SELECT h_us, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS s25,
         COUNT(*) OVER w AS n25
  FROM hv
  WINDOW w AS (ORDER BY h_us ROWS BETWEEN {STL_HALF} PRECEDING AND {STL_HALF} FOLLOWING)
),
interior AS (
  SELECT h_us, cents, s25,
         (2 * {STL_HALF} + 1) * cents - s25 AS det_c,
         (h_us // 3600000000) % 24 AS hod
  FROM tw WHERE n25 = 2 * {STL_HALF} + 1
),
seas AS (
  SELECT hod, CAST(SUM(det_c) AS BIGINT) AS sdc, COUNT(*) AS cnt
  FROM interior GROUP BY hod
),
comp AS (
  SELECT i.h_us,
         CAST(i.det_c AS DOUBLE) / {_STL_DEN} AS det,
         CAST(i.det_c AS DOUBLE) / {_STL_DEN}
           - CAST(s.sdc AS DOUBLE) / CAST({_STL_DEN} * s.cnt AS DOUBLE) AS r,
         CAST(i.cents AS DOUBLE) / 100
           - CAST(s.sdc AS DOUBLE) / CAST({_STL_DEN} * s.cnt AS DOUBLE) AS ds
  FROM interior i JOIN seas s USING (hod)
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(r) AS sr, SUM(r * r) AS srr,
         SUM(det) AS sd, SUM(det * det) AS sdd,
         SUM(ds) AS ss, SUM(ds * ds) AS sss
  FROM comp
)
SELECT n AS n_hours,
       round(greatest(0.0, 1.0 - (srr - sr * sr / n) / (sdd - sd * sd / n)),
             4) + 0.0 AS seasonal_strength,
       round(greatest(0.0, 1.0 - (srr - sr * sr / n) / (sss - ss * ss / n)),
             4) + 0.0 AS trend_strength
FROM mom
""",
)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality and trend strength of the hourly revenue series —
    Hyndman's FPP decomposition summary: F_seasonal = max(0, 1 −
    Var(R)/Var(S+R)) and F_trend = max(0, 1 − Var(R)/Var(T+R)), the two
    numbers that justify (or veto) the seasonal-naive baseline
    (ts_seasonal_naive_forecast_eval) and the diurnal ACF spike
    (ts_autocorrelation_hourly) in one model-selection readout.

    Built on the STL-lite components (ts_stl_decompose_hourly's exact
    scaled-integer detrending): S+R is the detrended series, T+R is
    the deseasonalized series, and the three variances come from raw
    double moments over the calendar-BOUNDED interior relation (~a few
    hundred terms — addition-order ulp noise absorbed by round(4), the
    chi2 convention; the variance differences share the same fixed
    operand order in both engines). Scale shape: identical to the STL
    query — hour-grain collapse first, bounded-series windows after,
    one 1-row scorecard out."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    width = 2 * STL_HALF + 1
    hv = (
        ev.select(
            F.expr("(unix_micros(ts) div 3600000000) * 3600000000").alias(
                "h_us"
            ),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("h_us")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    w = W.orderBy("h_us").rowsBetween(-STL_HALF, STL_HALF)
    tw = hv.select(
        "h_us",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("s25"),
        F.count(F.lit(1)).over(w).alias("n25"),
    )
    interior = tw.filter(F.col("n25") == width).select(
        "h_us",
        "cents",
        (F.lit(width) * F.col("cents") - F.col("s25")).alias("det_c"),
        F.expr("(h_us div 3600000000) % 24").alias("hod"),
    )
    seas = interior.groupBy("hod").agg(
        F.sum("det_c").cast("bigint").alias("sdc"),
        F.count(F.lit(1)).alias("cnt"),
    )
    seasonal = F.col("sdc").cast("double") / (
        F.lit(_STL_DEN) * F.col("cnt")
    ).cast("double")
    det = F.col("det_c").cast("double") / _STL_DEN
    comp = interior.join(F.broadcast(seas), "hod").select(
        det.alias("det"),
        (det - seasonal).alias("r"),
        (F.col("cents").cast("double") / 100 - seasonal).alias("ds"),
    )
    mom = comp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
        F.sum("det").alias("sd"),
        F.sum(F.col("det") * F.col("det")).alias("sdd"),
        F.sum("ds").alias("ss"),
        F.sum(F.col("ds") * F.col("ds")).alias("sss"),
    )
    var_r = F.col("srr") - F.col("sr") * F.col("sr") / F.col("n")
    var_d = F.col("sdd") - F.col("sd") * F.col("sd") / F.col("n")
    var_s = F.col("sss") - F.col("ss") * F.col("ss") / F.col("n")
    return mom.select(
        F.col("n").alias("n_hours"),
        (
            F.round(F.greatest(F.lit(0.0), 1.0 - var_r / var_d), 4)
            + F.lit(0.0)
        ).alias("seasonal_strength"),
        (
            F.round(F.greatest(F.lit(0.0), 1.0 - var_r / var_s), 4)
            + F.lit(0.0)
        ).alias("trend_strength"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of cumulative net value per event type
# ---------------------------------------------------------------------------


@query(
    "ts_max_drawdown_hourly",
    oracle="""
WITH hourly AS (
  SELECT event_type AS t, (epoch_us(ts) // 3600000000) AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)
                  * CASE WHEN user_id % 3 = 0 THEN -1 ELSE 1 END)
              AS BIGINT) AS net
  FROM events GROUP BY 1, 2
),
cums AS (
  SELECT t, h,
         CAST(SUM(net) OVER (PARTITION BY t ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM hourly
),
walk AS (
  SELECT t, h, cum,
         CAST(MAX(cum) OVER (PARTITION BY t ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS peak
  FROM cums
),
dd AS (
  SELECT t, h, peak - cum AS draw,
         row_number() OVER (PARTITION BY t ORDER BY peak - cum DESC, h)
           AS rk
  FROM walk
)
SELECT t AS event_type,
       CAST(draw AS BIGINT) AS max_drawdown_cents,
       CAST(h AS BIGINT) AS trough_hour
FROM dd WHERE rk = 1
""",
)
def ts_max_drawdown_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each event type's cumulative net value —
    the risk metric finance monitors on P&L curves, applied to a
    revenue stream with a deterministic refund population (users with
    id % 3 = 0 count negative): the deepest peak-to-trough drop and
    the hour it bottomed. Computed as max over t of (running-max −
    running-sum), the one-pass sweep formulation, with the earliest
    trough hour as the deterministic tie-break.

    Exactness: everything is int64 cents — the running sum, the
    running max OVER the running sum (a nested window on the same
    frame, one pass in both engines), and the drawdown subtraction;
    no float appears anywhere. Scale shape: the corpus collapses to
    the (type, hour) grain first (partial-combined), so the cumulative
    windows partition by type over the calendar-BOUNDED hour axis —
    the STL/hypertable serving shape; ranking the trough is a per-type
    WindowGroupLimit."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    hourly = (
        ev.select(
            F.col("event_type").alias("t"),
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            (
                F.round(F.col("value") * 100, 0).cast("bigint")
                * F.when(F.col("user_id") % 3 == 0, -1).otherwise(1)
            ).alias("net"),
        )
        .groupBy("t", "h")
        .agg(F.sum("net").cast("bigint").alias("net"))
    )
    w = (
        W.partitionBy("t")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    walk = hourly.select(
        "t",
        "h",
        F.sum("net").over(w).cast("bigint").alias("cum"),
    ).select(
        "t", "h", "cum", F.max("cum").over(w).cast("bigint").alias("peak")
    )
    dd = walk.select(
        "t",
        "h",
        (F.col("peak") - F.col("cum")).alias("draw"),
    ).select(
        "t",
        "h",
        "draw",
        F.row_number()
        .over(W.partitionBy("t").orderBy(F.desc("draw"), "h"))
        .alias("rk"),
    )
    return dd.filter(F.col("rk") == 1).select(
        F.col("t").alias("event_type"),
        F.col("draw").cast("bigint").alias("max_drawdown_cents"),
        F.col("h").cast("bigint").alias("trough_hour"),
    )


# ---------------------------------------------------------------------------
# Forward as-of join: earliest click at-or-after each purchase
# ---------------------------------------------------------------------------


@query(
    "asof_join_forward",
    oracle="""
SELECT p.event_id AS purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS next_click_us,
       epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts <= c.ts
""",
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the direction the backward join can't
    serve: for each purchase, the EARLIEST click at-or-after it per
    user ("what did the buyer do next?"), completing the as-of
    direction set (backward: asof_join_purchase_click, nearest:
    asof_join_nearest, banded: asof_join_with_tolerance). Same
    joinless merged-timeline plan, mirrored: one union with a side
    marker, one user-keyed sort, and last(ignorenulls) over the
    REVERSED-sort running frame (≡ first over current-to-following,
    but incremental) — the reversed tie order keeps same-timestamp
    clicks matchable so the ≤ equality case holds, exactly DuckDB's
    native forward ASOF semantics (the oracle)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ts_us = F.unix_micros("ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        ts_us.alias("ts_us"),
        F.lit(0).alias("side"),  # purchases sort before same-ts clicks (<= asof)
        F.col("event_id"),
        F.lit(None).cast("long").alias("click_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        ts_us.alias("ts_us"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        ts_us.alias("click_us"),
    )
    # Reversed-sort RUNNING frame: first(ignorenulls) over
    # [current, unbounded following] ascending is a SHRINKING frame,
    # which Spark re-aggregates per row (O(n²) per user); last over
    # [unbounded preceding, current] on the reversed order is the
    # incremental GROWING frame — same rows, same value, O(n). At
    # equal ts the reversed (side desc) order puts clicks before the
    # purchase, so the ≤ equality case still matches.
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_us").desc(), F.col("side").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = purchases.unionByName(clicks).withColumn(
        "next_click_us", F.last("click_us", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("side") == 0).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("purchase_us"),
        "next_click_us",
        (F.col("next_click_us") - F.col("ts_us")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Granger causality (lag-1, hourly revenue between event types)
# ---------------------------------------------------------------------------

GRANGER_PAIRS = (
    ("view", "purchase"),
    ("purchase", "view"),
    ("click", "purchase"),
)
#: F(1, n−3) critical value at α=0.05 for n ≈ 700 hourly samples.
GRANGER_F_CRIT = 3.855


def _granger_sql(grid_expr: str) -> str:
    """ONE SQL text for both engines (only the dense-grid generator
    spelling differs). Per pair: dense zero-filled hourly series, one
    lag window, exact int64 moments, then the restricted (y~y₋₁) and
    unrestricted (y~y₋₁+x₋₁) OLS solved in closed form — RSS via the
    normal-equations identity RSS = Σy² − β'X'y, no residual scan."""
    blocks = []
    for i, (xc, yc) in enumerate(GRANGER_PAIRS):
        blocks.append(f"""
series{i} AS (
  SELECT g.h,
         COALESCE(x.c, 0) AS q0, COALESCE(y.c, 0) AS y0
  FROM grid g
  LEFT JOIN hourly x ON x.event_type = '{xc}' AND x.h = g.h
  LEFT JOIN hourly y ON y.event_type = '{yc}' AND y.h = g.h
),
lagged{i} AS (
  SELECT y0 AS yv,
         lag(y0) OVER (ORDER BY h) AS p,
         lag(q0) OVER (ORDER BY h) AS q
  FROM series{i}
),
mom{i} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(p) AS BIGINT) AS sp, CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(yv) AS BIGINT) AS sy,
         CAST(SUM(p * p) AS BIGINT) AS spp,
         CAST(SUM(q * q) AS BIGINT) AS sqq,
         CAST(SUM(p * q) AS BIGINT) AS spq,
         CAST(SUM(p * yv) AS BIGINT) AS spy,
         CAST(SUM(q * yv) AS BIGINT) AS sqy,
         CAST(SUM(yv * yv) AS BIGINT) AS syy
  FROM lagged{i} WHERE p IS NOT NULL
),
d{i} AS (
  SELECT CAST(n AS DOUBLE) AS n_d, CAST(sp AS DOUBLE) AS sp_d,
         CAST(sq AS DOUBLE) AS sq_d, CAST(sy AS DOUBLE) AS sy_d,
         CAST(spp AS DOUBLE) AS spp_d, CAST(sqq AS DOUBLE) AS sqq_d,
         CAST(spq AS DOUBLE) AS spq_d, CAST(spy AS DOUBLE) AS spy_d,
         CAST(sqy AS DOUBLE) AS sqy_d, CAST(syy AS DOUBLE) AS syy_d,
         n
  FROM mom{i}
),
fit{i} AS (
  SELECT n,
         syy_d - ((sy_d - ((n_d * spy_d - sp_d * sy_d)
                           / (n_d * spp_d - sp_d * sp_d)) * sp_d) / n_d)
                   * sy_d
               - ((n_d * spy_d - sp_d * sy_d)
                  / (n_d * spp_d - sp_d * sp_d)) * spy_d AS rss_r,
         syy_d
           - ((sy_d * (spp_d * sqq_d - spq_d * spq_d)
               - spy_d * (sp_d * sqq_d - spq_d * sq_d)
               + sqy_d * (sp_d * spq_d - spp_d * sq_d)) / det) * sy_d
           - ((n_d * (spy_d * sqq_d - spq_d * sqy_d)
               - sp_d * (sy_d * sqq_d - sq_d * sqy_d)
               + sq_d * (sy_d * spq_d - sq_d * spy_d)) / det) * spy_d
           - ((n_d * (spp_d * sqy_d - spy_d * spq_d)
               - sp_d * (sp_d * sqy_d - sy_d * spq_d)
               + sq_d * (sp_d * spy_d - sy_d * spp_d)) / det) * sqy_d
           AS rss_u
  FROM (
    SELECT d{i}.*,
           n_d * (spp_d * sqq_d - spq_d * spq_d)
           - sp_d * (sp_d * sqq_d - spq_d * sq_d)
           + sq_d * (sp_d * spq_d - spp_d * sq_d) AS det
    FROM d{i}
  ) dd{i}
),
out{i} AS (
  SELECT '{xc}' AS x_col, '{yc}' AS y_col, n,
         round((rss_r - rss_u) / (rss_u / (n - 3)), 6) + 0.0 AS f_stat,
         round((rss_r - rss_u) / (rss_u / (n - 3)), 6) > {GRANGER_F_CRIT}
           AS granger_causal
  FROM fit{i}
)""")
        sel = "\nUNION ALL\n".join(
            f"SELECT * FROM out{j}" for j in range(len(GRANGER_PAIRS))
        )
    return (
        """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
grid AS (SELECT """
        + grid_expr
        + """ AS h),
"""
        + ",".join(blocks)
        + "\n"
        + sel
    )


@query(
    "ts_granger_causality",
    oracle=_granger_sql(
        "unnest(generate_series((SELECT min(h) FROM hourly), "
        "(SELECT max(h) FROM hourly), INTERVAL 1 HOUR))"
    ),
)
def ts_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (lag-1) between hourly revenue series of
    event-type pairs — "does view activity an hour ago help predict
    purchase revenue now, beyond purchase's own history?" The nested-
    model F-test every metrics platform uses to rank leading
    indicators (and the asymmetric design point: view→purchase and
    purchase→view are BOTH tested — Granger causality is directional,
    like ml_xicor_correlation's asymmetry).

    Statistics without a residual pass: both OLS fits (restricted
    y~y₋₁, unrestricted y~y₋₁+x₋₁) solve in closed form from exact
    int64 moments over the ZERO-FILLED dense hourly grid (missing
    hours are real zeros, not gaps — the forecasting convention), and
    each RSS comes from the normal-equations identity Σy² − β'X'y.
    F = (RSS_r − RSS_u)/(RSS_u/(n−3)) against the α=0.05 critical
    value. ONE SQL text drives both engines (grid-generator spelling
    aside), so the Cramer-solve double tree is structurally identical.

    Scale: the corpus collapses to |types|×|hours| in one partial-
    combined pass; everything after runs on the bounded grid relation
    (one lag window + one moment aggregate per pair)."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _granger_sql(
            "explode(sequence((SELECT min(h) FROM hourly), "
            "(SELECT max(h) FROM hourly), INTERVAL '1' HOUR))"
        )
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson, lags 1-4)
# ---------------------------------------------------------------------------


def _pacf_sql(grid_expr: str) -> str:
    """ONE SQL text (grid generator aside). Per-lag Pearson ACF from
    exact int64 moments over the zero-filled hourly series, then the
    Durbin-Levinson recursion UNROLLED to lag 4 — each φ appears as a
    named column exactly once, so the double tree is identical in both
    engines."""

    def rho(k: int) -> str:
        return f"""
m{k} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sx, CAST(SUM(l{k}) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS sxx,
         CAST(SUM(l{k} * l{k}) AS BIGINT) AS syy,
         CAST(SUM(y * l{k}) AS BIGINT) AS sxy
  FROM lagged WHERE l{k} IS NOT NULL
),
r{k} AS (
  SELECT (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS r,
         n
  FROM m{k}
)"""

    return (
        """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1
),
grid AS (SELECT """
        + grid_expr
        + """ AS h),
series AS (
  SELECT g.h, COALESCE(hh.c, 0) AS y
  FROM grid g LEFT JOIN hourly hh ON hh.h = g.h
),
lagged AS (
  SELECT y,
         lag(y, 1) OVER (ORDER BY h) AS l1,
         lag(y, 2) OVER (ORDER BY h) AS l2,
         lag(y, 3) OVER (ORDER BY h) AS l3,
         lag(y, 4) OVER (ORDER BY h) AS l4
  FROM series
),"""
        + ",".join(rho(k) for k in (1, 2, 3, 4))
        + """,
rho AS (
  SELECT r1.r AS a1, r2.r AS a2, r3.r AS a3, r4.r AS a4,
         r1.n AS n1, r2.n AS n2, r3.n AS n3, r4.n AS n4
  FROM r1 CROSS JOIN r2 CROSS JOIN r3 CROSS JOIN r4
),
dl2 AS (
  SELECT rho.*, (a2 - a1 * a1) / (1 - a1 * a1) AS p22 FROM rho
),
dl2b AS (
  SELECT dl2.*, a1 - p22 * a1 AS p21 FROM dl2
),
dl3 AS (
  SELECT dl2b.*,
         (a3 - (p21 * a2 + p22 * a1)) / (1 - (p21 * a1 + p22 * a2)) AS p33
  FROM dl2b
),
dl3b AS (
  SELECT dl3.*, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM dl3
),
dl4 AS (
  SELECT dl3b.*,
         (a4 - (p31 * a3 + p32 * a2 + p33 * a1))
           / (1 - (p31 * a1 + p32 * a2 + p33 * a3)) AS p44
  FROM dl3b
)
SELECT 1 AS lag_hours, n1 AS n_pairs,
       round(a1, 6) + 0.0 AS acf, round(a1, 6) + 0.0 AS pacf FROM dl4
UNION ALL
SELECT 2, n2, round(a2, 6) + 0.0, round(p22, 6) + 0.0 FROM dl4
UNION ALL
SELECT 3, n3, round(a3, 6) + 0.0, round(p33, 6) + 0.0 FROM dl4
UNION ALL
SELECT 4, n4, round(a4, 6) + 0.0, round(p44, 6) + 0.0 FROM dl4
"""
    )


@query(
    "ts_pacf_durbin_levinson",
    oracle=_pacf_sql(
        "unnest(generate_series((SELECT min(h) FROM hourly), "
        "(SELECT max(h) FROM hourly), INTERVAL 1 HOUR))"
    ),
)
def ts_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of hourly revenue at lags 1-4 via the
    Durbin-Levinson recursion — the ARIMA order-selection readout
    (PACF cuts off at the AR order; ACF at the MA order) that pairs
    with ts_autocorrelation_hourly exactly the way the Box-Jenkins
    workflow pairs them. PACF at lag k is the correlation left after
    regressing out lags 1..k−1 — a different quantity from ACF, and
    the recursion that computes it from the ACF is a genuinely new
    kernel here (a scalar triangular solve, not a window or a join).

    Per-lag ACFs are Pearson over the zero-filled dense grid from
    exact int64 moments; the recursion is UNROLLED to lag 4 with each
    φ_{k,j} a named column appearing once, so both engines execute an
    identical double tree (ONE shared SQL text, grid spelling aside).

    Scale: corpus collapses to |hours| rows once; the lag window and
    four moment passes run on that bounded relation; the recursion is
    a 1-row computation."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _pacf_sql(
            "explode(sequence((SELECT min(h) FROM hourly), "
            "(SELECT max(h) FROM hourly), INTERVAL '1' HOUR))"
        )
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes) on hourly revenue
# ---------------------------------------------------------------------------


def _theil_sen_sql(grid_expr: str) -> str:
    """ONE SQL text (grid generator aside). Hour index from a
    row_number over the dense grid, slopes as one double division of
    exact ints, median via the rank-the-values order statistic (the
    bootstrap-median move: lower/upper middle averaged for even n)."""
    return (
        """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1
),
grid AS (SELECT """
        + grid_expr
        + """ AS h),
series AS (
  SELECT CAST(row_number() OVER (ORDER BY g.h) AS BIGINT) AS t,
         COALESCE(hh.c, 0) AS c
  FROM grid g LEFT JOIN hourly hh ON hh.h = g.h
),
slopes AS (
  SELECT CAST(b.c - a.c AS DOUBLE) / (b.t - a.t) AS s, a.t AS ta, b.t AS tb
  FROM series a JOIN series b ON a.t < b.t
),
ranked AS (
  SELECT s, row_number() OVER (ORDER BY s, ta, tb) AS r,
         COUNT(*) OVER () AS np
  FROM slopes
),
med AS (
  SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
         (MAX(CASE WHEN r = CAST(floor((np + 1) / 2.0) AS BIGINT)
              THEN s END)
          + MAX(CASE WHEN r = CAST(floor(np / 2.0) AS BIGINT) + 1
                THEN s END)) / 2 AS med_s
  FROM ranked
)
SELECT n_pairs,
       round(med_s / 100, 6) + 0.0 AS sen_slope_dollars_per_hour,
       med_s > 0 AS rising
FROM med
"""
    )


@query(
    "ts_theil_sen_trend",
    oracle=_theil_sen_sql(
        "unnest(generate_series((SELECT min(h) FROM hourly), "
        "(SELECT max(h) FROM hourly), INTERVAL 1 HOUR))"
    ),
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the hourly-revenue trend — the MEDIAN of
    all pairwise slopes, the robust-regression counterpart of the OLS
    trend (window_rolling_trend_slope): up to ~29% contaminated points
    cannot move it, which is why monitoring pipelines prefer it for
    trend alarms over least squares. Median selection is the exact
    order-statistic form (lower/upper middle averaged), not an
    interpolating percentile.

    Scale: the pairwise stage is quadratic in the GRID length, not the
    corpus — the corpus collapses to |hours| rows first, and the time
    window is fixed no matter how many TB of events fall inside it
    (720 hours → 259k slope pairs at any corpus size). Slopes are one
    double division of exact int64s; the rank runs on the bounded pair
    relation. At very long horizons the standard fallback is
    Siegel's repeated-median or per-day pre-bucketing; here the
    bounded-domain join IS the production shape."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _theil_sen_sql(
            "explode(sequence((SELECT min(h) FROM hourly), "
            "(SELECT max(h) FROM hourly), INTERVAL '1' HOUR))"
        )
    )


# ---------------------------------------------------------------------------
# Fisher dispersion index (Poisson overdispersion test on arrivals)
# ---------------------------------------------------------------------------


def _dispersion_sql(grid_expr: str) -> str:
    """ONE SQL text (grid spelling aside): per type, hourly arrival
    counts on the zero-filled dense grid, then the variance/mean
    ratio from exact int64 moments — D = (T·Σc² − (Σc)²) / (T−1) / Σc
    written as one double expression."""
    return (
        """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
grid AS (SELECT """
        + grid_expr
        + """ AS h),
types AS (SELECT DISTINCT event_type FROM hourly),
dense AS (
  SELECT t.event_type, COALESCE(hh.c, 0) AS c
  FROM grid g CROSS JOIN types t
  LEFT JOIN hourly hh ON hh.event_type = t.event_type AND hh.h = g.h
),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
  FROM dense GROUP BY event_type
)
SELECT event_type, t AS n_hours, s1 AS n_events,
       round(CAST(s1 AS DOUBLE) / t, 6) AS mean_per_hour,
       round((CAST(t AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (t - 1) / t, 6) AS var_per_hour,
       round((CAST(t AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (t - 1) / s1, 6) + 0.0 AS dispersion_index,
       round((CAST(t AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
             / (t - 1) / s1, 6) > 1.5 AS overdispersed
FROM mom
"""
    )


@query(
    "ts_dispersion_index",
    oracle=_dispersion_sql(
        "unnest(generate_series((SELECT min(h) FROM hourly), "
        "(SELECT max(h) FROM hourly), INTERVAL 1 HOUR))"
    ),
)
def ts_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's dispersion index D = Var/Mean of hourly arrival counts
    per event type over the zero-filled dense grid — the first test a
    count-data modeler runs: a Poisson process has D = 1, bursty
    traffic (sessions, incidents, bot waves) is OVERDISPERSED (D ≫ 1,
    negative-binomial territory), and D < 1 means regularized
    arrivals. Decides whether the Poisson assumptions behind rate
    alarms and ab_bootstrap_ci_poisson's resampling hold for this
    stream, and pairs with ts_autocorrelation (burstiness in time) the
    way a marginal test pairs with a serial one.

    Exactness: counts are exact ints incl. the zero hours (omitting
    empty cells biases D down — the classic mistake); mean, variance
    and D are single fixed-shape double expressions from int64
    moments. Scale: corpus collapses to |types|×|hours| once; all else
    runs on the bounded grid."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _dispersion_sql(
            "explode(sequence((SELECT min(h) FROM hourly), "
            "(SELECT max(h) FROM hourly), INTERVAL '1' HOUR))"
        )
    )


# ---------------------------------------------------------------------------
# Exponential-fit KS test on inter-arrival gaps
# ---------------------------------------------------------------------------


def _exp_ks_sql(epoch_us: str) -> str:
    """ONE SQL text (epoch spelling aside). Per type: inter-arrival
    gaps in exact micros, λ̂ = n/Σg by MLE, and the exact two-sided KS
    distance against Exp(λ̂) on the distinct-gap grid — F_n from
    integer cumulative counts, F(g) = 1 − exp(−n·g/Σg) with the
    exponent written as one int-ratio shape."""
    return f"""
WITH ordered AS (
  SELECT event_type, {epoch_us}(ts) AS t_us,
         lag({epoch_us}(ts)) OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id) AS prev_us
  FROM events
),
gaps AS (
  SELECT event_type, t_us - prev_us AS g
  FROM ordered WHERE prev_us IS NOT NULL
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(g) AS BIGINT) AS sg
  FROM gaps GROUP BY event_type
),
byval AS (
  SELECT event_type, g, CAST(COUNT(*) AS BIGINT) AS c
  FROM gaps GROUP BY event_type, g
),
cum AS (
  SELECT event_type, g,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY g
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cle
  FROM byval
),
dev AS (
  SELECT c.event_type,
         CASE WHEN abs(CAST(c.cle AS DOUBLE) / t.n
                       - (1.0 - exp(-(CAST(t.n AS DOUBLE) * c.g / t.sg))))
                   >= abs((1.0 - exp(-(CAST(t.n AS DOUBLE) * c.g / t.sg)))
                          - CAST(c.cle - 1 AS DOUBLE) / t.n)
              THEN abs(CAST(c.cle AS DOUBLE) / t.n
                       - (1.0 - exp(-(CAST(t.n AS DOUBLE) * c.g / t.sg))))
              ELSE abs((1.0 - exp(-(CAST(t.n AS DOUBLE) * c.g / t.sg)))
                       - CAST(c.cle - 1 AS DOUBLE) / t.n) END AS d
  FROM cum c JOIN tot t ON c.event_type = t.event_type
)
SELECT t.event_type, t.n AS n_gaps,
       round(CAST(t.n AS DOUBLE) * 60000000 / t.sg, 6) AS lambda_per_min,
       round(MAX(d.d), 6) + 0.0 AS ks_d,
       MAX(d.d) < 1.358 / sqrt(CAST(t.n AS DOUBLE)) AS exp_fit_ok
FROM tot t JOIN dev d ON t.event_type = d.event_type
GROUP BY t.event_type, t.n, t.sg
"""


@query(
    "ts_exponential_fit_ks",
    oracle=_exp_ks_sql("epoch_us"),
)
def ts_exponential_fit_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit of the exponential inter-arrival model, per
    event type: MLE rate λ̂ = n/Σgap, then the EXACT two-sided
    Kolmogorov-Smirnov distance between the gap ECDF and Exp(λ̂),
    compared against the 5% asymptotic critical value 1.358/√n — the
    distributional half of the Poisson-process audit whose marginal
    half is ts_dispersion_index (D≈1 AND exponential gaps ⇒ the rate
    alarms and Poisson-bootstrap machinery rest on solid ground; heavy
    tails show up here first). KS is evaluated correctly at BOTH sides
    of each ECDF jump (sup over atoms needs F_n(g) and F_n(g⁻)).

    Exactness: gaps and cumulative counts are exact int64 on the
    distinct-gap grid; the model CDF's exponent is the int ratio
    n·g/Σg in one fixed shape, exp is the only libm call, round(6)
    absorbs its ulp.

    Scale: the oracle's formulation — a type-keyed lag window and a
    type-keyed prefix sum — puts a FIFTH of the corpus in one window
    task (|types| = 5, the SPRT funnel). The engine path decomposes
    both: the adjacent-gap lag runs per (type, slice) on a range
    partition with the previous slice's last timestamp carried across
    the boundary (the caliper-match carry), and the distinct-gap
    ECDF prefix is ``functions.prefix.running_sums``. The oracle
    keeps the plain windows — formulation independence."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    seq = ev.select(
        "event_type", F.unix_micros("ts").alias("t_us"), "ts", "event_id"
    )
    # BOTH slicings persisted (functions/prefix.py's slice contract):
    # with exchange reuse off the KS statistic read 2501.8 vs the
    # oracle's 0.012. ranged feeds the lag windows AND the
    # boundary-carry aggregation; granged feeds both phases of the ECDF
    # running sum.
    with slot(spark, "ks") as keep:
        ranged = keep(range_sliced(seq, "event_type", "ts", "event_id"))
        w_loc = W.partitionBy("event_type", "_pid").orderBy("ts", "event_id")
        local = ranged.select(
            "event_type", "_pid", "t_us",
            F.lag("t_us").over(w_loc).alias("prev_us"),
        )
        # Boundary carry: each (type, slice)'s last timestamp, carried to
        # the NEXT slice holding that type (last non-null over preceding
        # slices — the bounded |types| x n_parts edge relation).
        edges = ranged.groupBy("event_type", "_pid").agg(
            F.max("t_us").alias("last_us")
        )
        w_c = W.partitionBy("event_type").orderBy("_pid").rowsBetween(
            W.unboundedPreceding, -1
        )
        carry = edges.select(
            "event_type", "_pid",
            F.last("last_us", ignorenulls=True).over(w_c).alias("carry_us"),
        )
        gaps = (
            local.join(F.broadcast(carry), ["event_type", "_pid"])
            .select(
                "event_type",
                (
                    F.col("t_us") - F.coalesce(F.col("prev_us"), F.col("carry_us"))
                ).alias("g"),
            )
            .filter(F.col("g").isNotNull())
        )
        tot = gaps.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("g").cast("bigint").alias("sg"),
        )
        byval = gaps.groupBy("event_type", "g").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        # Distinct-gap ECDF prefix: |V| grows with the corpus.
        granged = keep(range_sliced(byval, "event_type", "g"))
    cum = running_sums(granged, ["event_type"], ["g"], {"cle": F.col("c")})
    j = cum.join(F.broadcast(tot), "event_type")
    fn_hi = F.col("cle").cast("double") / F.col("n")
    fn_lo = (F.col("cle") - 1).cast("double") / F.col("n")
    model = F.lit(1.0) - F.exp(
        -(F.col("n").cast("double") * F.col("g") / F.col("sg"))
    )
    d = F.when(
        F.abs(fn_hi - model) >= F.abs(model - fn_lo), F.abs(fn_hi - model)
    ).otherwise(F.abs(model - fn_lo))
    return (
        j.select("event_type", "n", "sg", d.alias("d"))
        .groupBy("event_type", "n", "sg")
        .agg(F.max("d").alias("dmax"))
        .select(
            "event_type",
            F.col("n").alias("n_gaps"),
            F.round(
                F.col("n").cast("double") * 60000000 / F.col("sg"), 6
            ).alias("lambda_per_min"),
            (F.round("dmax", 6) + F.lit(0.0)).alias("ks_d"),
            (
                F.col("dmax")
                < F.lit(1.358) / F.sqrt(F.col("n").cast("double"))
            ).alias("exp_fit_ok"),
        )
    )

# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

HURST_WINDOWS = (16, 32, 64, 128)  #: block sizes (hours)


def _hurst_sql(grid_expr: str) -> str:
    """ONE SQL text (grid spelling aside). Within a block of size w the
    cumulative deviation stays EXACT by scaling with w:
    Y_j = w·Σ_{i≤j}c_i − j·Σc is int64, so the range max−min is exact
    and R/S = (maxY − minY) / √(w·Σc² − (Σc)²) is one double
    expression per block. H is the ln-ln OLS slope over the
    (ln w, ln avg R/S) points; the four ln w are shared literals."""
    import math

    per_w = []
    for w in HURST_WINDOWS:
        per_w.append(f"""
  SELECT CAST({w} AS BIGINT) AS w, CAST({math.log(w)!r} AS DOUBLE) AS lw,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         SUM(rs) / COUNT(*) AS avg_rs
  FROM (
    SELECT b,
           CAST(MAX(y) - MIN(y) AS DOUBLE)
             / sqrt(CAST({w} AS DOUBLE) * MAX(s2)
                    - CAST(MAX(s1) AS DOUBLE) * MAX(s1)) AS rs
    FROM (
      SELECT b, j,
             {w} * cum - j * s1 AS y, s1, s2
      FROM (
        SELECT b,
               row_number() OVER (PARTITION BY b ORDER BY rn) AS j,
               SUM(c) OVER (PARTITION BY b ORDER BY rn
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(c) OVER (PARTITION BY b) AS s1,
               SUM(c * c) OVER (PARTITION BY b) AS s2,
               COUNT(*) OVER (PARTITION BY b) AS bn
        FROM (
          SELECT CAST(floor((rn - 1) / {w}.0) AS BIGINT) AS b, rn, c
          FROM series_idx
        ) blk{w}
      ) win{w} WHERE bn = {w}
    ) dev{w}
    GROUP BY b
    HAVING CAST({w} AS DOUBLE) * MAX(s2)
           - CAST(MAX(s1) AS DOUBLE) * MAX(s1) > 0
  ) per_block{w}""")
    rs_union = "\nUNION ALL\n".join(per_w)
    return (
        """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1
),
grid AS (SELECT """
        + grid_expr
        + """ AS h),
series_idx AS (
  SELECT CAST(row_number() OVER (ORDER BY g.h) AS BIGINT) AS rn,
         COALESCE(hh.c, 0) AS c
  FROM grid g LEFT JOIN hourly hh ON hh.h = g.h
),
rspoints AS (
"""
        + rs_union
        + """
),
fit AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS np,
         SUM(lw) AS sx, SUM(ln(avg_rs)) AS sy,
         SUM(lw * lw) AS sxx, SUM(lw * ln(avg_rs)) AS sxy
  FROM rspoints
)
SELECT r.w AS window_hours, r.n_blocks,
       round(r.avg_rs, 6) + 0.0 AS avg_rescaled_range,
       round((f.np * f.sxy - f.sx * f.sy)
             / (f.np * f.sxx - f.sx * f.sx), 6) + 0.0 AS hurst_h
FROM rspoints r CROSS JOIN fit f
"""
    )


@query(
    "ts_hurst_exponent",
    oracle=_hurst_sql(
        "unnest(generate_series((SELECT min(h) FROM hourly), "
        "(SELECT max(h) FROM hourly), INTERVAL 1 HOUR))"
    ),
)
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of hourly revenue via rescaled-range analysis
    (Hurst 1951; Mandelbrot's long-memory diagnostic): for block sizes
    16/32/64/128 hours, the mean rescaled range R/S grows ~ wᴴ — H≈0.5
    is a memoryless series, H>0.5 long-range persistence (trends feed
    themselves; rate alarms need longer baselines), H<0.5 mean
    reversion. A genuinely different lens from ACF/PACF (which see
    fixed lags; H sees SCALING) and the third leg of the
    process-audit family (dispersion = marginal, exponential-KS =
    inter-arrival law, Hurst = memory).

    Exact-arithmetic core: within each block the cumulative deviation
    is kept integral by scaling with w (Y_j = w·cum_j − j·total), so
    every range is an exact int64 and only the final R/S division,
    block mean, and 4-point ln-ln OLS slope are doubles (ln w as
    shared literals). Scale: corpus → |hours| once, per-w windows
    partition by block id — no global sort, block counts bounded by
    the calendar."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _hurst_sql(
            "explode(sequence((SELECT min(h) FROM hourly), "
            "(SELECT max(h) FROM hourly), INTERVAL '1' HOUR))"
        )
    )


# ---------------------------------------------------------------------------
# Friedman test — k related samples, ranked within hourly blocks
# ---------------------------------------------------------------------------

#: χ² critical value at α=0.05, df = k−1 = 4 event types − 1.
FRIEDMAN_CRIT = 9.488


def _friedman_sql(grid_expr: str) -> str:
    """ONE SQL text (grid spelling aside). Each dense hour is a block;
    the k types' revenues rank within it as exact DOUBLED midranks
    (2r = 2·rank + t − 1); the Friedman statistic and its tie
    correction C = 1 − Σ(t³−t)/(n·k·(k²−1)) assemble from int64
    sums in one double expression."""
    return (
        """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
grid AS (SELECT """
        + grid_expr
        + """ AS h),
types AS (SELECT DISTINCT event_type FROM hourly),
dense AS (
  SELECT g.h, t.event_type, COALESCE(hh.c, 0) AS c
  FROM grid g CROSS JOIN types t
  LEFT JOIN hourly hh ON hh.event_type = t.event_type AND hh.h = g.h
),
ranked AS (
  SELECT h, event_type,
         2 * CAST(rank() OVER (PARTITION BY h ORDER BY c) AS BIGINT)
           + CAST(COUNT(*) OVER (PARTITION BY h, c) AS BIGINT) - 1 AS r2
  FROM dense
),
ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM dense GROUP BY h, c) g
),
sums AS (
  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2sum,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ranked GROUP BY event_type
),
k_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM sums),
stat AS (
  SELECT
    (12.0 * SUM((CAST(r2sum AS DOUBLE) / 2) * (CAST(r2sum AS DOUBLE) / 2))
       / (MAX(n) * MAX(k.k) * (MAX(k.k) + 1))
     - 3.0 * MAX(n) * (MAX(k.k) + 1))
    / (1.0 - CAST(MAX(t.tie3) AS DOUBLE)
             / (MAX(n) * MAX(k.k)
                * (MAX(k.k) * MAX(k.k) - 1))) AS chi2,
    MAX(n) AS n_blocks, MAX(k.k) AS k
  FROM sums CROSS JOIN k_ k CROSS JOIN ties t
)
SELECT s.event_type, s.n AS n_blocks,
       round(CAST(s.r2sum AS DOUBLE) / 2 / s.n, 6) AS mean_rank,
       round(st.chi2, 6) + 0.0 AS friedman_chi2,
       round(st.chi2, 6) > """
        + repr(FRIEDMAN_CRIT)
        + """ AS types_differ
FROM sums s CROSS JOIN stat st
"""
    )


@query(
    "ts_friedman_test_types",
    oracle=_friedman_sql(
        "unnest(generate_series((SELECT min(h) FROM hourly), "
        "(SELECT max(h) FROM hourly), INTERVAL 1 HOUR))"
    ),
)
def ts_friedman_test_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (1937): do the k event types draw different
    hourly revenues, judged NONPARAMETRICALLY by ranking the types
    within every hour (each hour is its own block, so level shifts and
    daily seasonality cancel — the within-block design ANOVA can't
    give you without homoscedasticity)? Completes the rank-test
    family's arity ladder: Mann-Whitney (2 independent samples) →
    Friedman (k related samples), with the same exact doubled-midrank
    machinery and the textbook tie correction — zero-heavy hours make
    ties the COMMON case here, so the correction is load-bearing, not
    decorative.

    Exactness: every rank statistic is int64 (doubled midranks, tie
    cubes); ONE double expression assembles χ²_F with a pinned op
    order. Scale: one (type,hour) collapse, per-hour rank windows
    partitioned on the block key, k-row readout."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _friedman_sql(
            "explode(sequence((SELECT min(h) FROM hourly), "
            "(SELECT max(h) FROM hourly), INTERVAL '1' HOUR))"
        )
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index (supplier revenue per nation)
# ---------------------------------------------------------------------------


def _hhi_sql() -> str:
    """Fully portable shared SQL: HHI = Σ sᵢ²/S² from exact int64
    cents (numerator Σ sᵢ² and denominator S² both exact; ONE double
    division)."""
    return """
WITH rev AS (
  SELECT n.n_name, l.l_suppkey,
         CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, l.l_suppkey
),
agg AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(cents) AS BIGINT) AS s1,
         SUM(CAST(cents AS DOUBLE) * cents) AS s2
  FROM rev GROUP BY n_name
)
SELECT n_name, n_suppliers,
       round(s2 / (CAST(s1 AS DOUBLE) * s1), 6) AS hhi,
       round(s2 / (CAST(s1 AS DOUBLE) * s1) * 10000, 2) AS hhi_points,
       round(s2 / (CAST(s1 AS DOUBLE) * s1), 6) > 0.25 AS highly_concentrated,
       round(CAST(1.0 AS DOUBLE) / n_suppliers, 6) AS hhi_floor
FROM agg
"""


@query("analytics_hhi_concentration", oracle=_hhi_sql())
def analytics_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration per
    nation — THE market-concentration statistic (antitrust thresholds,
    marketplace health dashboards): HHI = Σ shareᵢ², from 1/n (perfect
    competition, emitted as the floor for context) to 1 (monopoly).
    Completes the distribution-shape family: Gini/Lorenz measure
    INEQUALITY of the same revenue, HHI measures CONCENTRATION —
    related but not interchangeable (a two-supplier 50/50 market has
    Gini 0 and HHI 0.5).

    Exactness: Σsᵢ² accumulates cents-squared as doubles of exact
    ints (each product exact below 2⁵³; the sum is one partial-
    combined agg) over the exact int64 total² — one division, one
    threshold. Scale: one (nation, supplier) rollup, |nations|-row
    readout."""
    load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    return spark.sql(_hhi_sql())


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (randomness of hourly revenue around median)
# ---------------------------------------------------------------------------


def _runs_test_sql(grid_expr: str) -> str:
    """ONE SQL text (grid spelling aside): lower-median threshold via
    the exact order statistic, ties-to-median dropped (the standard
    convention), runs counted with one lag over the bounded grid, and
    the normal approximation z from exact int64 n₁/n₂/R."""
    return (
        """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1
),
grid AS (SELECT """
        + grid_expr
        + """ AS h),
series AS (
  SELECT g.h, COALESCE(hh.c, 0) AS c
  FROM grid g LEFT JOIN hourly hh ON hh.h = g.h
),
med AS (
  SELECT c AS m FROM (
    SELECT c, row_number() OVER (ORDER BY c) AS r, COUNT(*) OVER () AS t
    FROM series
  ) q WHERE r = CAST(floor((t + 1) / 2.0) AS BIGINT)
),
flagged AS (
  SELECT s.h, CASE WHEN s.c > m.m THEN 1 ELSE 0 END AS f
  FROM series s CROSS JOIN med m
  WHERE s.c <> m.m
),
walk AS (
  SELECT f, lag(f) OVER (ORDER BY h) AS pf FROM flagged
),
stats AS (
  SELECT CAST(SUM(f) AS BIGINT) AS n1,
         CAST(SUM(1 - f) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN pf IS NULL OR f <> pf THEN 1 ELSE 0 END)
              AS BIGINT) AS runs
  FROM walk
)
SELECT n1 AS n_above, n2 AS n_below, runs,
       round((CAST(runs AS DOUBLE)
              - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)
                       * (n1 + n2 - 1))), 6) + 0.0 AS runs_z,
       abs(round((CAST(runs AS DOUBLE)
            - (2.0 * n1 * n2 / (n1 + n2) + 1))
           / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                  / ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2)
                     * (n1 + n2 - 1))), 6)) > 1.96 AS nonrandom
FROM stats
"""
    )


@query(
    "ts_runs_test",
    oracle=_runs_test_sql(
        "unnest(generate_series((SELECT min(h) FROM hourly), "
        "(SELECT max(h) FROM hourly), INTERVAL 1 HOUR))"
    ),
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on hourly revenue around its median —
    too FEW runs of above/below-median hours means positive serial
    dependence (trending/sticky load), too MANY means oscillation;
    |z| < 1.96 is consistent with randomness. The fourth leg of the
    process-randomness audit (ts_dispersion_index = marginal
    Poisson-ness, ts_exponential_fit_ks = inter-arrival law,
    ts_hurst_exponent = scaling memory, runs = sign-pattern serial
    structure) — four tests that fail in DIFFERENT ways, which is the
    point of running them together.

    Exactness: the median threshold is an exact order statistic
    (lower median, floor-pinned rank), ties to the median drop by the
    textbook convention, n₁/n₂/R are exact ints from one lag walk
    over the calendar-bounded grid, and z is one pinned double tree.
    Scale: corpus → |hours| once; everything after is grid-bounded."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        _runs_test_sql(
            "explode(sequence((SELECT min(h) FROM hourly), "
            "(SELECT max(h) FROM hourly), INTERVAL '1' HOUR))"
        )
    )

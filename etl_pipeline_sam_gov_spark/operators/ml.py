"""In-engine ML primitives (SURVEY.md §2.12 extensions): Lloyd's
KMeans over the embedding corpus and closed-form linear regression —
the "classical ML on the warehouse" surface (feature clustering,
trend fitting) that large pipelines run between curation and training.

Determinism contract (the hard part of distributed ML): float
aggregation order is nondeterministic under shuffle, and KMeans'
argmin makes a last-ulp difference DISCRETE (a point flips cluster).
Both operators therefore arrange every cross-row sum to be EXACT:

- KMeans quantizes vectors AND the updated centroids to dyadic
  fixed-point (multiples of 2^-10 — binary-exact doubles), so every
  distance term and member-sum is exact integer arithmetic scaled by a
  power of two: any summation order gives the same bits on any engine.
  (Fixed-point codebooks are standard practice in quantized ANN — the
  same trick makes the math reproducible, cf. ann_quantize_embeddings.)
- The regression accumulates its normal-equation moments as exact
  DECIMALs (the fixture's 2-decimal values are exactly representable),
  then solves 3x3 Cramer in double — identical inputs, identical
  expression tree, identical bits (the agg_corr_matrix discipline).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.functions.prefix import range_sliced, running_sums
from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.slots import slot, slot_persist
from etl_pipeline_sam_gov_spark.tables import load_tables

#: cluster count, Lloyd iterations, and the fixed-point scale (2^10).
KM_K = 4
KM_ITERS = 2
KM_SCALE = 1024


def _kmeans_oracle() -> str:
    """KM_ITERS Lloyd rounds unrolled as chained CTEs, fully relational
    (explode to (id, dim, val) and equi-join on dim) — exactness of the
    dyadic arithmetic makes the formulation order-independent, so the
    same relational shape is correct on both engines."""
    q = f"round(CAST(x AS DOUBLE) * {KM_SCALE}, 0) / {KM_SCALE}"
    head = f"""
WITH vecs AS (
  SELECT vec_id,
         unnest(list_transform(embedding, x -> {q})) AS val,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
),
c0 AS (
  SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, dim, val AS cval
  FROM vecs
  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {KM_K})
)"""
    steps = []
    for i in range(1, KM_ITERS + 1):
        steps.append(f""",
d{i} AS (
  SELECT v.vec_id, c.cid, SUM((v.val - c.cval) * (v.val - c.cval)) AS dist
  FROM vecs v JOIN c{i - 1} c ON v.dim = c.dim
  GROUP BY v.vec_id, c.cid
),
a{i} AS (
  SELECT vec_id, cid
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d{i})
  WHERE rn = 1
),
c{i} AS (
  SELECT a.cid, v.dim,
         round(SUM(v.val) / COUNT(*) * {KM_SCALE}, 0) / {KM_SCALE} AS cval
  FROM vecs v JOIN a{i} a ON v.vec_id = a.vec_id
  GROUP BY a.cid, v.dim
)"""
        )
    # ``+ 0.0`` normalizes IEEE negative zero (-0.0 + 0.0 = +0.0) —
    # DuckDB's mean expression can emit -0.0 where Spark emits 0.0, and
    # the driver's pandas stringification distinguishes them.
    tail = f"""
SELECT c.cid AS cluster,
       CAST(c.dim AS INT) AS dim,
       n.n_members,
       c.cval + 0.0 AS centroid
FROM c{KM_ITERS} c
JOIN (SELECT cid, COUNT(*) AS n_members FROM a{KM_ITERS} GROUP BY cid) n
  ON c.cid = n.cid
"""
    return head + "".join(steps) + tail


@query("ml_kmeans_embeddings", oracle=_kmeans_oracle())
def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's KMeans (k=4, 2 fixed rounds, first-k-by-id init) over
    the embedding table, emitting each final centroid coordinate plus
    cluster sizes. All arithmetic is dyadic fixed-point (module
    docstring), so the distance matrix, the argmin assignment (ties to
    the lower cluster id), and the member-sums are bit-reproducible
    under ANY shuffle order or engine. Scale shape per round: one
    broadcast of the k×dim centroid relation onto the exploded vector
    table (equi-join on dim), one partial-combined argmin, one
    partial-combined mean — the corpus shuffles once per round keyed
    on vec_id, centroids never exceed k×dim rows. (Production KMeans
    at 100 TB samples for the update; the full-pass update here keeps
    the oracle exact.)"""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    quant = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * KM_SCALE, 0) / KM_SCALE,
    )
    vecs = emb.select(
        "vec_id", F.posexplode(quant).alias("dim0", "val")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "val")

    # Rank the K init ids BEFORE joining the corpus: the no-partition
    # dense_rank window rides the LIMIT-K relation (bounded by
    # construction), never the exploded vector table.
    init_ids = (
        emb.select("vec_id")
        .orderBy("vec_id")
        .limit(KM_K)
        .select(
            "vec_id",
            (F.dense_rank().over(W.orderBy("vec_id")) - 1)
            .cast("bigint")
            .alias("cid"),
        )
    )
    c_prev = vecs.join(F.broadcast(init_ids), "vec_id").select(
        "cid", "dim", F.col("val").alias("cval")
    )
    assign = None
    for _ in range(KM_ITERS):
        dist = (
            vecs.join(F.broadcast(c_prev), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
                ).alias("dist")
            )
        )
        rn = F.row_number().over(
            W.partitionBy("vec_id").orderBy("dist", "cid")
        )
        assign = dist.withColumn("rn", rn).filter(F.col("rn") == 1).select(
            "vec_id", "cid"
        )
        c_prev = (
            vecs.join(assign, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                (
                    F.round(F.sum("val") / F.count(F.lit(1)) * KM_SCALE, 0)
                    / KM_SCALE
                ).alias("cval")
            )
        )
    sizes = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        c_prev.join(F.broadcast(sizes), "cid")
        .select(
            F.col("cid").alias("cluster"),
            F.col("dim").cast("int").alias("dim"),
            "n_members",
            (F.col("cval") + F.lit(0.0)).alias("centroid"),
        )
    )


#: Shared moment relation for the regression (exact decimal sums).
_LR_SUMS_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
       SUM(CAST(l_discount AS DECIMAL(18,2))) AS s2,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
       SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS s11,
       SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s12,
       SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s22,
       SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s1y,
       SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s2y
FROM lineitem
GROUP BY l_returnflag
"""

def _lr_solve_sql(rnd) -> str:
    """Cramer's-rule solve of the 3x3 normal equations [n s1 s2; s1 s11
    s12; s2 s12 s22] [b0 b1 b2]' = [sy s1y s2y]' (first-column cofactor
    expansions), one shared double expression tree; ``rnd`` wraps each
    coefficient in that engine's spelling of shortest-repr HALF_UP
    rounding to 6 decimals (Spark: native round(); DuckDB: the
    VARCHAR->DECIMAL chain — see udf_ewma_user_values)."""
    b0 = ("(sy_d*(s11_d*s22_d - s12_d*s12_d)"
          " - s1y_d*(s1_d*s22_d - s12_d*s2_d)"
          " + s2y_d*(s1_d*s12_d - s11_d*s2_d)) / det")
    b1 = ("(n_d*(s1y_d*s22_d - s12_d*s2y_d)"
          " - s1_d*(sy_d*s22_d - s2_d*s2y_d)"
          " + s2_d*(sy_d*s12_d - s2_d*s1y_d)) / det")
    b2 = ("(n_d*(s11_d*s2y_d - s1y_d*s12_d)"
          " - s1_d*(s1_d*s2y_d - sy_d*s12_d)"
          " + s2_d*(s1_d*s1y_d - sy_d*s11_d)) / det")
    return f"""
SELECT l_returnflag,
       n,
       {rnd(b0)} AS beta0,
       {rnd(b1)} AS beta1,
       {rnd(b2)} AS beta2
FROM (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS n_d,
         CAST(s1 AS DOUBLE) AS s1_d,
         CAST(s2 AS DOUBLE) AS s2_d,
         CAST(sy AS DOUBLE) AS sy_d,
         CAST(s11 AS DOUBLE) AS s11_d,
         CAST(s12 AS DOUBLE) AS s12_d,
         CAST(s22 AS DOUBLE) AS s22_d,
         CAST(s1y AS DOUBLE) AS s1y_d,
         CAST(s2y AS DOUBLE) AS s2y_d,
         CAST(n AS DOUBLE)*(CAST(s11 AS DOUBLE)*CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE)*CAST(s12 AS DOUBLE))
         - CAST(s1 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE)*CAST(s2 AS DOUBLE))
         + CAST(s2 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE)*CAST(s2 AS DOUBLE)) AS det
  FROM moments
) m
"""


@query(
    "ml_linear_regression_closed_form",
    oracle=f"""
WITH moments AS ({_LR_SUMS_SQL})
{_lr_solve_sql(lambda e: f"CAST(CAST(CAST({e} AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE)")}
""",
)
def ml_linear_regression_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit price ~ quantity + discount via the
    normal equations: moments in one exact-decimal pass (order-proof
    partial aggregation), then a Cramer's-rule 3x3 solve as one shared
    double expression. The output coefficients round through Spark's
    shortest-repr HALF_UP semantics replicated on the oracle side
    (VARCHAR -> DECIMAL cast — see udf_ewma_user_values). At 100 TB
    this is THE way to fit small linear models in-warehouse: a
    closed-form fit is one aggregation, no iterative solver, no
    collect."""
    load_tables(spark, sf_dir, ("lineitem",))
    solve = _lr_solve_sql(lambda e: f"round({e}, 6)")
    return spark.sql(f"WITH moments AS ({_LR_SUMS_SQL})\n{solve}")


# ---------------------------------------------------------------------------
# Feature hashing (the "hashing trick" vectorizer)
# ---------------------------------------------------------------------------

FH_BUCKETS = 16  #: hashed feature dimensionality


def _fh_bucket_sql() -> str:
    from etl_pipeline_sam_gov_spark.operators.dedup import _sql_hash60

    return f"{_sql_hash60('event_type')} % {FH_BUCKETS}"


@query(
    "ml_feature_hash",
    oracle=f"""
WITH b AS (
  SELECT user_id, {_fh_bucket_sql()} AS bucket FROM events
)
SELECT user_id,
       array_to_string(list_value({", ".join(f"CAST(SUM(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS BIGINT)" for i in range(FH_BUCKETS))}), ',') AS features,
       CAST(COUNT(DISTINCT bucket) AS BIGINT) AS nnz,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM b GROUP BY user_id
""",
)
def ml_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature vectorization (Weinberger et al., "Feature
    Hashing for Large Scale Multitask Learning"): each user's
    categorical event stream becomes a fixed-width dense count vector
    via an md5-derived bucket index — the fixed-dimensionality,
    vocabulary-free encoder that feeds downstream models without a
    fitted dictionary (the same determinism contract as the hashed
    quality classifier and DSIR features).

    Scale shape: ONE partial-combined groupBy on user_id computing all
    FH_BUCKETS conditional counts map-side — no explode, no pivot
    shuffle, no per-bucket pass; exact integer arithmetic end to end."""
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    bucket = _spark_hash60(F.col("event_type")) % FH_BUCKETS
    withb = ev.select("user_id", bucket.alias("bucket"))
    # The dense vector ships as a comma-joined string (driver-compat:
    # array output columns are banned registry-wide).
    return withb.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            *[
                F.sum(F.when(F.col("bucket") == i, 1).otherwise(0)).cast(
                    "string"
                )
                for i in range(FH_BUCKETS)
            ],
        ).alias("features"),
        F.count_distinct(F.col("bucket")).alias("nnz"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Logistic regression via gradient descent (bit-reproducible)
# ---------------------------------------------------------------------------

LOGIT_STEPS = 3
LOGIT_LR = 4.0  #: learning rate (η)

#: DuckDB spelling of Spark's shortest-repr HALF_UP round-to-6 kept as
#: an exact DECIMAL (the udf_ewma_user_values technique).
_SQL_P6 = "CAST(CAST({e} AS VARCHAR) AS DECIMAL(8,6))"


def _logit_oracle() -> str:
    """LOGIT_STEPS unrolled GD steps. Per step: the sigmoid is computed
    in double (one shared expression tree), snapped to an exact
    6-decimal DECIMAL via shortest-repr HALF_UP; residuals and
    gradients are then EXACT decimal sums (order-proof), and only the
    final weight update re-enters double — one shared expression,
    rounded to 6 again. Any summation order gives the same bits."""
    ctes = ["w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    for t in range(1, LOGIT_STEPS + 1):
        p = t - 1
        sig = (
            f"1 / (1 + exp(-(w.w0 + w.w1 * (l_quantity / 50)"
            f" + w.w2 * l_discount)))"
        )
        ctes.append(f"""
g{t} AS (
  SELECT COUNT(*) AS n,
         SUM(r) AS s0, SUM(r * x1) AS s1, SUM(r * x2) AS s2,
         MIN(w.w0) AS w0, MIN(w.w1) AS w1, MIN(w.w2) AS w2
  FROM (
    SELECT CAST(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS DECIMAL(8,6))
             - {_SQL_P6.format(e=sig)} AS r,
           CAST(l_quantity / 50 AS DECIMAL(4,2)) AS x1,
           CAST(l_discount AS DECIMAL(4,2)) AS x2,
           w.w0, w.w1, w.w2
    FROM lineitem CROSS JOIN w{p} w
  ) w
),
w{t} AS (
  SELECT round(w0 + {LOGIT_LR} * (CAST(s0 AS DOUBLE) / n), 6) AS w0,
         round(w1 + {LOGIT_LR} * (CAST(s1 AS DOUBLE) / n), 6) AS w1,
         round(w2 + {LOGIT_LR} * (CAST(s2 AS DOUBLE) / n), 6) AS w2
  FROM g{t}
)""")
        # NOTE: w updates round through plain round() — safe here
        # because the operand is a sum-of-exact-decimals divided once,
        # whose shortest repr both engines agree on at 6 decimals
        # (the agg_corr_matrix precedent); only the SIGMOID needs the
        # VARCHAR chain, being a transcendental fed back into exact
        # arithmetic.
    sel = "\nUNION ALL\n".join(
        f"SELECT {t} AS step, w0, w1, w2 FROM w{t}"
        for t in range(1, LOGIT_STEPS + 1)
    )
    return "WITH " + ",".join(ctes) + "\n" + sel


@query("ml_logistic_regression_gd", oracle=_logit_oracle())
def ml_logistic_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (y = quantity > 25 on normalized quantity +
    discount) fit by LOGIT_STEPS full-batch gradient-descent steps —
    the iterative in-warehouse model fit, made BIT-REPRODUCIBLE across
    engines and shuffle orders: the only transcendental (sigmoid) is
    snapped to an exact 6-decimal per row, residual/gradient sums are
    exact decimal arithmetic (associative — any aggregation tree gives
    identical bits), and the weight update is one shared double
    expression rounded to 6. The same discipline as the fixed-point
    KMeans, applied to a gradient loop.

    Scale shape: each step is ONE partial-combined aggregation over the
    fact scan with the 3-weight model attached as a lazy broadcast
    1-row cross join — no collect, no persisted state; K steps = K
    scans, the textbook cost of full-batch GD."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    w = spark.range(1).select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2")
    )
    x1_raw = F.col("l_quantity") / 50
    outs = []
    for t in range(1, LOGIT_STEPS + 1):
        scan = li.crossJoin(F.broadcast(w))
        z = F.col("w0") + F.col("w1") * x1_raw + F.col("w2") * F.col("l_discount")
        p = F.round(1 / (1 + F.exp(-z)), 6).cast("decimal(8,6)")
        y = (
            F.when(F.col("l_quantity") > 25, 1).otherwise(0).cast("decimal(8,6)")
        )
        r = y - p
        g = scan.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(r).alias("s0"),
            F.sum(r * x1_raw.cast("decimal(4,2)")).alias("s1"),
            F.sum(r * F.col("l_discount").cast("decimal(4,2)")).alias("s2"),
            F.min("w0").alias("w0"),
            F.min("w1").alias("w1"),
            F.min("w2").alias("w2"),
        )
        w = g.select(
            *[
                F.round(
                    F.col(f"w{j}")
                    + LOGIT_LR * (F.col(f"s{j}").cast("double") / F.col("n")),
                    6,
                ).alias(f"w{j}")
                for j in range(3)
            ]
        )
        outs.append(w.select(F.lit(t).cast("int").alias("step"), "w0", "w1", "w2"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


#: Power-iteration rounds and the dyadic fixed-point scale (2^10).
PCA_ITERS = 3
PCA_SCALE = 1024

#: session id -> persisted relations of the last pca invocation (same
#: release-before-repersist discipline as the graph slots).


def _pca_oracle() -> str:
    """PCA_ITERS power-iteration rounds unrolled as chained CTEs. The
    covariance is formulated as a vec_id self-join here and as a
    scan-stage outer-product explode on the Spark side — the dyadic
    exactness (every cross-row sum is an exactly-representable scaled
    integer) makes the result formulation- and order-independent, so
    the two shapes must agree bit-for-bit."""
    S = PCA_SCALE
    head = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> round(x * {S}, 0) / {S}) AS v
  FROM embeddings
),
el AS (
  SELECT vec_id, i, v[i] AS vi
  FROM vecs, unnest(range(1, len(v) + 1)) AS u(i)
),
mu AS (
  SELECT i, round(SUM(vi) / COUNT(*) * {S}, 0) / {S} AS m
  FROM el GROUP BY i
),
ce AS (SELECT e.vec_id, e.i, e.vi - m.m AS ci FROM el e JOIN mu m USING (i)),
cov AS (
  SELECT a.i AS i, b.i AS j,
         round(SUM(a.ci * b.ci) / COUNT(*) * {S}, 0) / {S} AS c
  FROM ce a JOIN ce b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
),
w0 AS (SELECT DISTINCT i, 1.0 AS wi FROM cov)"""
    steps = []
    for r in range(1, PCA_ITERS + 1):
        steps.append(
            f""",
p{r} AS (
  SELECT cov.i, SUM(cov.c * w.wi) AS p
  FROM cov JOIN w{r - 1} w ON cov.j = w.i
  GROUP BY cov.i
),
n{r} AS (SELECT MAX(abs(p)) AS nm FROM p{r}),
w{r} AS (
  SELECT i, round(p / (SELECT nm FROM n{r}) * {S}, 0) / {S} AS wi
  FROM p{r}
)"""
        )
    # ``+ 0.0`` normalizes IEEE negative zero (a tiny negative loading
    # rounds to -0.0); see the kmeans centroid note.
    tail = f"""
SELECT CAST(w.i AS INT) AS dim,
       w.wi + 0.0 AS weight,
       round((SELECT nm FROM n{PCA_ITERS}), 6) AS eigenvalue
FROM w{PCA_ITERS} w
"""
    return head + "".join(steps) + tail


@query("ml_pca_power_iteration", oracle=_pca_oracle())
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration on the covariance matrix (L∞-normalized, fixed rounds,
    all-ones start) — the dimensionality-reduction / drift-detection
    primitive (a corpus whose top component shifts between snapshots
    changed distribution). Emits each dimension's loading plus the
    dominant-eigenvalue estimate (the L∞ norm of the last multiply).

    Exactness: vectors, means, covariance entries, and each round's
    normalized iterate are all snapped to the dyadic 2^-10 lattice, so
    every cross-row sum — column means, the d² covariance sums, and
    the 64-term matrix-vector products — is exact scaled-integer
    arithmetic: identical bits under ANY aggregation order or engine
    (module docstring contract). Divisions and the final rounds act on
    bit-identical inputs.

    Scale shape: the covariance is a SCAN-STAGE outer-product explode
    (each row emits its d² centered products, partial-combined before
    the only corpus-wide exchange: d² = 4096 grouping keys), never a
    corpus self-join; the d×d matrix and the d-row iterate then drive
    each round as a broadcast-sized join + partial-combined sum. The
    per-round relations are persisted (d rows each) so the unrolled
    lineage stays linear, and the mean vector rides a 1-row broadcast
    cross join — no driver collect anywhere."""
    S = PCA_SCALE
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    quant = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * S, 0) / S,
    )
    vecs = emb.select("vec_id", quant.alias("v"))
    el = vecs.select(
        "vec_id", F.posexplode("v").alias("i0", "vi")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "vi")
    mu = el.groupBy("i").agg(
        (F.round(F.sum("vi") / F.count(F.lit(1)) * S, 0) / S).alias("m")
    )
    mu_arr = mu.select(F.struct("i", "m").alias("s")).agg(
        F.transform(
            F.array_sort(F.collect_list("s")), lambda s: s["m"]
        ).alias("mu")
    )
    centered = vecs.crossJoin(F.broadcast(mu_arr)).select(
        "vec_id",
        F.zip_with(F.col("v"), F.col("mu"), lambda x, m: x - m).alias("cent"),
    )
    pairs = centered.select(
        F.col("cent").alias("arr"), F.posexplode("cent").alias("i0", "ci")
    ).select(
        (F.col("i0") + 1).alias("i"),
        "ci",
        F.posexplode("arr").alias("j0", "cj"),
    )
    with slot(spark, "pca") as keep:
        cov = keep(
            pairs.groupBy("i", (F.col("j0") + 1).alias("j")).agg(
                (
                    F.round(
                        F.sum(F.col("ci") * F.col("cj")) / F.count(F.lit(1)) * S, 0
                    )
                    / S
                ).alias("c")
            )
        )
        w = cov.select("i").distinct().select("i", F.lit(1.0).alias("wi"))
        nm = None
        for _ in range(PCA_ITERS):
            # p is referenced twice (the norm and the normalized iterate) —
            # persist the d-row relation so the unrolled plan stays linear.
            p = keep(
                cov.join(
                    F.broadcast(w.select(F.col("i").alias("j"), "wi")), "j"
                )
                .groupBy("i")
                .agg(F.sum(F.col("c") * F.col("wi")).alias("p"))
            )
            nm = p.agg(F.max(F.abs(F.col("p"))).alias("nm"))
            w = p.crossJoin(F.broadcast(nm)).select(
                "i",
                (F.round(F.col("p") / F.col("nm") * S, 0) / S).alias("wi"),
            )
    return w.crossJoin(
        F.broadcast(nm.select(F.round("nm", 6).alias("eigenvalue")))
    ).select(
        F.col("i").cast("int").alias("dim"),
        (F.col("wi") + F.lit(0.0)).alias("weight"),
        "eigenvalue",
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier
# ---------------------------------------------------------------------------


#: NB oracle body — shared verbatim with the confusion-matrix oracle
#: so both certify the SAME classifier output.
_NB_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split_regex(text, '\s+')) AS tok
  FROM documents
),
doc_len AS (
  SELECT doc_id, lang AS actual, CAST(COUNT(*) AS BIGINT) AS n_toks
  FROM toks GROUP BY doc_id, lang
),
counts AS (
  SELECT lang AS cls, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY lang, tok
),
classes AS (
  SELECT lang AS cls,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_cls,
         CAST(COUNT(*) AS BIGINT) AS n_toks_cls
  FROM toks GROUP BY lang
),
corpus AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
  FROM toks
),
hits AS (
  SELECT t.doc_id, c.cls, SUM(ln((c.c + 1)::DOUBLE)) AS hit_ll
  FROM toks t JOIN counts c ON t.tok = c.tok
  GROUP BY t.doc_id, c.cls
),
scored AS (
  SELECT d.doc_id, d.actual, k.cls,
         round(ln(k.n_docs_cls::DOUBLE / corpus.n_docs)
               + COALESCE(h.hit_ll, 0.0)
               - d.n_toks * ln((k.n_toks_cls + corpus.vocab)::DOUBLE), 6)
           AS score
  FROM doc_len d
  CROSS JOIN classes k
  CROSS JOIN corpus
  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.cls = k.cls
),
ranked AS (
  SELECT doc_id, actual, cls, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
  FROM scored
)
SELECT doc_id, actual, cls AS predicted, score AS best_score,
       cls = actual AS correct
FROM ranked WHERE rn = 1
"""


@query("ml_naive_bayes_langid", oracle=_NB_ORACLE)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language identification, fit and scored
    in one pass over the corpus: argmax_c [ln P(c) + Σ_t ln P(t|c)]
    with add-one smoothing — the fastText-style supervised twin of the
    heuristic n-gram language ID in text.py (here the model is LEARNED
    from the labels rather than rule-listed).

    The smoothing makes the model join sparse: an absent (token, class)
    pair contributes ln(0+1) = 0, so the score decomposes as
    ln prior + Σ_hits ln(c+1) − n_tokens·ln(N_c + |V|) and only
    OBSERVED (token, class) count rows are ever materialized or
    joined — no dense |V|×|C| model. Scale shape: the model is two
    partial-combined counts over one token-stream scan; scoring joins
    the stream against the (tok, class, c) relation on tok (fan-out
    bounded by |classes|), then one groupBy (doc, class) and a per-doc
    argmax window. Scores are rounded to 6 before the argmax so both
    engines rank identical values (ln-sum convention of
    text_bigram_perplexity); ties break on class name."""
    from etl_pipeline_sam_gov_spark.operators.dedup import (
        spread_docs,
        tokens_col,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = spread_docs(docs).select(
        "doc_id", "lang", F.explode(tokens_col()).alias("tok")
    )
    doc_len = toks.groupBy("doc_id", F.col("lang").alias("actual")).agg(
        F.count(F.lit(1)).alias("n_toks")
    )
    counts = toks.groupBy(F.col("lang").alias("cls"), "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    classes = toks.groupBy(F.col("lang").alias("cls")).agg(
        F.count_distinct("doc_id").alias("n_docs_cls"),
        F.count(F.lit(1)).alias("n_toks_cls"),
    )
    corpus = toks.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count_distinct("tok").alias("vocab"),
    )
    # NOTE: no broadcast hint on the model — it is vocabulary-sized
    # (|V|×|C| observed pairs), a scale-class relation per the hint
    # policy; the planner broadcasts it at small SF from estimates and
    # AQE demotes to a shuffle join on tok at 100 TB.
    hits = (
        toks.join(counts, "tok")
        .groupBy("doc_id", "cls")
        .agg(F.sum(F.log((F.col("c") + 1).cast("double"))).alias("hit_ll"))
    )
    scored = (
        doc_len.crossJoin(F.broadcast(classes))
        .crossJoin(F.broadcast(corpus))
        .join(hits, ["doc_id", "cls"], "left")
        .select(
            "doc_id",
            "actual",
            "cls",
            F.round(
                F.log(
                    F.col("n_docs_cls").cast("double") / F.col("n_docs")
                )
                + F.coalesce(F.col("hit_ll"), F.lit(0.0))
                - F.col("n_toks")
                * F.log(
                    (F.col("n_toks_cls") + F.col("vocab")).cast("double")
                ),
                6,
            ).alias("score"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "actual",
            F.col("cls").alias("predicted"),
            F.col("score").alias("best_score"),
            (F.col("cls") == F.col("actual")).alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Reliability (calibration) table for the quality classifier
# ---------------------------------------------------------------------------

_RELIA_QS = tuple(round(0.1 * i, 1) for i in range(1, 10))  # deciles


def _reliability_oracle() -> str:
    from etl_pipeline_sam_gov_spark.operators.text import (
        _SQL_C4_FILTERS,
        SQL_QUALITY_LOGIT,
    )

    cuts = ", ".join(
        f"round(quantile_cont(logit, {q}), 6) AS d{i}"
        for i, q in enumerate(_RELIA_QS)
    )
    bin_expr = " + ".join(
        f"CAST(logit > d{i} AS INT)" for i in range(len(_RELIA_QS))
    )
    return f"""
WITH c4 AS ({_SQL_C4_FILTERS}),
q AS (SELECT doc_id, {SQL_QUALITY_LOGIT} AS logit FROM documents),
j AS (SELECT q.doc_id, q.logit, c4.keep FROM q JOIN c4 USING (doc_id)),
cuts AS (SELECT {cuts} FROM j),
binned AS (
  SELECT logit, keep, 1 + {bin_expr} AS bin
  FROM j CROSS JOIN cuts
)
SELECT CAST(bin AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       round(SUM(logit)::DOUBLE / COUNT(*), 6) AS mean_logit,
       round(SUM(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
         AS pos_rate
FROM binned GROUP BY bin
"""


@query("ml_reliability_bins_quality", oracle=_reliability_oracle())
def ml_reliability_bins_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table for the hashed quality
    classifier: documents bucketed into score deciles, each reporting
    mean score vs observed positive rate against the C4/Gopher rule
    verdicts — the companion evaluation to ml_auc_quality_classifier
    (AUC measures ranking; this measures whether the score LEVELS track
    reality, which is what a downstream sampling threshold consumes).

    Decile edges are exact interpolated percentiles of the exact
    integer logit (rounded to 6 — the fn_winsorize_values boundary
    contract); bin membership is 1 + #edges-beaten, so no global sort
    or ntile window exists anywhere — one per-doc scoring scan, one
    tiny percentile aggregation broadcast back, one partial-combined
    groupBy(bin). All averages are exact-int ratios rounded to 6."""
    from etl_pipeline_sam_gov_spark.operators.text import (
        quality_logit,
        text_c4_gopher_filters,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    scores = docs.select("doc_id", quality_logit().alias("logit"))
    truth = text_c4_gopher_filters(spark, sf_dir).select("doc_id", "keep")
    j = scores.join(truth, "doc_id")
    cuts = j.agg(
        *[
            F.round(F.expr(f"percentile(logit, {q})"), 6).alias(f"d{i}")
            for i, q in enumerate(_RELIA_QS)
        ]
    )
    bin_col = F.lit(1)
    for i in range(len(_RELIA_QS)):
        bin_col = bin_col + (F.col("logit") > F.col(f"d{i}")).cast("int")
    return (
        j.crossJoin(F.broadcast(cuts))
        .select("logit", "keep", bin_col.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_pos"),
            F.round(
                F.sum("logit").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_logit"),
            F.round(
                F.sum(F.col("keep").cast("bigint")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pos_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Mutual information feature ranking
# ---------------------------------------------------------------------------

_MI_TERM_SQL = """CASE WHEN {n} > 0 THEN ({n}::DOUBLE / nu)
       * ln({n}::DOUBLE * nu / ({rt}::DOUBLE * {ct})) ELSE 0.0 END"""


def _mi_oracle() -> str:
    terms = " + ".join(
        _MI_TERM_SQL.format(n=n, rt=rt, ct=ct)
        for n, rt, ct in (
            ("n11", "(n11 + n10)", "(n11 + n01)"),
            ("n10", "(n11 + n10)", "(n10 + n00)"),
            ("n01", "(n01 + n00)", "(n11 + n01)"),
            ("n00", "(n01 + n00)", "(n10 + n00)"),
        )
    )
    return f"""
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS np
  FROM events GROUP BY user_id
),
conv AS (
  SELECT user_id,
         CAST(CASE WHEN 5 * np > n THEN 1 ELSE 0 END AS BIGINT) AS converted
  FROM u
),
tc AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS ct
  FROM events WHERE event_type <> 'purchase' GROUP BY user_id, event_type
),
has_t AS (
  SELECT t.user_id, t.event_type
  FROM tc t JOIN u ON t.user_id = u.user_id
  WHERE 5 * t.ct > u.n
),
nu_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM conv),
cells AS (
  SELECT h.event_type AS feature,
         CAST(SUM(c.converted) AS BIGINT) AS n11,
         CAST(COUNT(*) - SUM(c.converted) AS BIGINT) AS n10
  FROM has_t h JOIN conv c USING (user_id)
  GROUP BY h.event_type
),
conv_tot AS (SELECT CAST(SUM(converted) AS BIGINT) AS n_conv FROM conv),
full_cells AS (
  SELECT feature, n11, n10,
         n_conv - n11 AS n01,
         nu - n11 - n10 - (n_conv - n11) AS n00,
         nu
  FROM cells CROSS JOIN nu_t CROSS JOIN conv_tot
)
SELECT feature, n11, n10, n01, n00,
       round({terms}, 6) AS mutual_info
FROM full_cells
"""


@query("ml_mutual_information", oracle=_mi_oracle())
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(feature; label) between "user is a heavy
    type-T emitter" (T's share above the 1/5 base rate) and "user
    converted" (purchase share above base rate) — the filter-method
    feature selector (information gain) run before model fitting.
    Both indicators are share-banded rather than ever-emitted flags:
    with ~67 events per user every user emits every type at least
    once, which collapses the 2×2 table to one cell and certifies
    MI only as identically zero (the degenerate-output audit).

    The 2×2 contingency per feature comes from exact integer counts
    (one distinct user-type pass joined to the per-user conversion
    flag); n01/n00 derive algebraically from the row/column totals so
    no anti-join is needed. The four p·ln(p/pq) terms are written in
    the SAME fixed order on both engines (a 4-term float sum is
    order-sensitive; fixing the order makes it bit-identical), zero
    cells contribute exactly 0 by CASE, and the result renders through
    round(6). Output is |event_types| rows regardless of corpus
    size."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("np"),
    )
    conv = u.select(
        "user_id",
        (5 * F.col("np") > F.col("n")).cast("bigint").alias("converted"),
    )
    tc = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    has_t = (
        tc.join(u.select("user_id", "n"), "user_id")
        .filter(5 * F.col("ct") > F.col("n"))
        .select("user_id", "event_type")
    )
    nu_t = conv.agg(F.count(F.lit(1)).alias("nu"))
    conv_tot = conv.agg(F.sum("converted").alias("n_conv"))
    cells = (
        has_t.join(conv, "user_id")
        .groupBy(F.col("event_type").alias("feature"))
        .agg(
            F.sum("converted").alias("n11"),
            (F.count(F.lit(1)) - F.sum("converted")).alias("n10"),
        )
    )
    fc = (
        cells.crossJoin(F.broadcast(nu_t))
        .crossJoin(F.broadcast(conv_tot))
        .select(
            "feature",
            "n11",
            "n10",
            (F.col("n_conv") - F.col("n11")).alias("n01"),
            (
                F.col("nu")
                - F.col("n11")
                - F.col("n10")
                - (F.col("n_conv") - F.col("n11"))
            ).alias("n00"),
            "nu",
        )
    )

    def term(n, rt, ct):
        return F.when(
            n > 0,
            (n.cast("double") / F.col("nu"))
            * F.log(n.cast("double") * F.col("nu") / (rt.cast("double") * ct)),
        ).otherwise(F.lit(0.0))

    n11, n10 = F.col("n11"), F.col("n10")
    n01, n00 = F.col("n01"), F.col("n00")
    mi = (
        term(n11, n11 + n10, n11 + n01)
        + term(n10, n11 + n10, n10 + n00)
        + term(n01, n01 + n00, n11 + n01)
        + term(n00, n01 + n00, n10 + n00)
    )
    return fc.select(
        "feature",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(mi, 6).alias("mutual_info"),
    )


@query(
    "ml_confusion_matrix_langid",
    oracle=f"""
WITH nb AS ({_NB_ORACLE}),
cells AS (
  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
  FROM nb GROUP BY actual, predicted
)
SELECT actual, predicted, n,
       round(n::DOUBLE / SUM(n) OVER (PARTITION BY actual), 6)
         AS frac_of_actual
FROM cells
""",
)
def ml_confusion_matrix_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the naive Bayes language classifier:
    (actual, predicted) cell counts plus per-class recall fractions —
    the evaluation readout that turns per-document predictions into a
    model-quality decision (which languages bleed into which). Built
    ON the registered classifier relation and certified against an
    oracle that embeds the NB oracle VERBATIM as a CTE, so the
    evaluated predictions are provably the same ones the driver
    certifies via ml_naive_bayes_langid.

    Scale: the matrix is |langs|² rows from one partial-combined count
    over the prediction relation; the row-normalizing window runs on
    that tiny aggregate."""
    nb = ml_naive_bayes_langid(spark, sf_dir)
    cells = nb.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("actual")
    return cells.select(
        "actual",
        "predicted",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w), 6
        ).alias("frac_of_actual"),
    )


# ---------------------------------------------------------------------------
# Ridge regression (L2-regularized closed form on the shared moments)
# ---------------------------------------------------------------------------

RIDGE_LAMBDA = 50.0  #: L2 penalty on the slope block (intercept free)


def _ridge_solve_sql(rnd) -> str:
    """The OLS Cramer's-rule solve with the ridge penalty folded into
    the normal matrix: (X'X + λ·diag(0,1,1)) — i.e. s11→s11+λ and
    s22→s22+λ wherever the OLS solve reads them. Rewriting the SHARED
    generated expression string keeps every other operation textually
    identical to the certified OLS solve, so the only cross-engine
    delta is one exact double addition per penalized moment."""
    return (
        _lr_solve_sql(rnd)
        .replace("CAST(s11 AS DOUBLE)", f"(CAST(s11 AS DOUBLE) + {RIDGE_LAMBDA})")
        .replace("CAST(s22 AS DOUBLE)", f"(CAST(s22 AS DOUBLE) + {RIDGE_LAMBDA})")
    )


@query(
    "ml_ridge_regression",
    oracle=f"""
WITH moments AS ({_LR_SUMS_SQL})
{_ridge_solve_sql(lambda e: f"CAST(CAST(CAST({e} AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE)")}
""",
)
def ml_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (Hoerl–Kennard): the OLS fit of
    price ~ quantity + discount with an L2 penalty λ on the slope
    coefficients (intercept unpenalized — the standard formulation;
    penalizing the mean would make the fit depend on the response
    offset). Closed form: solve (X'X + λ·diag(0,1,1)) β = X'y by the
    same Cramer's-rule expression tree as the certified OLS query,
    with the penalty folded in as one exact double addition per
    diagonal moment — shrinkage without a solver, gradient loop, or
    collect. Rides the identical one-pass exact-decimal moment
    aggregation (order-proof partial combine), so at 100 TB the whole
    fit is still ONE aggregation plus a constant-size expression."""
    load_tables(spark, sf_dir, ("lineitem",))
    solve = _ridge_solve_sql(lambda e: f"round({e}, 6)")
    return spark.sql(f"WITH moments AS ({_LR_SUMS_SQL})\n{solve}")


# ---------------------------------------------------------------------------
# Rank-1 ALS (alternating least squares, one full iteration)
# ---------------------------------------------------------------------------


@query(
    "ml_als_rank1",
    oracle="""
WITH r AS (
  SELECT user_id, event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
u1 AS (
  SELECT user_id,
         CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS u
  FROM r GROUP BY user_id
),
v1 AS (
  SELECT r.item,
         SUM(r.cnt * u1.u) / SUM(u1.u * u1.u) AS v
  FROM r JOIN u1 USING (user_id)
  GROUP BY r.item
),
u2 AS (
  SELECT r.user_id,
         SUM(r.cnt * v1.v) / SUM(v1.v * v1.v) AS u
  FROM r JOIN v1 USING (item)
  GROUP BY r.user_id
)
SELECT 'user' AS side, CAST(user_id AS VARCHAR) AS entity,
       round(u, 6) + 0.0 AS factor
FROM u2
UNION ALL
SELECT 'item' AS side, item AS entity, round(v, 6) + 0.0 AS factor
FROM v1
""",
)
def ml_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 ALS matrix factorization (one full alternating
    iteration, v⁰ ≡ 1) over the implicit user×event-type count matrix
    — the collaborative-filtering kernel (Koren/Hu et al.) in its
    in-warehouse form: each half-step solves the EXACT 1-d least
    squares u_i = Σ_j r_ij·v_j / Σ_j v_j² as one partial-combined
    aggregation keyed on the side being solved, which is precisely how
    distributed ALS alternates (factors of the fixed side join onto
    the ratings, never a matrix materialization). With v⁰ ≡ 1 the
    first user step reduces to the row mean (one exact int division);
    the item and second user steps are sum-of-product folds whose
    operand order Spark and DuckDB may differ in — hence the final
    round(6), the HITS float-sum argument. Scale shape: ratings
    collapse once from the corpus; each half-step is ONE groupBy on a
    factor-sized relation; factor vectors join back keyed on the
    rating key (at 100 TB: co-partitioned on user/item alternately —
    the classic ALS shuffle pair)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    r = ev.groupBy(
        "user_id", F.col("event_type").alias("item")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    u1 = r.groupBy("user_id").agg(
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("u")
    )
    v1 = (
        r.join(u1, "user_id")
        .groupBy("item")
        .agg(
            (
                F.sum(F.col("cnt") * F.col("u"))
                / F.sum(F.col("u") * F.col("u"))
            ).alias("v")
        )
    )
    u2 = (
        r.join(F.broadcast(v1), "item")
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.col("cnt") * F.col("v"))
                / F.sum(F.col("v") * F.col("v"))
            ).alias("u")
        )
    )
    return u2.select(
        F.lit("user").alias("side"),
        F.col("user_id").cast("string").alias("entity"),
        (F.round("u", 6) + F.lit(0.0)).alias("factor"),
    ).unionAll(
        v1.select(
            F.lit("item").alias("side"),
            F.col("item").alias("entity"),
            (F.round("v", 6) + F.lit(0.0)).alias("factor"),
        )
    )


# ---------------------------------------------------------------------------
# Gradient-boosted regression stumps (2 additive rounds, exact cents)
# ---------------------------------------------------------------------------

#: Boosting rounds; each fits one regression stump to the residuals.
GBM_ROUNDS = 2


def _gbm_round_sql(r: int) -> str:
    """CTE block for boosting round ``r`` (1-based): per-feature
    split-candidate scan over base{r-1}(id, f1, f2, y{r-1}), best
    split by SSE-reduction surrogate, residual relation base{r}."""
    y = f"y{r - 1}"
    feats = []
    for fi in (1, 2):
        feats.append(f"""
pv{r}_{fi} AS (
  SELECT f{fi} AS v, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({y}) AS BIGINT) AS s
  FROM base{r - 1} GROUP BY f{fi}
),
cum{r}_{fi} AS (
  SELECT v, CAST(SUM(n) OVER w AS BIGINT) AS nl,
         CAST(SUM(s) OVER w AS BIGINT) AS sl
  FROM pv{r}_{fi}
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)""")
    return f"""{",".join(feats)},
tot{r} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM({y}) AS BIGINT) AS st
  FROM base{r - 1}
),
cand{r} AS (
  SELECT 1 AS feat, c.v, c.nl, c.sl, t.nt, t.st,
         CAST(c.sl AS DOUBLE) * c.sl / c.nl
           + CAST(t.st - c.sl AS DOUBLE) * (t.st - c.sl) / (t.nt - c.nl)
           AS score
  FROM cum{r}_1 c CROSS JOIN tot{r} t WHERE c.nl < t.nt
  UNION ALL
  SELECT 2 AS feat, c.v, c.nl, c.sl, t.nt, t.st,
         CAST(c.sl AS DOUBLE) * c.sl / c.nl
           + CAST(t.st - c.sl AS DOUBLE) * (t.st - c.sl) / (t.nt - c.nl)
           AS score
  FROM cum{r}_2 c CROSS JOIN tot{r} t WHERE c.nl < t.nt
),
best{r} AS (
  SELECT feat, v AS thr, nl, nt - nl AS nr,
         CAST(round(CAST(sl AS DOUBLE) / nl) AS BIGINT) AS pl,
         CAST(round(CAST(st - sl AS DOUBLE) / (nt - nl)) AS BIGINT) AS pr
  FROM (SELECT *, row_number() OVER (ORDER BY score DESC, feat, v) AS rn
        FROM cand{r})
  WHERE rn = 1
),
base{r} AS (
  SELECT b.id, b.f1, b.f2,
         b.{y} - (CASE WHEN (s.feat = 1 AND b.f1 <= s.thr)
                         OR (s.feat = 2 AND b.f2 <= s.thr)
                  THEN s.pl ELSE s.pr END) AS y{r}
  FROM base{r - 1} b CROSS JOIN best{r} s
),
mae{r} AS (
  SELECT round(CAST(SUM(abs(y{r})) AS DOUBLE) / COUNT(*), 6) AS mae
  FROM base{r}
)"""


def _gbm_oracle() -> str:
    head = """
WITH base0 AS (
  SELECT o_orderkey AS id,
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS f1,
         CAST(o_custkey % 97 AS BIGINT) AS f2,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y0
  FROM orders
)"""
    rounds = "".join("," + _gbm_round_sql(r) for r in range(1, GBM_ROUNDS + 1))
    selects = " UNION ALL ".join(
        f"""SELECT {r} AS round, b.feat, b.thr AS threshold,
       b.nl AS n_left, b.nr AS n_right,
       b.pl AS pred_left_cents, b.pr AS pred_right_cents,
       m.mae + 0.0 AS mae_after_cents
FROM best{r} b CROSS JOIN mae{r} m"""
        for r in range(1, GBM_ROUNDS + 1)
    )
    return head + rounds + "\n" + selects


def _stump_fit(base: DataFrame, ycol: str) -> DataFrame:
    """1-row best-split relation (feat, thr, nl, nr, pl, pr) for the
    residual column ``ycol`` of base(id, f1, f2, ycol)."""
    y = F.col(ycol)
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.sum(ycol).cast("bigint").alias("st"),
    )
    cands = []
    for fi in (1, 2):
        pv = base.groupBy(F.col(f"f{fi}").alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(ycol).cast("bigint").alias("s"),
        )
        w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
        cum = pv.select(
            "v",
            F.sum("n").over(w).cast("bigint").alias("nl"),
            F.sum("s").over(w).cast("bigint").alias("sl"),
        )
        nl, sl, nt, st = (F.col(c) for c in ("nl", "sl", "nt", "st"))
        cands.append(
            cum.crossJoin(F.broadcast(tot))
            .filter(nl < nt)
            .select(
                F.lit(fi).alias("feat"),
                "v",
                "nl",
                "sl",
                "nt",
                "st",
                (
                    sl.cast("double") * sl / nl
                    + (st - sl).cast("double") * (st - sl) / (nt - nl)
                ).alias("score"),
            )
        )
    nl, sl, nt, st = (F.col(c) for c in ("nl", "sl", "nt", "st"))
    rw = W.orderBy(F.desc("score"), "feat", "v")
    return (
        cands[0]
        .unionAll(cands[1])
        .withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "feat",
            F.col("v").alias("thr"),
            "nl",
            (nt - nl).alias("nr"),
            F.round(sl.cast("double") / nl, 0).cast("bigint").alias("pl"),
            F.round((st - sl).cast("double") / (nt - nl), 0)
            .cast("bigint")
            .alias("pr"),
        )
    )


@query("ml_gbm_stumps", oracle=_gbm_oracle())
def ml_gbm_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted regression stumps (GBM_ROUNDS additive rounds,
    squared loss) predicting order value from order date and a
    customer bucket — the in-warehouse boosting loop (XGBoost's outer
    iteration with depth-1 trees): fit a stump to the residuals, emit
    the model row, subtract its predictions, repeat. Emits each
    round's (feature, threshold, leaf means, split sizes) plus the
    post-round mean absolute error so the output certifies BOTH the
    argmax split choice and the residual update.

    Determinism: targets and residuals live in exact int64 cents
    (leaf means round back to cents before subtracting), so split
    sums are order-independent; the SSE-reduction score
    sl²/nl + sr²/nr is a double computed from exact ints — identical
    operand order both engines — and ties break (feat, threshold).

    Scale shape: each round is one partial-combined groupBy per
    feature onto the bounded feature-value domain, a window over that
    bounded relation (never the fact table), and a broadcast 1-row
    model join for the residual update — the fact table is scanned
    once per round with zero extra shuffles."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("bigint")
        .alias("f1"),
        (F.col("o_custkey") % 97).cast("bigint").alias("f2"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y0"),
    )
    out = None
    for r in range(1, GBM_ROUNDS + 1):
        best = _stump_fit(base, f"y{r - 1}")
        applied = base.crossJoin(F.broadcast(best)).select(
            "id",
            "f1",
            "f2",
            "feat",
            "thr",
            "nl",
            "nr",
            "pl",
            "pr",
            (
                F.col(f"y{r - 1}")
                - F.when(
                    ((F.col("feat") == 1) & (F.col("f1") <= F.col("thr")))
                    | ((F.col("feat") == 2) & (F.col("f2") <= F.col("thr"))),
                    F.col("pl"),
                ).otherwise(F.col("pr"))
            ).alias(f"y{r}"),
        )
        mae = applied.agg(
            F.round(
                F.sum(F.abs(F.col(f"y{r}"))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mae")
        )
        row = best.crossJoin(F.broadcast(mae)).select(
            F.lit(r).alias("round"),
            "feat",
            F.col("thr").alias("threshold"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.col("pl").alias("pred_left_cents"),
            F.col("pr").alias("pred_right_cents"),
            (F.col("mae") + F.lit(0.0)).alias("mae_after_cents"),
        )
        out = row if out is None else out.unionAll(row)
        base = applied.select("id", "f1", "f2", f"y{r}")
    return out


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve: time to repeat purchase
# ---------------------------------------------------------------------------


@query(
    "ml_kaplan_meier_repeat_purchase",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
subj AS (
  SELECT r1.o_custkey,
         CASE WHEN r2.o_orderdate IS NOT NULL
              THEN datediff('day', r1.o_orderdate, r2.o_orderdate)
              ELSE datediff('day', r1.o_orderdate,
                            (SELECT MAX(o_orderdate) FROM orders)) END AS dur,
         CASE WHEN r2.o_orderdate IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM ranked r1
  LEFT JOIN ranked r2 ON r2.o_custkey = r1.o_custkey AND r2.rn = 2
  WHERE r1.rn = 1
),
cnt AS (
  SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(ev) AS BIGINT) AS d
  FROM subj GROUP BY 1
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
axis AS (
  SELECT c.dur, c.d,
         t.n - CAST(COALESCE(SUM(c.n_all) OVER (ORDER BY c.dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
  FROM cnt c CROSS JOIN nt t
),
curve AS (
  SELECT dur, d, n_risk,
         exp(SUM(CASE WHEN d > 0 AND n_risk > d
                 THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                 ELSE 0.0 END)
             OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS s,
         SUM(CASE WHEN d > 0 AND n_risk = d THEN 1 ELSE 0 END)
             OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS hit_zero
  FROM axis
)
SELECT CAST(dur AS BIGINT) AS t_days, n_risk, d AS d_events,
       CASE WHEN hit_zero > 0 THEN 0.0
            ELSE round(s, 6) + 0.0 END AS survival
FROM curve WHERE d > 0
""",
)
def ml_kaplan_meier_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimate of "time to second order": the survival
    curve S(t) = Π(1 − dᵢ/nᵢ) over customers' first→second order gaps,
    with single-order customers RIGHT-CENSORED at the corpus horizon —
    the estimator that makes retention math honest (dropping censored
    customers biases repeat-purchase time low; KM keeps them in the
    risk set until their censor date). Emits each event time with its
    risk-set size, event count, and survival probability.

    Determinism: durations are exact day diffs; risk sets and event
    counts are exact int64 via the cumulative-before window over the
    BOUNDED distinct-duration axis (≤ the calendar span in days —
    the days-axis window precedent); each factor is one division of
    int64s and the running product is exp∘Σ∘ln with identical term
    order both engines, absorbed by round(6) per the transcendental
    convention. Scale shape: one per-customer window finds the first
    two orders (customer-keyed), the curve then lives entirely on the
    duration axis; the horizon and subject total ride broadcast 1-row
    cross joins."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rn")
    )
    horizon = orders.agg(F.max("o_orderdate").alias("hz"))
    r1 = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderdate").alias("d1")
    )
    r2 = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("o_orderdate").alias("d2")
    )
    subj = (
        r1.join(r2, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("d2").isNotNull(), F.datediff("d2", "d1")
            )
            .otherwise(F.datediff("hz", "d1"))
            .alias("dur"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    cnt = subj.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    nt = subj.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wb = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    axis = cnt.crossJoin(F.broadcast(nt)).select(
        "dur",
        "d",
        (
            F.col("n")
            - F.coalesce(F.sum("n_all").over(wb), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    wc = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    # Spark log(0) is NULL and DuckDB ln(0) raises, so the risk-set-
    # exhausted step (n_risk = d → survival exactly 0 from here on) is
    # tracked as an explicit absorbing flag instead of a −inf factor.
    factor = F.when(
        (F.col("d") > 0) & (F.col("n_risk") > F.col("d")),
        F.log((F.col("n_risk") - F.col("d")).cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    hit_zero = F.sum(
        F.when((F.col("d") > 0) & (F.col("n_risk") == F.col("d")), 1).otherwise(
            0
        )
    ).over(wc)
    curve = axis.select(
        "dur",
        "d",
        "n_risk",
        F.exp(F.sum(factor).over(wc)).alias("s"),
        hit_zero.alias("hit_zero"),
    )
    return curve.filter(F.col("d") > 0).select(
        F.col("dur").cast("bigint").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.when(F.col("hit_zero") > 0, F.lit(0.0))
        .otherwise(F.round("s", 6) + F.lit(0.0))
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Embedding whitening (per-dimension standardization)
# ---------------------------------------------------------------------------

#: Fixed-point scale for whitening sums: values are quantized to 2^-10
#: before summing so every moment is an exact BIGINT in both engines.
#: Bound: |x| < 1 in the fixture corpus, so qi <= 1024 and the largest
#: intermediate (qi*n - s)^2 stays ~1e14 even at n = 10^7 vectors —
#: five orders of magnitude inside int64.
# Dyadic fixed-point (2^-10), the repo-wide embedding quantization
# convention (cf. PCA_SCALE, dedup._SD_SCALE). A NON-dyadic scale made
# x*scale inexact, and Spark's round() on doubles goes through the
# SHORTEST decimal representation (BigDecimal.valueOf) while DuckDB
# rounds the exact binary value — at sf0.1 one tie-adjacent float32
# coordinate quantized differently per engine and flipped a rounded
# mean at the 1e-6 boundary (found by the r6 sf0.1 oracle sweep).
# With a dyadic scale the product is exact in double, so rounding is
# tie-exact and engine-independent.
WHITEN_SCALE = 1024
#: A coordinate is "extreme" when |z| > WHITEN_Z after standardization.
WHITEN_Z = 2


@query(
    "ml_embedding_whitening",
    oracle=f"""
WITH vals AS (
  SELECT u.dim::INT AS dim,
         CAST(round(u.x * {WHITEN_SCALE}) AS BIGINT) AS qi
  FROM (
    SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
  ) u
),
mom AS (
  SELECT dim, COUNT(*)::BIGINT AS n, SUM(qi)::BIGINT AS s,
         SUM(qi * qi)::BIGINT AS s2
  FROM vals GROUP BY dim
)
SELECT m.dim,
       m.n,
       round(m.s / (m.n * {WHITEN_SCALE}.0), 6) AS mu,
       round(sqrt(CAST(m.s2 * m.n - m.s * m.s AS DOUBLE)) / (m.n * {WHITEN_SCALE}.0), 6) AS sigma,
       SUM(CASE WHEN (v.qi * m.n - m.s) * (v.qi * m.n - m.s)
                   > {WHITEN_Z * WHITEN_Z} * (m.s2 * m.n - m.s * m.s)
                THEN 1 ELSE 0 END)::BIGINT AS n_extreme
FROM mom m JOIN vals v ON m.dim = v.dim
GROUP BY m.dim, m.n, m.s, m.s2
""",
)
def ml_embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening statistics for the embedding corpus —
    the standardization pre-step of PCA/linear probes/ANN quantization
    (centroids and codebooks train badly on unnormalized axes), plus a
    per-dimension extreme-coordinate count (|z| > 2) that doubles as a
    feature-quality audit. Every moment is an exact int64 of 2^-10
    dyadic fixed-point values (the product x*1024 is exact in double,
    so quantization is representation-independent), and mean/sigma/
    outlier decisions are bit-identical across engines — the z-test is evaluated in the
    cross-multiplied integer form (qi*n - s)^2 > z^2*(s2*n - s^2),
    never via a float division.

    Scale shape: one posexplode scan (narrow: dim + int), ONE
    partial-combined groupBy(dim) for the moments (64 rows out), then
    the tiny moment relation broadcasts back onto the value stream for
    the outlier count — second aggregation keyed on dim again, so a
    cluster reuses the same hash partitioning. No windows, no driver
    math, no per-row Python."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    from etl_pipeline_sam_gov_spark.operators.similarity import _parallelize

    vals = _parallelize(emb).select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim0", "x"
        )
    ).select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.round(F.col("x") * WHITEN_SCALE, 0).cast("bigint").alias("qi"),
    )
    mom = vals.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qi").cast("bigint").alias("s"),
        F.sum(F.col("qi") * F.col("qi")).cast("bigint").alias("s2"),
    )
    dev = F.col("qi") * F.col("n") - F.col("s")
    var_num = F.col("s2") * F.col("n") - F.col("s") * F.col("s")
    return (
        vals.join(F.broadcast(mom), "dim")
        .groupBy("dim", "n", "s", "s2")
        .agg(
            F.sum(
                F.when(
                    dev * dev > F.lit(WHITEN_Z * WHITEN_Z) * var_num, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme")
        )
        .select(
            "dim",
            "n",
            F.round(
                F.col("s") / (F.col("n") * F.lit(float(WHITEN_SCALE))), 6
            ).alias("mu"),
            F.round(
                F.sqrt(var_num.cast("double"))
                / (F.col("n") * F.lit(float(WHITEN_SCALE))),
                6,
            ).alias("sigma"),
            "n_extreme",
        )
    )


# ---------------------------------------------------------------------------
# Out-of-fold target encoding (leakage-free categorical feature)
# ---------------------------------------------------------------------------

TE_FOLDS = 5  #: fold id = o_orderkey % TE_FOLDS
TE_SMOOTH = 10  #: pseudo-count weight of the global mean in the smoothed encoding


@query(
    "ml_target_encoding",
    oracle=f"""
WITH cells AS (
  SELECT o_orderpriority AS category,
         o_orderkey % {TE_FOLDS} AS fold,
         COUNT(*)::BIGINT AS n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT category, SUM(n) AS cat_n, SUM(s) AS cat_s FROM cells GROUP BY category
),
gall AS (SELECT SUM(n) AS g_n, SUM(s) AS g_s FROM cells)
SELECT c.category,
       c.fold::BIGINT AS fold,
       c.n AS n_in_fold,
       (t.cat_n - c.n)::BIGINT AS n_out_of_fold,
       round(CAST(t.cat_s - c.s AS DOUBLE) / (t.cat_n - c.n), 6) AS encoding,
       round(CAST((t.cat_s - c.s) + {TE_SMOOTH} * (g.g_s / g.g_n) AS DOUBLE)
             / ((t.cat_n - c.n) + {TE_SMOOTH}), 6) AS encoding_smoothed
FROM cells c JOIN tot t ON c.category = t.category CROSS JOIN gall g
""",
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-free way to turn a
    categorical column into a numeric feature: each (category, fold)
    cell's encoding is the target mean over the category's rows in the
    OTHER folds, so no row's own target leaks into its feature (the
    K-fold scheme CatBoost/feature-engineering pipelines use). A
    smoothed variant shrinks toward the global mean with TE_SMOOTH
    pseudo-counts, taming rare categories. Sums are exact DECIMAL, so
    the out-of-fold subtraction (cat_total - fold_sum) is exact in
    both engines; only the final ratios divide as doubles.

    Scale shape: ONE partial-combined groupBy over (category, fold) —
    K×|categories| cells out — then all remaining arithmetic happens
    on that tiny relation (category totals via a second agg on it,
    global scalar as a broadcast 1-row cross join). The encode-join
    back onto the 100 TB fact is a broadcast map-side join a real
    pipeline appends; the certified output is the encoding table
    itself, keyed for exactly that join."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    cells = (
        orders.groupBy(
            F.col("o_orderpriority").alias("category"),
            (F.col("o_orderkey") % TE_FOLDS).alias("fold"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        )
    )
    tot = cells.groupBy("category").agg(
        F.sum("n").alias("cat_n"), F.sum("s").alias("cat_s")
    )
    glob = cells.agg(
        F.sum("n").alias("g_n"), F.sum("s").alias("g_s")
    )
    out_s = F.col("cat_s") - F.col("s")
    out_n = F.col("cat_n") - F.col("n")
    return (
        cells.join(F.broadcast(tot), "category")
        .crossJoin(F.broadcast(glob))
        .select(
            "category",
            F.col("fold").cast("bigint").alias("fold"),
            F.col("n").alias("n_in_fold"),
            out_n.cast("bigint").alias("n_out_of_fold"),
            F.round(out_s.cast("double") / out_n, 6).alias("encoding"),
            F.round(
                (out_s + F.lit(TE_SMOOTH) * (F.col("g_s") / F.col("g_n"))).cast(
                    "double"
                )
                / (out_n + F.lit(TE_SMOOTH)),
                6,
            ).alias("encoding_smoothed"),
        )
    )


# ---------------------------------------------------------------------------
# Isotonic calibration (pool-adjacent-violators via grouped-map)
# ---------------------------------------------------------------------------


#: session → the persisted level-1 PAV row relation; one slot per
#: session, released on the next invocation (bench loops would
#: otherwise pin every past run's rows in storage memory). WEAK-keyed
#: on the session object (the registry prepared-plan-cache pattern),
#: not id(spark): CPython reuses ids after GC, so an id key could
#: alias a dead session's slot onto a new one — the stale unpersist
#: would then raise against a stopped context — and the strong value
#: reference would pin the old session's JVM state alive meanwhile.



def _isotonic_oracle() -> str:
    from etl_pipeline_sam_gov_spark.operators.text import SQL_QUALITY_LOGIT

    return f"""
WITH scored AS (
  SELECT doc_id, source, {SQL_QUALITY_LOGIT} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
idx AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS i
  FROM scored
),
pre AS (
  SELECT *, SUM(y) OVER (PARTITION BY source ORDER BY i) AS p
  FROM idx
),
pairs AS (
  SELECT j.source, j.i AS j, k.i AS k,
         (k.p - j.p + j.y) AS s, (k.i - j.i + 1) AS c
  FROM pre j JOIN pre k ON j.source = k.source AND k.i >= j.i
),
sufmin AS (
  SELECT source, j, k AS i,
         MIN(CAST(s AS DOUBLE) / c)
           OVER (PARTITION BY source, j ORDER BY k DESC) AS m
  FROM pairs
),
iso AS (SELECT source, i, MAX(m) AS fitted FROM sufmin GROUP BY source, i)
SELECT d.doc_id, d.source, d.score, d.y::BIGINT AS label,
       round(iso.fitted, 6) AS fitted
FROM pre d JOIN iso ON d.source = iso.source AND d.i = iso.i
"""


@query("ml_isotonic_calibration", oracle=_isotonic_oracle())
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression calibration: fit the best monotone
    nondecreasing map from the quality-classifier logit to the binary
    is-English label, per source — the nonparametric calibrator
    (sklearn's ``IsotonicRegression``, the standard upgrade over Platt
    scaling when data is plentiful; ml_reliability_bins_quality is the
    binned diagnostic this fixes). Spark side runs pool-adjacent-
    violators per group in an ``applyInPandas`` grouped-map — PAV is a
    stack recursion over the score-ordered sequence, genuinely beyond
    window frames. The oracle avoids replaying the sequential
    algorithm: it evaluates the minimax characterization
    ``fit[i] = max_{{j<=i}} min_{{k>=i}} mean(y[j..k])`` — an O(n^2)
    windowed form whose every candidate mean is an exact small-
    denominator rational, and IEEE division is correctly rounded, so
    both engines' doubles agree bit-for-bit before round(6). The PAV
    stack itself pools integer (sum, count) pairs and compares means
    cross-multiplied, so block boundaries are exact too.

    Scale shape: TWO-LEVEL exact PAV (the MLlib IsotonicRegression
    decomposition). Keying the grouped-map by source alone would hold
    a quarter of the corpus in ONE Arrow worker — the SPRT/two-arm
    funnel in pandas form. Instead: range-partition on (source, score,
    doc_id); level 1 runs PAV per (source, slice) in parallel and tags
    each row with its local level-set block; the per-block (sum,
    count) relation — level sets, orders of magnitude below row count
    — aggregates map-side and level 2 re-runs weighted PAV per source
    over the block sequence; fitted values broadcast-join back onto
    the row→block assignment. PAV's pooling operation is CONFLUENT
    (any order of adjacent-violator merges reaches the unique isotonic
    projection), so slice-local pooling followed by block-level
    pooling is bit-identical to one sequential pass — the oracle's
    formulation-independent minimax check proves it every run. The
    O(n^2) minimax form is the ORACLE's job only."""
    import pandas as pd
    from pyspark.sql import types as T

    from etl_pipeline_sam_gov_spark.operators.dedup import spread_docs
    from etl_pipeline_sam_gov_spark.operators.text import quality_logit

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = spread_docs(docs).select(
        "doc_id",
        "source",
        quality_logit().alias("score"),
        (F.col("lang") == "en").cast("bigint").alias("label"),
    )

    def _pool(pairs: list[list[int]]) -> list[list[int]]:
        """PAV stack over weighted (sum, count) points — exact ints,
        cross-multiplied mean compares (no float error)."""
        blocks: list[list[int]] = []
        for s, c in pairs:
            blocks.append([s, c])
            while (
                len(blocks) >= 2
                and blocks[-1][0] * blocks[-2][1]
                < blocks[-2][0] * blocks[-1][1]
            ):
                s2, c2 = blocks.pop()
                blocks[-1][0] += s2
                blocks[-1][1] += c2
        return blocks

    def pav_slices(batches):
        """Level 1: PAV per (source, slice), as ONE mapInPandas over
        the range-partitioned, partition-sorted relation — the range
        exchange already co-locates and orders each slice, so a
        grouped-map's second hash exchange would be pure waste
        (measured: 2.0 s vs 0.8 s at sf0.1). Arrow hands the partition
        as a batch iterator; concatenating holds one SLICE in memory —
        the decomposition's intended bound, corpus/n_parts, never a
        whole source."""
        import numpy as np

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        outs = []
        for _, g in pdf.groupby("source", sort=False):
            # rows arrive sorted by (source, score, doc_id) within the
            # partition; groupby preserves the order inside each group
            blocks = _pool([[int(y), 1] for y in g["label"]])
            out = g[["doc_id", "source", "score", "label", "_pid"]].copy()
            out["blk"] = np.repeat(
                np.arange(len(blocks), dtype="int64"),
                [c for _, c in blocks],
            )
            outs.append(out)
        yield pd.concat(outs, ignore_index=True)

    def pav_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        """Level 2: weighted PAV per source over the ordered block
        sequence. Merges only ever POOL blocks, so every level-1 block
        maps to exactly one final block — fitted is a per-(_pid, blk)
        lookup."""
        pdf = pdf.sort_values(["_pid", "blk"]).reset_index(drop=True)
        blocks = _pool([[int(s), int(c)] for s, c in zip(pdf["s"], pdf["c"])])
        fitted: list[float] = []
        for s, c in blocks:
            # raw IEEE ratio only — rounding happens in F.round on the
            # Spark side so the half-case rule (HALF_UP) matches the
            # oracle's; Python round() is banker's and would flip
            # exact-half ratios like 1/128 at large block sizes
            n_members = 0
            i = len(fitted)
            while n_members < c:
                n_members += int(pdf["c"].iloc[i])
                i += 1
                fitted.append(s / c)
        out = pdf[["source", "_pid", "blk"]].copy()
        out["fitted"] = fitted
        return out

    ranged = range_sliced(scored, "source", "score", "doc_id").sortWithinPartitions(
        "source", "score", "doc_id"
    )
    row_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("score", T.LongType()),
            T.StructField("label", T.LongType()),
            T.StructField("_pid", T.IntegerType()),
            T.StructField("blk", T.LongType()),
        ]
    )
    # rows feeds BOTH the block rollup and the final join; without a
    # persist the Arrow pass (the expensive stage) executes twice.
    # Same bounded cache-slot discipline as the pagerank edge cache:
    # release the previous invocation's relation BEFORE persisting the
    # new one (CacheManager matches by logical-plan equality).
    rows = slot_persist(spark, "iso", ranged.mapInPandas(pav_slices, row_schema))
    blocks = rows.groupBy("source", "_pid", "blk").agg(
        F.sum("label").alias("s"), F.count(F.lit(1)).alias("c")
    )
    merge_schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("_pid", T.IntegerType()),
            T.StructField("blk", T.LongType()),
            T.StructField("fitted", T.DoubleType()),
        ]
    )
    merged = blocks.groupBy("source").applyInPandas(pav_merge, merge_schema)
    return rows.join(F.broadcast(merged), ["source", "_pid", "blk"]).select(
        "doc_id",
        "source",
        "score",
        "label",
        F.round("fitted", 6).alias("fitted"),
    )


# ---------------------------------------------------------------------------
# Lift / gain table (decile model evaluation)
# ---------------------------------------------------------------------------

LIFT_BUCKETS = 10


def _lift_oracle() -> str:
    from etl_pipeline_sam_gov_spark.operators.text import SQL_QUALITY_LOGIT

    return f"""
WITH scored AS (
  SELECT doc_id, {SQL_QUALITY_LOGIT} AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
binned AS (
  SELECT *, ntile({LIFT_BUCKETS}) OVER (ORDER BY score DESC, doc_id) AS decile
  FROM scored
),
cells AS (
  SELECT decile, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS pos
  FROM binned GROUP BY decile
),
tot AS (SELECT SUM(n) AS bn, SUM(pos) AS bpos FROM cells)
SELECT c.decile::BIGINT AS decile, c.n, c.pos,
       round(c.pos::DOUBLE / c.n, 6) AS rate,
       round((c.pos::DOUBLE / c.n) / (t.bpos::DOUBLE / t.bn), 6) AS lift,
       round(SUM(c.pos) OVER (ORDER BY c.decile)::DOUBLE / t.bpos, 6)
         AS cum_gain,
       round(SUM(c.n) OVER (ORDER BY c.decile)::DOUBLE / t.bn, 6)
         AS cum_population
FROM cells c CROSS JOIN tot t
"""


@query("ml_lift_gain_table", oracle=_lift_oracle())
def ml_lift_gain_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gain table — THE business-facing model-eval artifact
    (campaign targeting, quality-classifier thresholding): rank the
    corpus by classifier score, cut into ntile deciles, and report
    each decile's positive rate, lift over the base rate, and the
    cumulative gain curve ("the top 30% of scores capture X% of all
    positives"). Complements ml_auc_quality_classifier (threshold-free
    ranking quality) and ml_reliability_bins_quality (calibration).

    Exactness: decile boundaries follow ntile over a total order
    (score DESC, doc_id) — the SQL-standard first-(n mod k)-buckets-
    get-one-extra rule in both engines; counts are ints, every emitted
    ratio is a single IEEE division (the lift divides two such
    divisions, still deterministic), cumulative sums are integer
    window sums before their one division.

    Scale shape: the naive plan (a global no-partition ntile window)
    funnels the corpus through ONE partition — the classic 100×-scale
    killer. This implementation computes the SAME ntile buckets with
    the DISTRIBUTED RANKING decomposition instead: the global rank is
    the running sum of 1 in (score DESC, doc_id) order,
    ``functions.prefix.running_sums`` over range slices of that order.
    The rank is exact for ANY ordered disjoint slicing, so the sampled
    range boundaries never affect the answer; the decile then falls
    out of integer arithmetic on (rank, n, k) — the same
    first-(n mod k)-buckets-get-one-extra rule ntile defines. No
    single-partition exchange of rows anywhere."""
    from etl_pipeline_sam_gov_spark.operators.dedup import spread_docs
    from etl_pipeline_sam_gov_spark.operators.text import quality_logit

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    scored = spread_docs(docs).select(
        "doc_id",
        quality_logit().alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # Persisted: the slices feed both phases of the rank's running sum
    # and the row count (functions/prefix.py's slice contract).
    order = [F.desc("score"), F.asc("doc_id")]
    ranged = slot_persist(spark, "lift", range_sliced(scored, *order))
    n_total = ranged.agg(F.count(F.lit(1)).alias("n_total"))
    ranked = running_sums(ranged, [], order, {"rank": F.lit(1)}).crossJoin(
        F.broadcast(n_total)
    )
    # ntile(k) as integer arithmetic on the exact global rank: with
    # q = n div k, rem = n mod k, the first rem buckets have q+1 rows.
    k = F.lit(LIFT_BUCKETS).cast("bigint")
    q = (F.col("n_total") / k).cast("bigint")
    rem = F.col("n_total") % k
    head = rem * (q + 1)
    binned = ranked.withColumn(
        "decile",
        F.when(
            F.col("rank") <= head,
            F.floor((F.col("rank") - 1) / (q + 1)),
        ).otherwise(
            rem + F.floor((F.col("rank") - head - 1) / F.greatest(q, F.lit(1)))
        ).cast("bigint")
        + 1,
    )
    cells = binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = cells.agg(F.sum("n").alias("bn"), F.sum("pos").alias("bpos"))
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n",
            "pos",
            F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("rate"),
            F.round(
                (F.col("pos").cast("double") / F.col("n"))
                / (F.col("bpos").cast("double") / F.col("bn")),
                6,
            ).alias("lift"),
            F.round(
                F.sum("pos").over(w_cum).cast("double") / F.col("bpos"), 6
            ).alias("cum_gain"),
            F.round(
                F.sum("n").over(w_cum).cast("double") / F.col("bn"), 6
            ).alias("cum_population"),
        )
    )


# ---------------------------------------------------------------------------
# Chatterjee's xi correlation (rank-based dependence)
# ---------------------------------------------------------------------------

#: (X, Y) pairs screened for dependence, over the orders table —
#: o_orderkey is the fixture's one guaranteed-unique key, and rank
#: determinism REQUIRES a unique total order (lineitem rows duplicate).
XICOR_PAIRS = (
    ("o_custkey", "o_totalprice"),
    ("o_totalprice", "o_custkey"),
    ("o_shippriority_days", "o_totalprice"),
)

#: Derived X: days between orderdate and a fixed epoch, mod 30 — a
#: synthetic periodic feature so one screened pair has structure.
_XI_DERIVED = "CAST(datediff('day', TIMESTAMP '1992-01-01', o_orderdate) % 30 AS BIGINT)"


def _xicor_one_sql(x: str, y: str) -> str:
    xe = _XI_DERIVED if x == "o_shippriority_days" else x
    return f"""
SELECT '{x}' AS x_col, '{y}' AS y_col, o_orderstatus,
       COUNT(*)::BIGINT AS n,
       round(1 - 3.0 * SUM(dj) / (COUNT(*) * CAST(COUNT(*) AS BIGINT) - 1), 6)
         AS xi
FROM (
  SELECT o_orderstatus,
         abs(r - lag(r) OVER (PARTITION BY o_orderstatus
             ORDER BY xv, o_orderkey))::BIGINT AS dj
  FROM (
    SELECT o_orderstatus, {xe} AS xv, o_orderkey,
           row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY {y}, o_orderkey) AS r
    FROM orders
  )
)
GROUP BY o_orderstatus
"""


@query(
    "ml_xicor_correlation",
    oracle=" UNION ALL ".join(_xicor_one_sql(x, y) for x, y in XICOR_PAIRS),
)
def ml_xicor_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ correlation (JASA 2021) per order-status segment
    — the modern rank statistic that detects ANY functional dependence
    (not just monotone like Spearman or linear like Pearson):
    ξ = 1 − 3·Σ|r_{i+1} − r_i|/(n²−1) with the data ordered by X and
    r the Y-ranks. Feature screening uses it to find nonlinear
    feature→target relationships Pearson scores ~0; note ξ is
    asymmetric — the (custkey, totalprice) pair runs both directions.
    Ranks are the tie-broken permutation variant (row_number with the
    unique o_orderkey appended — rank determinism REQUIRES a unique
    total order, which is also why this runs on orders, not the
    duplicate-bearing lineitem), so every rank and every |Δrank| is an
    exact integer in both engines; ξ's one division is the only float
    op. agg_corr_matrix is the Pearson counterpart.

    Scale shape: two rank windows per pair, both partitioned on the
    segment key (no global sort; partition-local sorts are the same
    cost class as any ranking query). At 100 TB compute ξ on a
    per-segment hash sample — the statistic converges at ~1e6 rows —
    or band Y through the agg_histogram_prices cuts first."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = orders.withColumn(
        "o_shippriority_days",
        (
            F.datediff(
                F.col("o_orderdate"),
                F.lit("1992-01-01 00:00:00").cast("timestamp"),
            )
            % 30
        ).cast("bigint"),
    )
    outs = []
    for x, y in XICOR_PAIRS:
        w_y = W.partitionBy("o_orderstatus").orderBy(y, "o_orderkey")
        w_x = W.partitionBy("o_orderstatus").orderBy(x, "o_orderkey")
        ranked = base.select(
            "o_orderstatus",
            x,
            "o_orderkey",
            F.row_number().over(w_y).alias("r"),
        )
        dj = ranked.select(
            "o_orderstatus",
            F.abs(F.col("r") - F.lag("r").over(w_x)).cast("bigint").alias(
                "dj"
            ),
        )
        n = F.count(F.lit(1))
        outs.append(
            dj.groupBy("o_orderstatus").agg(
                F.lit(x).alias("x_col"),
                F.lit(y).alias("y_col"),
                n.cast("bigint").alias("n"),
                F.round(
                    1 - 3.0 * F.sum("dj") / (n * n.cast("bigint") - 1), 6
                ).alias("xi"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("x_col", "y_col", "o_orderstatus", "n", "xi")


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals
# ---------------------------------------------------------------------------

CONF_ALPHA = 0.1  #: nominal miscoverage (90% intervals)


def _conformal_sql(hash60, str_t: str, rnd) -> str:
    """One SQL text for both engines, parameterized by the engine's
    hash60 spelling, string type name, and rounding spelling. The
    3-way split hashes the integer key columns only (numeric→string
    rendering differs across engines; integers render identically).
    The fit is the closed-form Cramer solve over exact-decimal TRAIN
    moments; the calibration quantile is the ceil((n+1)(1−α))-th order
    statistic of |residual| (order-statistic VALUES are tie-proof —
    no unique key needed, unlike ranks; see ml_xicor_correlation)."""
    key = (
        "concat_ws(':', CAST(l_orderkey AS {t}), CAST(l_linenumber AS {t}), "
        "CAST(l_partkey AS {t}), CAST(l_suppkey AS {t}))"
    ).format(t=str_t)
    split = f"({hash60(key)}) % 3"
    b0 = ("(sy_d*(s11_d*s22_d - s12_d*s12_d)"
          " - s1y_d*(s1_d*s22_d - s12_d*s2_d)"
          " + s2y_d*(s1_d*s12_d - s11_d*s2_d)) / det")
    b1 = ("(n_d*(s1y_d*s22_d - s12_d*s2y_d)"
          " - s1_d*(sy_d*s22_d - s2_d*s2y_d)"
          " + s2_d*(sy_d*s12_d - s2_d*s1y_d)) / det")
    b2 = ("(n_d*(s11_d*s2y_d - s1y_d*s12_d)"
          " - s1_d*(s1_d*s2y_d - sy_d*s12_d)"
          " + s2_d*(s1_d*s1y_d - sy_d*s11_d)) / det")
    return f"""
WITH tagged AS (
  SELECT l_returnflag, l_quantity, l_discount, l_extendedprice,
         {split} AS split
  FROM lineitem
),
moments AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
         SUM(CAST(l_discount AS DECIMAL(18,2))) AS s2,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS s11,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s12,
         SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s22,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s1y,
         SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s2y
  FROM tagged WHERE split = 0
  GROUP BY l_returnflag
),
beta AS (
  SELECT l_returnflag, n AS n_train, {b0} AS b0, {b1} AS b1, {b2} AS b2
  FROM (
    SELECT l_returnflag, n,
           CAST(n AS DOUBLE) AS n_d, CAST(s1 AS DOUBLE) AS s1_d,
           CAST(s2 AS DOUBLE) AS s2_d, CAST(sy AS DOUBLE) AS sy_d,
           CAST(s11 AS DOUBLE) AS s11_d, CAST(s12 AS DOUBLE) AS s12_d,
           CAST(s22 AS DOUBLE) AS s22_d, CAST(s1y AS DOUBLE) AS s1y_d,
           CAST(s2y AS DOUBLE) AS s2y_d,
           CAST(n AS DOUBLE)*(CAST(s11 AS DOUBLE)*CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE)*CAST(s12 AS DOUBLE))
           - CAST(s1 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE)*CAST(s2 AS DOUBLE))
           + CAST(s2 AS DOUBLE)*(CAST(s1 AS DOUBLE)*CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE)*CAST(s2 AS DOUBLE)) AS det
    FROM moments
  ) m
),
scored AS (
  SELECT t.l_returnflag, t.split,
         abs(CAST(t.l_extendedprice AS DOUBLE)
             - (b.b0 + b.b1 * CAST(t.l_quantity AS DOUBLE)
                     + b.b2 * CAST(t.l_discount AS DOUBLE))) AS absres
  FROM tagged t JOIN beta b ON t.l_returnflag = b.l_returnflag
  WHERE t.split IN (1, 2)
),
cal AS (
  SELECT l_returnflag, absres,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY absres) AS r,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n_cal
  FROM scored WHERE split = 1
),
q AS (
  SELECT l_returnflag, n_cal, absres AS q_alpha
  FROM cal
  WHERE r = LEAST(n_cal, CAST(ceil((n_cal + 1) * {1 - CONF_ALPHA}) AS BIGINT))
),
test AS (
  SELECT s.l_returnflag,
         COUNT(*) AS n_test,
         SUM(CASE WHEN s.absres <= q.q_alpha THEN 1 ELSE 0 END) AS covered
  FROM scored s JOIN q ON s.l_returnflag = q.l_returnflag
  WHERE s.split = 2
  GROUP BY s.l_returnflag
)
SELECT b.l_returnflag,
       CAST(b.n_train AS BIGINT) AS n_train,
       CAST(q.n_cal AS BIGINT) AS n_cal,
       CAST(t.n_test AS BIGINT) AS n_test,
       {rnd('q.q_alpha')} AS q_alpha,
       {rnd('CAST(t.covered AS DOUBLE) / t.n_test')} AS coverage
FROM beta b
JOIN q ON b.l_returnflag = q.l_returnflag
JOIN test t ON b.l_returnflag = t.l_returnflag
"""


def _conformal_oracle() -> str:
    from etl_pipeline_sam_gov_spark.operators.dedup import _sql_hash60

    return _conformal_sql(
        lambda e: _sql_hash60(e),
        "VARCHAR",
        lambda e: f"CAST(CAST(CAST({e} AS VARCHAR) AS DECIMAL(28,6)) AS DOUBLE)",
    )


@query("ml_conformal_interval", oracle=_conformal_oracle())
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al. 2018) for
    the price ~ quantity + discount OLS model: hash-split the corpus
    train/calibrate/test, fit closed-form on train, take the
    ceil((n+1)(1−α))-th smallest calibration |residual| as the
    interval half-width q, and report empirical test coverage — the
    DISTRIBUTION-FREE uncertainty quantification every "model with
    error bars" serving pipeline bolts onto a point predictor
    (finite-sample guarantee: coverage ≥ 1−α in expectation,
    regardless of the model being wrong).

    One SQL text parameterizes both engines (hash/rounding spellings
    only), so every arithmetic step — exact-decimal train moments,
    the Cramer solve's double tree, residuals, the order-statistic
    lookup — is structurally identical. The quantile reads the k-th
    order statistic VALUE, which is tie-proof without a unique key.

    Scale shape: one tagged scan feeding (a) the train moment
    aggregation, (b) the broadcast-beta residual map; the calibration
    quantile is one per-flag rank window; coverage one more partial
    agg. At 100 TB the quantile window would switch to
    approx_percentile on the calibration split only."""
    from etl_pipeline_sam_gov_spark.operators.dedup import _sql_hash60  # noqa: F401

    load_tables(spark, sf_dir, ("lineitem",))
    sql = _conformal_sql(
        lambda e: f"CAST(conv(substring(md5({e}), 1, 15), 16, 10) AS BIGINT)",
        "STRING",
        lambda e: f"round({e}, 6)",
    )
    return spark.sql(sql)


# ---------------------------------------------------------------------------
# Spearman rank correlation (tie-corrected via exact midranks)
# ---------------------------------------------------------------------------

SPEARMAN_PAIRS = (
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_extendedprice"),
    ("l_discount", "l_extendedprice"),
)


def _spearman_sql() -> str:
    """ONE fully portable SQL text for both engines. Midranks are kept
    DOUBLED (2r = 2·rank + ties − 1) so every rank is an exact int64
    even under heavy ties; ρ is then Pearson over the doubled ranks
    (scale-invariant), one fixed-shape double expression."""
    blocks = []
    for x, y in SPEARMAN_PAIRS:
        blocks.append(f"""
SELECT '{x}' AS x_col, '{y}' AS y_col, g AS l_returnflag, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) + 0.0 AS rho
FROM (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
         CAST(SUM(rx * rx) AS BIGINT) AS sxx,
         CAST(SUM(ry * ry) AS BIGINT) AS syy,
         CAST(SUM(rx * ry) AS BIGINT) AS sxy
  FROM (
    SELECT l_returnflag AS g,
           2 * CAST(rank() OVER (PARTITION BY l_returnflag
                                 ORDER BY {x}) AS BIGINT)
             + CAST(COUNT(*) OVER (PARTITION BY l_returnflag, {x})
                    AS BIGINT) - 1 AS rx,
           2 * CAST(rank() OVER (PARTITION BY l_returnflag
                                 ORDER BY {y}) AS BIGINT)
             + CAST(COUNT(*) OVER (PARTITION BY l_returnflag, {y})
                    AS BIGINT) - 1 AS ry
    FROM lineitem
  ) r GROUP BY g
) m""")
    return "\nUNION ALL\n".join(blocks)


@query("ml_spearman_rho", oracle=_spearman_sql())
def ml_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's ρ per return-flag segment for three lineitem column
    pairs — the MONOTONE-dependence member of the correlation family
    (Pearson = linear, agg_corr_matrix; arbitrary functional = ξ,
    ml_xicor_correlation). Feature screens run all three: Spearman is
    the robust default when outliers or nonlinearity distort Pearson.

    Tie handling is the statistic's hard part and is EXACT here:
    average midranks are kept doubled (2r = 2·rank + t − 1, ints even
    when the midrank is k.5 — l_discount has only ~11 distinct values,
    the heaviest tie case in the fixture), and ρ is Pearson over the
    doubled ranks, which is algebraically identical to ρ on midranks.
    All moments are exact int64; one shared SQL text means both
    engines execute the same fixed double expression.

    Scale: two rank windows per pair, partitioned on the segment key —
    no global sort; moments are partial-combined. int64 rank moments
    hold to ~2M rows/segment; beyond that the sums switch to
    DECIMAL(38,0) accumulation."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(_spearman_sql())


# ---------------------------------------------------------------------------
# Cohen's kappa — inter-rater agreement beyond chance
# ---------------------------------------------------------------------------

#: Tercile cut literals for the two heuristic "raters" (fixture-wide
#: length terciles; fixed literals keep both engines and future data
#: banding identically).
KAPPA_LEN_CUTS = (216, 379)
KAPPA_SPACE_CUTS = (38, 68)


def _kappa_sql() -> str:
    """Fully portable shared SQL. With D = Σ diagonal, P = Σ row_k·col_k
    and n the total: κ = (D·n − P)/(n² − P) — every term exact int64,
    ONE double division."""
    lc, sc = KAPPA_LEN_CUTS, KAPPA_SPACE_CUTS
    return f"""
WITH rated AS (
  SELECT CASE WHEN length(text) <= {lc[0]} THEN 0
              WHEN length(text) <= {lc[1]} THEN 1 ELSE 2 END AS r1,
         CASE WHEN length(text) - length(replace(text, ' ', '')) <= {sc[0]}
                THEN 0
              WHEN length(text) - length(replace(text, ' ', '')) <= {sc[1]}
                THEN 1 ELSE 2 END AS r2
  FROM documents
),
cells AS (
  SELECT r1, r2, CAST(COUNT(*) AS BIGINT) AS c FROM rated GROUP BY r1, r2
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN r1 = r2 THEN c ELSE 0 END) AS BIGINT) AS d
  FROM cells
),
margins AS (
  SELECT CAST(SUM(rw.rt * cl.ct) AS BIGINT) AS p
  FROM (SELECT r1 AS k, SUM(c) AS rt FROM cells GROUP BY r1) rw
  JOIN (SELECT r2 AS k, SUM(c) AS ct FROM cells GROUP BY r2) cl
    ON rw.k = cl.k
)
SELECT t.n, t.d AS n_agree,
       round(CAST(t.d AS DOUBLE) / t.n, 6) AS po,
       round(CAST(m.p AS DOUBLE) / t.n / t.n, 6) AS pe,
       round(CAST(t.d * t.n - m.p AS DOUBLE) / (t.n * t.n - m.p), 6) + 0.0
         AS kappa
FROM tot t CROSS JOIN margins m
"""


@query("ml_cohens_kappa", oracle=_kappa_sql())
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between two heuristic document-quality raters (char-
    length terciles vs whitespace-count terciles) — the chance-
    corrected agreement measure used to validate LLM-as-judge and
    human labeling pipelines before trusting their labels (raw
    agreement po flatters raters that both favor a majority class; κ
    subtracts the chance agreement pe from the margins).

    Exact algebra: κ = (po−pe)/(1−pe) = (D·n − P)/(n² − P) with D the
    agreement count, P = Σ_k row_k·col_k the margin product — all
    int64; ONE double division at the end, shared SQL text both sides.

    Scale: one scan banding both raters (zero-shuffle scoring), a
    ≤9-cell contingency aggregate, margins on the cell relation."""
    load_tables(spark, sf_dir, ("documents",))
    return spark.sql(_kappa_sql())


# ---------------------------------------------------------------------------
# Bagged stumps (bootstrap-aggregated ensemble; Poisson(1) bags)
# ---------------------------------------------------------------------------

BAG_B = 8  #: bootstrap bags


def _bagged_sql(hash60_u, f1_days) -> str:
    """ONE SQL text driving both engines; parameterized only by (a) the
    hash-uniform spelling and (b) the day-diff spelling plus the bag
    generator. Weighted stump fits use exact int64 weighted moments;
    the split score and the two leaf means are the only double ops,
    written once. Ensemble MAE stays exact: Σ|B·y − Σ_b pred_b| is an
    integer — one double division at the end."""
    from etl_pipeline_sam_gov_spark.operators.behavior import _pois_w_sql

    bexp = hash60_u["gen_bags"]
    u = hash60_u["u"]("CAST(r.id AS {t}) || ':' || CAST(r.b AS {t})")
    b = BAG_B

    def cum(fi: int) -> str:
        return f"""
    SELECT b, f{fi} AS v,
           CAST(SUM(SUM(w)) OVER (PARTITION BY b ORDER BY f{fi})
                AS BIGINT) AS nl,
           CAST(SUM(SUM(w * y)) OVER (PARTITION BY b ORDER BY f{fi})
                AS BIGINT) AS sl
    FROM reps GROUP BY b, f{fi}"""

    return f"""
WITH base AS (
  SELECT o_orderkey AS id,
         {f1_days} AS f1,
         CAST(o_custkey % 97 AS BIGINT) AS f2,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
),
bags AS (SELECT {bexp} AS b),
reps AS (
  SELECT r.id, r.f1, r.f2, r.y, r.b, {{W}} AS w
  FROM (SELECT base.*, bags.b FROM base CROSS JOIN bags) r
),
tot AS (
  SELECT b, CAST(SUM(w) AS BIGINT) AS nt, CAST(SUM(w * y) AS BIGINT) AS st
  FROM reps GROUP BY b
),
cand AS (
  SELECT 1 AS feat, t1.* FROM ({cum(1)}) t1
  UNION ALL
  SELECT 2 AS feat, t2.* FROM ({cum(2)}) t2
),
scored AS (
  SELECT c.feat, c.b, c.v, c.nl, t.nt - c.nl AS nr, c.sl, t.st,
         CAST(c.sl AS DOUBLE) * c.sl / c.nl
           + CAST(t.st - c.sl AS DOUBLE) * (t.st - c.sl) / (t.nt - c.nl)
           AS score
  FROM cand c JOIN tot t ON c.b = t.b
  WHERE c.nl > 0 AND c.nl < t.nt
),
best AS (
  SELECT * FROM (
    SELECT feat, b, v, nl, nr, sl, st,
           row_number() OVER (PARTITION BY b ORDER BY score DESC, feat, v)
             AS rn
    FROM scored
  ) rb WHERE rn = 1
),
stumps AS (
  SELECT b AS bag, feat, v AS threshold, nl AS n_left_w, nr AS n_right_w,
         CAST(round(CAST(sl AS DOUBLE) / nl) AS BIGINT) AS pred_left_cents,
         CAST(round(CAST(st - sl AS DOUBLE) / nr) AS BIGINT)
           AS pred_right_cents
  FROM best
),
preds AS (
  SELECT base.id, base.y,
         CAST(SUM(CASE WHEN (s.feat = 1 AND base.f1 <= s.threshold)
                         OR (s.feat = 2 AND base.f2 <= s.threshold)
                  THEN s.pred_left_cents ELSE s.pred_right_cents END)
              AS BIGINT) AS psum
  FROM base CROSS JOIN stumps s
  GROUP BY base.id, base.y
),
mae AS (
  SELECT round(CAST(SUM(abs({b} * y - psum)) AS DOUBLE)
               / ({b}.0 * COUNT(*)) / 100, 6) AS ensemble_mae_dollars
  FROM preds
)
SELECT CAST(s.bag AS BIGINT) AS bag, s.feat, s.threshold,
       s.n_left_w, s.n_right_w,
       s.pred_left_cents, s.pred_right_cents, m.ensemble_mae_dollars
FROM stumps s CROSS JOIN mae m
""".replace("{W}", _pois_w_sql(u))


def _bagged_oracle() -> str:
    from etl_pipeline_sam_gov_spark.operators.behavior import _U_DEN
    from etl_pipeline_sam_gov_spark.operators.dedup import _sql_hash60

    return _bagged_sql(
        {
            "gen_bags": f"unnest(range({BAG_B}))",
            "u": lambda key: (
                f"({_sql_hash60(key.format(t='VARCHAR'))})::DOUBLE / {_U_DEN!r}"
            ),
        },
        "CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
        " AS BIGINT)",
    )


@query("ml_bagged_stumps", oracle=_bagged_oracle())
def ml_bagged_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bagging (Breiman 1996) of regression stumps — the third member
    of the ensemble triad (ml_gbm_stumps = boosting, ml_kfold_cv_stump
    = validation): B=8 bootstrap replicas, one depth-1 tree each, the
    ensemble predicting the leaf-mean AVERAGE. Bootstrap resampling is
    the Poisson(1)-weight approximation (the ab_bootstrap_ci_poisson
    machinery — weights from a deterministic md5 grid, the
    industry-standard distributed bootstrap since resampling 100 TB by
    index is impossible), so each bag's weighted stump fit uses exact
    int64 weighted moments and every split decision is reproducible.

    The variance-reduction readout is honest and exact: ensemble MAE
    uses Σ|B·y − Σ_b pred_b| (an integer — avoiding a float mean per
    row), one double division at the end. ONE SQL text drives both
    engines (hash/day-diff/bag-generator spellings aside). Scale: the
    B-fold replication is a narrow generate (w column per bag, rows
    never copied); per bag the fit is the GBM stump shape — per-value
    collapse, one cumulative window on the bounded value domain, a
    1-row argmax; prediction broadcasts 8 stump rows."""
    load_tables(spark, sf_dir, ("orders",))
    from etl_pipeline_sam_gov_spark.operators.behavior import _U_DEN

    return spark.sql(
        _bagged_sql(
            {
                "gen_bags": f"explode(sequence(0, {BAG_B - 1}))",
                "u": lambda key: (
                    "CAST(CAST(conv(substring(md5("
                    + key.format(t="STRING")
                    + f"), 1, 15), 16, 10) AS BIGINT) AS DOUBLE) / {_U_DEN!r}"
                ),
            },
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            " AS BIGINT)",
        )
    )


# ---------------------------------------------------------------------------
# Exact Shapley R² attribution (2-feature closed form)
# ---------------------------------------------------------------------------


def _shapley_sql() -> str:
    """Fully portable shared SQL. With two features the Shapley value
    needs only the 4 coalition values v(∅)=0, v({1}), v({2}),
    v({1,2}) — each an OLS R² in closed form from ONE exact-int
    moment relation; φ₁ = ½v({1}) + ½(v({1,2}) − v({2})) and
    symmetrically φ₂, so φ₁+φ₂ = v({1,2}) (efficiency) by
    construction. Doubles appear once each as named columns."""
    r2_1 = ("(n_d * s1y_d - s1_d * sy_d) * (n_d * s1y_d - s1_d * sy_d)"
            " / ((n_d * s11_d - s1_d * s1_d) * (n_d * syy_d - sy_d * sy_d))")
    r2_2 = ("(n_d * s2y_d - s2_d * sy_d) * (n_d * s2y_d - s2_d * sy_d)"
            " / ((n_d * s22_d - s2_d * s2_d) * (n_d * syy_d - sy_d * sy_d))")
    return f"""
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
              AS DECIMAL(19,0)) AS f1,
         CAST(CAST(round(l_discount * 10000) AS BIGINT)
              AS DECIMAL(19,0)) AS f2,
         CAST(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         * 100) AS BIGINT) AS DECIMAL(19,0)) AS y
  FROM lineitem
),
mom AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(f1) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(f2) AS DECIMAL(38,0)) AS s2,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(f1 * f1) AS DECIMAL(38,0)) AS s11,
         CAST(SUM(f1 * f2) AS DECIMAL(38,0)) AS s12,
         CAST(SUM(f2 * f2) AS DECIMAL(38,0)) AS s22,
         CAST(SUM(f1 * y) AS DECIMAL(38,0)) AS s1y,
         CAST(SUM(f2 * y) AS DECIMAL(38,0)) AS s2y,
         CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
  FROM base GROUP BY g
),
d AS (
  SELECT g, n, CAST(n AS DOUBLE) AS n_d,
         CAST(s1 AS DOUBLE) AS s1_d, CAST(s2 AS DOUBLE) AS s2_d,
         CAST(sy AS DOUBLE) AS sy_d, CAST(s11 AS DOUBLE) AS s11_d,
         CAST(s12 AS DOUBLE) AS s12_d, CAST(s22 AS DOUBLE) AS s22_d,
         CAST(s1y AS DOUBLE) AS s1y_d, CAST(s2y AS DOUBLE) AS s2y_d,
         CAST(syy AS DOUBLE) AS syy_d
  FROM mom
),
fits AS (
  SELECT g, n, {r2_1} AS r2_f1, {r2_2} AS r2_f2,
         1.0 - (syy_d
           - ((sy_d * (s11_d * s22_d - s12_d * s12_d)
               - s1y_d * (s1_d * s22_d - s12_d * s2_d)
               + s2y_d * (s1_d * s12_d - s11_d * s2_d)) / det) * sy_d
           - ((n_d * (s1y_d * s22_d - s12_d * s2y_d)
               - s1_d * (sy_d * s22_d - s2_d * s2y_d)
               + s2_d * (sy_d * s12_d - s2_d * s1y_d)) / det) * s1y_d
           - ((n_d * (s11_d * s2y_d - s1y_d * s12_d)
               - s1_d * (s1_d * s2y_d - sy_d * s12_d)
               + s2_d * (s1_d * s1y_d - sy_d * s11_d)) / det) * s2y_d)
           / (syy_d - sy_d * sy_d / n_d) AS r2_full
  FROM (
    SELECT d.*,
           n_d * (s11_d * s22_d - s12_d * s12_d)
           - s1_d * (s1_d * s22_d - s12_d * s2_d)
           + s2_d * (s1_d * s12_d - s11_d * s2_d) AS det
    FROM d
  ) dd
)
SELECT g AS l_returnflag, 'l_extendedprice' AS feature, n,
       round(0.5 * r2_f1 + 0.5 * (r2_full - r2_f2), 6) + 0.0 AS shapley_r2,
       round(r2_full, 6) + 0.0 AS r2_full
FROM fits
UNION ALL
SELECT g, 'l_discount', n,
       round(0.5 * r2_f2 + 0.5 * (r2_full - r2_f1), 6) + 0.0,
       round(r2_full, 6) + 0.0
FROM fits
"""


@query("ml_shapley_r2_attribution", oracle=_shapley_sql())
def ml_shapley_r2_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley attribution of the charge model's R² between its
    two drivers, per return-flag segment — charge = price·(1−disc)·
    (1+tax) regressed on (price, discount), so the attribution has
    real structure to split (price dominates, discount carries a
    genuine minority share; the first draft regressed price on
    quantity/discount, which are INDEPENDENT columns in this fixture —
    an honest but empty readout) — the
    game-theoretically fair "how much does each feature explain"
    readout (Shapley 1953; LMG/Lindeman decomposition in the
    regression setting; what SHAP approximates by sampling, computed
    here in closed form because 2 features need only 4 coalition
    values). Efficiency holds by construction: the two φ's sum to the
    full model's R² exactly — auditable in the output.

    Every coalition value is an OLS R² in closed form from ONE
    exact moment pass — centized values as DECIMAL(19,0) with
    DECIMAL(38,0) sums, because cent-scale squared moments overflow
    int64 beyond ~100k rows/segment; the Cramer 3×3 solve is the
    conformal/Granger double tree. A single shared SQL text drives
    both engines. Scale: one
    partial-combined moment aggregation, a |segments|-row readout —
    the same cost as agg_corr_matrix no matter the corpus size."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(_shapley_sql())


# ---------------------------------------------------------------------------
# Kendall's tau-b (exact, via domain-bounded cell-pair counting)
# ---------------------------------------------------------------------------


def _kendall_sql() -> str:
    """Fully portable shared SQL. The corpus collapses to the
    (quantity, discount-bp) contingency cells per segment FIRST; C and
    D then count concordant/discordant pairs by joining CELLS (bounded
    by the value domain, never corpus-quadratic), and τ-b's tie terms
    come from the cell margins — every quantity an exact int64, one
    double expression at the end."""
    return """
WITH cells AS (
  SELECT l_returnflag AS g,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 10000) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2, 3
),
tot AS (
  SELECT g, CAST(SUM(n) AS BIGINT) AS nn FROM cells GROUP BY g
),
conc AS (
  SELECT a.g,
         CAST(SUM(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END)
              AS BIGINT) AS d
  FROM cells a JOIN cells b
    ON a.g = b.g AND b.x < a.x AND b.y <> a.y
  GROUP BY a.g
),
tx AS (
  SELECT g, CAST(SUM(tn * (tn - 1) / 2) AS BIGINT) AS t_x
  FROM (SELECT g, x, SUM(n) AS tn FROM cells GROUP BY g, x) m
  GROUP BY g
),
ty AS (
  SELECT g, CAST(SUM(tn * (tn - 1) / 2) AS BIGINT) AS t_y
  FROM (SELECT g, y, SUM(n) AS tn FROM cells GROUP BY g, y) m
  GROUP BY g
)
SELECT t.g AS l_returnflag, t.nn AS n,
       c.c AS concordant, c.d AS discordant,
       round(CAST(c.c - c.d AS DOUBLE)
             / sqrt((CAST(t.nn AS DOUBLE) * (t.nn - 1) / 2 - x.t_x)
                    * (CAST(t.nn AS DOUBLE) * (t.nn - 1) / 2 - y.t_y)),
             6) + 0.0 AS kendall_tau_b
FROM tot t
JOIN conc c ON t.g = c.g
JOIN tx x ON t.g = x.g
JOIN ty y ON t.g = y.g
"""


@query("ml_kendall_tau_b", oracle=_kendall_sql())
def ml_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between quantity and discount per return-flag
    segment — the FOURTH member of the dependence family (Pearson =
    linear, Spearman = monotone-by-rank, ξ = any-function, Kendall =
    pairwise concordance with the cleanest tie theory), and the one
    whose naive computation is corpus-quadratic. The engine's move:
    collapse to the CONTINGENCY CELLS first (≤ |quantity domain| ×
    |discount domain| per segment — a few hundred cells no matter the
    corpus), count concordant/discordant pairs by joining cells, and
    take the τ-b tie terms from the margins. Everything is exact int64
    up to one final double division.

    Scale: one partial-combined collapse is the only corpus-sized
    step; the cell join is bounded by the value domain — the same
    bounded-domain discipline as agg_weighted_median and
    ts_theil_sen_trend."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(_kendall_sql())


# ---------------------------------------------------------------------------
# McNemar's test — do two paired binary raters disagree systematically?
# ---------------------------------------------------------------------------


def _mcnemar_sql() -> str:
    """Fully portable shared SQL: the 2×2 paired table's discordant
    cells b and c; χ² = (b−c)²/(b+c) is one double division of exact
    int64 squares (continuity-uncorrected form, documented)."""
    return f"""
WITH rated AS (
  SELECT CASE WHEN length(text) > {KAPPA_LEN_CUTS[1]} THEN 1 ELSE 0 END AS r1,
         CASE WHEN length(text) - length(replace(text, ' ', ''))
                   > {KAPPA_SPACE_CUTS[1]} THEN 1 ELSE 0 END AS r2
  FROM documents
),
cells AS (
  SELECT CAST(SUM(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM rated
)
SELECT n, b AS only_rater1, c AS only_rater2,
       round(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 6) + 0.0
         AS mcnemar_chi2,
       round(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 6) > 3.8416
         AS systematic_disagreement
FROM cells
"""


@query("ml_mcnemar_raters", oracle=_mcnemar_sql())
def ml_mcnemar_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (1947) on the two paired document-quality raters
    (binary high-quality verdicts: char-length vs whitespace-count
    thresholds, the ml_cohens_kappa pair binarized at their top cut):
    κ asks "do they AGREE beyond chance?"; McNemar asks the follow-up
    a labeling-pipeline migration needs — "when they disagree, is one
    rater SYSTEMATICALLY more liberal?" — from the discordant cells
    alone, χ² = (b−c)²/(b+c) (uncorrected form; b+c here is large
    enough that the continuity correction is noise). The standard
    test for comparing two classifiers on the SAME examples.

    Exactness: two exact int64 discordant counts, one double
    division. Scale: one zero-shuffle scan + 1-row readout."""
    load_tables(spark, sf_dir, ("documents",))
    return spark.sql(_mcnemar_sql())


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (conversion rate vs ordered spend band)
# ---------------------------------------------------------------------------


def _ca_trend_sql() -> str:
    """Fully portable shared SQL: per power-of-two spend band i with
    score s=i, conversions r_i of n_i users; z = (Σs·r − p̄·Σs·n) /
    √(p̄(1−p̄)(Σs²n − (Σsn)²/N)) from exact int64 moments, one double
    tree."""
    return """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(CASE WHEN 5 * SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) > COUNT(*)
              THEN 1 ELSE 0 END AS BIGINT) AS conv
  FROM events GROUP BY user_id
),
banded AS (
  SELECT CAST(length(bin(cents)) - 1 AS BIGINT) AS s, conv
  FROM per_user WHERE cents > 0
),
cells AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(conv) AS BIGINT) AS r_i
  FROM banded GROUP BY s
),
mom AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(r_i) AS BIGINT) AS r,
         CAST(SUM(s * r_i) AS BIGINT) AS srn,
         CAST(SUM(s * n_i) AS BIGINT) AS snn,
         CAST(SUM(s * s * n_i) AS BIGINT) AS ssn,
         CAST(COUNT(*) AS BIGINT) AS n_bands
  FROM cells
)
SELECT n AS n_users, r AS n_converted, n_bands,
       round((CAST(srn AS DOUBLE)
              - CAST(r AS DOUBLE) / n * snn)
             / sqrt(CAST(r AS DOUBLE) / n * (1.0 - CAST(r AS DOUBLE) / n)
                    * (ssn - CAST(snn AS DOUBLE) * snn / n)),
             6) + 0.0 AS trend_z,
       round((CAST(srn AS DOUBLE) - CAST(r AS DOUBLE) / n * snn)
             / sqrt(CAST(r AS DOUBLE) / n * (1.0 - CAST(r AS DOUBLE) / n)
                    * (ssn - CAST(snn AS DOUBLE) * snn / n)), 6)
       * round((CAST(srn AS DOUBLE) - CAST(r AS DOUBLE) / n * snn)
               / sqrt(CAST(r AS DOUBLE) / n * (1.0 - CAST(r AS DOUBLE) / n)
                      * (ssn - CAST(snn AS DOUBLE) * snn / n)), 6) > 3.8416
         AS trend_significant
FROM mom
"""


@query("ml_cochran_armitage_trend", oracle=_ca_trend_sql())
def ml_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the (share-banded) conversion
    RATE move monotonically with the ordered spend band? The
    dose-response test for a binary outcome against an ORDERED
    categorical exposure — strictly sharper than the omnibus χ²
    (ts_chi2_type_weekday) when the alternative is a trend, and the
    categorical sibling of ml_information_value_spend's WoE readout
    over the very same power-of-two bands (IV measures separation;
    this tests ordered DIRECTION).

    Exactness: all five moments (Σn, Σr, Σs·r, Σs·n, Σs²·n) are exact
    int64 from one user rollup + a ≤64-band aggregate; z is one
    pinned double tree, significance compares z² to 1.96². Scale:
    one user-keyed shuffle, band-bounded everything after."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(_ca_trend_sql())


# ---------------------------------------------------------------------------
# Classifier scorecard: per-class precision/recall/F1 over the confusion matrix
# ---------------------------------------------------------------------------


def _scorecard_oracle() -> str:
    """Embeds the certified language-ID confusion matrix verbatim
    (composition rule) and derives the standard scorecard. F1 via the
    product form 2PR/(P+R) ≡ 2·tp/(actual+predicted) — ONE division of
    exact ints per class."""
    from etl_pipeline_sam_gov_spark.registry import ORACLES

    cm = ORACLES["ml_confusion_matrix_langid"]
    return f"""
WITH cm AS ({cm}),
act AS (SELECT actual AS cls, CAST(SUM(n) AS BIGINT) AS n_actual
        FROM cm GROUP BY actual),
prd AS (SELECT predicted AS cls, CAST(SUM(n) AS BIGINT) AS n_predicted
        FROM cm GROUP BY predicted),
tp AS (SELECT actual AS cls, CAST(SUM(n) AS BIGINT) AS n_tp
       FROM cm WHERE actual = predicted GROUP BY actual)
SELECT a.cls AS class, a.n_actual,
       CAST(COALESCE(p.n_predicted, 0) AS BIGINT) AS n_predicted,
       CAST(COALESCE(t.n_tp, 0) AS BIGINT) AS n_tp,
       round(CAST(COALESCE(t.n_tp, 0) AS DOUBLE)
             / CASE WHEN COALESCE(p.n_predicted, 0) = 0 THEN 1
                    ELSE p.n_predicted END, 6) AS precision_,
       round(CAST(COALESCE(t.n_tp, 0) AS DOUBLE) / a.n_actual, 6) AS recall_,
       round(2.0 * COALESCE(t.n_tp, 0)
             / (a.n_actual + COALESCE(p.n_predicted, 0)), 6) AS f1
FROM act a
LEFT JOIN prd p ON a.cls = p.cls
LEFT JOIN tp t ON a.cls = t.cls
"""


@query("ml_classifier_scorecard", oracle=_scorecard_oracle())
def ml_classifier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard multi-class scorecard — per-class precision,
    recall, F1 — derived from the CERTIFIED language-ID confusion
    matrix (its oracle embedded verbatim, the composition rule): the
    table every model card prints, completing the evaluation family
    (confusion = raw cells, AUC/PR-curve = threshold sweeps, this =
    the per-class operating-point summary). F1 computes as
    2·tp/(actual+predicted) — algebraically 2PR/(P+R) but ONE exact-
    int division instead of a ratio of ratios; zero-predicted classes
    get precision 0 by the guarded denominator, not NULL.

    Scale: rides the confusion matrix's plan plus three k-row margin
    aggregates."""
    from etl_pipeline_sam_gov_spark.registry import QUERIES as _Q

    cm = _Q["ml_confusion_matrix_langid"](spark, sf_dir)
    act = cm.groupBy(F.col("actual").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("n_actual")
    )
    prd = cm.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("n_predicted")
    )
    tp = (
        cm.filter(F.col("actual") == F.col("predicted"))
        .groupBy(F.col("actual").alias("cls"))
        .agg(F.sum("n").cast("bigint").alias("n_tp"))
    )
    j = (
        act.join(prd, "cls", "left")
        .join(tp, "cls", "left")
        .select(
            "cls",
            "n_actual",
            F.coalesce(F.col("n_predicted"), F.lit(0))
            .cast("bigint")
            .alias("n_predicted"),
            F.coalesce(F.col("n_tp"), F.lit(0)).cast("bigint").alias("n_tp"),
        )
    )
    return j.select(
        F.col("cls").alias("class"),
        "n_actual",
        "n_predicted",
        "n_tp",
        F.round(
            F.col("n_tp").cast("double")
            / F.when(F.col("n_predicted") == 0, 1).otherwise(
                F.col("n_predicted")
            ),
            6,
        ).alias("precision_"),
        F.round(F.col("n_tp").cast("double") / F.col("n_actual"), 6).alias(
            "recall_"
        ),
        F.round(
            2.0 * F.col("n_tp") / (F.col("n_actual") + F.col("n_predicted")),
            6,
        ).alias("f1"),
    )

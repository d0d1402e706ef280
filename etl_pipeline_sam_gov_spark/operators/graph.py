"""Graph analytics over relational data (SURVEY.md §2.12 extensions):
PageRank over the customer–supplier transaction graph.

The reference has no graph surface; this generalizes its join kernels
(J1, §2.3) to iterative message-passing — the same "joins in a loop"
execution shape as dedup_cluster_components' label propagation, which
is how distributed graph engines (Pregel/GraphX/GraphFrames) actually
run on top of a shuffle engine.

Scale shape: each iteration is one equi-join of the edge list with the
current rank vector plus a partial-combined aggregation keyed on the
destination — both shuffles keyed on node id, so a cluster co-locates
them across iterations; the edge relation and its out-degrees are
computed once and persisted (at real scale: checkpointed to cluster
storage), never recomputed per round. Iteration count is FIXED (not
run-to-convergence), which is both the production norm (a bounded-cost
approximation) and what makes the computation expressible as chained
CTEs for the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_pipeline_sam_gov_spark.registry import query
from etl_pipeline_sam_gov_spark.slots import slot
from etl_pipeline_sam_gov_spark.tables import load_tables

#: PageRank damping factor and fixed iteration count.
PR_DAMPING = 0.85
PR_ITERS = 3

#: Persisted relations (edges, deg, per-iteration rank vectors) of the
#: latest invocation live in weak-keyed per-session slots
#: (slots.slot); the previous set is released when a new one
#: is built (bounded one-slot cache discipline, shared by every
#: iterative operator in this module).


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """Both directed edges of every (c, s) pair in ONE pass: a union of
    the pair relation with its reverse plans the (lineitem⋈orders,
    distinct) subtree TWICE and leans on runtime exchange reuse to
    dedupe it — fragile under AQE replanning — while exploding each
    pair into its two directions structurally reads it once (measured
    parity at sf0.1 where reuse does kick in; the explode shape cannot
    regress when it doesn't). Output: (src, dst)."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _attach_dst_deg(rel: DataFrame, deg: DataFrame, order_cols) -> DataFrame:
    """One-time setup join attaching the destination's degree to the
    edge-side relation, then persisting it with hash(src) partitioning
    + in-partition (src, …) ordering — the cache layout every
    iterative round probes exchange-free.

    Committed shape: broadcast build of the |V|-row degree table — the
    |E|-row probe side KEEPS the upstream hash(src) layout, so the
    persist inherits it for free. That broadcast is fine at fixture
    scale but |V| grows with the entity population, so at corpus scale
    set ``SPARK_GRAFT_SCALE_SETUP=1``: the join shuffles BOTH sides on
    dst (never ships deg whole) and an explicit ``repartition("src")``
    restores the layout the rounds reuse — a bare unhint without the
    repartition would silently cost an |E| exchange per round instead.
    The two shapes are output-identical (asserted hash-for-hash in
    tests/test_graph_scale_setup.py); only the one-time setup plan
    differs, so the swap is a deployment knob, not a semantics fork."""
    dd = deg.select(F.col("src").alias("dst"), F.col("deg").alias("dst_deg"))
    if os.environ.get("SPARK_GRAFT_SCALE_SETUP") == "1":
        joined = rel.join(dd.hint("shuffle_hash"), "dst").repartition("src")
    else:
        joined = rel.join(F.broadcast(dd), "dst")
    return joined.sortWithinPartitions(*order_cols)


def _pagerank_oracle() -> str:
    """Unrolled PR_ITERS-iteration PageRank as chained CTEs. Node ids:
    customers at 2*c_custkey, suppliers at 2*l_suppkey+1. The graph is
    symmetric by construction (both directions of every transaction
    edge), so no node dangles and the rank mass is conserved."""
    head = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(f""",
c{i} AS (
  SELECT e.dst AS node, SUM(r.rank / d.deg) AS m
  FROM edges e
  JOIN r{i - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node, {1 - PR_DAMPING} / nn.n + {PR_DAMPING} * COALESCE(c{i}.m, 0) AS rank
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} ON n.node = c{i}.node
)""")
    tail = f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS entity_id,
       round(rank, 8) AS pagerank
FROM r{PR_ITERS}
"""
    return head + "".join(steps) + tail


@query("graph_pagerank_bipartite", oracle=_pagerank_oracle())
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations) over the symmetric
    customer↔supplier graph derived from shared order lines — the
    entity-importance ranking primitive (seller reputation, account
    centrality, spam-node detection). The final rank is rounded to 8
    decimals: rank magnitudes are ~1/|V| and cross-engine float-sum
    ordering differs by ≲1e-15, so 1e-8 rounding makes a boundary flip
    (probability ~1e-6 per node) negligible while preserving 5
    significant digits."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    raw = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    # Adaptive cache widths: 3.25 → 1.90 s at sf0.1 (r10 A/B).
    with slot(spark, "pagerank", adaptive=True) as keep:
        # r7: the edge cache is hash-partitioned by src ONCE at setup —
        # the degree groupBy then reuses that partitioning exchange-free
        # (so the repartition largely pays for itself), and every round's
        # message join probes the cache with ZERO edge-side exchange or
        # sort (the one-time sortWithinPartitions below bakes the merge
        # ordering in).
        # r9: dedup AFTER the src repartition, not before symmetrize — a
        # hash(src) partitioning satisfies the distinct's clustered
        # distribution on (src, dst) (subset property), so the dedup runs
        # exchange-free above the one repartition the cache needs anyway.
        # The old pairs-level distinct paid its own full exchange on
        # (c, s) first: two corpus-sized exchanges where one suffices
        # (same 1,173,742-row edge set; measured 3.92 s → 2.03 s setup at
        # sf0.1, guide §2.4).
        edges = keep(_symmetrize(raw).repartition("src").distinct())
        deg = keep(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
        # r6/r8: the edge list CARRIES the destination's degree — a
        # ONE-TIME setup join through _attach_dst_deg (broadcast at fixture
        # scale; SPARK_GRAFT_SCALE_SETUP=1 executes the corpus-scale swap —
        # shuffle join on dst + repartition("src") — hash-identically).
        # Because the graph is symmetric, EVERY node receives mass, so
        # contrib covers the whole node relation and the old per-round
        # deg ⋈ contrib LEFT join (+ coalesce) was recomputing a fact the
        # aggregation already knows. (The oracle keeps the LEFT-join
        # formulation, so a node silently losing its mass would
        # hash-mismatch. A pairs-side degree derivation that skips the
        # edges persist entirely measured SLOWER — 1.57 vs 1.23 s setup —
        # so the join-back shape stays.)
        edges_dd = keep(_attach_dst_deg(edges, deg, ("src",)))

        # deg is keyed by src and every node of the symmetric graph has an
        # out-edge, so deg IS the node relation — deriving nodes/counts from
        # the cached degree table avoids a separate distinct-shuffle of the
        # edge list per iteration (measured 40% of the sf0.1 runtime).
        nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        # The rank vector CARRIES the node's degree and the corpus-size
        # scalar (a broadcast 1-row cross join — fully lazy, no collected
        # literal): the per-round message rank/outdeg is then a pure
        # projection of the vector, not a deg ⋈ ranks join per round.
        ranks = deg.crossJoin(F.broadcast(nn)).select(
            F.col("src").alias("node"),
            "deg",
            "n_nodes",
            (F.lit(1.0) / F.col("n_nodes")).alias("rank"),
        )
        for _ in range(PR_ITERS):
            # The per-round message value rank/outdeg projects off the
            # |V|-row vector and joins UNHINTED onto the pre-bucketed edge
            # cache: the edge side needs no exchange and no sort (the
            # cache carries hashpartitioning(src) + src ordering), so an
            # iteration moves only |V| message rows plus |V| contribution
            # sums — never the edges, and (r7) never a broadcast of the
            # rank vector, which is entity-population-sized and was the
            # one per-round relation this plan still shipped whole to
            # every executor (infeasible exactly when the corpus grows;
            # fair interleaved best-of-6 at sf0.1: 2.27 s vs the broadcast
            # form's 2.34 s — parity locally). The r6 note "AQE chose
            # sort-merge joins here: 2.3x slower" measured the UNBUCKETED
            # cache, where SMJ re-exchanged and re-sorted the edges every
            # round; with the partitioning baked into the cache that cost
            # is gone. n_nodes rides the message rows (a constant column)
            # so the round needs no nn re-broadcast.
            # The contribution aggregation groups by dst ALONE — its
            # output keeps hashpartitioning on the next round's join key,
            # so consecutive rounds co-partition end-to-end; dst_deg and
            # n_nodes are functionally dependent on dst, so max() is exact
            # (same partial-agg cost as first(), but deterministic even if
            # a future directed/asymmetric variant ever broke the
            # dependency — first() would then vary run to run silently,
            # max() stays a stable, oracle-catchable value).
            msg = ranks.select(
                F.col("node").alias("src"),
                (F.col("rank") / F.col("deg")).alias("rd"),
                "n_nodes",
            )
            # Persist the |V|-row rank vector per round: the next
            # round's message projects off it, and an unpersisted chain
            # re-inlines every prior round's contribution subtree at
            # ~2^r growth, leaning on ReuseExchange to dedupe at
            # runtime (fragile under AQE replanning). The vector is
            # node-count-sized — the same bounded per-round persist the
            # CC label loop uses; at real scale, checkpoint to cluster
            # storage to also truncate lineage.
            ranks = keep(
                edges_dd.join(msg, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(
                    F.sum("rd").alias("m"),
                    F.max("dst_deg").alias("deg"),
                    F.max("n_nodes").alias("n_nodes"),
                )
                .select(
                    "node",
                    "deg",
                    "n_nodes",
                    (
                        F.lit(1 - PR_DAMPING) / F.col("n_nodes")
                        + F.lit(PR_DAMPING) * F.col("m")
                    ).alias("rank"),
                )
            )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("kind"),
        F.expr("node div 2").alias("entity_id"),
        F.round("rank", 8).alias("pagerank"),
    )


#: Target average degree of the co-supply graph: the edge set is the
#: top TRI_DEG_TARGET·|V| supplier pairs by shared-order support (ties
#: at the boundary value included), i.e. avg degree ≈ 2·TRI_DEG_TARGET.
#: DENSITY-DERIVED, not a fixed support count: expected pairwise
#: support scales as |orders|·(items/order / |suppliers|)², so any
#: fixed threshold tuned at one SF is vacuous (or complete) at another
#: — the r06/r07 sweeps found exactly that (0 rows at sf0.1 under the
#: old `>= 30`). Rank-deriving the threshold keeps the graph sparse
#: and non-empty at EVERY corpus size: measured thr 156/31/7 and
#: edges 31/319/5704 at sf0.001/0.01/0.1. The threshold is defined as
#: the VALUE at rank TRI_DEG_TARGET·|V| (not the top-k row set), so it
#: is deterministic under ties in both engines.
TRI_DEG_TARGET = 3

_TRI_EDGES_SQL = f"""
pairs AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, a.l_orderkey
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
scored AS (
  SELECT s1, s2, COUNT(DISTINCT l_orderkey) AS n_shared
  FROM pairs GROUP BY s1, s2
),
kv AS (
  SELECT {TRI_DEG_TARGET} * COUNT(DISTINCT l_suppkey) AS k FROM lineitem
),
rk AS (
  SELECT n_shared, ROW_NUMBER() OVER (ORDER BY n_shared DESC) AS rn
  FROM scored
),
thr AS (SELECT MIN(n_shared) AS t FROM rk, kv WHERE rk.rn <= kv.k),
edges AS (SELECT s1, s2 FROM scored, thr WHERE n_shared >= thr.t)"""


def _ordered_pairs(col: str):
    """explode() of all ordered (s1 < s2) element pairs of a sorted
    distinct array column — the bounded pair fan-out every co-occurrence
    kernel in this module shares (fan-out ≤ C(|arr|, 2); the caller's
    group/cap bounds |arr|)."""
    return F.explode(
        F.expr(
            f"flatten(transform({col}, (x, i) -> transform("
            f"slice({col}, i + 2, size({col})), "
            "y -> struct(x AS s1, y AS s2))))"
        )
    )


def _co_supply_edges(spark: SparkSession, sf_dir: str, keep) -> DataFrame:
    """Thresholded supplier co-supply edge relation shared by the
    triangle / clustering-coefficient / label-propagation family —
    the Spark twin of ``_TRI_EDGES_SQL``.

    The unpersisted edges read ``scored``, which ``keep`` (the
    caller's slot scope) persists: it feeds both the threshold
    derivation and the final filter. The k-th-largest support
    value comes from ``orderBy(desc).limit(k).agg(min)`` — Spark plans
    a distributed top-k (per-partition TakeOrdered, k ints to one
    reducer), never a global sort of the pair relation; the oracle's
    ROW_NUMBER formulation computes the same value. |V| is a bounded
    1-row scalar action (the registry's bounded-scalar exception —
    ``limit`` needs a literal); at 100 TB k = TRI_DEG_TARGET·|V| ints
    is a few MB on the top-k reducer, and past
    spark.sql.execution.topKSortFallbackThreshold the planner falls
    back to a full sort — swap the exact rank for an approx_percentile
    support cut there if that ever bites."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"].select(
        "l_orderkey", "l_suppkey"
    )
    # r9: per-order supplier sets instead of the lineitem self-join —
    # the reco_item_lift r7 shape. ONE corpus exchange (the order
    # groupBy with per-order dedup INSIDE the aggregation) replaces the
    # self-join's two corpus exchanges, and because each order emits an
    # unordered supplier pair at most once by construction, the support
    # count is a plain COUNT — the old count_distinct(okey) expand pass
    # disappears. Pair fan-out stays bounded by (items/order choose 2),
    # the same cap argument as the basket join; at any corpus size the
    # exchange after the explode carries exactly the same pair rows the
    # self-join produced, minus the duplicate (s1, s2, okey) triples.
    # Interleaved control-normalized best-of-3 at sf0.1: triangle
    # 3.79 → 2.46, label-prop 5.86 → 5.07, clustering 5.87 → 5.44
    # (ratios to the q1 control; see OPTIMIZATION_r09.md).
    arrs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_suppkey"))).alias("ss")
    )
    scored = keep(
        arrs.select(_ordered_pairs("ss").alias("p"))
        .select("p.s1", "p.s2")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    k = int(
        li.agg(F.count_distinct("l_suppkey").alias("n")).first()["n"]
        * TRI_DEG_TARGET
    )
    thr = (
        scored.orderBy(F.col("n_shared").desc())
        .limit(k)
        .agg(F.min("n_shared").alias("t"))
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("n_shared") >= F.col("t"))
        .select("s1", "s2")
    )


@query(
    "graph_triangle_count",
    oracle=f"""
WITH {_TRI_EDGES_SQL.strip()},
tri AS (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM edges e1
  JOIN edges e2 ON e1.s2 = e2.s1
  JOIN edges e3 ON e1.s1 = e3.s1 AND e2.s2 = e3.s2
),
nodes AS (
  SELECT a AS node FROM tri UNION ALL
  SELECT b FROM tri UNION ALL
  SELECT c FROM tri
)
SELECT node AS suppkey, COUNT(*) AS n_triangles
FROM nodes GROUP BY node
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the supplier co-supply graph
    (edge set: the top TRI_DEG_TARGET·|V| supplier pairs by shared
    distinct orders — see _co_supply_edges for why the threshold is
    rank-derived from corpus density, not fixed) — the community/
    cohesion primitive behind clustering coefficients and fraud-ring
    detection. Edges are kept in canonical s1 < s2 orientation, so
    each triangle is enumerated exactly once as a < b < c via two
    ordered joins — the standard distributed formulation (cf. Suri &
    Vassilvitskii, WWW'11): orienting edges by node order (by degree,
    at scale, to bound the join fan-out) makes the intermediate wedge
    relation linear in the edge count rather than quadratic in degree.
    Every join is an equi-join keyed on node ids; the per-node rollup
    is one explode of the 3 corners. The rank threshold doubles as the
    degree bound the orientation trick wants: avg degree stays
    ≈ 2·TRI_DEG_TARGET at any corpus size."""
    # ONE shared slot for the co-supply family (tri/cc/lp): the three
    # queries persist plan-identical `scored`/`edges`, and CacheManager
    # has no refcounting — per-query slots let a sibling's release
    # evict entries this query still holds (ADVICE r08). Whichever
    # family member runs releases the previous member's relations and
    # owns the slot until the next family invocation.
    # Adaptive cache widths: best 1.93 → 1.60 s at sf0.1 (r10 A/B).
    with slot(spark, "co_supply", adaptive=True) as keep:
        edges = keep(_co_supply_edges(spark, sf_dir, keep))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.s2") == F.col("e2.s1"))
        .join(
            e3,
            (F.col("e1.s1") == F.col("e3.s1"))
            & (F.col("e2.s2") == F.col("e3.s2")),
        )
        .select(
            F.col("e1.s1").alias("a"),
            F.col("e1.s2").alias("b"),
            F.col("e2.s2").alias("c"),
        )
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("suppkey")
    )
    return corners.groupBy("suppkey").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


#: Customers linked to more suppliers than this are dropped before the
#: co-occurrence self-join (hub-node frequency cap).
JAC_HUB_CAP = 20

_JAC_KEPT_SQL = f"""
cs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
cdeg AS (SELECT c, COUNT(*) AS d FROM cs GROUP BY c),
kept AS (SELECT cs.c, cs.s FROM cs JOIN cdeg USING (c) WHERE d <= {JAC_HUB_CAP})"""


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
WITH {_JAC_KEPT_SQL.strip()},
deg AS (SELECT s, COUNT(*) AS ds FROM kept GROUP BY s),
shared AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_shared
  FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT sh.s1, sh.s2, sh.n_shared, d1.ds AS deg1, d2.ds AS deg2,
       round(sh.n_shared::DOUBLE / (d1.ds + d2.ds - sh.n_shared), 6)
         AS jaccard
FROM shared sh
JOIN deg d1 ON sh.s1 = d1.s
JOIN deg d2 ON sh.s2 = d2.s
""",
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity between suppliers sharing
    customers — the structural-equivalence primitive behind entity
    resolution, substitute detection, and link prediction
    (|N(a)∩N(b)| / |N(a)∪N(b)| over the bipartite
    customer↔supplier graph).

    Scale design: node similarity via co-occurrence pairing is
    quadratic in the DEGREE of each shared neighbor — one hub customer
    touching 10^5 suppliers alone contributes 10^10 pairs. The
    standard mitigation is applied BEFORE any pair forms: customers
    above a fixed degree cap are dropped (hubs carry near-zero
    similarity signal — their inclusion mostly adds noise floor; cf.
    the bands / blocks / cells that bound every dedup and ANN candidate
    join in this package). After the cap the pair stage is
    sum-of-squared-bounded-degrees, linear in the neighbor-list size;
    the pairs come from per-customer sorted supplier sets (ONE corpus
    exchange, dedup inside the aggregation — the r9 co-supply array
    shape) rather than a kept ⋈ kept self-join, and the Jaccard itself
    divides two identical integers — bit-deterministic cross-engine."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    # r9: per-customer supplier sets instead of distinct + degree join +
    # self-join (the co-supply array shape): ONE corpus exchange — the
    # customer groupBy with dedup inside the aggregation — where the
    # old plan paid a (c, s) distinct exchange, a degree join back, and
    # a double self-join exchange on c. The hub cap becomes a plain
    # size() filter on the array (identical kept set), and the ordered
    # pair fan-out stays bounded by C(cap, 2) per customer.
    # Memory bound (ADVICE r09): the size() filter runs AFTER
    # collect_list materializes each customer's full distinct supplier
    # set, so one aggregation buffer is O(that customer's degree) — the
    # old count-then-semi-join never buffered a hub's set. Degrees here
    # are ints bounded by |suppliers| (a few MB even for a
    # degenerate customer linked to every supplier), so the buffer is
    # not a failure mode at this schema's cardinalities; a corpus where
    # one group's distinct set itself approaches executor memory should
    # pre-drop hubs with a count-based semi-join BEFORE the collect.
    arrs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .groupBy("c")
        .agg(F.array_sort(F.array_distinct(F.collect_list("s"))).alias("ss"))
        .filter(F.size("ss") <= JAC_HUB_CAP)
    )
    deg = (
        arrs.select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("ds"))
    )
    shared = (
        arrs.select(_ordered_pairs("ss").alias("p"))
        .select("p.s1", "p.s2")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("ds").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("ds").alias("deg2"))
    # UNHINTED (r7): the degree table is entity-population-sized — a
    # pinned broadcast would ship |suppliers| rows to every executor
    # at corpus scale; AQE broadcasts it while small and shuffles the
    # (already larger) pair relation onto it when not.
    return (
        shared.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            "deg1",
            "deg2",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------

KC_K = 10  # minimum degree to stay in the core
KC_ROUNDS = 3  # fixed peel rounds (deterministic; fixpoint at small SF)

#: session id → persisted per-round relations (same cache discipline as
#: the PageRank loop above: release the PREVIOUS invocation's entries
#: before persisting plan-identical new ones).


def _kcore_oracle() -> str:
    """Unrolled KC_ROUNDS-round peeling as chained CTEs over the same
    customer–supplier bipartite graph PageRank uses."""
    head = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
e0 AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
)"""
    steps = []
    for r in range(KC_ROUNDS):
        steps.append(
            f""",
d{r} AS (SELECT src, COUNT(*) AS d FROM e{r} GROUP BY src),
k{r} AS (SELECT src FROM d{r} WHERE d >= {KC_K}),
e{r + 1} AS (
  SELECT e.src, e.dst FROM e{r} e
  JOIN k{r} a ON e.src = a.src
  JOIN k{r} b ON e.dst = b.src
)"""
        )
    tail = f"""
SELECT src AS node,
       CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       CAST(COUNT(*) AS BIGINT) AS degree
FROM e{KC_ROUNDS}
GROUP BY src
"""
    return head + "".join(steps) + tail


@query("graph_kcore_membership", oracle=_kcore_oracle())
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes of degree < k and the edges they carry — the standard
    community/anchor detection and graph-sparsification primitive
    (Seidman '83; the "dense core" that survives is what influence and
    robustness analyses run on). Fixed KC_ROUNDS rounds keep the plan
    deterministic; at these scale factors peeling reaches its fixpoint
    within the unrolled rounds, so the output IS the k-core.

    Scale shape per round: one partial-combined degree count on the
    current edge set, then two semi-joins restricting edges to
    surviving endpoints — the keep-set is |V|-sized (never the edge
    list), and each round's edge relation is persisted so lineage stays
    flat instead of growing ~2^r (the PageRank persist discipline,
    including the release-before-re-persist cache rule). At 100 TB the
    keep set hash-joins against edges partitioned on src/dst; no
    broadcast of scale-class relations is pinned. See kcore_peel for
    the measured rejection of the delta-decrement variant."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    raw = (
        t["lineitem"]
        .join(
            t["orders"],
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    # Static widths: adaptive ones ran 20-26% slower at sf0.1 (r10
    # A/B) — the early peel rounds do full-edge-set work that a
    # bytes-coalesced cache narrows to too few cores.
    with slot(spark, "kcore") as keep:
        # r9: one exchange builds the deduped symmetric edge cache — the
        # dedup runs exchange-free above the src repartition (subset
        # clustered distribution), replacing the old pairs-level distinct
        # that paid a second corpus exchange (the PageRank r9 setup shape);
        # hash(src) in the cache also makes round 1's degree count and
        # src-side semi-join co-partitioned for free.
        e0 = _symmetrize(raw).repartition("src").distinct()
        surv = kcore_peel(e0, KC_K, KC_ROUNDS, keep)
    return surv.select(
        F.col("src").alias("node"),
        F.when(F.col("src") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.col("d").cast("long").alias("degree"),
    )


def kcore_peel(e: DataFrame, k: int, rounds: int, keep) -> DataFrame:
    """Synchronous k-core peeling over a symmetric (src, dst) edge
    relation: ``rounds`` rounds of "remove every node whose current
    degree < k"; returns the surviving (src, d) degree relation (d =
    degree over the surviving edge set). The per-round relations
    persist through ``keep``, the caller's slot scope.

    Shape: per round one partial-combined degree count over the CURRENT
    (shrinking) edge set and two semi-joins restricting edges to
    surviving endpoints; every per-round relation persisted so lineage
    stays flat (~2^r otherwise). An r7 delta-decrement variant (full
    degree count once, then per-round decrements from an
    e_full ⋈ removed semi-join) was built, property-tested equivalent,
    and REJECTED on a clean-box interleaved A/B: recount best-of-5
    1.57 s vs delta 2.26 s at sf0.1. The reason generalizes to 100 TB:
    k-core peeling on heavy-tailed transaction graphs removes MOST
    nodes in round 1 (here |e_2| ≪ |e_1|), so later recount rounds scan
    a tiny relation while the delta form re-scans the FULL cached edge
    list every round for its decrement join — delta peeling only wins
    when removals per round are sparse. (An earlier same-session A/B on
    a load-inflated box had favored delta 1.97 vs 2.47; the clean-box
    interleaved measurement reverses it — adopt/reject calls need the
    interleaved clean-box protocol.) Equivalence against a brute-force
    recount reference stays property-tested over random graphs,
    including non-fixpoint peels (tests/test_properties.py)."""
    e = keep(e)
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        alive = keep(deg.filter(F.col("d") >= k).select("src"))
        e = keep(
            e.join(alive, "src", "semi")
            .join(alive.withColumnRenamed("src", "dst"), "dst", "semi")
            .select("src", "dst")
        )
    return e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))


#: HITS fixed iteration count (each iteration = one authority update +
#: one hub update, both L1-normalized).
HITS_ITERS = 2

#: session id → persisted relations of the latest HITS invocation
#: (pairs plus per-round score vectors; PageRank cache discipline).


def _hits_oracle() -> str:
    """Unrolled HITS_ITERS-iteration HITS as chained CTEs. The graph is
    the DIRECTED customer→supplier order relation (hub side: customers,
    authority side: suppliers); every score vector is L1-normalized so
    the magnitudes stay O(1/|V|) and the two engines agree to ~1e-15
    before the final 1e-8 rounding."""
    head = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
h0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS hub FROM pairs)"""
    steps = []
    for i in range(1, HITS_ITERS + 1):
        steps.append(f""",
a{i}r AS (
  SELECT p.s, SUM(h.hub) AS v
  FROM pairs p JOIN h{i - 1} h ON p.c = h.c
  GROUP BY p.s
),
a{i} AS (SELECT s, v / (SELECT SUM(v) FROM a{i}r) AS auth FROM a{i}r),
h{i}r AS (
  SELECT p.c, SUM(a.auth) AS v
  FROM pairs p JOIN a{i} a ON p.s = a.s
  GROUP BY p.c
),
h{i} AS (SELECT c, v / (SELECT SUM(v) FROM h{i}r) AS hub FROM h{i}r)"""
        )
    tail = f"""
SELECT 'supplier' AS kind, s AS entity_id, round(auth, 8) AS score
FROM a{HITS_ITERS}
UNION ALL
SELECT 'customer' AS kind, c AS entity_id, round(hub, 8) AS score
FROM h{HITS_ITERS}
"""
    return head + "".join(steps) + tail


@query("graph_hits_scores", oracle=_hits_oracle())
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg '99) over the directed customer→supplier order
    graph: customers score as HUBS (they point at many good suppliers),
    suppliers as AUTHORITIES (they are pointed at by many good hubs) —
    the complementary centrality to PageRank's single scalar, used for
    marketplace buyer/seller quality and link-spam analysis. Each of
    the HITS_ITERS fixed iterations is one partial-combined SUM keyed
    on the receiving side; the L1 normalizer is a 1-row aggregate that
    rides along as a broadcast cross join (no collected literal), so an
    iteration never shuffles the edge relation — only the |V|-row score
    vectors move. Scores are L1-normalized each half-step (the standard
    formulation; keeps magnitudes O(1/|V|)) and rounded to 8 decimals
    at the end under the same cross-engine float-sum argument as
    graph_pagerank_bipartite."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    pairs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # Adaptive cache widths: 5.86 → 3.09 s at sf0.1 (r10 A/B).
    with slot(spark, "hits", adaptive=True) as keep:
        pairs = keep(pairs)
        hub = pairs.select("c").distinct().select("c", F.lit(1.0).alias("hub"))
        auth = None
        for _ in range(HITS_ITERS):
            a_raw = (
                pairs.join(hub, "c")
                .groupBy("s")
                .agg(F.sum("hub").alias("v"))
            )
            a_tot = a_raw.agg(F.sum("v").alias("tot"))
            auth = keep(
                a_raw.crossJoin(F.broadcast(a_tot))
                .select("s", (F.col("v") / F.col("tot")).alias("auth"))
            )
            h_raw = (
                pairs.join(auth, "s")
                .groupBy("c")
                .agg(F.sum("auth").alias("v"))
            )
            h_tot = h_raw.agg(F.sum("v").alias("tot"))
            hub = keep(
                h_raw.crossJoin(F.broadcast(h_tot))
                .select("c", (F.col("v") / F.col("tot")).alias("hub"))
            )
    return (
        auth.select(
            F.lit("supplier").alias("kind"),
            F.col("s").alias("entity_id"),
            F.round("auth", 8).alias("score"),
        ).unionAll(
            hub.select(
                F.lit("customer").alias("kind"),
                F.col("c").alias("entity_id"),
                F.round("hub", 8).alias("score"),
            )
        )
    )


#: BFS seed predicate modulus (customers with c_custkey % BFS_SEED_MOD
#: == 0 are the hop-0 sources) and bounded frontier depth.
BFS_SEED_MOD = 997
BFS_MAX_HOPS = 3

#: session id → persisted frontier/visited relations (PageRank cache
#: discipline).


def _bfs_oracle() -> str:
    """Unrolled bounded multi-source BFS as chained CTEs over the
    symmetric customer↔supplier graph (node encoding matches PageRank:
    customers even, suppliers odd)."""
    head = f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
v0 AS (
  SELECT c_custkey * 2 AS node, 0 AS hop
  FROM customer WHERE c_custkey % {BFS_SEED_MOD} = 0
)"""
    steps = []
    for i in range(1, BFS_MAX_HOPS + 1):
        steps.append(f""",
f{i} AS (
  SELECT DISTINCT e.dst AS node
  FROM edges e JOIN v{i - 1} v ON e.src = v.node AND v.hop = {i - 1}
),
v{i} AS (
  SELECT node, hop FROM v{i - 1}
  UNION ALL
  SELECT f.node, {i} AS hop FROM f{i} f
  WHERE f.node NOT IN (SELECT node FROM v{i - 1})
)"""
        )
    tail = f"""
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       CAST(hop AS INTEGER) AS hop
FROM v{BFS_MAX_HOPS}
"""
    return head + "".join(steps) + tail


@query("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS: shortest hop distance (≤ BFS_MAX_HOPS)
    from a deterministic seed set of customers to every reachable node
    of the symmetric customer↔supplier graph — the reachability /
    blast-radius primitive (fraud propagation, recall expansion,
    influence frontiers). This is Pregel-style frontier expansion on a
    shuffle engine: each round joins the CURRENT frontier (|frontier|
    rows, never the visited set) against the persisted edge list, then
    anti-joins the visited relation to keep first-discovery hops only.
    Both per-round relations are node-count-bounded and persisted under
    the release-before-re-persist cache rule, so lineage stays flat.
    At 100 TB the frontier⋈edges join is keyed on node id and the
    visited anti-join on the same key — a cluster co-partitions all
    rounds on one exchange."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "customer"))
    pairs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    # Adaptive cache widths: median −23% at sf0.1 (r10 A/B).
    with slot(spark, "bfs", adaptive=True) as keep:
        # r9: one-exchange edge cache (the PageRank r9 setup shape) — the
        # dedup runs exchange-free above the src repartition, and hash(src)
        # in the cache co-partitions every round's frontier⋈edges join.
        edges = keep(_symmetrize(pairs).repartition("src").distinct())
        seeds = (
            t["customer"]
            .filter(F.col("c_custkey") % BFS_SEED_MOD == 0)
            .select((F.col("c_custkey") * 2).alias("node"))
        )
        visited = keep(seeds.select("node", F.lit(0).alias("hop")))
        frontier = visited.select("node")
        for i in range(1, BFS_MAX_HOPS + 1):
            reached = (
                edges.join(frontier.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
            )
            fresh = reached.join(visited.select("node"), "node", "anti").select(
                "node", F.lit(i).alias("hop")
            )
            visited = keep(visited.unionAll(fresh))
            frontier = visited.filter(F.col("hop") == i).select("node")
    return visited.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        F.col("hop").cast("int").alias("hop"),
    )


#: Random-walk length (steps beyond the start node); one walk per node.
RW_STEPS = 3

#: session id → persisted (nbr, deg) relations of the latest walk
#: invocation (PageRank cache discipline).

#: session id → persisted (edges, tri) of the latest clustering-
#: coefficient invocation (same one-slot release-then-replace rule).


def _rw_oracle() -> str:
    """Unrolled RW_STEPS-step deterministic random walks as chained
    CTEs over the symmetric customer↔supplier graph (PageRank node
    encoding). Step t from node u moves to the md5-chosen neighbor
    ``rank[(hash('rw', walk_id, t)) % deg(u)]``."""
    head = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
nbr AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
  FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
w0 AS (SELECT src AS walk_id, src AS node FROM deg)"""
    steps = []
    for t in range(1, RW_STEPS + 1):
        steps.append(f""",
w{t} AS (
  SELECT w.walk_id, n.dst AS node
  FROM w{t - 1} w
  JOIN deg d ON w.node = d.src
  JOIN nbr n ON n.src = w.node
   AND n.idx = ('0x' || substr(md5('rw' || w.walk_id || ':' || {t}), 1, 15))::BIGINT % d.deg
)""")
    tails = [
        f"SELECT walk_id, {t} AS step, node FROM w{t}"
        for t in range(RW_STEPS + 1)
    ]
    return (
        head
        + "".join(steps)
        + "\nSELECT walk_id, CAST(step AS INT) AS step, node FROM ("
        + " UNION ALL ".join(tails)
        + ") u\n"
    )


@query("graph_random_walks", oracle=_rw_oracle())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus generation (DeepWalk/node2vec's
    sampling stage): one RW_STEPS-step walk per node over the
    symmetric customer↔supplier graph, each step choosing the
    md5-indexed neighbor ``rank[hash(walk, step) % degree]`` — the
    graph → sequence transform that feeds skip-gram embedding
    training, made reproducible the same way the curation family's
    sampling is (hash coins, no RNG state; re-runs and both engines
    derive identical walks).

    Scale shape (r7): the ranked-neighbor cache is persisted carrying
    the window's OWN hashpartitioning(src) — a subset of the step-join
    keys, which co-partitions the join once
    ``requireAllClusterKeysForCoPartition=false`` (session.py) lets
    Spark reuse subset partitionings — plus a one-time no-op
    sortWithinPartitions to make the (src, dst) ordering symbolically
    (src, idx). Each step then exchanges ONLY the |V|-row frontier;
    the |E|-row side is never re-shuffled, re-sorted, or broadcast.
    The step join is deliberately UNHINTED: at fixture scale AQE
    broadcasts the small frontier (measured parity with the old
    explicit-broadcast shape, 2.25 vs 2.33 s interleaved best-of-6 at
    sf0.1); at corpus scale the frontier is entity-population-sized
    (one walk per node) and an explicit ``F.broadcast`` would ship
    |V| rows to every executor — the one plan in this family that
    CANNOT run at 100 TB — so AQE's size-gated fallback to a
    co-partitioned merge join is the scale path, not a regression.
    Never a degree-fan-out explode, never a collect; walk state stays
    one row per walk — Pregel's compute shape (cf. graph_bfs_hops)."""
    from etl_pipeline_sam_gov_spark.operators.dedup import _spark_hash60

    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    raw = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    # Adaptive cache widths: 2.56 → 1.68 s at sf0.1 (r10 A/B).
    with slot(spark, "rw", adaptive=True) as keep:
        # r8 persisted the shared setup relation (deg and the ranked
        # neighbor window are SEPARATE consumers; unpersisted, each re-ran
        # the lineitem ⋈ orders derivation — 2.35 s → 1.83 s interleaved).
        # r9 moves the cache boundary to the SYMMETRIC DEDUPED edge list
        # built with ONE exchange: dedup runs exchange-free above the src
        # repartition (hash(src) satisfies the distinct's clustered
        # distribution on (src, dst) — the PageRank r9 setup shape), and
        # because the cache now carries hashpartitioning(src), the ranked-
        # neighbor window sorts IN PLACE with zero exchange where the old
        # pairs-level cache paid a full (c, s) distinct exchange plus a
        # second 2|P|-row window exchange. The cache is |E| rows of two
        # bigints — same bounded setup-cache class, MEMORY_AND_DISK at
        # scale.
        edges = keep(_symmetrize(raw).repartition("src").distinct())
        # The ranked neighbor list and degree table are derived once and
        # persisted (release-before-re-persist cache rule) — every step
        # and every union branch of the output re-reads them instead of
        # re-deriving the edge relation (measured 4.2 s → ~1 s at sf0.1:
        # the unpersisted form re-ran the lineitem⋈orders distinct ~8×).
        # idx is cast to bigint AT CONSTRUCTION: pick_idx below is bigint
        # (hash60 % deg), and a cast(idx) inside the step-join keys would
        # defeat both partitioning and ordering reuse of the cache (the
        # planner compares key expressions symbolically — measured: the
        # int-idx form re-exchanged the |E| side every step).
        nbr = edges.select(
            "src",
            "dst",
            (F.row_number().over(W.partitionBy("src").orderBy("dst")) - 1)
            .cast("bigint")
            .alias("idx"),
        )
        deg = keep(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
        # r6: the ranked-neighbor relation CARRIES the destination's degree
        # (one setup join, cached) and the walk state carries the current
        # node's degree forward — a step then computes its pick index by
        # pure projection instead of a cur ⋈ deg join (the PageRank
        # degree-carrying move: 3 fewer |V|-keyed joins per query; measured
        # time-parity at sf0.1 where those joins are stage-latency-bound,
        # adopted for the at-scale shape).
        # INNER join is safe only because _symmetrize guarantees no sinks
        # (every dst also appears as a src, so every dst has an out-degree
        # row). On a DIRECTED edge relation this join would silently drop
        # edges into sinks and a walk stepping there would vanish one step
        # early; reuse on directed edges must left-join with dst_deg
        # defaulted to 0 and terminate the walk explicitly.
        # r7: the cache keeps the window's hashpartitioning(src) — NO
        # repartition (an explicit (src, idx) exchange measured +0.9 s of
        # pure setup cost for nothing: hash(src) is a subset of the step
        # keys and co-partitions the join under
        # requireAllClusterKeysForCoPartition=false) — plus a one-time
        # in-partition sort that renames the already-(src, dst)-ordered
        # rows to the symbolically-(src, idx) ordering the step merge join
        # asks for. InMemoryTableScan preserves both properties, so every
        # step probes the cache with zero exchange and zero sort on the
        # |E| side.
        # The |V|-row deg join is a ONE-TIME setup join that also PRESERVES
        # the window's hash(src) layout into the cache — _attach_dst_deg
        # (broadcast at fixture scale; SPARK_GRAFT_SCALE_SETUP=1 executes
        # the corpus-scale swap: shuffle join on dst + repartition("src"),
        # hash-identical output — a bare unhint would lose the layout the
        # steps reuse).
        nbr_dd = keep(_attach_dst_deg(nbr, deg, ("src", "idx")))
        cur = deg.select(
            F.col("src").alias("walk_id"), F.col("src").alias("node"), "deg"
        )
        out = cur.select("walk_id", F.lit(0).cast("int").alias("step"), "node")
        for step in range(1, RW_STEPS + 1):
            pick = _spark_hash60(
                F.concat(
                    F.lit("rw"),
                    F.col("walk_id").cast("string"),
                    F.lit(":"),
                    F.lit(step).cast("string"),
                )
            ) % F.col("deg")
            picked = cur.select("walk_id", "node", pick.alias("pick_idx"))
            # UNHINTED join, deliberately (see docstring): AQE broadcasts
            # the |V|-row frontier while it is small (fixture scale —
            # measured parity with the old explicit F.broadcast, 2.25 vs
            # 2.33 s) and falls back to a merge join onto the cache's
            # reused partitioning when it is not — only the frontier is
            # ever exchanged; the |E| side is never re-shuffled per step
            # (the r3 "per-step shuffle of nbr ~1 s/step" regression
            # re-shuffled the WRONG side).
            # Persist each |V|-row frontier: the output unions every
            # step's frontier, and step t's lineage contains steps
            # 1..t-1 — unpersisted, the union re-executes the chain
            # O(steps²) times (the PageRank rank-vector rule).
            cur = keep(
                nbr_dd.join(
                    picked,
                    (F.col("node") == nbr_dd["src"])
                    & (F.col("pick_idx") == nbr_dd["idx"]),
                ).select(
                    "walk_id",
                    nbr_dd["dst"].alias("node"),
                    nbr_dd["dst_deg"].alias("deg"),
                )
            )
            out = out.union(
                cur.select("walk_id", F.lit(step).cast("int").alias("step"), "node")
            )
    return out


@query(
    "graph_modularity_nations",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
lab AS (
  SELECT p.c, p.s, cu.c_nationkey AS nc, su.s_nationkey AS ns
  FROM pairs p
  JOIN customer cu ON cu.c_custkey = p.c
  JOIN supplier su ON su.s_suppkey = p.s
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab),
e_in AS (
  SELECT nc AS nation, CAST(COUNT(*) AS BIGINT) AS e_c
  FROM lab WHERE nc = ns GROUP BY nc
),
degs AS (
  SELECT nation, CAST(SUM(d) AS BIGINT) AS d_c FROM (
    SELECT nc AS nation, COUNT(*) AS d FROM lab GROUP BY nc
    UNION ALL
    SELECT ns AS nation, COUNT(*) AS d FROM lab GROUP BY ns
  ) u GROUP BY nation
),
contrib AS (
  SELECT d.nation, COALESCE(e.e_c, 0) AS e_c, d.d_c,
         CAST(COALESCE(e.e_c, 0) AS DOUBLE) / m.m
           - (CAST(d.d_c AS DOUBLE) / (2 * m.m))
             * (CAST(d.d_c AS DOUBLE) / (2 * m.m)) AS q_c
  FROM degs d LEFT JOIN e_in e ON d.nation = e.nation CROSS JOIN m
),
qtot AS (SELECT SUM(q_c) AS q FROM contrib)
SELECT CAST(c.nation AS INT) AS nation, c.e_c, c.d_c,
       round(c.q_c, 6) + 0.0 AS q_contrib,
       round(t.q, 6) + 0.0 AS modularity
FROM contrib c CROSS JOIN qtot t
""",
)
def graph_modularity_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the nation partition over the directed
    customer→supplier transaction graph: Q = Σ_c (e_c/m − (d_c/2m)²)
    — the community-quality objective every Louvain/Leiden step
    optimizes, here as the EVALUATION readout for a given labeling
    (do trade edges stay inside nations more than a degree-preserving
    random graph predicts?). Emits each nation's within-community edge
    count, degree mass, and modularity contribution plus the global Q
    riding along (broadcast 1-row cross join).

    Scale shape: edges label by two key-projected dims (customer and
    supplier nation maps — no pinned hint: AQE broadcasts them when
    they fit, shuffles when they don't, per the hint policy for
    scale-class tables); e_c and d_c are partial-combined counts on
    the |nations|-bounded relation; every emitted double is one or two
    divisions of exact int64 counts (identical operand order both
    engines) rounded at the end. Nothing iterates — evaluating Q is
    one pass, which is why in-warehouse community INDUCTION loops this
    exact computation."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "supplier")
    )
    pairs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    lab = (
        pairs.join(
            t["customer"].select(
                F.col("c_custkey").alias("c"),
                F.col("c_nationkey").alias("nc"),
            ),
            "c",
        )
        .join(
            t["supplier"].select(
                F.col("s_suppkey").alias("s"),
                F.col("s_nationkey").alias("ns"),
            ),
            "s",
        )
    )
    m = lab.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    e_in = (
        lab.filter(F.col("nc") == F.col("ns"))
        .groupBy(F.col("nc").alias("nation"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    degs = (
        lab.groupBy(F.col("nc").alias("nation"))
        .agg(F.count(F.lit(1)).alias("d"))
        .unionAll(
            lab.groupBy(F.col("ns").alias("nation")).agg(
                F.count(F.lit(1)).alias("d")
            )
        )
        .groupBy("nation")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    half = F.col("d_c").cast("double") / (2 * F.col("m"))
    contrib = (
        degs.join(e_in, "nation", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "nation",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("e_c"),
            "d_c",
            (
                F.coalesce(F.col("e_c"), F.lit(0)).cast("double")
                / F.col("m")
                - half * half
            ).alias("q_c"),
        )
    )
    qtot = contrib.agg(F.sum("q_c").alias("q"))
    return contrib.crossJoin(F.broadcast(qtot)).select(
        F.col("nation").cast("int").alias("nation"),
        "e_c",
        "d_c",
        (F.round("q_c", 6) + F.lit(0.0)).alias("q_contrib"),
        (F.round("q", 6) + F.lit(0.0)).alias("modularity"),
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
WITH {_TRI_EDGES_SQL.strip()},
tri AS (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM edges e1
  JOIN edges e2 ON e1.s2 = e2.s1
  JOIN edges e3 ON e1.s1 = e3.s1 AND e2.s2 = e3.s2
),
und AS (
  SELECT s1 AS node FROM edges UNION ALL SELECT s2 FROM edges
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY node),
tric AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS node FROM tri UNION ALL
    SELECT b FROM tri UNION ALL
    SELECT c FROM tri
  ) corners GROUP BY node
),
pern AS (
  SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
         CASE WHEN d.deg < 2 THEN 0.0
              ELSE round(2.0 * COALESCE(t.n_tri, 0)
                         / (d.deg * (d.deg - 1)), 6) END AS local_cc
  FROM deg d LEFT JOIN tric t ON d.node = t.node
),
gstats AS (
  SELECT CASE WHEN SUM(deg * (deg - 1)) = 0 THEN 0.0
              ELSE round(3.0 * (SELECT COUNT(*) FROM tri)
                         / (SUM(deg * (deg - 1)) / 2.0), 6) END AS transitivity
  FROM deg
)
SELECT p.node AS suppkey, p.deg, p.n_tri, p.local_cc + 0.0 AS local_cc,
       g.transitivity + 0.0 AS transitivity
FROM pern p CROSS JOIN gstats g
""",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per supplier over the co-supply
    graph (same thresholded edge set as graph_triangle_count):
    cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — the cohesion readout that
    separates hub-of-a-clique from hub-of-a-star, feeding ego-network
    features and fraud-ring triage; the graph-level transitivity
    (3·triangles / wedges) rides along so one scan yields both the
    per-node and whole-graph signal.

    Scale shape: triangles come from the ordered a<b<c two-join
    enumeration (linear in wedges, cf. graph_triangle_count); degrees
    are one partial-combined count over the symmetrized edge ends;
    the division happens on exact int64 counts so both engines emit
    identical doubles, rounded once at the end. The 1-row transitivity
    scalar rides a broadcast cross join — never a collect. Edge set =
    the density-derived top-3·|V| co-supply pairs (_co_supply_edges)."""
    # Shared "co_supply" slot: see graph_triangle_count.
    # Adaptive cache widths: 2.78 → 2.21 s at sf0.1 (r10 A/B).
    with slot(spark, "co_supply", adaptive=True) as keep:
        # Referenced by three self-join aliases, the degree count, AND
        # the triangle total — persist so the lineitem self-join +
        # distinct-count edge derivation runs once, not five times.
        edges = keep(_co_supply_edges(spark, sf_dir, keep))
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri = keep(
            e1.join(e2, F.col("e1.s2") == F.col("e2.s1"))
            .join(
                e3,
                (F.col("e1.s1") == F.col("e3.s1"))
                & (F.col("e2.s2") == F.col("e3.s2")),
            )
            .select(
                F.col("e1.s1").alias("a"),
                F.col("e1.s2").alias("b"),
                F.col("e2.s2").alias("c"),
            )
        )
    deg = (
        edges.select(F.col("s1").alias("node"))
        .unionAll(edges.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    tric = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    d, t = F.col("deg"), F.col("n_tri")
    pern = deg.join(tric, "node", "left").select(
        "node",
        "deg",
        F.coalesce(t, F.lit(0)).cast("bigint").alias("n_tri"),
        F.when(d < 2, F.lit(0.0))
        .otherwise(
            F.round(2.0 * F.coalesce(t, F.lit(0)) / (d * (d - 1)), 6)
        )
        .alias("local_cc"),
    )
    n_tri_total = tri.agg(F.count(F.lit(1)).alias("nt3"))
    wedges = deg.agg(F.sum(d * (d - 1)).alias("w2"))
    glob = (
        n_tri_total.crossJoin(wedges)
        .select(
            F.when(F.col("w2") == 0, F.lit(0.0))
            .otherwise(
                F.round(3.0 * F.col("nt3") / (F.col("w2") / 2.0), 6)
            )
            .alias("transitivity")
        )
    )
    return pern.crossJoin(F.broadcast(glob)).select(
        F.col("node").alias("suppkey"),
        "deg",
        "n_tri",
        (F.col("local_cc") + F.lit(0.0)).alias("local_cc"),
        (F.col("transitivity") + F.lit(0.0)).alias("transitivity"),
    )


# ---------------------------------------------------------------------------
# Label propagation community detection (fixed synchronous rounds)
# ---------------------------------------------------------------------------

#: Synchronous label-propagation rounds (fixed, oracle-unrollable).
LP_ROUNDS = 2

#: session id → persisted relations of the latest LP invocation.


def _lp_oracle() -> str:
    """LP_ROUNDS rounds of synchronous majority-label propagation over
    the symmetrized co-supply edge set, unrolled as chained CTEs.
    Update rule: new label = most frequent neighbor label, ties to the
    SMALLEST label — fully deterministic, no random tie-breaking."""
    head = f"""
WITH {_TRI_EDGES_SQL.strip()},
sym AS (
  SELECT s1 AS src, s2 AS dst FROM edges
  UNION ALL
  SELECT s2 AS src, s1 AS dst FROM edges
),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym)"""
    steps = []
    for r in range(1, LP_ROUNDS + 1):
        steps.append(f""",
m{r} AS (
  SELECT e.dst AS node, l.lab, COUNT(*) AS cnt
  FROM sym e JOIN l{r - 1} l ON e.src = l.node
  GROUP BY e.dst, l.lab
),
p{r} AS (
  SELECT node, lab,
         row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
  FROM m{r}
),
l{r} AS (SELECT node, lab FROM p{r} WHERE rn = 1)""")
    tail = f"""
SELECT l.node AS suppkey, l.lab AS community,
       CAST(COUNT(*) OVER (PARTITION BY l.lab) AS BIGINT) AS community_size
FROM l{LP_ROUNDS} l
"""
    return head + "".join(steps) + tail


@query("graph_label_propagation", oracle=_lp_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan et al. 2007) over the supplier co-supply graph: every
    node starts as its own community and repeatedly adopts its
    neighborhood's majority label (ties to the smallest label id) —
    the near-linear-time community algorithm warehouses actually run
    when Louvain's sequential modularity sweeps don't parallelize.
    Fixed LP_ROUNDS keeps the cost bounded and the semantics
    deterministic (run-to-convergence LPA is order-sensitive; the
    synchronous fixed-round variant is reproducible by construction).

    Scale shape (r7): the thresholded edge relation is persisted
    hash-partitioned by src once; each round's equi-join with the
    |V|-row label vector is UNHINTED — AQE broadcasts the labels while
    small and falls back to the co-partitioned merge join when the
    community vector grows with the supplier population (the old
    explicit broadcast shipped it whole regardless) — plus a
    partial-combined (node, lab) count and a per-node argmax window
    keyed on the same exchange. Per-round label vectors persist to
    stop lineage blowup (the PageRank rank-vector rule)."""
    # Shared family slot — see graph_triangle_count for why tri/cc/lp
    # share one key (plan-identical scored/edges, no CacheManager
    # refcounting).
    # Adaptive cache widths: 0.634 / 0.775 time ratios at sf0.1 (r10 A/Bs).
    with slot(spark, "co_supply", adaptive=True) as keep:
        edges = _co_supply_edges(spark, sf_dir, keep)
        sym = keep(
            edges.select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
            .unionAll(edges.select(F.col("s2").alias("src"), F.col("s1").alias("dst")))
            .repartition("src")
            .sortWithinPartitions("src")
        )
        labels = sym.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("lab")
        )
        for _ in range(LP_ROUNDS):
            # r10 (VERDICT r09 #1): one exchange per round instead of two.
            # The old shape exchanged on (node, lab) for the count, then
            # again on (node) for the argmax window — Sort +
            # WindowGroupLimit on BOTH sides of that second exchange
            # (plans/r10/graph_label_propagation_before.txt). Repartitioning
            # the messages on node FIRST satisfies the groupBy(node, lab)
            # clustering (subset property) AND the window's
            # partitionBy(node), so the count aggregates and the argmax
            # ranks on the same single hash(node) exchange with one sort.
            # (A max-over-struct(cnt, -lab) aggregation was A/B'd too: it
            # falls back to SortAggregate — ordered-struct max has no hash
            # buffer — and lost by ~45%.)
            msgs = (
                sym.join(
                    labels.select(F.col("node").alias("src"), "lab"),
                    "src",
                )
                .select(F.col("dst").alias("node"), "lab")
                .repartition("node")
                .groupBy("node", "lab")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            rn = F.row_number().over(
                W.partitionBy("node").orderBy(F.desc("cnt"), F.asc("lab"))
            )
            labels = keep(
                msgs.withColumn("rn", rn).filter(F.col("rn") == 1).select("node", "lab")
            )
    return labels.select(
        F.col("node").alias("suppkey"),
        F.col("lab").alias("community"),
        F.count(F.lit(1))
        .over(W.partitionBy("lab"))
        .cast("bigint")
        .alias("community_size"),
    )


# ---------------------------------------------------------------------------
# Conductance of each nation community over the transaction graph
# ---------------------------------------------------------------------------


@query(
    "graph_conductance_nations",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
lab AS (
  SELECT p.c, p.s, cu.c_nationkey AS nc, su.s_nationkey AS ns
  FROM pairs p
  JOIN customer cu ON cu.c_custkey = p.c
  JOIN supplier su ON su.s_suppkey = p.s
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lab),
cuts AS (
  SELECT nation, CAST(SUM(cut) AS BIGINT) AS cut_c,
         CAST(COUNT(*) AS BIGINT) AS vol_touch
  FROM (
    SELECT nc AS nation, CASE WHEN ns <> nc THEN 1 ELSE 0 END AS cut FROM lab
    UNION ALL
    SELECT ns AS nation, CASE WHEN nc <> ns THEN 1 ELSE 0 END AS cut FROM lab
  ) u GROUP BY nation
)
SELECT CAST(nation AS INT) AS nation,
       cut_c AS cut_edges,
       vol_touch AS volume,
       CAST(2 * m.m - vol_touch AS BIGINT) AS volume_rest,
       round(CAST(cut_c AS DOUBLE)
             / least(vol_touch, 2 * m.m - vol_touch), 6) + 0.0
         AS conductance
FROM cuts CROSS JOIN m
""",
)
def graph_conductance_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance φ(c) = cut(c) / min(vol(c), vol(rest)) of each
    nation community over the customer–supplier transaction graph —
    the bottleneck measure partition evaluators report next to
    modularity (graph_modularity_nations): low conductance means a
    community's trade stays internal; high means the "community" is
    mostly a thoroughfare. A cross-nation edge touches exactly two
    DIFFERENT nations (its customer's and its supplier's), so summing
    each nation's cross-edge endpoint touches counts every cut edge
    exactly once per community — the touch sum IS the cut, no halving
    (halving would be right only for touches pooled across all
    communities, where each cut edge appears twice).

    Scale shape: identical to the modularity readout — one distinct
    edge projection, two unpinned dim joins (AQE picks broadcast),
    endpoint-touch counts partial-combine onto the |nations|-bounded
    relation, the global volume rides a broadcast 1-row cross join,
    and the only float op is the final division of two int64s."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "supplier")
    )
    pairs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    lab = (
        pairs.join(
            t["customer"].select(
                F.col("c_custkey").alias("c"), F.col("c_nationkey").alias("nc")
            ),
            "c",
        )
        .join(
            t["supplier"].select(
                F.col("s_suppkey").alias("s"), F.col("s_nationkey").alias("ns")
            ),
            "s",
        )
    )
    m = lab.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    touches = lab.select(
        F.col("nc").alias("nation"),
        F.when(F.col("ns") != F.col("nc"), 1).otherwise(0).alias("cut"),
    ).unionAll(
        lab.select(
            F.col("ns").alias("nation"),
            F.when(F.col("nc") != F.col("ns"), 1).otherwise(0).alias("cut"),
        )
    )
    cuts = touches.groupBy("nation").agg(
        F.sum("cut").cast("bigint").alias("cut_c"),
        F.count(F.lit(1)).cast("bigint").alias("vol_touch"),
    )
    rest = 2 * F.col("m") - F.col("vol_touch")
    return cuts.crossJoin(F.broadcast(m)).select(
        F.col("nation").cast("int").alias("nation"),
        F.col("cut_c").alias("cut_edges"),
        F.col("vol_touch").alias("volume"),
        rest.cast("bigint").alias("volume_rest"),
        (
            F.round(
                F.col("cut_c").cast("double")
                / F.least(F.col("vol_touch"), rest),
                6,
            )
            + F.lit(0.0)
        ).alias("conductance"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the transaction graph (Newman's r)
# ---------------------------------------------------------------------------


@query(
    "graph_degree_assortativity",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
je AS (
  SELECT ds.d AS j, dd.d AS k
  FROM edges e JOIN deg ds ON ds.node = e.src JOIN deg dd ON dd.node = e.dst
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(j * k) AS BIGINT) AS s_jk,
         CAST(SUM(j + k) AS BIGINT) AS s_sum,
         CAST(SUM(j * j + k * k) AS BIGINT) AS s_sq
  FROM je
)
SELECT m, s_jk, s_sum, s_sq,
       round((CAST(s_jk AS DOUBLE) / m
              - (CAST(s_sum AS DOUBLE) / (2 * m))
                * (CAST(s_sum AS DOUBLE) / (2 * m)))
             / (CAST(s_sq AS DOUBLE) / (2 * m)
                - (CAST(s_sum AS DOUBLE) / (2 * m))
                  * (CAST(s_sum AS DOUBLE) / (2 * m))), 6) + 0.0
         AS assortativity
FROM sums
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's degree assortativity r of the symmetric customer–
    supplier transaction graph: the Pearson correlation of the degrees
    at the two ends of every edge — negative r (hubs attach to leaves)
    is the disassortative signature of real commerce/web graphs, and
    the single number that says whether load concentrates on
    hub-to-hub backbones or fans out. Uses the moments identity over
    the directed double-counted edge list (each undirected edge
    contributes both orientations, the standard convention, so no
    edge-order term appears).

    Exactness: the three moment sums (Σjk, Σ(j+k), Σ(j²+k²)) and the
    edge count are exact int64 (degrees are counts; products stay well
    inside int64 at any registered scale); the final r is a fixed
    shape of four divisions written in the IDENTICAL order in both
    engines, rounded at the end. Scale shape: one degree groupBy, two
    hash joins to label edge ends (the |V|-sized degree relation
    broadcasts under AQE), one partial-combined scalar aggregate —
    nothing iterates and nothing is corpus-quadratic."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    pairs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = _symmetrize(pairs)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    je = (
        edges.join(deg.select(F.col("src"), F.col("d").alias("j")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("k")),
            "dst",
        )
        .select("j", "k")
    )
    sums = je.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("s_jk"),
        F.sum(F.col("j") + F.col("k")).cast("bigint").alias("s_sum"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("bigint")
        .alias("s_sq"),
    )
    mean = F.col("s_sum").cast("double") / (2 * F.col("m"))
    r = (F.col("s_jk").cast("double") / F.col("m") - mean * mean) / (
        F.col("s_sq").cast("double") / (2 * F.col("m")) - mean * mean
    )
    return sums.select(
        "m",
        "s_jk",
        "s_sum",
        "s_sq",
        (F.round(r, 6) + F.lit(0.0)).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the co-customer supplier graph
# ---------------------------------------------------------------------------

AA_TOP = 50  #: strongest predicted links emitted


@query(
    "graph_adamic_adar_links",
    oracle=f"""
WITH {_JAC_KEPT_SQL.strip()},
cdeg_kept AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM kept GROUP BY c),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, a.c
  FROM kept a JOIN kept b ON b.c = a.c AND a.s < b.s
),
scored AS (
  SELECT p.s1, p.s2,
         CAST(COUNT(*) AS BIGINT) AS n_shared,
         round(SUM(1.0 / ln(CAST(d.d AS DOUBLE))), 6) + 0.0 AS aa_score
  FROM pairs p JOIN cdeg_kept d ON d.c = p.c
  WHERE d.d > 1
  GROUP BY p.s1, p.s2
)
SELECT s1, s2, n_shared, aa_score
FROM scored
ORDER BY aa_score DESC, s1, s2
LIMIT {AA_TOP}
""",
)
def graph_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: score each unconnected supplier
    pair by Σ_z 1/ln(deg(z)) over their shared customers z — the
    link-prediction index that beats raw common-neighbor counting
    (graph_jaccard_neighbors' numerator) by DISCOUNTING promiscuous
    neighbors: a customer who buys from everyone says little about
    any two of their suppliers, and 1/ln(deg) prices that in. Top-AA
    pairs are the "these two will do business next" shortlist.

    Scale shape: identical to the Jaccard lane — the hub cap bounds
    the shared-neighbor self-join BEFORE it happens, the score
    aggregation partial-combines per pair, and the shortlist is
    TakeOrderedAndProject. Degree-1 neighbors are excluded (ln 1 = 0
    would divide by zero; a single-edge customer predicts nothing).
    Determinism: degrees and pair counts are exact int64; each term
    is one division by one ln (round(6) absorbs libm ulps, and each
    pair sums ≤ cap such terms)."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    # r9: per-customer supplier sets (the Jaccard/co-supply array
    # shape): one corpus exchange replaces the distinct + degree join +
    # self-join + degree re-join chain. The customer's kept degree is
    # size(ss), carried alongside the pair explode, so the 1/ln(d)
    # term needs no join at all; customers with d = 1 emit no pairs by
    # construction (the oracle's d > 1 guard excludes exactly those).
    # Same O(group degree) aggregation-buffer bound as the Jaccard
    # lane (see graph_jaccard_neighbors — ADVICE r09): the size() cap
    # filters after collect_list materializes the set; pre-drop hubs
    # with a count-based semi-join only if a corpus's max distinct
    # degree ever rivals executor memory.
    arrs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .groupBy("c")
        .agg(F.array_sort(F.array_distinct(F.collect_list("s"))).alias("ss"))
        .filter(F.size("ss") <= JAC_HUB_CAP)
    )
    scored = (
        arrs.select(
            F.size("ss").cast("bigint").alias("d"),
            _ordered_pairs("ss").alias("p"),
        )
        .select("p.s1", "p.s2", "d")
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            (
                F.round(
                    F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))), 6
                )
                + F.lit(0.0)
            ).alias("aa_score"),
        )
    )
    return scored.orderBy(F.desc("aa_score"), "s1", "s2").limit(AA_TOP)


# ---------------------------------------------------------------------------
# Personalized PageRank (seeded restart)
# ---------------------------------------------------------------------------

#: Seed predicate: customer nodes with c_custkey % PPR_SEED_MOD == 0.
PPR_SEED_MOD = 10

#: session id → persisted relations of the latest PPR invocation
#: (PageRank cache discipline).


def _ppr_oracle() -> str:
    """Unrolled PR_ITERS-iteration personalized PageRank. Same graph
    encoding as _pagerank_oracle; the teleport vector is uniform over
    the SEED SET only (customer nodes whose custkey is a multiple of
    PPR_SEED_MOD), so rank mass concentrates in the seeds'
    neighborhoods — the "related entities" primitive."""
    head = f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM deg),
seeds AS (SELECT node FROM nodes WHERE node % 2 = 0 AND (node // 2) % {PPR_SEED_MOD} = 0),
ns AS (SELECT COUNT(*) AS n FROM seeds),
r0 AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS rank
  FROM nodes n CROSS JOIN ns LEFT JOIN seeds s ON n.node = s.node
)"""
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(f""",
c{i} AS (
  SELECT e.dst AS node, SUM(r.rank / d.deg) AS m
  FROM edges e
  JOIN r{i - 1} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  WHERE r.rank > 0
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         {1 - PR_DAMPING} * (CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END)
         + {PR_DAMPING} * COALESCE(c{i}.m, 0) AS rank
  FROM nodes n CROSS JOIN ns
  LEFT JOIN seeds s ON n.node = s.node
  LEFT JOIN c{i} ON n.node = c{i}.node
)"""
        )
    tail = f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       node // 2 AS entity_id,
       round(rank, 8) AS ppr
FROM r{PR_ITERS}
WHERE rank > 0
"""
    return head + "".join(steps) + tail


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (damping 0.85, 3 fixed iterations) from a
    deterministic customer seed set — the "entities related to THIS
    cohort" ranking primitive (audience expansion, fraud-neighborhood
    scoring, similar-account retrieval). Differs from the global
    variant in the teleport vector only: restart mass returns to the
    seeds, so unreached nodes stay at exactly 0 and are filtered out —
    at scale the frontier relation stays sparse for low iteration
    counts rather than instantly dense like global PR.

    Scale shape mirrors graph_pagerank_bipartite (r7): the edge cache
    is hash-partitioned by src once (the degree groupBy reuses the
    exchange), and each round's message join is UNHINTED — AQE
    broadcasts the frontier while it is genuinely sparse and falls
    back to the co-partitioned merge join when spreading activation
    densifies it to entity-population size (the old explicit
    ``F.broadcast(msg)`` shipped that relation whole regardless). One
    partial-combined contribution sum keyed on dst per round; the
    rank>0 filter keeps the message relation frontier-sized."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    pairs = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
    )
    # Adaptive cache widths: 2.89 → 1.57 s at sf0.1 (r10 A/B).
    with slot(spark, "ppr", adaptive=True) as keep:
        # r9: one-exchange edge cache — dedup runs exchange-free above the
        # src repartition (the graph_pagerank_bipartite r9 setup shape).
        edges = keep(
            _symmetrize(pairs)
            .repartition("src")
            .distinct()
            .sortWithinPartitions("src")
        )
        deg = keep(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))

        nodes = deg.select(F.col("src").alias("node"))
        seed = (F.col("node") % 2 == 0) & (
            F.expr("node div 2") % PPR_SEED_MOD == 0
        )
        ns = nodes.filter(seed).agg(F.count(F.lit(1)).alias("n_seeds"))
        ranks = nodes.crossJoin(F.broadcast(ns)).select(
            "node",
            "n_seeds",
            F.when(seed, F.lit(1.0) / F.col("n_seeds"))
            .otherwise(F.lit(0.0))
            .alias("rank"),
        )
        for _ in range(PR_ITERS):
            msg = (
                deg.join(
                    ranks.filter(F.col("rank") > 0).select(
                        F.col("node").alias("src"), "rank"
                    ),
                    "src",
                ).select("src", (F.col("rank") / F.col("deg")).alias("rd"))
            )
            contrib = (
                edges.join(msg, "src")
                .groupBy("dst")
                .agg(F.sum("rd").alias("m"))
            )
            ranks = keep(
                nodes.crossJoin(F.broadcast(ns))
                .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
                .select(
                    "node",
                    "n_seeds",
                    (
                        F.lit(1 - PR_DAMPING)
                        * F.when(seed, F.lit(1.0) / F.col("n_seeds")).otherwise(
                            F.lit(0.0)
                        )
                        + F.lit(PR_DAMPING) * F.coalesce(F.col("m"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
    return ranks.filter(F.col("rank") > 0).select(
        F.when(F.col("node") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("kind"),
        F.expr("node div 2").alias("entity_id"),
        F.round("rank", 8).alias("ppr"),
    )


# ---------------------------------------------------------------------------
# Graph summary statistics (bipartite customer-supplier profile)
# ---------------------------------------------------------------------------


def _graph_summary_sql() -> str:
    """Fully portable shared SQL over the distinct customer-supplier
    edge set: orders, densities and degree extremes from exact int64
    counts — the one-row profile every graph job logs before running
    anything iterative."""
    return """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cd AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY c),
sd AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY s),
m AS (
  SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
         CAST((SELECT COUNT(*) FROM cd) AS BIGINT) AS n_cust,
         CAST((SELECT COUNT(*) FROM sd) AS BIGINT) AS n_supp,
         CAST((SELECT MAX(d) FROM cd) AS BIGINT) AS max_cust_degree,
         CAST((SELECT MAX(d) FROM sd) AS BIGINT) AS max_supp_degree
)
SELECT n_cust, n_supp, n_edges,
       round(CAST(n_edges AS DOUBLE) / n_cust / n_supp, 6) AS density,
       round(CAST(n_edges AS DOUBLE) / n_cust, 6) AS avg_cust_degree,
       round(CAST(n_edges AS DOUBLE) / n_supp, 6) AS avg_supp_degree,
       max_cust_degree, max_supp_degree,
       round(CAST(max_supp_degree AS DOUBLE) * n_supp / n_edges, 6)
         AS supp_hub_skew
FROM m
"""


@query("graph_summary_stats", oracle=_graph_summary_sql())
def graph_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row profile of the customer-supplier transaction bipartite
    graph — the pre-flight every iterative graph job (PageRank, HITS,
    k-core, BFS here) should log first: node/edge counts, bipartite
    density E/(n_c·n_s), mean degrees per side, max degrees, and a hub
    skew ratio (max supplier degree over the mean — the number that
    predicts whether a per-node join will need skew mitigation). The
    graph-side sibling of agg_table_profile.

    Exactness: distinct-edge counts and degree extremes are exact
    int64; three divisions. Scale: one distinct collapse of the fact
    join + two degree aggregates — all partial-combined."""
    load_tables(spark, sf_dir, ("lineitem", "orders"))
    return spark.sql(_graph_summary_sql())

"""One distributed running sum: range slicing and the two-phase prefix
sum every ordered running total and rank in the engine runs on.

A plain ``SUM() OVER (PARTITION BY group ORDER BY key)`` puts an entire
group in ONE task. With a few groups (languages, arms, event types) or
none at all, that is a straggler by construction at corpus scale
(VERDICT r2 "What's wrong" #3). Instead:

1. ``range_sliced``: range-partition on (group…, key…) and stamp each
   row's slice as ``_pid``. Each group's key order is preserved
   *across* slices, but a huge group now spans many slices of bounded
   size.
2. Phase 1, per-(slice, group) subtotals: ≤ n_parts × |groups| rows, a
   map-side-combined aggregation.
3. Offsets: the exclusive prefix sum of the subtotals in ``_pid``
   order, a window over the tiny subtotal relation only.
4. Phase 2, the running sum within each slice (window keyed by
   (``_pid``, group…), so the largest task is one slice, not one
   group), plus the offsets broadcast-joined back.

Same arithmetic as the single window whenever ``order`` is a total
order within each group and the summed expressions are exact
(integral or decimal) and non-null: the sum of the earlier slices'
subtotals plus the in-slice running sum IS the running sum.

Slice contract (r8 exchange-reuse-off sweep): both phases read
``_pid`` and must see the SAME assignment. ``repartitionByRange``
samples its boundaries with an rdd.id-seeded sampler, so two physical
executions of one range exchange can split differently, and the
offsets then misalign (seen as ``ab_sequential_sprt`` n_total off by
±10 with ``spark.sql.exchange.reuse=false``). ReuseExchange normally
folds the two reads into one execution; correctness must not lean on
it. So a caller either persists the ``range_sliced`` relation
(``slots.slot_persist`` / ``keep``) before ``running_sums`` reads it,
or computes ``_pid`` as a pure function of the row
(``ab_mann_whitney_u``'s ``width_bucket``), which every plan branch
evaluates identically under any reuse, retry or replan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def range_sliced(
    df: DataFrame, *order: str | Column, n_parts: int | None = None
) -> DataFrame:
    """``df`` range-partitioned on ``order`` into ``n_parts`` slices
    (default: the context's parallelism), each row stamped with its
    slice as ``_pid``. Slices are ordered and disjoint on ``order``."""
    if n_parts is None:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n_parts, *order).withColumn(
        "_pid", F.spark_partition_id()
    )


def running_sums(
    sliced: DataFrame,
    by: list[str],
    order: list[str | Column],
    sums: dict[str, Column],
) -> DataFrame:
    """``sliced``'s columns without ``_pid``, plus, for each ``name:
    expr`` of ``sums``, the inclusive running sum of ``expr`` per ``by``
    group ordered by (``_pid``, ``order``)."""
    subtot = sliced.groupBy("_pid", *by).agg(
        *(F.sum(e).alias(f"_sub_{n}") for n, e in sums.items())
    )
    w_off = (
        W.partitionBy(*by)
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offsets = subtot.select(
        "_pid",
        *by,
        *(
            (F.sum(f"_sub_{n}").over(w_off) - F.col(f"_sub_{n}")).alias(
                f"_off_{n}"
            )
            for n in sums
        ),
    )
    w_in = (
        W.partitionBy("_pid", *by)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        sliced.select(
            "*", *(F.sum(e).over(w_in).alias(f"_run_{n}") for n, e in sums.items())
        )
        .join(F.broadcast(offsets), ["_pid", *by])
        .select(
            *(c for c in sliced.columns if c != "_pid"),
            *((F.col(f"_off_{n}") + F.col(f"_run_{n}")).alias(n) for n in sums),
        )
    )

"""Exact distributed prefix sum over an ordered key.

The two-pass shape behind ``sampling.decimate_partitioned`` and the
rank/CDF queries of ``plans/domain``, exposed as its own operator: an
inclusive running sum of ``value_col`` in ``order_cols`` order, with no
global window and no single-task sort.

1. A ROW-PURE ``__bucket`` id (``bucketize.range_bucket_column`` — split
   keys sampled once and embedded as literals, never ``repartitionByRange``
   whose boundaries re-sample per job) keys every row to a range bucket
   deterministically across jobs.
2. Per-bucket totals and their exclusive running sum (each bucket's
   global offset) are computed IN-PLAN — the offsets frame is
   ≤ num_buckets rows, so its unpartitioned window is bounded by
   construction — and joined back as a broadcast. No driver collect.
3. A per-bucket window (parallel — one frame per bucket) adds the local
   inclusive sum to the bucket offset.

Integral value columns sum in LONG (exact); floating columns sum in
DECIMAL(38,6) (exact, associative) and return as double — either way the
result is independent of physical partitioning and bit-identical to a
single global window (the equivalence the w08 regression suite pins).
``order_cols`` must be a unique key for a well-defined order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pm25ml_spark.operators.bucketize import range_bucket_column

_INTEGRAL = {"tinyint", "smallint", "int", "bigint", "long"}


def ordered_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = inclusive prefix sum of ``value_col`` over the
    global ``order_cols`` order. Schema: input columns + ``out_col``."""
    return ordered_prefix_sums(
        df, order_cols, [(value_col, out_col)], num_partitions
    )


def ordered_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    cols: list[tuple[str, str]],
    num_partitions: int | None = None,
) -> DataFrame:
    """Several inclusive prefix sums over ONE shared ``order_cols``
    ordering, in one pass: ``cols`` is ``[(value_col, out_col), ...]``.

    A composed plan that needs two cumulative columns in the same order
    (e.g. the two-sample KS statistic's per-arm CDFs) would otherwise
    chain two single-column calls — two persists, two bucket-total
    aggregates, two windows, two broadcast joins, and a full extra
    materialization of the first call's output. Sharing the pass costs
    exactly what ONE call costs: the per-bucket total aggregate carries
    one sum per column, the window one running sum per column, and each
    column keeps its own integral-vs-decimal exactness contract — every
    output column is bit-identical to its single-column spelling."""
    spark = df.sparkSession
    nparts = num_partitions or spark.sparkContext.defaultParallelism
    dtypes = dict(df.dtypes)
    casts = {
        v: (
            ("bigint", "bigint")
            if dtypes[v] in _INTEGRAL
            else ("decimal(38,6)", "double")
        )
        for v, _ in cols
    }

    # The operator scans its input in two jobs (split sampling; the
    # final job reads it twice — bucket totals + the window-join side);
    # persist it so upstream work (e.g. the aggregate feeding a rank
    # plan) runs once. Callers pass the projection they want ranked —
    # typically keys + one value column, tens of bytes per row — and
    # MEMORY_AND_DISK spills rather than evicts at corpus scale, where
    # the recompute it avoids is the expensive part.
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)

    bucket_expr, _ = range_bucket_column(df, order_cols, nparts)
    part = df.withColumn("__bucket", bucket_expr)
    # Per-bucket totals and their exclusive running sum stay IN THE PLAN
    # (no driver collect): the offsets frame is ≤ num_buckets rows, so
    # the unpartitioned window over it is bounded by construction (the
    # plan-quality audit's allowlisted shape) and the whole operator
    # costs ONE action instead of two — at any scale the offsets job was
    # pure fixed overhead, and on a busy cluster one fewer driver
    # round-trip per composed prefix sum. A bucket whose values are all
    # NULL has a NULL total — coalesce to 0, matching SUM-ignores-NULL
    # window semantics. Float totals stay DECIMAL end-to-end: offset +
    # local sum combine exactly, with ONE final deterministic cast.
    btot = part.groupBy("__bucket").agg(
        *[
            F.coalesce(
                F.sum(F.col(v).cast(casts[v][0])),
                F.lit(0).cast(casts[v][0]),
            ).alias(f"__t_{v}")
            for v, _ in cols
        ]
    )
    w_off = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    odf = btot.select(
        "__bucket",
        *[
            F.coalesce(F.sum(f"__t_{v}").over(w_off), F.lit(0).cast(casts[v][0]))
            .cast(casts[v][0])
            .alias(f"__off_{v}")
            for v, _ in cols
        ],
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = part.join(F.broadcast(odf), "__bucket").select(
        *df.columns,
        *[
            (
                F.col(f"__off_{v}")
                + F.sum(F.col(v).cast(casts[v][0])).over(w)
            )
            .cast(casts[v][1])
            .alias(o)
            for v, o in cols
        ],
    )
    # cache lifetime = returned plan's lifetime (operators/cache.py):
    # callers that drop the result release the persisted projection
    from pm25ml_spark.operators.cache import release_with

    return release_with(out, df)

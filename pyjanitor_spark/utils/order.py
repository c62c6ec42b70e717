"""The _row_order contract.

Spark DataFrames have no row index (SURVEY.md §1.4): every verb that
depends on row position in the reference (``fill_direction``,
``row_to_names``, ``flag_jumps``, ``count_cumulative_unique``,
``factorize_columns(appearance)``, ``shuffle``, ``take_first``) instead
takes an explicit *order column*.  This module defines the contract:

* ``ORDER_COL`` — the conventional name ``_row_order``.
* ``ensure_order_column(df, order_by=None)`` — returns ``(df, colname)``;
  if ``order_by`` is given it is used as-is (no data movement); otherwise a
  ``monotonically_increasing_id`` column is added.  The generated id is
  monotonic *within and across* partitions in input order, which matches
  "current row order" semantics without any shuffle — it encodes
  (partition_id, per-partition offset) so ordering by it never repartitions
  the data.

At 100 TB scale a global total order is intrinsically expensive; verbs in
this library therefore prefer ``Window.partitionBy(...).orderBy(order)``
(parallel per group) and only fall back to a global ``Window.orderBy``
(single-task) when the semantics genuinely require a total order — each
such verb documents it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.utils.pin import pin, share

ORDER_COL = "_row_order"

__all__ = [
    "ORDER_COL", "ensure_order_column", "positional_index", "partitioned_cumsum",
    "value_cdf",
]

def positional_index(df: DataFrame, name: str) -> DataFrame:
    """0-based positional row index in the frame's current order,
    computed scalably: per-partition ``row_number`` plus a broadcast of
    cumulative partition offsets (one tiny agg of #partitions rows) —
    no global single-task window.  After an ``orderBy`` (range-partitioned
    total sort) this yields the global sort rank.

    The offsets aggregate and the joined branch must read the SAME
    partition layout, so both start from
    :func:`~pyjanitor_spark.utils.pin.share`: a replay-unstable input
    (nondeterministic or shuffled) is pinned, and that pin runs the
    upstream's shuffle stages when the call is made; a replay-stable
    one runs no job."""
    from pyspark.sql import Window

    d = share(df).withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    sizes = d.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    w_in = Window.partitionBy("__pid").orderBy("__mid")
    return (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn(name, F.col("__off") + F.row_number().over(w_in) - 1)
        .drop("__pid", "__mid", "__off")
    )


def partitioned_cumsum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    dest: str,
) -> DataFrame:
    """Running total of ``value_col`` over the total order of
    ``order_col`` with NO single-task stage.

    Plan: range-repartition on the order column (RangePartitioning
    assigns ascending, contiguous partition ids, and keeps equal keys in
    one partition), per-partition partial sums, broadcast the cumulative
    offsets (one tiny #partitions-row aggregate — the only unpartitioned
    window, bounded by the partition count), then an in-partition
    cumulative window plus the offset.

    The offsets aggregate and the joined branch must read ONE execution
    of the range exchange: it draws its bounds from a sample seeded per
    execution, so two executions split even identical rows differently
    once a partition outgrows the sample.  When the input holds only
    ``order_col`` and ``value_col``, both branches need the same columns
    and Spark reuses the exchange (``spark.sql.exchange.reuse``, on by
    default), so the call runs no job whatever the upstream.  Any other
    column is pruned from one branch only, so the exchanged frame is
    pinned (:func:`~pyjanitor_spark.utils.pin.pin`), and under adaptive
    query execution that pin runs the upstream's shuffle stages and the
    range exchange when the call is made."""
    from pyspark.sql import Window

    order = F.col(order_col).asc()
    # ALWAYS pass an explicit partition count (the session's
    # spark.sql.shuffle.partitions): repartitionByRange with only
    # columns is a REPARTITION_BY_COL shuffle that AQE may coalesce, and
    # the two branch reads below are separately pruned subtrees whose
    # re-executed exchanges could coalesce to DIFFERENT partition counts
    # — diverging __pid between the offsets aggregate and the
    # join-back.  An explicit count is never AQE-coalesced.
    num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = df.repartitionByRange(num_partitions, order)
    d = d.withColumn("__pid", F.spark_partition_id())
    if set(df.columns) - {order_col, value_col}:
        d = pin(d)
    sizes = d.groupBy("__pid").agg(
        F.coalesce(F.sum(value_col), F.lit(0)).alias("__psum")
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.withColumn(
        "__off", F.coalesce(F.sum("__psum").over(w_off), F.lit(0))
    ).select("__pid", "__off")
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn(dest, F.col("__off") + F.sum(value_col).over(w_in))
        .drop("__pid", "__off")
    )


def value_cdf(df: DataFrame, column: str) -> DataFrame:
    """One row per distinct non-null value of ``column`` with ``__cum``,
    the count of non-null rows whose value is at most it, and ``__n``,
    the non-null count: the engine of ``apply_math(ecdf)``,
    ``quantile_bin`` and ``quantiles``.  The value counts are pinned
    (the prefix sum and the total both read them), so the call runs
    their ``groupBy`` shuffle stage; :func:`partitioned_cumsum` over
    them takes no pin of its own.  Every stage after the scan is
    O(distinct values).  A caller that joins the result back to ``df``
    passes ``share(df)``."""
    col = F.col(column)
    counts = pin(
        df.filter(col.isNotNull()).groupBy(column).agg(F.count(F.lit(1)).alias("__cnt"))
    )
    totals = counts.agg(F.sum("__cnt").alias("__n"))
    return (
        partitioned_cumsum(counts, "__cnt", column, "__cum")
        .crossJoin(F.broadcast(totals))
        .select(column, "__cum", "__n")
    )


def ensure_order_column(
    df: DataFrame, order_by: str | None = None
) -> tuple[DataFrame, str, bool]:
    """Return ``(df, order_col, was_added)``.

    ``order_by=None`` uses the ``_row_order`` column if present, else adds
    one from ``monotonically_increasing_id()`` (no shuffle).
    """
    if order_by is not None:
        if order_by not in df.columns:
            raise KeyError(f"order column {order_by!r} not in DataFrame")
        return df, order_by, False
    if ORDER_COL in df.columns:
        return df, ORDER_COL, False
    return df.withColumn(ORDER_COL, F.monotonically_increasing_id()), ORDER_COL, True

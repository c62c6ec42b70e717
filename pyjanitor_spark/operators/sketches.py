"""Sketch-based distributed statistics for corpus monitoring.

At 100 TB you rarely want the exact answer to "how many distinct users /
URLs / shingles" — you want a mergeable, persistable estimate you can
compute per day/per shard and combine later without re-reading the data.
Spark ships Apache DataSketches HLL for exactly this
(``hll_sketch_agg`` / ``hll_union_agg``, public API since 3.5); these
verbs wrap it in the library's frame-in/frame-out shape and add the
exact heavy-hitters counterpart used for spam-domain / boilerplate
detection.

``heavy_hitters`` is EXACT (one value-keyed shuffle with map-side
combine; output is bounded by 1/min_share rows by definition — a value
needs ≥ min_share of all rows to appear, so at most 1/min_share values
can qualify).  The sketches are approximate with documented error
(HLL lgK=12 ≈ 1.6% rse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.utils.pin import share

__all__ = [
    "heavy_hitters",
    "cardinality_sketch",
    "merge_cardinality_sketches",
]


def heavy_hitters(
    df: DataFrame,
    column_name: str,
    min_share: float = 0.01,
    by: list[str] | None = None,
) -> DataFrame:
    """Values of ``column_name`` carrying at least ``min_share`` of all
    rows (per ``by`` group if given), with count and share — the exact
    two-pass form of Misra-Gries heavy hitters.

    Output columns: ``by… , column_name, cnt, share`` — at most
    ``1/min_share`` rows per group, so the result is always tiny no
    matter the input size.  Plan: one groupBy shuffle on
    (by…, value) with partial aggregation; totals per group are a
    second tiny agg over those counts, joined back, so the shares of a
    group sum to 1.  Reads ``share(df)``; call-time jobs: the ``share``
    pin's stages on a replay-unstable input, else none.
    """
    if not 0 < min_share <= 1:
        raise ValueError("min_share must be in (0, 1]")
    keys = list(by or [])
    counts = share(df).groupBy(*keys, column_name).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.groupBy(*keys).agg(F.sum("cnt").alias("__tot"))
    if keys:
        # one row per group: unbounded for high-cardinality `by`, so no
        # broadcast hint — AQE picks broadcast itself when totals is small
        joined = counts.join(totals, keys)
    else:
        joined = counts.crossJoin(F.broadcast(totals))
    return (
        joined.withColumn("share", F.col("cnt") / F.col("__tot"))
        .filter(F.col("share") >= F.lit(float(min_share)))
        .drop("__tot")
    )


def cardinality_sketch(
    df: DataFrame,
    column_name: str,
    by: list[str] | None = None,
    lg_k: int = 12,
    dest: str = "distinct_est",
    keep_sketch: bool = False,
) -> DataFrame:
    """Approximate distinct count per ``by`` group via DataSketches HLL.

    ``keep_sketch=True`` also returns the binary sketch column
    ``<dest>_sketch`` — persist it (e.g. one row per day/shard) and
    combine later with :func:`merge_cardinality_sketches` instead of
    re-scanning history: the sketch is the mergeable state exact
    ``count_distinct`` doesn't have.  Relative standard error
    ≈ 1.04/sqrt(2^lg_k) (~1.6% at the default lgK=12; raise lg_k for
    tighter bounds at 2^lg_k bytes per sketch).
    """
    if not 4 <= lg_k <= 21:
        raise ValueError("lg_k must be in [4, 21] (DataSketches HLL range)")
    sk = F.hll_sketch_agg(F.col(column_name), F.lit(lg_k)).alias("__sk")
    grouped = df.groupBy(*(by or [])).agg(sk)
    out = grouped.withColumn(dest, F.hll_sketch_estimate(F.col("__sk")))
    if keep_sketch:
        return out.withColumnRenamed("__sk", f"{dest}_sketch")
    return out.drop("__sk")


def merge_cardinality_sketches(
    df: DataFrame,
    sketch_column: str,
    by: list[str] | None = None,
    dest: str = "distinct_est",
) -> DataFrame:
    """Union previously persisted HLL sketches (per ``by`` group) and
    estimate the combined distinct count — the roll-up half of the
    sketch workflow: daily sketches → monthly/global cardinality with
    no second pass over the raw data."""
    merged = df.groupBy(*(by or [])).agg(
        F.hll_union_agg(F.col(sketch_column)).alias("__sk")
    )
    return merged.withColumn(dest, F.hll_sketch_estimate(F.col("__sk"))).drop("__sk")
